"""Deterministic synthetic data for the KG pipeline (FIXTURES.md §A).

Generates, at parameterized scale, the pipeline input tables:

* ``pages``            — (url, warc_ts, html, text, lang)  [input_hint shape]
* ``surface_vocab``    — mention dictionary (pcornet_* ontology analogue)
* ``concept``/``concept_rel`` — canonical ontology graph (OMOP vocab analogue)
* ``modifier_config``  — qualifier-extraction spec (i2o_config_modifier)
* ``golden_triples``   — expected output, derived from the generator's own
  sampling choices (never from text parsing), so the correctness gate is
  independent of the extraction code path.

Everything is a pure function of (seed, row index): page content is derived
with xxhash64 JVM-side (no Python in the generate path), so generation is
distributed and reproducible at any parallelism.

The vocabulary embeds every mapping case the reference exercises
(MSSQL/OMOPLoader.sql:714-917): synonym surfaces routed through 'Maps to'
(two-hop), standard self-mapping fallback (:834-844), 1->many mappings
(:763-764), invalid concepts (dropped), plus alias concepts the ontology does
NOT connect — those are merged by the canonicalization stage (connected
components), and the goldens assume that merge.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SEED = 42

# --- canonical entity ontology ------------------------------------------------

_ORG_WORDS = [
    "acme", "globex", "initech", "umbrella", "stark", "wayne", "hooli",
    "pied", "aperture", "cyberdyne", "tyrell", "wonka", "dunder", "sterling",
    "bluth", "vandelay", "oscorp", "gringotts", "monarch", "zorg",
]
N_ORG = len(_ORG_WORDS)
N_ALIAS = 5  # first 5 orgs get an unconnected alias concept ("... corporation")

CANON_BASE = 1000   # canonical org concept ids
ALIAS_BASE = 2000   # alias concept ids (CC must merge into CANON_BASE + k)
SRC_BASE = 3000     # non-standard source concept ids ('Maps to' -> canonical)
INVALID_ID = 4000   # standard-but-invalid concept (dropped by crosswalk)
PRED_BASE = 5000    # canonical predicate concept ids
PRED_SRC_BASE = 6000
AMB_BASE = 7000     # ambiguous-surface entity pair (embedding-disambiguated)

# Planted lexical ambiguity (with_ambiguity=True): ONE surface form that the
# ontology maps to TWO distinct standard entities.  The sentence's trailing
# cue phrase decides which one is meant; entity descriptors mirror the cue
# phrases so embedding entity-link scoring (cosine vs the sentence's
# hashing-trick context embedding) recovers the planted truth.  Cue/
# descriptor tokens occupy 6 distinct crc32 buckets at CTX_DIM=64 (asserted
# in build_vocab_spec) giving a +-3 score margin over single-token noise.
AMB_SURFACE = "mercury group"
AMB_NAMES = ["mercury automotive holdings", "hermes publishing house"]
AMB_CUES = [
    ["automotive", "cars", "engines"],
    ["publishing", "books", "authors"],
]
AMB_PCT = 12  # % of sentences whose subject is the ambiguous surface

_PRED_NAMES = [
    "acquired", "founded", "employs", "located in",
    "partnered with", "sued", "launched", "owns",
]
N_PRED = len(_PRED_NAMES)

# predicate synonym surfaces -> canonical predicate index(es).
# 'spun off' is the 1->many case: maps to both 'launched' and 'owns'.
_PRED_SYNONYMS: list[tuple[str, list[int]]] = [
    ("bought", [0]),
    ("purchased", [0]),
    ("established", [1]),
    ("hired", [2]),
    ("based in", [3]),
    ("teamed with", [4]),
    ("released", [6]),
    ("controls", [7]),
    ("spun off", [6, 7]),
]


@dataclass
class VocabSpec:
    """Python-side vocabulary: surface pools + golden canonical mappings."""

    # (surface, canonical_ids_after_merge) — empty list = unlinkable
    entity_surfaces: list[tuple[str, list[int]]] = field(default_factory=list)
    pred_surfaces: list[tuple[str, list[int]]] = field(default_factory=list)
    vocab_rows: list[tuple] = field(default_factory=list)
    concept_rows: list[tuple] = field(default_factory=list)
    rel_rows: list[tuple] = field(default_factory=list)
    # concept_id -> merged root id (identity unless alias)
    merge_map: dict[int, int] = field(default_factory=dict)
    # concept_id -> descriptor tokens (entity-embedding input); defaults to
    # the concept name's tokens, overridden for the ambiguous pair
    descriptors: dict[int, list[str]] = field(default_factory=dict)


def build_vocab_spec(with_ambiguity: bool = False) -> VocabSpec:
    s = VocabSpec()
    _v, _c, _r = s.vocab_rows, s.concept_rows, s.rel_rows

    def vocab_row(surface, path, hlevel, is_syn, is_leaf, std_code, std_domain,
                  code_list=None):
        _v.append((surface, path, hlevel, is_syn, is_leaf, std_code, std_domain,
                   code_list))

    # --- entities -------------------------------------------------------------
    for k, w in enumerate(_ORG_WORDS):
        canon_id = CANON_BASE + k
        name = f"{w} corp"
        _c.append((canon_id, f"C{canon_id}", "ORG", "Organization", "S", None, name))
        s.merge_map[canon_id] = canon_id
        # direct surface: std_code points at the canonical concept itself ->
        # standard self-mapping fallback (MSSQL/OMOPLoader.sql:834-844)
        vocab_row(name, f"\\KG\\ENTITY\\{w}\\", 3, False, True,
                  f"ORG:C{canon_id}", "Organization")
        # synonym surface -> non-standard source concept -> 'Maps to' canonical
        src_id = SRC_BASE + k
        _c.append((src_id, f"S{src_id}", "ORGSRC", "Organization", None, None,
                   f"{w} co"))
        _r.append((src_id, canon_id, "Maps to"))
        vocab_row(f"{w} co", f"\\KG\\ENTITY\\{w}\\syn\\", 4, True, True,
                  f"ORGSRC:S{src_id}", "Organization")
        s.entity_surfaces.append((name, [canon_id]))
        s.entity_surfaces.append((f"{w} co", [canon_id]))

    # alias concepts: standard, self-mapping, NOT connected in the ontology —
    # canonicalization (CC over name similarity) must merge them
    for k in range(N_ALIAS):
        alias_id = ALIAS_BASE + k
        w = _ORG_WORDS[k]
        name = f"{w} corporation"
        _c.append((alias_id, f"C{alias_id}", "ORG", "Organization", "S", None, name))
        s.merge_map[alias_id] = CANON_BASE + k  # golden merge target (min id)
        vocab_row(name, f"\\KG\\ENTITY\\{w}\\alias\\", 4, False, True,
                  f"ORG:C{alias_id}", "Organization")
        s.entity_surfaces.append((name, [CANON_BASE + k]))

    # 3-token surface (exercises trigram spans)
    bog_id = CANON_BASE + N_ORG
    _c.append((bog_id, f"C{bog_id}", "ORG", "Organization", "S", None,
               "bank of gotham"))
    s.merge_map[bog_id] = bog_id
    vocab_row("bank of gotham", "\\KG\\ENTITY\\gotham\\", 3, False, True,
              f"ORG:C{bog_id}", "Organization")
    s.entity_surfaces.append(("bank of gotham", [bog_id]))

    # invalid concept: surface resolves to a standard-but-invalid concept ->
    # crosswalk drops it -> no triple
    _c.append((INVALID_ID, f"C{INVALID_ID}", "ORG", "Organization", "S", "D",
               "vandelay industries"))
    vocab_row("vandelay industries", "\\KG\\ENTITY\\vandelay\\inv\\", 4, False,
              True, f"ORG:C{INVALID_ID}", "Organization")
    s.entity_surfaces.append(("vandelay industries", []))

    # OOV surfaces: appear in text, absent from vocab -> no mention
    for oov in ("quux systems", "zzyzx labs", "foobar gmbh"):
        s.entity_surfaces.append((oov, []))

    # --- predicates -----------------------------------------------------------
    for j, pname in enumerate(_PRED_NAMES):
        pid = PRED_BASE + j
        _c.append((pid, f"P{pid}", "PRED", "Predicate", "S", None, pname))
        s.merge_map[pid] = pid
        vocab_row(pname, f"\\KG\\PRED\\{pname.replace(' ', '_')}\\", 3, False,
                  True, f"PRED:P{pid}", "Predicate")
        s.pred_surfaces.append((pname, [pid]))
    for j, (syn, targets) in enumerate(_PRED_SYNONYMS):
        src_id = PRED_SRC_BASE + j
        _c.append((src_id, f"PS{src_id}", "PREDSRC", "Predicate", None, None, syn))
        for t in targets:
            _r.append((src_id, PRED_BASE + t, "Maps to"))
        vocab_row(syn, f"\\KG\\PRED\\syn\\{syn.replace(' ', '_')}\\", 4, True,
                  True, f"PREDSRC:PS{src_id}", "Predicate",
                  code_list="'01','02'")
        s.pred_surfaces.append((syn, [PRED_BASE + t for t in targets]))

    # --- ambiguous entity pair (embedding entity-link scoring) ---------------
    if with_ambiguity:
        import zlib

        from i2o_transform_spark.plans.kg import CTX_DIM

        for k in range(2):
            cid = AMB_BASE + k
            _c.append((cid, f"C{cid}", "ORG", "Organization", "S", None,
                       AMB_NAMES[k]))
            s.merge_map[cid] = cid
            # one surface, two standard self-mappings -> compile_crosswalk
            # keeps both (1->many, MSSQL/OMOPLoader.sql:763-764); embedding
            # scoring picks one per mention
            vocab_row(AMB_SURFACE, f"\\KG\\ENTITY\\mercury\\{k}\\", 4, False,
                      True, f"ORG:C{cid}", "Organization")
            s.descriptors[cid] = AMB_CUES[k]
        cue_toks = [t for cue in AMB_CUES for t in cue]
        buckets = {zlib.crc32(t.encode()) % CTX_DIM for t in cue_toks}
        assert len(buckets) == len(cue_toks), (
            "cue descriptor tokens collide in the hashing-trick buckets; "
            "the planted disambiguation margin is broken"
        )

    # default descriptors: the concept name's tokens
    for row in _c:
        s.descriptors.setdefault(row[0], row[6].split(" "))

    return s


# --- Spark-side distributed page generation -----------------------------------

_LANGS = ["en", "en", "en", "en", "en", "en", "en", "en", "en", "de", "fr", "es"]
HOT_SUBJ_PCT = 30  # % of sentences whose subject is surface 0 (hot-key skew)
YEAR_PCT = 40      # % of sentences carrying an 'in YYYY' qualifier
AMOUNT_PCT = 30    # % of sentences carrying a 'for NNN' qualifier (NNN 100-999)


def _h(*cols) -> F.Column:
    return F.xxhash64(*cols)


def generate(
    spark: SparkSession,
    n_pages: int,
    seed: int = SEED,
    n_sites: int = 50,
    with_ambiguity: bool = False,
) -> dict[str, DataFrame]:
    """Build all pipeline input tables + goldens at ``n_pages`` scale.

    Returns dict of DataFrames: pages, surface_vocab, concept, concept_rel,
    modifier_config, entity_embeddings, golden_triples, pages_internal (with
    generator choices, for test introspection).

    ``with_ambiguity`` plants the AMB_SURFACE lexical ambiguity: AMB_PCT of
    sentences get the ambiguous subject plus a trailing cue phrase, and the
    goldens expect the cue-determined entity — solvable only by embedding
    entity-link scoring (the election at assembly,
    extract_and_assemble(entity_candidates=...)), not by the dictionary
    join alone.
    """
    spec = build_vocab_spec(with_ambiguity)
    n_ent = len(spec.entity_surfaces)
    n_pred = len(spec.pred_surfaces)
    ent_surf_arr = F.array(*[F.lit(t[0]) for t in spec.entity_surfaces])
    pred_surf_arr = F.array(*[F.lit(t[0]) for t in spec.pred_surfaces])

    base = spark.range(0, n_pages).select(F.col("id").alias("page_id"))
    sd = F.lit(seed)

    n_sent = (F.pmod(_h(F.col("page_id"), sd, F.lit("ns")), F.lit(8)) + 3).cast("int")
    sent_idx = F.explode(F.sequence(F.lit(0), n_sent - 1)).alias("sent_idx")
    sentences = base.select("page_id", sent_idx)

    pid, six = F.col("page_id"), F.col("sent_idx")
    hot = F.pmod(_h(pid, six, sd, F.lit("hot")), F.lit(100)) < HOT_SUBJ_PCT
    subj_i = F.when(hot, F.lit(0)).otherwise(
        F.pmod(_h(pid, six, sd, F.lit("subj")), F.lit(n_ent)).cast("int")
    )
    pred_i = F.pmod(_h(pid, six, sd, F.lit("pred")), F.lit(n_pred)).cast("int")
    obj_i = F.pmod(_h(pid, six, sd, F.lit("obj")), F.lit(n_ent)).cast("int")
    has_year = F.pmod(_h(pid, six, sd, F.lit("hy")), F.lit(100)) < YEAR_PCT
    year = F.when(
        has_year, (F.pmod(_h(pid, six, sd, F.lit("yr")), F.lit(30)) + 1990).cast("int")
    )
    has_amount = F.pmod(_h(pid, six, sd, F.lit("ha")), F.lit(100)) < AMOUNT_PCT
    amount = F.when(
        has_amount,
        (F.pmod(_h(pid, six, sd, F.lit("am")), F.lit(900)) + 100).cast("int"),
    )
    if with_ambiguity:
        is_amb = F.pmod(_h(pid, six, sd, F.lit("amb")), F.lit(100)) < AMB_PCT
        amb_cue = F.when(
            is_amb, F.pmod(_h(pid, six, sd, F.lit("cue")), F.lit(2)).cast("int")
        ).otherwise(F.lit(-1))
    else:
        amb_cue = F.lit(-1)

    chosen = sentences.select(
        "page_id",
        "sent_idx",
        subj_i.alias("subj_i"),
        pred_i.alias("pred_i"),
        obj_i.alias("obj_i"),
        year.alias("year"),
        amount.alias("amount"),
        amb_cue.alias("amb_cue"),
    )
    cue_arr = F.array(*[F.lit(" ".join(c)) for c in AMB_CUES])
    sentence_text = F.concat(
        F.when(F.col("amb_cue") >= 0, F.lit(AMB_SURFACE)).otherwise(
            F.element_at(ent_surf_arr, F.col("subj_i") + 1)
        ),
        F.lit(" "),
        F.element_at(pred_surf_arr, F.col("pred_i") + 1),
        F.lit(" "),
        F.element_at(ent_surf_arr, F.col("obj_i") + 1),
        F.when(F.col("year").isNotNull(),
               F.concat(F.lit(" in "), F.col("year").cast("string"))).otherwise(F.lit("")),
        F.when(F.col("amount").isNotNull(),
               F.concat(F.lit(" for "), F.col("amount").cast("string"))).otherwise(F.lit("")),
        F.when(F.col("amb_cue") >= 0,
               F.concat(F.lit(" "),
                        F.element_at(cue_arr, F.col("amb_cue") + 1))
               ).otherwise(F.lit("")),
        F.lit("."),
    )
    with_sent = chosen.withColumn("sentence", sentence_text)

    page_rows = with_sent.groupBy("page_id").agg(
        F.concat_ws(
            " ", F.transform(F.array_sort(
                F.collect_list(F.struct("sent_idx", "sentence"))
            ), lambda st: st.sentence)
        ).alias("text"),
        F.collect_list(
            F.struct("sent_idx", "subj_i", "pred_i", "obj_i", "year", "amount",
                     "amb_cue")
        ).alias("_choices"),
    )

    site = F.pmod(F.col("page_id"), F.lit(n_sites))
    url = F.concat(
        F.lit("https://site"), site.cast("string"), F.lit(".example/p/"),
        F.col("page_id").cast("string"),
    )
    warc_ts = F.to_timestamp(F.lit("2024-01-01 00:00:00")) + F.make_interval(
        secs=F.pmod(_h(F.col("page_id"), sd, F.lit("ts")), F.lit(86400 * 30)).cast("double")
    )
    lang = F.element_at(
        F.array(*[F.lit(x) for x in _LANGS]),
        (F.pmod(_h(F.col("page_id"), sd, F.lit("lang")), F.lit(len(_LANGS))) + 1).cast("int"),
    )
    html = F.encode(
        F.concat(
            F.lit("<html><head><title>page "),
            F.col("page_id").cast("string"),
            F.lit("</title></head><body><nav>site nav "),
            site.cast("string"),
            F.lit(" | home | about</nav><p>"),
            # escape &, <, > (order matters: & first)
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(F.col("text"), "&", "&amp;"), "<", "&lt;"
                ), ">", "&gt;"
            ),
            F.lit("</p><footer>(c) 2024 site "),
            site.cast("string"),
            F.lit("</footer></body></html>"),
        ),
        "utf-8",
    )

    pages_internal = page_rows.select(
        "page_id",
        url.alias("url"),
        warc_ts.alias("warc_ts"),
        html.alias("html"),
        "text",
        lang.alias("lang"),
        "_choices",
    )
    pages = pages_internal.drop("page_id", "_choices")

    # --- vocab / ontology tables ---------------------------------------------
    surface_vocab = spark.createDataFrame(
        spec.vocab_rows,
        "surface_form string, path string, hlevel int, is_synonym boolean, "
        "is_leaf boolean, std_code string, std_domain string, code_list string",
    )
    concept = spark.createDataFrame(
        spec.concept_rows,
        "concept_id long, concept_code string, vocabulary_id string, "
        "domain_id string, standard_concept string, invalid_reason string, "
        "concept_name string",
    )
    concept_rel = spark.createDataFrame(
        spec.rel_rows,
        "concept_id_1 long, concept_id_2 long, relationship_id string",
    )
    modifier_config = spark.createDataFrame(
        [
            ("year", "in", "^[0-9]{4}$", "qualifier_year"),
            ("amount", "for", "^[0-9]{1,3}$", "qualifier_amount"),
        ],
        "kind string, trigger_token string, pattern string, target_column string",
    )

    # --- goldens: derived from choices, never from text ------------------------
    ent_map_rows = [
        (i, cid) for i, (_, cids) in enumerate(spec.entity_surfaces) for cid in cids
    ]
    pred_map_rows = [
        (i, cid) for i, (_, cids) in enumerate(spec.pred_surfaces) for cid in cids
    ]
    ent_map = spark.createDataFrame(ent_map_rows, "idx int, canon long")
    pred_map = spark.createDataFrame(pred_map_rows, "idx int, canon long")

    exploded = (
        pages_internal.where(F.col("lang") == "en")
        .select("url", F.explode("_choices").alias("c"))
        .select(
            "url",
            F.col("c.sent_idx").alias("sent_idx"),
            F.col("c.subj_i").alias("subj_i"),
            F.col("c.pred_i").alias("pred_i"),
            F.col("c.obj_i").alias("obj_i"),
            F.col("c.year").alias("year"),
            F.col("c.amb_cue").alias("amb_cue"),
        )
    )
    # subject: the cue-determined ambiguous entity when planted, else the
    # pool mapping (left join + null filter == the old inner join when no
    # ambiguity exists)
    subj_map = ent_map.withColumnRenamed("canon", "_subj_mapped")
    golden = (
        exploded.join(
            F.broadcast(subj_map), exploded.subj_i == subj_map.idx, "left"
        )
        .drop("idx")
        .withColumn(
            "subj_id",
            F.when(
                F.col("amb_cue") >= 0, F.lit(AMB_BASE) + F.col("amb_cue")
            ).otherwise(F.col("_subj_mapped")),
        )
        .where(F.col("subj_id").isNotNull())
        .drop("_subj_mapped")
        .join(
            F.broadcast(pred_map.withColumnRenamed("canon", "pred_id")),
            F.col("pred_i") == pred_map.idx,
        )
        .drop("idx")
    )
    ent_map2 = ent_map.withColumnRenamed("canon", "obj_id")
    golden = (
        golden.join(F.broadcast(ent_map2), golden.obj_i == ent_map2.idx)
        .drop("idx")
        .select("subj_id", "pred_id", "obj_id")
        .distinct()
    )

    # entity descriptor embeddings (driver-side: the dictionary is vocab-
    # sized) — same crc32 hashing-trick encoder as the assembly kernels
    from i2o_transform_spark.operators.entity_link import hashing_trick_embed_py
    from i2o_transform_spark.plans.kg import CTX_DIM

    entity_embeddings = spark.createDataFrame(
        [
            (cid, hashing_trick_embed_py(toks, CTX_DIM))
            for cid, toks in sorted(spec.descriptors.items())
        ],
        "concept_id long, emb array<double>",
    )

    return {
        "pages": pages,
        "pages_internal": pages_internal,
        "surface_vocab": surface_vocab,
        "concept": concept,
        "concept_rel": concept_rel,
        "modifier_config": modifier_config,
        "entity_embeddings": entity_embeddings,
        "golden_triples": golden,
        "spec": spec,  # python-side, for unit tests
    }


def enrich_pages_web(pages: DataFrame) -> DataFrame:
    """Append deterministic structured-data blocks to each page's html —
    the endurance-run feedstock for the r04 web-source families (fused
    JSON-LD/Microdata/RDFa trio, single-pass web-table extraction, term
    dictionary) WITHOUT touching the core pipeline's html: the blocks are
    appended before ``</body>``, so ``extract_text``'s byte-identity
    contract over the original markup keeps its own fixtures.

    Per page (k = pmod(xxhash64(url), 100000)):

    * one ld+json Product (name/sku/price),
    * one Microdata Product div (name/sku),
    * one RDFa Lite Offer div (price),
    * one 5-row listing ``<table>`` (sku/price/qty) with a header row.

    Expected per-page yields (asserted by the endurance protocol):
    ld+json 4 triples + @type, microdata 2 + type, rdfa 1 + type,
    table 15 (attr, value) pairs.  All JVM concat — zero Python in the
    enrichment itself."""
    k = F.pmod(F.xxhash64(F.col("url")), F.lit(100000)).cast("string")
    price = F.pmod(F.xxhash64(F.col("url"), F.lit(1)), F.lit(900)).cast("string")
    row = lambda i: F.concat(  # noqa: E731
        F.lit(f'<tr><td>SKU-{i}-'), k, F.lit("</td><td>"),
        F.pmod(F.xxhash64(F.col("url"), F.lit(10 + i)), F.lit(500)).cast("string"),
        F.lit(f".00</td><td>{i * 3}</td></tr>"),
    )
    block = F.concat(
        F.lit('<script type="application/ld+json">{"@type":"Product",'
              '"name":"Widget '), k,
        F.lit('","sku":"SKU-'), k, F.lit('","price":"'), price,
        F.lit('"}</script>'),
        F.lit('<div itemscope itemtype="https://schema.org/Product">'
              '<span itemprop="name">Widget '), k,
        F.lit('</span><span itemprop="sku">SKU-'), k,
        F.lit('</span></div>'),
        F.lit('<div vocab="https://schema.org/" typeof="Offer">'
              '<span property="price">'), price, F.lit("</span></div>"),
        F.lit("<table><tr><th>sku</th><th>price</th><th>qty</th></tr>"),
        row(1), row(2), row(3), row(4), row(5),
        F.lit("</table>"),
    )
    html_str = F.decode(F.col("html"), "utf-8")
    enriched = F.encode(
        F.concat(
            F.replace(html_str, F.lit("</body></html>"), F.lit("")),
            block,
            F.lit("</body></html>"),
        ),
        "utf-8",
    )
    return pages.withColumn("html", enriched)
