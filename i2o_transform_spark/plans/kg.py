"""KG-construction pipeline stages (the north_rule core).

Recasts the reference's ontology-mapping ETL as web-scale KG construction:

  stage               reference semantics                         Spark shape
  ------------------- ------------------------------------------- -----------
  extract_text        (new: web input)                            mapInPandas
                                                                  Arrow UDF,
                                                                  byte-exact
  compile_crosswalk   OMOPBuildMapping two-phase preference        broadcast
                      insert + self-mapping fallback               joins + W2
                      (MSSQL/OMOPLoader.sql:714-917, 834-844)      rank
  canonicalize        dedup/merge procedures -> connected          blocked CC
                      components over sameAs evidence              applyInPandas
  detect_mentions     fact->ontology dictionary join J1            token spans
                      (MSSQL/OMOPLoader.sql:1046)                  + salted
                                                                   join
  extract_qualifiers  config-driven modifier extraction U4         regex spans
                      (MSSQL/OMOPLoader.sql:1690-1759)             + join
  assemble_triples    modifier reassembly J3 + domain routing F6   groupBy +
                      (MSSQL/OMOPLoader.sql:1034-1045, 1027)       min_by/max_by
  emit_triples        DISTINCT dedup A5 + surrogate keys           dropDuplicates
                      (MSSQL/OMOPLoader.sql:954, 347-426)          + xxhash ids

Scale notes (100 TB / 10^12 pages):
* the pages scan never shuffles until mention assembly, which groups by
  (url, sent_idx) — keys are uniformly distributed, no skew;
* the vocabulary size picks the assembly path: up to MAX_BROADCAST_VOCAB
  surfaces it is broadcast into the one-Arrow-stage ``extract_and_assemble``
  kernel (zero-shuffle dictionary probe); past it the modular path
  (detect_mentions -> extract_qualifiers -> assemble_triples) joins spans to
  the vocabulary with a salted repartition join (hot surface forms are the
  skew: HOT_SUBJ_PCT of mentions share one surface);
* canonicalization is bounded per block (first-token blocking) — no global
  iteration;
* every stage is a pure DataFrame -> DataFrame function; the runner persists
  each output (idempotent overwrite = checkpoint unit).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from i2o_transform_spark.functions.hashing import content_id
from i2o_transform_spark.operators.graph import blocked_connected_components
from i2o_transform_spark.operators.joins import salted_join

MAX_SURFACE_TOKENS = 3

# One regex/whitespace dialect for BOTH engines.  The Spark (modular) path is
# the semantic definition: Java regex `\s` is ASCII-only and F.trim strips
# only ' '.  The pandas kernels therefore compile every pattern with re.ASCII
# (making Python's \s/\w/\d/\b match the Java default) and strip only spaces,
# so fused==modular holds on tabs/newlines/Unicode whitespace too — not just
# on ASCII fixtures (ADVICE r01).
SENT_SPLIT_PATTERN = r"\.\s*"
_SENT_SPLIT_RE = re.compile(SENT_SPLIT_PATTERN, re.ASCII)
# Cap on the broadcast vocabulary of the fused kernel: past this the driver
# snapshot stops being "broadcast-sized by definition" and callers must take
# the salted modular path (detect_mentions -> assemble_triples).
# assemble-time check, not advisory (VERDICT r01).
MAX_BROADCAST_VOCAB = 250_000
# Default width of the hashing-trick context embedding emitted by the
# assembly stages (ctx_dim=) for embedding entity-link scoring.  64 keeps
# the planted cue-token buckets collision-free (datagen asserts it) while
# the assembled row stays small; a model-served encoder replaces this on a
# real cluster.
CTX_DIM = 64


def _compile_qualifier_patterns(cfg: list[dict]) -> list[dict]:
    """Validate + compile modifier_config patterns for the pandas kernels.

    Ensures one regex dialect: patterns must be valid Python `re` under
    re.ASCII (matching Java's ASCII-default \\s/\\w/\\d) and may not use
    Java-only constructs (\\p{...} classes, possessive quantifiers) that
    Python would silently mis-read or reject at run time on an executor.
    Returns cfg with a compiled `_re` per spec.  Raises ValueError at plan
    build time — on the driver — for anything divergent.
    """
    out = []
    for spec in cfg:
        pat = spec["pattern"]
        if re.search(r"\\[pP]\{", pat) or re.search(r"[*+?}][+]", pat):
            raise ValueError(
                f"modifier pattern {pat!r} uses Java-only regex constructs; "
                "use the common Java/Python subset"
            )
        try:
            rx = re.compile(pat, re.ASCII)
        except re.error as e:
            raise ValueError(
                f"modifier pattern {pat!r} is not valid in the common "
                f"Java/Python regex dialect: {e}"
            ) from e
        out.append({**spec, "_re": rx})
    return out


def _check_no_dual_domain(surf_rows) -> None:
    """Reject vocabularies where one surface_form maps to both 'Predicate'
    and an entity domain.  The mention-election semantics (longest-match then
    entity/predicate routing) are only deterministic when the partition is
    exclusive — the modular path's max_by tie-break would otherwise pick an
    arbitrary kind.  Asserted at plan build time by the fused assembly
    kernel (ADVICE r01)."""
    doms: dict[str, set] = {}
    for r in surf_rows:
        doms.setdefault(r.surface_form, set()).add(
            "P" if r.canon_domain == "Predicate" else "E"
        )
    dual = sorted(s for s, d in doms.items() if len(d) > 1)
    if dual:
        raise ValueError(
            "surface forms mapped to both Predicate and an entity domain "
            f"(ambiguous mention routing): {dual[:10]}"
        )

_EXTRACT_SCHEMA = StructType(
    [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
    ]
)



_P_BODY_RE = re.compile(r"<p>(.*?)</p>", re.DOTALL)  # DOTALL: body may span \n


def _html_to_text(html_bytes: "pd.Series") -> "pd.Series":
    """Vectorized html -> text (the byte-identical extraction core): decode,
    <p>-body extract, entity-unescape in reverse order of escaping."""
    html = html_bytes.str.decode("utf-8", errors="replace").fillna("")
    body = html.str.extract(_P_BODY_RE, expand=False).fillna("")
    return (
        body.str.replace("&lt;", "<", regex=False)
        .str.replace("&gt;", ">", regex=False)
        .str.replace("&amp;", "&", regex=False)
    )


def extract_text(pages: DataFrame) -> DataFrame:
    """HTML -> text via an Arrow-vectorized mapInPandas UDF.

    Per input_hint the extracted text must be byte-identical to the pages
    table's ``text`` column per url — the runner validates sha2 equality.
    Vectorized throughout (pandas .str ops on the whole Arrow batch); the
    html column is pruned immediately after this stage so its bytes never
    enter a shuffle.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            text = _html_to_text(pdf["html"])
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "warc_ts": pdf["warc_ts"],
                    "text": text,
                    "lang": pdf["lang"],
                }
            )

    return pages.select("url", "warc_ts", "html", "lang").mapInPandas(
        run, _EXTRACT_SCHEMA
    )


def validation_report(pages: DataFrame, extracted: DataFrame) -> DataFrame:
    """Byte-identical-text invariant: sha2 of reference text vs extracted,
    per url (BASELINE.md per-row invariant).  Returns one row:
    (n_pages, n_matching, n_mismatched)."""
    ref = pages.select("url", F.sha2(F.col("text"), 256).alias("ref_sha"))
    got = extracted.select("url", F.sha2(F.col("text"), 256).alias("got_sha"))
    j = ref.join(got, "url", "full_outer")
    return j.agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.sum(
            F.when(F.col("ref_sha") == F.col("got_sha"), 1).otherwise(0)
        ).alias("n_matching"),
        F.sum(
            F.when(
                F.col("ref_sha").isNull()
                | F.col("got_sha").isNull()
                | (F.col("ref_sha") != F.col("got_sha")),
                1,
            ).otherwise(0)
        ).alias("n_mismatched"),
    )


def compile_crosswalk(
    surface_vocab: DataFrame, concept: DataFrame, concept_rel: DataFrame
) -> DataFrame:
    """Vocabulary compile (OMOPBuildMapping, MSSQL/OMOPLoader.sql:714-917).

    surface -> std_code (prefix-stripped, :744-746) -> concept node ->
    candidates:
      rank 0: 'Maps to' targets that are standard & valid   (:748-761)
      rank 1: the concept itself when standard & valid      (self-mapping
              fallback, :834-844)
    keep every candidate of the best (min) rank per surface — 1->many
    mappings survive (:763-764).  Output one row per (surface, concept).
    """
    code = F.expr(
        "substring(std_code, instr(std_code, ':') + 1, 200)"
    )
    vocab_sc = F.expr("substring(std_code, 1, instr(std_code, ':') - 1)")
    v = surface_vocab.where(F.col("std_code").isNotNull()).select(
        "surface_form",
        "std_domain",
        code.alias("concept_code"),
        vocab_sc.alias("vocabulary_id"),
    )
    src = concept.select(
        F.col("concept_id").alias("src_id"),
        "concept_code",
        "vocabulary_id",
        F.col("standard_concept").alias("src_std"),
        F.col("invalid_reason").alias("src_invalid"),
    )
    bound = v.join(F.broadcast(src), ["concept_code", "vocabulary_id"], "inner")

    maps_to = concept_rel.where(F.col("relationship_id") == "Maps to").select(
        F.col("concept_id_1").alias("src_id"), F.col("concept_id_2").alias("tgt_id")
    )
    std_tgt = concept.where(
        (F.col("standard_concept") == "S") & F.col("invalid_reason").isNull()
    ).select(
        F.col("concept_id").alias("tgt_id"),
        F.col("concept_name").alias("canon_name"),
        F.col("domain_id").alias("canon_domain"),
    )
    mapped = (
        bound.join(F.broadcast(maps_to), "src_id")
        .join(F.broadcast(std_tgt), "tgt_id")
        .select(
            "surface_form",
            F.col("tgt_id").alias("concept_id"),
            "canon_name",
            "canon_domain",
            F.lit(0).alias("rank"),
        )
    )
    self_named = concept.select(
        F.col("concept_id").alias("src_id"),
        F.col("concept_name").alias("canon_name"),
        F.col("domain_id").alias("canon_domain"),
    )
    selfmap = (
        bound.where((F.col("src_std") == "S") & F.col("src_invalid").isNull())
        .join(F.broadcast(self_named), "src_id")
        .select(
            "surface_form",
            F.col("src_id").alias("concept_id"),
            "canon_name",
            "canon_domain",
            F.lit(1).alias("rank"),
        )
    )
    cand = mapped.unionByName(selfmap)
    w = Window.partitionBy("surface_form")
    return (
        cand.withColumn("best", F.min("rank").over(w))
        .where(F.col("rank") == F.col("best"))
        .select("surface_form", "concept_id", "canon_name", "canon_domain")
        .distinct()
    )


def _char_trigrams(col: Column) -> Column:
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.length(col) - 3, F.lit(0))),
            lambda i: F.substring(col, i + 1, 3),
        )
    )


def canonicalize_concepts(crosswalk: DataFrame, jaccard_min: float = 0.4) -> DataFrame:
    """sameAs merge: concepts the ontology does not connect but whose names
    are near-identical (char-trigram Jaccard >= ``jaccard_min``) are merged
    via blocked connected components (north_star: groupBy.applyInPandas CC
    with blocking).  Blocking key = first name token; representative =
    min concept id.  Returns mapping (concept_id, canon_id) for EVERY
    crosswalk concept (identity when unmerged)."""
    nodes = crosswalk.select(
        F.col("concept_id").alias("node"),
        F.col("canon_name").alias("name"),
        F.col("canon_domain").alias("domain"),
    ).distinct()
    blocked = nodes.withColumn(
        "block", F.concat(F.col("domain"), F.lit(":"), F.split(F.col("name"), " ")[0])
    ).withColumn("grams", _char_trigrams(F.col("name")))
    a = blocked.select(
        F.col("block"), F.col("node").alias("src"), F.col("grams").alias("ga")
    )
    b = blocked.select(
        F.col("block"), F.col("node").alias("dst"), F.col("grams").alias("gb")
    )
    pairs = (
        a.join(b, "block")
        .where(F.col("src") < F.col("dst"))
        .withColumn(
            "jac",
            F.size(F.array_intersect(F.col("ga"), F.col("gb")))
            / F.size(F.array_union(F.col("ga"), F.col("gb"))),
        )
        .where(F.col("jac") >= jaccard_min)
        .select("block", "src", "dst")
    )
    roots = blocked_connected_components(pairs)
    return (
        nodes.join(roots, nodes.node == roots.node, "left")
        .select(
            nodes.node.alias("concept_id"),
            F.coalesce(roots.root, nodes.node).alias("canon_id"),
        )
    )


def split_sentences(docs: DataFrame) -> DataFrame:
    """(url, warc_ts, text) -> (url, warc_ts, sent_idx, tokens)."""
    sent = docs.select(
        "url",
        "warc_ts",
        F.posexplode(F.split(F.col("text"), SENT_SPLIT_PATTERN)).alias(
            "sent_idx", "sentence"
        ),
    ).where(F.length(F.trim(F.col("sentence"))) > 0)
    return sent.withColumn("tokens", F.split(F.trim(F.col("sentence")), " ")).drop(
        "sentence"
    )


def detect_mentions(
    sentences: DataFrame,
    crosswalk: DataFrame,
    salt_buckets: int | None = 16,
) -> DataFrame:
    """Dictionary mention detection: token spans x surface vocabulary.

    J1 (MSSQL/OMOPLoader.sql:1046), the big-vocabulary path: a vocabulary
    within MAX_BROADCAST_VOCAB goes through the fused
    :func:`extract_and_assemble` kernel instead.  Plan shape:

    * posexplode tokens, grams built with element_at on the carried token
      array (no lead() window, no sort);
    * every 1/2/3-token span joins the vocabulary with a salted repartition
      join (the vocabulary is too big to broadcast, and hot surface forms
      are skewed — north_star salted-key hash join);
    * longest-match-wins per (url, sent_idx, start) as groupBy + max_by —
      a hash aggregation with map-side partial combine, not a window sort.

    Output: (url, warc_ts, sent_idx, start, len, surface, kind).

    Auto-planning (VERDICT r02 #7): ``salt_buckets=None`` derives the bucket
    count from the observed hot-key share (operators.joins.plan_salt_buckets)
    instead of a caller guess — a planted 30%-hot-surface corpus gets
    ceil(0.3 x parallelism) buckets, a uniform corpus gets an unsalted join.
    """
    toks = sentences.select(
        "url",
        "warc_ts",
        "sent_idx",
        F.col("tokens"),
        F.posexplode(F.col("tokens")).alias("pos", "tok"),
    )
    t1 = F.try_element_at(F.col("tokens"), F.col("pos") + 2)
    t2 = F.try_element_at(F.col("tokens"), F.col("pos") + 3)
    # F.concat (not concat_ws): a NULL tail token nulls the gram so a
    # truncated n-gram can never false-match a shorter surface
    g1 = F.col("tok")
    g2 = F.concat(F.col("tok"), F.lit(" "), t1)
    g3 = F.concat(F.col("tok"), F.lit(" "), t1, F.lit(" "), t2)

    surfaces = crosswalk.select(
        F.col("surface_form").alias("gram"),
        F.col("canon_domain").alias("kind"),
    ).distinct()

    def _span(n, g):
        return F.struct(F.lit(n).alias("len"), g.alias("gram"))

    spans = toks.select(
        "url",
        "warc_ts",
        "sent_idx",
        F.col("pos").alias("start"),
        F.explode(F.array(_span(1, g1), _span(2, g2), _span(3, g3))).alias("sp"),
    ).select("url", "warc_ts", "sent_idx", "start", "sp.len", "sp.gram").where(
        F.col("gram").isNotNull()
    )
    if salt_buckets is None:
        from i2o_transform_spark.operators.joins import plan_salt_buckets

        # bounded planning pass over the RAW span stream — the join
        # shuffles every span row (hit or not) on gram, so raw-stream
        # skew is what sizes the buckets; groupBy.count combines
        # map-side (shuffle = one row per distinct gram, skew-free)
        salt_buckets = plan_salt_buckets(spans, "gram")
    hits = salted_join(spans, surfaces, "gram", salt_buckets=salt_buckets)

    # longest-match (W2) as a hash agg: unique len per (start) makes max_by
    # exact; partial aggregation combines map-side before the one shuffle
    return (
        hits.groupBy("url", "sent_idx", "start")
        .agg(
            F.min("warc_ts").alias("warc_ts"),
            F.max_by(
                F.struct("len", F.col("gram").alias("surface"), "kind"), F.col("len")
            ).alias("m"),
        )
        .select("url", "warc_ts", "sent_idx", "start", "m.len", "m.surface", "m.kind")
    )


def _collect_assembly_vocab(crosswalk: DataFrame, modifier_config: DataFrame):
    """Driver-side vocab/config snapshot for the pandas assembly kernels.

    Enforces the assembly preconditions at plan build time: exclusive
    entity/predicate domains, vocab within MAX_BROADCAST_VOCAB (past it the
    caller must use the salted modular path), and qualifier patterns valid in
    the common Java/Python regex dialect (compiled here with re.ASCII so the
    kernels match rlike's ASCII \\s/\\w/\\d semantics)."""
    surf_rows = crosswalk.select("surface_form", "canon_domain").distinct().collect()
    _check_no_dual_domain(surf_rows)
    if len(surf_rows) > MAX_BROADCAST_VOCAB:
        raise ValueError(
            f"vocabulary ({len(surf_rows)} surfaces) exceeds "
            f"MAX_BROADCAST_VOCAB={MAX_BROADCAST_VOCAB}; use the salted "
            "modular path (detect_mentions -> extract_qualifiers -> "
            "assemble_triples), which run_pipeline picks by itself"
        )
    by_len: dict[int, set] = {1: set(), 2: set(), 3: set()}
    pred_set: set = set()
    for r in surf_rows:
        n = len(r.surface_form.split(" "))
        if n in by_len:
            by_len[n].add(r.surface_form)
        if r.canon_domain == "Predicate":
            pred_set.add(r.surface_form)
    first2 = {x.split(" ")[0] for x in by_len[2]}
    first3 = {x.split(" ")[0] for x in by_len[3]}
    cfg = _compile_qualifier_patterns(
        [r.asDict() for r in modifier_config.collect()]
    )
    return by_len, pred_set, first2, first3, cfg


def _assembled_schema(cfg: list[dict], ctx_dim: int | None = None) -> StructType:
    fields = [
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("sent_idx", IntegerType()),
        StructField("subj_surface", StringType()),
        StructField("pred_surface", StringType()),
        StructField("obj_surface", StringType()),
    ] + [StructField(f"qualifier_{s['kind']}", IntegerType()) for s in cfg]
    if ctx_dim:
        fields.append(StructField("ctx", ArrayType(DoubleType())))
    return StructType(fields)


def _make_assembler(
    by_len, pred_set, first2, first3, cfg, ctx_dim=None, ctx_matrix_out=False
):
    """Build the vectorized per-batch assembly kernel: token arrays ->
    assembled (subj, pred, obj, qualifiers[, ctx]) rows.  numpy explode +
    Series.isin hash probes + drop_duplicates first/last election — no
    per-row Python anywhere.  With ``ctx_dim`` the kernel also emits the
    sentence's hashing-trick context embedding (crc32 buckets, bit-equal to
    the JVM encoder ``operators.entity_link.hashing_trick_embed``) for
    downstream embedding entity-link scoring — computed from the already-
    exploded token array with one np.add.at scatter, so it is free of any
    extra pass over the text."""
    import numpy as np

    qual_names = [f"qualifier_{s['kind']}" for s in cfg]

    def assemble(url_arr, ts_arr, sidx_arr, tok_lists):
        nrow = len(tok_lists)
        if nrow == 0:
            return None
        counts = np.fromiter((len(t) for t in tok_lists), np.int64, nrow)
        total = int(counts.sum())
        if total == 0:
            return None
        flat = np.concatenate(
            [np.asarray(t, dtype=object) for t in tok_lists]
        )
        row = np.repeat(np.arange(nrow), counts)
        starts = np.zeros(nrow, np.int64)
        np.cumsum(counts[:-1], out=starts[1:])
        pos = np.arange(total) - np.repeat(starts, counts)

        s1 = pd.Series(flat)
        same1 = np.empty(total, bool)  # next token in same sentence
        same1[:-1] = row[1:] == row[:-1]
        same1[-1] = False
        nxt = np.roll(flat, -1)
        same2 = np.empty(total, bool)
        same2[:-2] = row[2:] == row[:-2]
        same2[-2:] = False
        nxt2 = np.roll(flat, -2)

        # longest-match-wins per start: 1-gram, overridden by 2/3-gram
        m1 = s1.isin(by_len[1]).to_numpy()
        mlen = np.where(m1, 1, 0)
        msurf = np.where(m1, flat, None)
        if by_len[2]:
            c2 = same1 & s1.isin(first2).to_numpy()
            g2 = np.empty(total, object)
            idx = np.nonzero(c2)[0]
            g2[idx] = pd.Series(flat[idx]).str.cat(
                pd.Series(nxt[idx]), sep=" "
            ).to_numpy()
            m2 = np.zeros(total, bool)
            m2[idx] = pd.Series(g2[idx]).isin(by_len[2]).to_numpy()
            mlen = np.where(m2, 2, mlen)
            msurf = np.where(m2, g2, msurf)
        if by_len[3]:
            c3 = same2 & s1.isin(first3).to_numpy()
            idx = np.nonzero(c3)[0]
            g3 = np.empty(total, object)
            g3[idx] = (
                pd.Series(flat[idx])
                .str.cat(pd.Series(nxt[idx]), sep=" ")
                .str.cat(pd.Series(nxt2[idx]), sep=" ")
                .to_numpy()
            )
            m3 = np.zeros(total, bool)
            m3[idx] = pd.Series(g3[idx]).isin(by_len[3]).to_numpy()
            mlen = np.where(m3, 3, mlen)
            msurf = np.where(m3, g3, msurf)

        hit = mlen > 0
        h = pd.DataFrame(
            {
                "row": row[hit],
                "pos": pos[hit],
                "len": mlen[hit],
                "surface": msurf[hit],
            }
        )
        h["is_pred"] = h["surface"].isin(pred_set)
        ents = h[~h["is_pred"]]
        preds = h[h["is_pred"]]
        subj = ents.drop_duplicates("row", keep="first").set_index("row")
        obj = ents.drop_duplicates("row", keep="last").set_index("row")
        prd = preds.drop_duplicates("row", keep="first").set_index("row")

        keep = subj.index.intersection(prd.index)
        if len(keep) == 0:
            return None
        sj, ob, pr = subj.loc[keep], obj.loc[keep], prd.loc[keep]
        ok = ((sj["pos"] + sj["len"]) <= pr["pos"]) & (pr["pos"] < ob["pos"])
        keep = keep[ok.to_numpy()]
        if len(keep) == 0:
            return None

        res = pd.DataFrame(
            {
                "url": url_arr[keep],
                "warc_ts": ts_arr[keep],
                "sent_idx": sidx_arr[keep].astype("int32"),
                "subj_surface": subj.loc[keep, "surface"].to_numpy(),
                "pred_surface": prd.loc[keep, "surface"].to_numpy(),
                "obj_surface": obj.loc[keep, "surface"].to_numpy(),
            },
            index=keep,
        )
        if cfg:
            # shared across config rows: same-sentence mask + previous token
            same_prev = np.empty(total, bool)
            same_prev[0] = False
            same_prev[1:] = row[1:] == row[:-1]
            prev_tok = np.roll(flat, 1)
        for spec, qn in zip(cfg, qual_names):
            prev_ok = np.zeros(total, bool)
            prev_ok[1:] = same_prev[1:] & (
                prev_tok[1:] == spec["trigger_token"]
            )
            # contains(compiled re.ASCII regex) mirrors rlike: unanchored
            # search with Java's ASCII \s/\w/\d semantics (ADVICE r01).
            # Regex only runs on trigger-following tokens (a tiny fraction of
            # the batch), not the whole flat token array per config row.
            rx = spec.get("_re") or re.compile(spec["pattern"], re.ASCII)
            cand = np.nonzero(prev_ok)[0]
            pat = np.zeros(total, bool)
            if cand.size:
                pat[cand] = (
                    pd.Series(flat[cand]).str.contains(rx, regex=True).to_numpy()
                )
            # per-sentence STRING min (the modular path's F.min over the
            # string value column — lexicographic, then cast).  groupby.min
            # on object dtype is a per-group Python fallback (~100x slower
            # than the rest of this kernel); stable-sort + keep-first is the
            # same min in vectorized form.
            qdf = pd.DataFrame({"row": row[pat], "value": flat[pat]})
            fst = qdf.sort_values(["row", "value"], kind="stable").drop_duplicates(
                "row", keep="first"
            )
            qmin = pd.Series(
                fst["value"].to_numpy(), index=fst["row"].to_numpy()
            )
            res[qn] = pd.to_numeric(
                res.index.to_series().map(qmin), errors="coerce"
            ).astype("Int32")
        if ctx_dim:
            from i2o_transform_spark.operators.entity_link import (
                hashing_trick_embed_np,
            )

            ctx = hashing_trick_embed_np(flat, row, nrow, ctx_dim)
            ctx_sel = ctx[keep.to_numpy()]
            if ctx_matrix_out:
                # fused-election path: hand the dense matrix straight to the
                # in-kernel election — the (B, dim) float block never gets
                # chopped into per-row Python lists or serialized over Arrow
                return res.reset_index(drop=True), ctx_sel
            res["ctx"] = list(ctx_sel)
        return res.reset_index(drop=True)

    return assemble


def extract_and_assemble(
    pages: DataFrame,
    crosswalk: DataFrame,
    modifier_config: DataFrame,
    ctx_dim: int | None = None,
    entity_candidates: DataFrame | None = None,
) -> DataFrame:
    """The whole narrow path — html -> text -> sentences -> assembled triples
    surface rows — in ONE Arrow stage.

    Extraction, sentence split and assembly share one kernel, so Arrow moves
    (url, warc_ts, html) in and the tiny assembled rows out, nothing else:
    the token-level sentence frame, several times larger than the input
    pages, never crosses the JVM/Python boundary.  The language filter stays
    Spark-side (parquet predicate pushdown).  The vocabulary is broadcast, so
    it must stay within MAX_BROADCAST_VOCAB; past it the modular path
    (split_sentences -> detect_mentions -> extract_qualifiers ->
    assemble_triples, salted join) takes over.  Semantics are identical to
    that path (property-tested); the byte-identical-text invariant is still
    checked by the separate extract_text stage in the runner.

    With ``entity_candidates`` (surface_form, entity_id, emb; requires
    ``ctx_dim``) the embedding entity-link **election runs inside this same
    kernel**: the sentence context matrix feeds the argmax-cosine election
    as a dense numpy block and is then discarded — the 8·ctx_dim bytes/row
    of ctx never cross Arrow and never exist as a Spark column.  Output
    carries elected ``subj_id``/``obj_id`` longs instead (rows whose subject
    or object surface has no candidate are dropped, the dictionary-join
    inner semantics, MSSQL/OMOPLoader.sql:763-764); ``link_and_emit``
    detects the precomputed ids and skips its own disambiguation stage.
    Election identical to the staged kernels — equivalence pytest-pinned.
    """
    vocab = _collect_assembly_vocab(crosswalk, modifier_config)
    bc = pages.sparkSession.sparkContext.broadcast(vocab)

    import numpy as np

    fused_elect = entity_candidates is not None
    if fused_elect:
        if not ctx_dim:
            raise ValueError("entity_candidates requires ctx_dim")
        from i2o_transform_spark.operators.entity_link import (
            _collect_candidate_table,
            elect_entity_ids_np,
        )

        cand_table = _collect_candidate_table(
            entity_candidates, "surface_form", "entity_id", "emb"
        )
        bc_cand = pages.sparkSession.sparkContext.broadcast(cand_table)
        out_schema = StructType(
            list(_assembled_schema(vocab[4], None))
            + [StructField("subj_id", LongType()), StructField("obj_id", LongType())]
        )
    else:
        out_schema = _assembled_schema(vocab[4], ctx_dim)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kernel = _make_assembler(
            *bc.value, ctx_dim=ctx_dim, ctx_matrix_out=fused_elect
        )
        cand = bc_cand.value if fused_elect else None
        for pdf in batches:
            nrow = len(pdf)
            if nrow == 0:
                continue
            text = _html_to_text(pdf["html"])
            # split_sentences semantics, Java dialect: split on '\.\s*' with
            # ASCII \s (matching Spark/Java regex), keep original position as
            # sent_idx (posexplode before the empty filter), trim = spaces
            # only (F.trim strips only ' '), tokens = single-space split
            sl = text.str.split(_SENT_SPLIT_RE, regex=True).tolist()
            counts = np.fromiter((len(x) for x in sl), np.int64, nrow)
            total = int(counts.sum())
            if total == 0:
                continue
            flat = np.concatenate([np.asarray(x, dtype=object) for x in sl])
            page_row = np.repeat(np.arange(nrow), counts)
            starts = np.zeros(nrow, np.int64)
            np.cumsum(counts[:-1], out=starts[1:])
            sidx = (np.arange(total) - np.repeat(starts, counts)).astype("int32")
            ss = pd.Series(flat).str.strip(" ")
            keep = (ss.str.len() > 0).to_numpy()
            if not keep.any():
                continue
            tok_lists = ss[keep].str.split(" ").tolist()
            res = kernel(
                pdf["url"].to_numpy()[page_row[keep]],
                pdf["warc_ts"].to_numpy()[page_row[keep]],
                sidx[keep],
                tok_lists,
            )
            if res is None:
                continue
            if fused_elect:
                res, ctx_mat = res
                subj_ids, obj_ids = elect_entity_ids_np(
                    cand, res["subj_surface"], res["obj_surface"], ctx_mat
                )
                mask = (subj_ids >= 0) & (obj_ids >= 0)
                res = res.loc[mask]
                res["subj_id"] = subj_ids[mask]
                res["obj_id"] = obj_ids[mask]
            yield res

    cols = pages.select("url", "warc_ts", "html")
    return cols.mapInPandas(run, out_schema)


def extract_qualifiers(sentences: DataFrame, modifier_config: DataFrame) -> DataFrame:
    """Config-driven qualifier extraction (U4, MSSQL/OMOPLoader.sql:1690-1759):
    each modifier_config row (kind, trigger_token, pattern, target_column)
    becomes a vectorized span scan — token matching ``pattern`` whose
    predecessor equals ``trigger_token``.
    Output: (url, sent_idx, kind, value)."""
    cfg = [r.asDict() for r in modifier_config.collect()]  # handful of rows
    toks = sentences.select(
        "url",
        "sent_idx",
        F.posexplode(F.col("tokens")).alias("pos", "tok"),
        F.col("tokens"),
    )
    outs = []
    for spec in cfg:
        matched = toks.where(
            (F.col("pos") > 0)
            & F.col("tok").rlike(spec["pattern"])
            & (F.element_at(F.col("tokens"), F.col("pos")) == spec["trigger_token"])
        ).select(
            "url",
            "sent_idx",
            F.lit(spec["kind"]).alias("kind"),
            F.col("tok").alias("value"),
        )
        outs.append(matched)
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


def assemble_triples(
    mentions: DataFrame,
    qualifiers: DataFrame,
    qualifier_kinds: tuple[str, ...] = ("year",),
) -> DataFrame:
    """Per-sentence triple assembly (the J3 composite-key reassembly recast):
    subject = earliest entity mention, object = latest entity mention,
    predicate = earliest predicate mention between/after the subject.
    Sentences lacking any of the three emit nothing.

    ``qualifier_kinds`` mirrors the modifier_config rows (the reference's
    one-temp-table-per-modifier reassembly, MSSQL/OMOPLoader.sql:1034-1045):
    each kind pivots to its own ``qualifier_<kind>`` column, elected as the
    min matching token per sentence.
    Output: (url, warc_ts, sent_idx, subj_surface, pred_surface, obj_surface,
    qualifier_<kind>...)."""
    ent = mentions.where(F.col("kind") != "Predicate")
    pred = mentions.where(F.col("kind") == "Predicate")
    # both aggregations group on (url, sent_idx) so the subsequent join
    # reuses the exchange partitioning (no extra shuffle); warc_ts rides
    # along via min() (constant per url)
    ent_agg = ent.groupBy("url", "sent_idx").agg(
        F.min("warc_ts").alias("warc_ts"),
        F.min_by(F.struct("start", "len", "surface"), F.col("start")).alias("subj"),
        F.max_by(F.struct("start", "len", "surface"), F.col("start")).alias("obj"),
    )
    pred_agg = pred.groupBy("url", "sent_idx").agg(
        F.min_by(F.struct("start", "surface"), F.col("start")).alias("pred")
    )
    quals = qualifiers.groupBy("url", "sent_idx").agg(
        *[
            F.min(F.when(F.col("kind") == k, F.col("value")))
            .cast("int")
            .alias(f"qualifier_{k}")
            for k in qualifier_kinds
        ]
    )
    return (
        ent_agg.join(pred_agg, ["url", "sent_idx"])
        .where(
            (F.col("subj.start") + F.col("subj.len") <= F.col("pred.start"))
            & (F.col("pred.start") < F.col("obj.start"))
        )
        .join(quals, ["url", "sent_idx"], "left")
        .select(
            "url",
            "warc_ts",
            "sent_idx",
            F.col("subj.surface").alias("subj_surface"),
            F.col("pred.surface").alias("pred_surface"),
            F.col("obj.surface").alias("obj_surface"),
            *[F.col(f"qualifier_{k}") for k in qualifier_kinds],
        )
    )


def entity_candidate_frame(
    crosswalk: DataFrame,
    canon_map: DataFrame,
    entity_embeddings: DataFrame,
) -> DataFrame:
    """(surface_form, entity_id, emb) candidate dictionary for embedding
    entity-link scoring: every non-predicate crosswalk surface joined to its
    canonical id's embedding.  When several source concepts merged into one
    canon id, the min-concept_id embedding is the deterministic
    representative.  Vocabulary-sized — feeds the broadcast election in
    :func:`link_and_emit` or the fused kernel in
    :func:`extract_and_assemble` (``entity_candidates=``)."""
    cw = crosswalk.join(canon_map, "concept_id").select(
        "surface_form", "concept_id", "canon_id", "canon_domain"
    ).distinct()
    return (
        cw.where(F.col("canon_domain") != "Predicate")
        .join(F.broadcast(entity_embeddings), "concept_id")
        .groupBy("surface_form", "canon_id")
        .agg(F.min_by("emb", "concept_id").alias("emb"))
        .select(
            "surface_form", F.col("canon_id").alias("entity_id"), "emb"
        )
    )


def link_and_emit(
    assembled: DataFrame,
    crosswalk: DataFrame,
    canon_map: DataFrame,
    entity_embeddings: DataFrame | None = None,
    ctx: DataFrame | None = None,
) -> DataFrame:
    """Entity/predicate linking + canonical-id application + dedup + ids.

    Each surface joins the broadcast crosswalk (1->many fan-out preserved,
    MSSQL/OMOPLoader.sql:763-764), then the CC merge map.  Triple ids are
    content-derived (SURVEY §1.3) — deterministic across retries/cluster
    sizes.  Dedup: one row per (subj, pred, obj, url) — the reference's
    per-insert DISTINCT (A5).

    With ``entity_embeddings`` (concept_id, emb) the entity side switches
    from 1->many fan-out to **embedding entity-link scoring** (north_star):
    each subject/object surface resolves to the argmax-cosine candidate
    against the sentence's context embedding — the assembled frame must
    carry a ``ctx`` column (assembly stages' ``ctx_dim=``), or a separate
    ``ctx`` frame (url, sent_idx, ctx) is joined.  Disambiguation is
    map-side (broadcast pre-grouped candidates + aggregate fold,
    operators.entity_link) — it adds no shuffle; predicates keep the
    reference's fan-out semantics (a predicate synonym genuinely means
    several canonical relations)."""
    cw = crosswalk.join(
        canon_map, "concept_id"
    ).select(
        F.col("surface_form"),
        F.col("concept_id"),
        F.col("canon_id"),
        F.col("canon_domain"),
    ).distinct()
    pred_cw = F.broadcast(
        cw.where(F.col("canon_domain") == "Predicate").select(
            F.col("surface_form").alias("pred_surface"),
            F.col("canon_id").alias("pred_id"),
        ).distinct()
    )
    if "subj_id" in assembled.columns and "obj_id" in assembled.columns:
        # fused-election path (extract_and_assemble(entity_candidates=...)):
        # entity ids are already elected in the assembly kernel — only the
        # predicate crosswalk join (fan-out preserving) remains
        linked = assembled.join(pred_cw, "pred_surface")
    elif entity_embeddings is not None:
        from i2o_transform_spark.operators.entity_link import (
            embedding_disambiguate_dual_pandas,
        )

        if ctx is not None:
            assembled = assembled.join(ctx, ["url", "sent_idx"])
        if "ctx" not in assembled.columns:
            raise ValueError(
                "embedding linking needs a ctx column: assemble with "
                "ctx_dim=... or pass a ctx frame (url, sent_idx, ctx)"
            )
        ent_cand = entity_candidate_frame(
            crosswalk, canon_map, entity_embeddings
        )
        # both elections in ONE Arrow pass (r02 throughput fix) — same
        # argmax/lowest-id election as the expression fold, equivalence
        # pytest-pinned (tests/test_operators.py)
        linked = embedding_disambiguate_dual_pandas(
            assembled,
            ent_cand,
            surface_col="surface_form",
        )
        linked = linked.join(pred_cw, "pred_surface")
    else:
        subj_cw = F.broadcast(
            cw.where(F.col("canon_domain") != "Predicate").select(
                F.col("surface_form").alias("subj_surface"),
                F.col("canon_id").alias("subj_id"),
            ).distinct()
        )
        obj_cw = F.broadcast(
            cw.where(F.col("canon_domain") != "Predicate").select(
                F.col("surface_form").alias("obj_surface"),
                F.col("canon_id").alias("obj_id"),
            ).distinct()
        )
        linked = (
            assembled.join(subj_cw, "subj_surface")
            .join(pred_cw, "pred_surface")
            .join(obj_cw, "obj_surface")
        )
    # deterministic dedup: keep the earliest sentence occurrence per
    # (s, p, o, url) — dropDuplicates alone would keep arbitrary qualifiers
    # when a page repeats the triple.  min_by over a STRUCT falls back to
    # SortAggregate (struct aggregation buffers aren't hash-aggregatable),
    # so (sent_idx, qualifiers...) is packed into one long: min(long) keeps
    # the whole pipeline in HashAggregate with map-side partial combine —
    # the one shuffle moves already-deduped tuples and never sorts.
    # sent_idx dominates the high bits, so min(packed) == min_by(sent_idx);
    # warc_ts is constant per url (min is exact).  Qualifier columns are
    # auto-detected from the assembled schema (one per modifier_config row).
    _QBITS = 21  # per-qualifier payload: value+1 in [0, 2^21)
    qual_cols = [c for c in assembled.columns if c.startswith("qualifier_")]
    if len(qual_cols) > 2:
        # 63-bit budget: sent_idx needs >= 20 bits, each qualifier 21 —
        # beyond two, fall back to the exact (slower) struct-min ordering
        deduped = (
            linked.groupBy("subj_id", "pred_id", "obj_id", "url")
            .agg(
                F.min("warc_ts").alias("warc_ts"),
                F.min_by(
                    F.struct("sent_idx", *qual_cols), F.col("sent_idx")
                ).alias("_m"),
            )
            .select(
                "subj_id", "pred_id", "obj_id", "url", "warc_ts",
                *[F.col(f"_m.{c}").alias(c) for c in qual_cols],
            )
        )
    else:
        packed = F.col("sent_idx").cast("long")
        for c in qual_cols:
            # clamp before packing: a config-driven qualifier outside
            # [0, 2^21-2] would silently overflow into the neighboring bits,
            # corrupting both the min-ordering and the decoded value
            # (ADVICE r01) — out-of-range values are treated as absent
            # (null), exactly like a non-matching qualifier
            qv = F.col(c).cast("long")
            safe = F.when(qv.between(0, (1 << _QBITS) - 2), qv)
            packed = packed * F.lit(1 << _QBITS) + (
                F.coalesce(safe, F.lit(-1)) + 1
            )
        decoded = []
        rem = F.col("_p")
        for c in reversed(qual_cols):
            qp = rem % (1 << _QBITS)
            decoded.append(F.when(qp > 0, (qp - 1).cast("int")).alias(c))
            # exact integer shift — float division would lose bits past 2^53
            rem = F.shiftright(rem, _QBITS)
        decoded.reverse()
        deduped = (
            linked.groupBy("subj_id", "pred_id", "obj_id", "url")
            .agg(F.min("warc_ts").alias("warc_ts"), F.min(packed).alias("_p"))
            .select("subj_id", "pred_id", "obj_id", "url", "warc_ts", *decoded)
        )
    return deduped.select(
        content_id("subj_id", "pred_id", "obj_id", "url").alias("triple_id"),
        "subj_id",
        "pred_id",
        "obj_id",
        "url",
        "warc_ts",
        *qual_cols,
    )


def materialize_nodes(crosswalk: DataFrame, canon_map: DataFrame) -> DataFrame:
    """Canonical node table: one row per merged concept, representative name =
    the canon concept's own name (min id in component keeps its name)."""
    names = crosswalk.select("concept_id", "canon_name", "canon_domain").distinct()
    merged = names.join(canon_map, "concept_id")
    w = Window.partitionBy("canon_id").orderBy("concept_id")
    return (
        merged.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            F.col("canon_id").alias("node_id"),
            F.col("canon_name").alias("name"),
            F.col("canon_domain").alias("domain"),
        )
    )
