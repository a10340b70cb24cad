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
  elect_entities      entity election where the sentence is        Arrow matmul
                      assembled (embedding argmax, also in-kernel  (map-side)
                      in extract_and_assemble)
  link_and_emit       link J1 (entities only if not elected) +     broadcast
                      DISTINCT dedup A5 + surrogate keys           joins + hash
                      (MSSQL/OMOPLoader.sql:763-764, 954, 347-426) agg + xxhash

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
# Width of the hashing-trick sentence context embedding that the entity
# election scores candidates against (both assembly paths).  64 keeps
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


def _check_no_dual_domain(dual: list[str]) -> None:
    """Reject vocabularies where one surface_form maps to both 'Predicate'
    and an entity domain (``dual`` lists such surfaces).  The mention-
    election semantics (longest-match then entity/predicate routing) are
    only deterministic when the partition is exclusive — the modular path's
    max_by tie-break would otherwise pick an arbitrary kind.  Asserted at
    plan build time on both assembly paths (ADVICE r01)."""
    if dual:
        raise ValueError(
            "surface forms mapped to both Predicate and an entity domain "
            f"(ambiguous mention routing): {sorted(dual)[:10]}"
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

    Output: (url, warc_ts, sent_idx, start, len, surface, kind).  Like the
    fused kernel, raises ValueError on a surface mapped to both Predicate
    and an entity domain.

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

    # the vocabulary is too big to collect: find dual-domain surfaces with
    # one aggregation and bring at most 10 of them to the driver
    pred_flag = F.when(F.col("canon_domain") == "Predicate", 1).otherwise(0)
    _check_no_dual_domain([
        r.surface_form
        for r in crosswalk.groupBy("surface_form")
        .agg(F.min(pred_flag).alias("lo"), F.max(pred_flag).alias("hi"))
        .where(F.col("lo") != F.col("hi"))
        .select("surface_form")
        .orderBy("surface_form")
        .limit(10)
        .collect()
    ])
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
    pred_set = {r.surface_form for r in surf_rows if r.canon_domain == "Predicate"}
    _check_no_dual_domain(list(pred_set.intersection(
        r.surface_form for r in surf_rows if r.canon_domain != "Predicate"
    )))
    if len(surf_rows) > MAX_BROADCAST_VOCAB:
        raise ValueError(
            f"vocabulary ({len(surf_rows)} surfaces) exceeds "
            f"MAX_BROADCAST_VOCAB={MAX_BROADCAST_VOCAB}; use the salted "
            "modular path (detect_mentions -> extract_qualifiers -> "
            "assemble_triples), which run_pipeline picks by itself"
        )
    by_len: dict[int, set] = {1: set(), 2: set(), 3: set()}
    for r in surf_rows:
        n = len(r.surface_form.split(" "))
        if n in by_len:
            by_len[n].add(r.surface_form)
    first2 = {x.split(" ")[0] for x in by_len[2]}
    first3 = {x.split(" ")[0] for x in by_len[3]}
    cfg = _compile_qualifier_patterns(
        [r.asDict() for r in modifier_config.collect()]
    )
    return by_len, pred_set, first2, first3, cfg


def _assembled_schema(cfg: list[dict]) -> StructType:
    return StructType([
        StructField("url", StringType()),
        StructField("warc_ts", TimestampType()),
        StructField("sent_idx", IntegerType()),
        StructField("subj_surface", StringType()),
        StructField("pred_surface", StringType()),
        StructField("obj_surface", StringType()),
    ] + [StructField(f"qualifier_{s['kind']}", IntegerType()) for s in cfg])


def _make_assembler(by_len, pred_set, first2, first3, cfg, with_ctx=False):
    """Build the vectorized per-batch assembly kernel: token arrays ->
    assembled (subj, pred, obj, qualifiers) rows.  numpy explode +
    Series.isin hash probes + drop_duplicates first/last election — no
    per-row Python anywhere.  With ``with_ctx`` the kernel also returns the
    kept sentences' (B, CTX_DIM) hashing-trick context matrix (crc32
    buckets, bit-equal to the JVM encoder
    ``operators.entity_link.hashing_trick_embed``) for the entity election
    — computed from the already-exploded token array with one np.add.at
    scatter, so it is free of any extra pass over the text."""
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
        if with_ctx:
            from i2o_transform_spark.operators.entity_link import (
                hashing_trick_embed_np,
            )

            # the dense block goes straight to the in-kernel election: it is
            # never chopped into per-row lists or serialized over Arrow
            ctx = hashing_trick_embed_np(flat, row, nrow, CTX_DIM)
            return res.reset_index(drop=True), ctx[keep.to_numpy()]
        return res.reset_index(drop=True)

    return assemble


def extract_and_assemble(
    pages: DataFrame,
    crosswalk: DataFrame,
    modifier_config: DataFrame,
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

    With ``entity_candidates`` (surface_form, entity_id, emb with CTX_DIM-
    wide embeddings, see :func:`entity_candidate_frame`) the embedding
    entity-link **election runs inside this same kernel**: the sentence
    context matrix feeds the argmax-cosine election as a dense numpy block
    and is then discarded — it never crosses Arrow and never exists as a
    Spark column.  Output carries elected ``subj_id``/``obj_id`` longs
    (rows whose subject or object surface has no candidate are dropped, the
    dictionary-join inner semantics, MSSQL/OMOPLoader.sql:763-764), so
    ``link_and_emit`` links predicates only.  The modular path elects the
    same ids with :func:`elect_entities` — equivalence pytest-pinned.
    """
    vocab = _collect_assembly_vocab(crosswalk, modifier_config)
    bc = pages.sparkSession.sparkContext.broadcast(vocab)

    import numpy as np

    elect = entity_candidates is not None
    out_schema = _assembled_schema(vocab[4])
    if elect:
        from i2o_transform_spark.operators.entity_link import (
            _collect_candidate_table,
            elect_entity_ids_np,
        )

        cand_table = _collect_candidate_table(
            entity_candidates, "surface_form", "entity_id", "emb"
        )
        widths = {mat.shape[1] for _, mat in cand_table.values()}
        if widths - {CTX_DIM}:
            raise ValueError(
                f"candidate embeddings must be CTX_DIM={CTX_DIM} wide "
                f"(the sentence context width), got widths {sorted(widths)}"
            )
        bc_cand = pages.sparkSession.sparkContext.broadcast(cand_table)
        out_schema = StructType(
            list(out_schema)
            + [StructField("subj_id", LongType()), StructField("obj_id", LongType())]
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kernel = _make_assembler(*bc.value, with_ctx=elect)
        cand = bc_cand.value if elect else None
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
            if elect:
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
    representative.  Vocabulary-sized — the broadcast candidate table of
    the entity election on either assembly path
    (:func:`extract_and_assemble` ``entity_candidates=``,
    :func:`elect_entities`)."""
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


def elect_entities(
    assembled: DataFrame,
    sentences: DataFrame,
    entity_candidates: DataFrame,
) -> DataFrame:
    """The entity election on the modular path — the twin of
    :func:`extract_and_assemble` with ``entity_candidates=``.

    Joins the assembled rows to their sentences' tokens on (url, sent_idx),
    so the context embedding (JVM ``hashing_trick_embed``, bit-equal to the
    fused kernel's numpy scatter) is computed for assembled sentences only,
    then elects ``subj_id``/``obj_id`` in one Arrow pass
    (operators.entity_link.embedding_disambiguate_dual_pandas, same argmax /
    lowest-id election and inner-join drop as the fused kernel)."""
    from i2o_transform_spark.operators.entity_link import (
        embedding_disambiguate_dual_pandas,
        hashing_trick_embed,
    )

    with_ctx = assembled.join(
        sentences.select("url", "sent_idx", "tokens"), ["url", "sent_idx"]
    ).select(
        *assembled.columns,
        hashing_trick_embed(F.col("tokens"), CTX_DIM).alias("ctx"),
    )
    return embedding_disambiguate_dual_pandas(
        with_ctx, entity_candidates, surface_col="surface_form"
    )


def link_and_emit(
    assembled: DataFrame,
    crosswalk: DataFrame,
    canon_map: DataFrame,
) -> DataFrame:
    """Entity/predicate linking + canonical-id application + dedup + ids.

    Each surface joins the broadcast crosswalk (1->many fan-out preserved,
    MSSQL/OMOPLoader.sql:763-764), then the CC merge map.  When the
    assembled rows already carry elected ``subj_id``/``obj_id`` (the entity
    election ran where the sentence was assembled:
    :func:`extract_and_assemble` ``entity_candidates=`` or
    :func:`elect_entities`), only predicates are linked — a predicate
    synonym genuinely means several canonical relations, so they keep the
    fan-out.  Triple ids are content-derived (SURVEY §1.3) — deterministic
    across retries/cluster sizes.  Dedup: one row per (subj, pred, obj,
    url) — the reference's per-insert DISTINCT (A5)."""
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
        linked = assembled.join(pred_cw, "pred_surface")
    else:
        ent_cw = cw.where(F.col("canon_domain") != "Predicate").select(
            "surface_form", "canon_id"
        ).distinct()
        linked = (
            assembled.join(
                F.broadcast(ent_cw.toDF("subj_surface", "subj_id")), "subj_surface"
            )
            .join(pred_cw, "pred_surface")
            .join(F.broadcast(ent_cw.toDF("obj_surface", "obj_id")), "obj_surface")
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
