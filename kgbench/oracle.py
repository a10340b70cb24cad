"""Correctness oracles for a committed build.

* Triples at (subj, pred, obj, url) grain, derived from the generator's own
  sampling choices (``pages_internal._choices``) and its vocabulary spec —
  never from the extraction code path.  The repository's own golden is
  distinct (subj, pred, obj), which saturates at a few thousand triples
  whatever the page count, so a dropped page would pass it; this one does
  not.
* Exact yields: the byte-identity validation stage reports no mismatch,
  and the web stages emit the per-page row counts that
  ``datagen.enrich_pages_web`` documents.
"""

from __future__ import annotations

import os

import pyarrow.dataset as ds
import pyarrow.parquet as pq

SD_TRIPLES_PER_PAGE = 9      # ld+json 3+@type, microdata 2+type, rdfa 1+type
TABLE_PAIRS_PER_PAGE = 15    # 5 rows x (sku, price, qty)
KEYS = ["subj_id", "pred_id", "obj_id", "url"]


def stage_rows(ckpt: str, stage: str) -> int:
    """Rows of a committed stage, from its parquet footers."""
    return ds.dataset(
        os.path.join(ckpt, stage), format="parquet", partitioning="hive"
    ).count_rows()


def golden_triples(spark, n_pages: int, seed: int, with_ambiguity: bool):
    """Expected (subj_id, pred_id, obj_id, url) rows: every English sentence's
    chosen subject/predicate/object surfaces mapped through the spec's
    canonical ids (1->many surfaces fan out; unlinkable ones drop; a planted
    ambiguous subject resolves to its cue's entity)."""
    from pyspark.sql import functions as F

    from i2o_transform_spark.datagen import AMB_BASE, generate

    d = generate(spark, n_pages, seed, with_ambiguity=with_ambiguity)
    spec = d["spec"]
    ent = spark.createDataFrame(
        [(i, c) for i, (_, cids) in enumerate(spec.entity_surfaces) for c in cids],
        "idx int, canon long",
    )
    pred = spark.createDataFrame(
        [(i, c) for i, (_, cids) in enumerate(spec.pred_surfaces) for c in cids],
        "idx int, pred_id long",
    )
    chosen = (
        d["pages_internal"]
        .where(F.col("lang") == "en")
        .select("url", F.explode("_choices").alias("c"))
        .select("url", "c.subj_i", "c.pred_i", "c.obj_i", "c.amb_cue")
    )
    subj = F.broadcast(ent.withColumnRenamed("idx", "subj_i")
                       .withColumnRenamed("canon", "_subj"))
    obj = F.broadcast(ent.withColumnRenamed("idx", "obj_i")
                      .withColumnRenamed("canon", "obj_id"))
    return (
        chosen.join(subj, "subj_i", "left")
        .withColumn(
            "subj_id",
            F.when(F.col("amb_cue") >= 0, F.lit(AMB_BASE) + F.col("amb_cue"))
            .otherwise(F.col("_subj")),
        )
        .where(F.col("subj_id").isNotNull())
        .join(F.broadcast(pred.withColumnRenamed("idx", "pred_i")), "pred_i")
        .join(obj, "obj_i")
        .select(*KEYS)
        .distinct()
    )


def triple_precision_recall(spark, ckpt: str, golden) -> tuple[float, float]:
    """Precision and recall of the committed ``triples`` stage against
    ``golden`` at (subj, pred, obj, url) grain."""
    from pyspark.sql import functions as F

    got = spark.read.parquet(os.path.join(ckpt, "triples")).select(
        *[F.col(k).cast("long" if k != "url" else "string") for k in KEYS]
    ).distinct()
    row = (
        got.withColumn("_g", F.lit(1))
        .join(golden.withColumn("_e", F.lit(1)), KEYS, "full_outer")
        .agg(
            F.count("_g").alias("n_got"),
            F.count("_e").alias("n_exp"),
            F.count(F.when(F.col("_g").isNotNull() & F.col("_e").isNotNull(), 1))
            .alias("tp"),
        )
        .collect()[0]
    )
    precision = row["tp"] / row["n_got"] if row["n_got"] else 0.0
    recall = row["tp"] / row["n_exp"] if row["n_exp"] else 0.0
    return precision, recall


def yield_failures(ckpt: str, n_pages: int, web_extras: bool) -> list[str]:
    """Exact yield checks; returns one message per failed check."""
    failures = []
    report = pq.read_table(os.path.join(ckpt, "extraction_validation")).to_pylist()
    if len(report) != 1 or report[0]["n_mismatched"] != 0:
        failures.append(f"extraction_validation: {report}")
    if web_extras:
        for stage, per_page in (
            ("sd_triples", SD_TRIPLES_PER_PAGE),
            ("web_table_pairs", TABLE_PAIRS_PER_PAGE),
        ):
            rows = stage_rows(ckpt, stage)
            if rows != per_page * n_pages:
                failures.append(f"{stage}: {rows} rows, want {per_page * n_pages}")
    return failures
