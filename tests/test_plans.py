"""Physical-plan regression tests — the scale claims as hard signals.

PLANS.md documents the plans we want; these tests pin them.  A future edit
that silently drops a pushed filter, turns a broadcast join into a
sort-merge, or introduces a cartesian product in a scale path fails CI here,
not at 100 TB.

Plans are obtained from ``df.explain("formatted")`` (analysis only — nothing
executes except the handful of bounded driver-side collects some builders
perform, e.g. IVF centroid training on <=4096 rows).
"""

from __future__ import annotations

import contextlib
import io
import re

from i2o_transform_spark.queries import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def shuffle_count(plan: str) -> int:
    # \bExchange\b matches shuffle Exchange nodes only ('BroadcastExchange'
    # has a word char before the E); the (N) headline lines double-count, so
    # count tree nodes
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def test_q1_scan_agg_plan(spark):
    """Scan-heavy agg: filter pushed to parquet, columns pruned, exactly one
    shuffle, all compute inside whole-stage codegen."""
    plan = plan_of(QUERIES["q1_pricing_summary"](spark, SF_DIR))
    assert "PushedFilters: [" in plan and "PushedFilters: []" not in plan
    # column pruning: the 16-col lineitem scan must read only what q1 uses
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "l_comment" not in m.group(1) and "l_orderkey" not in m.group(1)
    assert shuffle_count(plan) == 1
    # map-side combine: partial aggregation below the exchange
    assert "partial_sum" in plan


def test_q1_executes_in_whole_stage_codegen(spark):
    """After execution (AQE finalizes the plan), the scan->filter->partial-agg
    pipeline must sit inside WholeStageCodegen spans — the JVM-side fast
    path, no interpreted row iterators."""
    df = QUERIES["q1_pricing_summary"](spark, SF_DIR)
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    # '*(N)' prefixes mark whole-stage-codegen membership in plan toString;
    # the scan-side pipeline (filter + partial agg) must be inside one
    assert "*(1) HashAggregate" in executed and "*(1) Filter" in executed


def test_j1_dictionary_join_is_broadcast(spark):
    """The dictionary join must broadcast the vocab side: no shuffle of the
    fact table for the join, no sort-merge fallback."""
    plan = plan_of(QUERIES["j1_dict_broadcast_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_p1_path_prefix_pushdown(spark):
    """The path-prefix predicate (reference's ontology c_fullname LIKE
    'prefix%') must reach the parquet reader as a StartsWith filter."""
    plan = plan_of(QUERIES["p1_path_prefix"](spark, SF_DIR))
    assert "StringStartsWith" in plan or "StartsWith" in plan


def _kg_disambiguating_triples(spark):
    """The pages->triples pipeline with the entity election in the fused
    assembly kernel (planted-ambiguity datagen)."""
    from pyspark.sql import functions as F

    from i2o_transform_spark.datagen import generate
    from i2o_transform_spark.plans import kg

    d = generate(spark, 1000, with_ambiguity=True)
    cw = kg.compile_crosswalk(d["surface_vocab"], d["concept"], d["concept_rel"])
    cm = kg.canonicalize_concepts(cw)
    asm = kg.extract_and_assemble(
        d["pages"].where(F.col("lang") == "en"), cw, d["modifier_config"],
        entity_candidates=kg.entity_candidate_frame(
            cw, cm, d["entity_embeddings"]
        ),
    )
    return kg.link_and_emit(asm, cw, cm)


def test_kg_pipeline_single_shuffle(spark):
    """The flagship pages->triples pipeline, plain and with the in-kernel
    entity election: ONE fused MapInPandas stage, at most one shuffle on
    the data path (the triple-dedup HashAggregate), no sort-based
    aggregation, no cartesian product."""
    for df in (
        QUERIES["kg_pipeline_triples"](spark, SF_DIR),
        _kg_disambiguating_triples(spark),
    ):
        plan = plan_of(df)
        # data-path spine = everything before the broadcast build sides
        spine = plan.split("BroadcastExchange")[0]
        # one fused Arrow stage: exactly one MapInPandas NODE (each node
        # prints twice in formatted mode — tree line + '(N) Node' header)
        assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
        assert shuffle_count(spine) <= 1
        assert "HashAggregate" in plan
        assert "SortAggregate" not in spine
        assert "CartesianProduct" not in plan


def test_interval_merge_single_shuffle(spark):
    """Era merge (gaps-and-islands): the running-max and the island number
    share one (entity, concept) exchange — no range join, no second sort
    partitioning."""
    plan = plan_of(QUERIES["w1_interval_merge"](spark, SF_DIR))
    assert shuffle_count(plan) <= 2  # window exchange + final agg
    assert "CartesianProduct" not in plan


def test_stratified_sample_is_map_only(spark):
    """Deterministic sampling must be a pure map-side filter: zero
    exchanges, and the lang/doc_id columns it needs are the only ones
    scanned."""
    plan = plan_of(QUERIES["ta_stratified_sample"](spark, SF_DIR))
    assert shuffle_count(plan) == 0
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and "text" not in m.group(1)  # the wide column stays unread


def test_top_tokens_uses_partial_topk(spark):
    """The vocabulary top-k must plan as TakeOrderedAndProject (per-partition
    partial top-k merged at the driver), never a global sort of all distinct
    tokens."""
    plan = plan_of(QUERIES["ta_top_tokens"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_no_cartesian_in_scale_paths(spark):
    """Sweep: no scale-path query may contain a cartesian product or an
    un-broadcast nested-loop join.  Whitelist = operators DOCUMENTED as
    bounded-side cross joins (exact brute-force baseline, broadcast-grid
    codegen, scalar-aggregate companions)."""
    whitelisted = {
        "ann_cosine_topk",  # exact baseline: crossJoin vs broadcast query set
        "ann_lsh_recall_check",  # exact recompute + 1x1 scalar crossJoin
        "ann_ivf_recall_check",
        "dd_minhash_recall_check",
        "dd_simhash_recall_check",
        "dd_embedding_cosine",  # blocked; companion scalar crossJoin
        "j10_cross_join",  # the reference's codegen grid — bounded dims
        "a4_decorrelated_scalar",  # scalar subquery -> 1-row broadcast
        "kg_pipeline_pr_check",  # P/R companion: scalar crossJoins
        "u3_branch_routing",  # demographics grid codegen — bounded
    }
    offenders = []
    for name, fn in QUERIES.items():
        if name in whitelisted:
            continue
        try:
            plan = plan_of(fn(spark, SF_DIR))
        except Exception as e:  # noqa: BLE001 — a builder needing sf0.01 fixtures
            offenders.append((name, f"explain failed: {e}"))
            continue
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
    assert not offenders, offenders


def test_catalog_sink_raises_clean_error_without_iceberg(spark):
    """write_table_catalog must fail with actionable guidance (not a raw
    AnalysisException) when no Iceberg catalog is configured — the sandbox
    has no Iceberg runtime, so only the error contract is testable here."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from i2o_transform_spark.sources.tables import write_table_catalog

    df = spark.range(3).withColumn("p", F.lit("a"))
    with _pytest.raises(RuntimeError, match="catalog sink unavailable"):
        write_table_catalog(df, "no_such_catalog.db.t", partition_by=["p"])


def test_contamination_eval_side_is_broadcast(spark):
    """dd_contamination: the eval split's shingles must build-side broadcast
    (the training side streams map-side through the join)."""
    plan = plan_of(QUERIES["dd_contamination"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_repetition_is_map_only(spark):
    """ta_repetition computes the in-doc score with higher-order functions —
    zero exchanges."""
    plan = plan_of(QUERIES["ta_repetition"](spark, SF_DIR))
    assert shuffle_count(plan) == 0


def test_negative_samples_entity_table_broadcast(spark):
    """kg_negative_samples: the entity table joins back broadcast; the k
    fan-out must not introduce a cartesian."""
    plan = plan_of(QUERIES["kg_negative_samples"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cooccur_pmi_no_selfjoin_on_docs(spark):
    """kg_cooccur_pmi builds pairs from per-doc arrays: the only
    SortMergeJoin-able key would be doc_id — assert the pair generation is
    the explode (no doc-side self-join) and unary counts broadcast back."""
    plan = plan_of(QUERIES["kg_cooccur_pmi"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_aqe_splits_skewed_join(spark):
    """The AQE-skew-join backstop claimed in operators/joins.py must
    actually fire: a 90%-hot-key sort-merge join executed with lowered skew
    thresholds shows skew=true in the final adaptive plan."""
    from pyspark.sql import functions as F

    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.coalescePartitions.enabled",
    ]
    old = {k: spark.conf.get(k, None) for k in keys}
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
    )
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        big = spark.range(0, 100000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id")).alias("k"),
            F.lpad(F.col("id").cast("string"), 64, "x").alias("pad"),
        )
        dim = spark.range(0, 100000).select(
            F.col("id").alias("k"), F.lit("d").alias("v")
        )
        joined = big.join(dim, "k")
        # collect() executes THIS DataFrame's QueryExecution (count() builds
        # a separate one whose adaptive plan we couldn't inspect)
        assert len(joined.collect()) == 100000
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bucketed_materialization_prunes_point_lookup(spark, tmp_path):
    """north_rule materialization: the bucket-partitioned triple/edge table
    must prune a subject point-lookup at planning time — PartitionFilters
    in the scan and ~1/n of the files actually read."""
    from pyspark.sql import functions as F

    from i2o_transform_spark.sources.tables import bucket_of, bucketed_write

    edges = spark.range(0, 20000).select(
        F.concat(F.lit("e"), (F.col("id") % 500).cast("string")).alias("subj"),
        F.col("id").alias("payload"),
    )
    path = bucketed_write(edges, str(tmp_path), "edges", "subj", n_buckets=16)

    rd = spark.read.parquet(path)
    probe = rd.where(
        (F.col("_bucket") == bucket_of("e7", 16)) & (F.col("subj") == "e7")
    )
    # planning-time pruning: the scan's PartitionFilters carries the
    # CONSTANT-FOLDED bucket id (xxhash64 of the literal key), so only that
    # partition directory is listed/read — the parquet twin of Iceberg's
    # bucket(n, key) transform
    expected_bucket = spark.range(1).select(
        bucket_of("e7", 16).alias("b")
    ).collect()[0]["b"]
    scan_line = next(
        ln
        for ln in probe._jdf.queryExecution().executedPlan().toString().splitlines()
        if "PartitionFilters" in ln
    )
    pf = scan_line.split("PartitionFilters: [")[1].split("]")[0]
    assert f"= {expected_bucket})" in pf, pf
    # the subject predicate additionally reaches the parquet reader
    assert "EqualTo(subj,e7)" in scan_line
    # and the data layout is genuinely bucket-partitioned on disk
    import os as _os

    bucket_dirs = [d for d in _os.listdir(path) if d.startswith("_bucket=")]
    assert len(bucket_dirs) == 16
    assert probe.count() == 40  # 20000 / 500 occurrences of e7


def test_catalog_source_raises_clean_error_without_iceberg(spark):
    """load_table_catalog mirrors the sink twin's error contract when no
    Iceberg catalog is configured (the sandbox has no Iceberg runtime)."""
    import pytest as _pytest

    from i2o_transform_spark.sources.tables import load_table_catalog

    with _pytest.raises(RuntimeError, match="catalog source unavailable"):
        load_table_catalog(spark, "no_such_catalog.db.pages")


def test_doc_chunking_is_map_only(spark):
    """Chunking must be pure narrow fan-out: tokenize -> sequence ->
    explode -> slice, zero exchanges."""
    plan = plan_of(QUERIES["ta_doc_chunking"](spark, SF_DIR))
    assert shuffle_count(plan) == 0


def test_nb_classifier_inference_is_broadcast(spark):
    """The learned weight table is vocab-sized: the inference join must be
    a BroadcastHashJoin (the corpus side never reshuffles on token for
    scoring)."""
    plan = plan_of(QUERIES["ta_nb_classifier"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_tfidf_query_side_is_broadcast(spark):
    """The fixed query set must broadcast into the posting-list join —
    never a shuffled join keyed on the full corpus postings."""
    plan = plan_of(QUERIES["ta_tfidf_topk"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_q3_plan_broadcast_and_partial_topk(spark):
    """Q3 shape: the segment dim must broadcast, both date filters must
    reach the parquet scans, and the top-10 must be TakeOrderedAndProject
    (partial per-partition top-k), never a global Sort."""
    plan = plan_of(QUERIES["q3_shipping_priority"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("o_orderdate" in p for p in pushed), pushed
    assert any("l_shipdate" in p for p in pushed), pushed


def test_runtime_bloom_filter_semi_join_reduction(spark):
    """Scale feature pin: with runtime bloom-filter injection enabled (the
    100 TB conf for shuffled fact⋈filtered-dim joins that cannot
    broadcast), Catalyst inserts a bloom_filter_agg on the build side and
    a might_contain probe on the fact side — a semi-join reduction that
    prunes fact rows BEFORE the exchange.  Pins the exact conf recipe the
    README/cluster docs prescribe."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        small = spark.read.parquet(f"{SF_DIR}/part.parquet").where(
            F.col("p_partkey") % 50 == 0
        )
        j = (
            big.join(small, big.l_partkey == small.p_partkey)
            .groupBy("p_brand")
            .count()
        )
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain(True)
        txt = buf.getvalue()
        assert "bloom_filter_agg" in txt, "no bloom filter injected"
        assert "might_contain" in txt, "no probe on the application side"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_grouped_topk_uses_window_group_limit(spark):
    """Per-group top-k must trigger Spark's WindowGroupLimit pushdown (a
    k-row heap per group inside each task) — never a full per-group sort
    materialization."""
    plan = plan_of(QUERIES["o6_grouped_topk"](spark, SF_DIR))
    assert "WindowGroupLimit" in plan, plan[:800]
    assert shuffle_count(plan) == 1


def test_quad_store_constant_graph_prunes_partitions(spark, tmp_path):
    """Named-graph quad store: graph is the lake's partition column, so a
    constant GRAPH term in a quad pattern (operators/bgp 4-term template)
    prunes whole graphs at planning time — PartitionFilters on the scan,
    only the one graph directory read."""
    import os

    from pyspark.sql import functions as F

    from i2o_transform_spark.operators.bgp import bgp_match

    quads = spark.range(0, 3000).select(
        F.concat(F.lit("s"), (F.col("id") % 100).cast("string"))
        .alias("subj"),
        F.lit("knows").alias("pred"),
        F.concat(F.lit("o"), F.col("id").cast("string")).alias("obj"),
        F.concat(F.lit("g"), (F.col("id") % 3).cast("string"))
        .alias("graph"),
    )
    path = str(tmp_path / "quads")
    quads.write.partitionBy("graph").parquet(path)
    assert len([d for d in os.listdir(path) if d.startswith("graph=")]) == 3

    store = spark.read.parquet(path)
    out = bgp_match(store, [("?s", "knows", "?o", "g1")])
    scan_line = next(
        ln
        for ln in out._jdf.queryExecution().executedPlan()
        .toString().splitlines()
        if "PartitionFilters" in ln
    )
    pf = scan_line.split("PartitionFilters: [")[1].split("]")[0]
    assert "g1" in pf, pf  # planning-time graph pruning
    assert out.count() == 1000


def test_web_table_walk_is_jvm_only(spark):
    """The html -> cells walk must never cross into Python: no
    BatchEvalPython / ArrowEvalPython / mapInPandas nodes anywhere in
    the wt_* trees (the walker's whole point is codegen'd regex)."""
    for name in ("wt_extract_tables", "wt_to_triples", "wt_stitch",
                 "wt_type_infer", "wt_infer_headers"):
        plan = plan_of(QUERIES[name](spark, SF_DIR))
        assert "EvalPython" not in plan and "InPandas" not in plan, name


def test_rdfstar_chain_is_jvm_only_no_cartesian(spark):
    """Serialize -> parse -> bridge -> inverse bridge: pure JVM
    expressions and hash joins; the only exchanges carry pre-deduped
    frames (see sources/ntriples_star docstring)."""
    plan = plan_of(QUERIES["nt_star_roundtrip"](spark, SF_DIR))
    assert "EvalPython" not in plan and "InPandas" not in plan
    assert "CartesianProduct" not in plan


def test_bgp_maintain_delta_legs_broadcast(spark):
    """View maintenance must probe the store FROM the delta side: the
    tree carries broadcast hash joins (delta legs are bucket-filtered
    slivers of the edge scan) and the view update is a LeftAnti on the
    view's own key — never a store self-join."""
    plan = plan_of(QUERIES["kg_bgp_maintain"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_partition_plan_is_aggregation_only(spark):
    """The layout report is hash aggregations + one equi-join (degree
    profile): no window functions, no Python, and the only nested-loop
    joins are the 1-row stat-frame broadcasts."""
    plan = plan_of(QUERIES["kg_partition_plan"](spark, SF_DIR))
    assert "Window" not in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan
