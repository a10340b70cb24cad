"""End-to-end KG pipeline tests: the P/R >= 0.95 gate, the byte-identical
extraction invariant, checkpoint/resume, lineage/metrics, and broadcast-vs-
salted join path equivalence (BASELINE.md §2), and the runner's concurrent
stage scheduling."""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import threading
import time

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from i2o_transform_spark.datagen import generate
from i2o_transform_spark.plans import kg
from i2o_transform_spark.plans.runner import Runner, run_pipeline

N_PAGES = 400


@contextlib.contextmanager
def _stage_spans():
    """Wrap ``Runner.stage`` and record, per stage, its upstream list and
    its (start, end) times."""
    spans: dict[str, tuple[list[str], float, float]] = {}
    orig = Runner.stage

    def stage(runner, name, fn, upstream=(), **kw):
        t0 = time.perf_counter()
        try:
            return orig(runner, name, fn, upstream, **kw)
        finally:
            spans[name] = (list(upstream), t0, time.perf_counter())

    Runner.stage = stage
    try:
        yield spans
    finally:
        Runner.stage = orig


def _assert_upstream_ended_first(spans):
    for name, (upstream, start, _) in spans.items():
        for u in upstream:
            assert spans[u][2] <= start, f"{name} started before {u} ended"


@pytest.fixture(scope="module")
def data(spark):
    return generate(spark, N_PAGES)


@pytest.fixture(scope="module")
def pipeline_out(spark, data, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kg_run"))
    with _stage_spans() as spans:
        outs = run_pipeline(spark, out, n_pages=N_PAGES)
    outs["_spans"] = spans
    return outs, out


def _emitted(outs):
    return outs["triples"].select("subj_id", "pred_id", "obj_id").distinct()


def test_extraction_byte_identical(spark, data):
    """input_hint per-row invariant: extracted text == pages.text, byte for
    byte (sha2 equality), every row."""
    rep = kg.validation_report(data["pages"], kg.extract_text(data["pages"])).collect()[0]
    assert rep.n_pages == N_PAGES
    assert rep.n_matching == N_PAGES
    assert rep.n_mismatched == 0


def test_triple_precision_recall_gate(spark, data, pipeline_out):
    """BASELINE.md: triple P/R >= 0.95 vs construction goldens."""
    outs, _ = pipeline_out
    emitted = _emitted(outs)
    golden = data["golden_triples"]
    tp = emitted.join(golden, ["subj_id", "pred_id", "obj_id"]).count()
    n_e, n_g = emitted.count(), golden.count()
    precision = tp / n_e
    recall = tp / n_g
    assert precision >= 0.95, f"precision {precision:.4f} < 0.95"
    assert recall >= 0.95, f"recall {recall:.4f} < 0.95"


def test_canonicalization_merges_aliases(spark, data):
    """Alias concepts (2000+k) must merge into canonical (1000+k)."""
    cw = kg.compile_crosswalk(data["surface_vocab"], data["concept"], data["concept_rel"])
    cm = kg.canonicalize_concepts(cw)
    merged = {r.concept_id: r.canon_id for r in cm.collect()}
    for k in range(5):
        assert merged[2000 + k] == 1000 + k
    # non-alias concepts stay identity
    assert merged[1007] == 1007


def test_crosswalk_semantics(spark, data):
    """1->many fan-out survives; invalid concepts dropped; self-mapping
    fallback present (MSSQL/OMOPLoader.sql:763-764, 834-844)."""
    cw = kg.compile_crosswalk(data["surface_vocab"], data["concept"], data["concept_rel"])
    rows = cw.collect()
    by_surface = {}
    for r in rows:
        by_surface.setdefault(r.surface_form, set()).add(r.concept_id)
    assert by_surface["spun off"] == {5006, 5007}          # 1->many
    assert "vandelay industries" not in by_surface          # invalid dropped
    assert by_surface["acme corp"] == {1000}                # self-mapping
    assert by_surface["acme co"] == {1000}                  # two-hop Maps-to


def test_qualifier_assembly(spark, data, pipeline_out):
    """Sentences with 'in YYYY' must carry the year on their triple."""
    outs, _ = pipeline_out
    t = outs["triples"]
    with_year = t.where(F.col("qualifier_year").isNotNull())
    n = with_year.count()
    assert n > 0
    years = with_year.select(F.min("qualifier_year"), F.max("qualifier_year")).collect()[0]
    assert 1990 <= years[0] and years[1] <= 2019
    with_amount = t.where(F.col("qualifier_amount").isNotNull())
    assert with_amount.count() > 0
    amounts = with_amount.select(
        F.min("qualifier_amount"), F.max("qualifier_amount")
    ).collect()[0]
    assert 100 <= amounts[0] and amounts[1] <= 999


def test_resume_after_kill(spark, tmp_path):
    """Kill after the mentions stage; a fresh runner must skip completed
    stages and produce identical triples."""
    out = str(tmp_path / "kg_resume")
    partial = run_pipeline(
        spark, out, n_pages=100, fused=False, stop_after="mentions"
    )
    assert "triples" not in partial  # the run really was cut short
    # fresh full run over the same dir = resume
    outs2 = run_pipeline(spark, out, n_pages=100, fused=False)
    r = outs2["_runner"]
    assert "mentions" in r.skipped and "crosswalk" in r.skipped
    assert "assembled" in r.executed and "triples" in r.executed
    # and equals a clean-run result
    out_clean = str(tmp_path / "kg_clean")
    outs_clean = run_pipeline(spark, out_clean, n_pages=100)
    a = _emitted(outs2)
    b = _emitted(outs_clean)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_lineage_and_metrics_persisted(spark, pipeline_out):
    outs, out_dir = pipeline_out
    lineage = spark.read.parquet(os.path.join(out_dir, "_lineage"))
    metrics = spark.read.parquet(os.path.join(out_dir, "_metrics"))
    stages = {r.stage for r in metrics.collect()}
    assert {"pages", "crosswalk", "assembled", "triples"} <= stages
    # per-partition lineage rows sum to stage totals
    lsum = {
        r.stage: r.total
        for r in lineage.groupBy("stage").agg(F.sum("rows").alias("total")).collect()
    }
    msum = {r.stage: r.rows for r in metrics.collect()}
    for stage, total in msum.items():
        assert lsum.get(stage) == total, f"lineage mismatch for {stage}"


def test_extraction_validation_stage_green(spark, pipeline_out):
    outs, out_dir = pipeline_out
    rep = spark.read.parquet(os.path.join(out_dir, "extraction_validation")).collect()[0]
    assert rep.n_mismatched == 0


def test_manifest_written(spark, pipeline_out):
    _, out_dir = pipeline_out
    with open(os.path.join(out_dir, "_manifest.json")) as f:
        manifest = json.load(f)
    assert manifest["triples"]["rows"] > 0
    assert all("fingerprint" in v for v in manifest.values())


def test_stages_scheduled_concurrently_in_dependency_order(pipeline_out):
    """Every stage starts after all of its upstream stages have ended, and
    independent branches overlap: ``extracted`` (reads only ``pages``)
    starts before ``canon_map`` (behind ``crosswalk``) has ended."""
    outs, _ = pipeline_out
    spans = outs["_spans"]
    assert set(spans) == set(outs["_runner"].executed)
    _assert_upstream_ended_first(spans)
    assert spans["extracted"][1] < spans["canon_map"][2]


def test_rerun_executes_nothing(spark, pipeline_out):
    """A second run over the same directory resumes every stage, and the
    manifest that concurrent stages rewrote still parses."""
    _, out_dir = pipeline_out
    r = run_pipeline(spark, out_dir, n_pages=N_PAGES)["_runner"]
    assert r.executed == [] and "triples" in r.skipped
    with open(os.path.join(out_dir, "_manifest.json")) as f:
        manifest = json.load(f)
    assert set(manifest) == set(r.skipped)
    assert not os.path.exists(os.path.join(out_dir, "_manifest.json.tmp"))


def test_concurrent_stages_lose_no_update(spark, tmp_path):
    """Twelve independent stages commit at once, with frequent thread
    switches, into the shared manifest, lineage and metrics; a fan-in
    stage then receives every one of their outputs."""
    names = [f"s{i}" for i in range(12)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with Runner(spark, str(tmp_path)) as r:
            for i, name in enumerate(names):
                r.submit(name, lambda i=i: spark.range(i, i + 1))
            r.submit(
                "all", lambda *dfs: functools.reduce(DataFrame.union, dfs),
                upstream=names,
            )
            r.join()
            r.finish()
    finally:
        sys.setswitchinterval(switch)
    assert sorted(r.executed) == sorted(names + ["all"])
    assert sorted(x.id for x in r.outputs["all"].collect()) == list(range(12))
    with open(os.path.join(str(tmp_path), "_manifest.json")) as f:
        assert set(json.load(f)) == set(r.executed)
    metrics = spark.read.parquet(os.path.join(str(tmp_path), "_metrics"))
    assert sorted(x.stage for x in metrics.collect()) == sorted(r.executed)
    lineage = spark.read.parquet(os.path.join(str(tmp_path), "_lineage"))
    assert lineage.agg(F.sum("rows")).first()[0] == 24


def test_failed_stage_fails_its_dependents(spark, tmp_path):
    """A stage that raises marks every stage behind it failed without
    running it; ``join`` re-raises the failure once every thread ended."""

    def boom():
        raise ValueError("boom")

    with Runner(spark, str(tmp_path)) as r:
        r.submit("a", boom)
        r.submit("b", lambda a: a, upstream=["a"])
        with pytest.raises(ValueError, match="boom"):
            r.join()
        with pytest.raises(ValueError, match="boom"):
            r.wait("b")
        with pytest.raises(ValueError, match="undeclared upstream"):
            r.submit("c", lambda x: x, upstream=["x"])
    assert r.outputs == {} and r.executed == []
    assert not any(t.name.startswith("stage:") for t in threading.enumerate())


def test_salted_path_equals_broadcast_path(spark, data):
    """detect_mentions(broadcast) == detect_mentions(salted) — the skew path
    must be semantics-preserving (north_star salted-key hash join)."""
    cw = kg.compile_crosswalk(data["surface_vocab"], data["concept"], data["concept_rel"])
    sents = kg.split_sentences(
        kg.extract_text(data["pages"]).where(F.col("lang") == "en")
    ).limit(2000)
    a = kg.detect_mentions(sents, cw, broadcast_vocab=True)
    b = kg.detect_mentions(sents, cw, broadcast_vocab=False)
    cols = ["url", "sent_idx", "start", "len", "surface", "kind"]
    assert a.select(cols).exceptAll(b.select(cols)).count() == 0
    assert b.select(cols).exceptAll(a.select(cols)).count() == 0


def test_auto_skew_planning(spark, data):
    """VERDICT r02 #7: the pipeline derives the salted-join layout from
    observed statistics.  On the planted HOT_SUBJ_PCT=30% hot-surface corpus
    plan_salt_buckets sizes buckets ~ ceil(hot_share x parallelism) > 1; on
    a uniform-key frame it returns 1 (no salting); detect_mentions with
    broadcast_vocab='auto', salt_buckets=None emits identical mentions to
    the explicit broadcast path; skew_aware_join picks broadcast for a
    small dim and the salted path for a large skewed one, same rows."""
    from i2o_transform_spark.operators.joins import (
        plan_salt_buckets,
        skew_aware_join,
    )

    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # uniform keys -> no salting
    uni = spark.range(0, 20000).select((F.col("id") % 1000).alias("k"))
    assert plan_salt_buckets(uni, "k") == 1
    # planted skew: ~30% of rows share one key
    skewed = spark.range(0, 20000).select(
        F.when(F.col("id") % 100 < 30, F.lit(0))
        .otherwise(F.col("id"))
        .alias("k")
    )
    b = plan_salt_buckets(skewed, "k")
    assert b > 1 and abs(b - 0.3 * par) <= max(2, 0.2 * par), (b, par)

    # the pipeline auto-selects: vocab fits -> broadcast; forced salted path
    # with salt_buckets=None derives buckets from the hot-surface stream
    cw = kg.compile_crosswalk(
        data["surface_vocab"], data["concept"], data["concept_rel"]
    )
    sents = kg.split_sentences(
        kg.extract_text(data["pages"]).where(F.col("lang") == "en")
    ).limit(2000).persist()
    cols = ["url", "sent_idx", "start", "len", "surface", "kind"]
    auto = kg.detect_mentions(sents, cw, broadcast_vocab="auto")
    explicit = kg.detect_mentions(sents, cw, broadcast_vocab=True)
    assert auto.select(cols).exceptAll(explicit.select(cols)).count() == 0
    assert explicit.select(cols).exceptAll(auto.select(cols)).count() == 0
    salted_auto = kg.detect_mentions(
        sents, cw, broadcast_vocab=False, salt_buckets=None
    )
    assert salted_auto.select(cols).exceptAll(explicit.select(cols)).count() == 0
    assert explicit.select(cols).exceptAll(salted_auto.select(cols)).count() == 0
    sents.unpersist()

    # strategy selection: small dim -> broadcast join; big skewed dim ->
    # salted; rows identical either way
    dim_small = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") * 7).alias("v")
    )
    j1 = skew_aware_join(skewed, dim_small, "k")
    j2 = skew_aware_join(
        skewed, dim_small, "k", broadcast_threshold_rows=10
    )
    assert "BroadcastHashJoin" in j1._jdf.queryExecution().executedPlan().toString()
    assert j1.exceptAll(j2).count() == 0 and j2.exceptAll(j1).count() == 0


def test_fused_equals_modular_assembly(spark, data):
    """assemble_sentences (fused zero-shuffle path) must emit exactly the
    modular detect_mentions -> extract_qualifiers -> assemble_triples rows."""
    cw = kg.compile_crosswalk(
        data["surface_vocab"], data["concept"], data["concept_rel"]
    )
    sents = kg.split_sentences(
        kg.extract_text(data["pages"]).where(F.col("lang") == "en")
    ).persist()
    modular = kg.assemble_triples(
        kg.detect_mentions(sents, cw),
        kg.extract_qualifiers(sents, data["modifier_config"]),
        qualifier_kinds=("year", "amount"),
    )
    fused = kg.assemble_sentences(sents, cw, data["modifier_config"])
    fused_pd = kg.assemble_sentences_pandas(sents, cw, data["modifier_config"])
    fused_one = kg.extract_and_assemble(
        data["pages"].where(F.col("lang") == "en"), cw, data["modifier_config"]
    )
    cols = [
        "url", "sent_idx", "subj_surface", "pred_surface", "obj_surface",
        "qualifier_year", "qualifier_amount",
    ]
    a = {tuple(r) for r in modular.select(cols).collect()}
    b = {tuple(r) for r in fused.select(cols).collect()}
    c = {tuple(r) for r in fused_pd.select(cols).collect()}
    d2 = {tuple(r) for r in fused_one.select(cols).collect()}
    sents.unpersist()
    assert a == b == c == d2 and len(a) > 0


def _pages_df(spark, rows):
    """(url, text) rows -> input_hint-shaped pages with <p>-wrapped html."""
    import datetime

    ts = datetime.datetime(2024, 1, 1)
    data = []
    for url, text in rows:
        esc = text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        html = f"<html><body><p>{esc}</p></body></html>".encode()
        data.append((url, ts, html, text, "en"))
    return spark.createDataFrame(
        data, "url string, warc_ts timestamp, html binary, text string, lang string"
    )


def test_fused_equals_modular_on_messy_whitespace(spark, data):
    """ADVICE r01: fused==modular must hold beyond ASCII fixtures — tabs and
    newlines after the period (consumed by ASCII \\s*), NBSP (NOT whitespace
    in the Java dialect: must survive in both engines), and leading spaces.
    pandas .str.strip() would eat the NBSP while Spark trim() keeps it; both
    paths must now agree on every row."""
    rows = [
        ("https://x.example/1",
         "acme corp acquired globex corp.\t stark corp sued hooli corp."
         "\n wonka corp owns tyrell corp in 2001. acme co bought initech corp."),
        ("https://x.example/2",
         "  umbrella corp employs tyrell corp in 1995.\t\nbank of gotham"
         " launched oscorp corp."),
        ("https://x.example/3", " \t\nacme corp founded zorg corp."),
    ]
    pages = _pages_df(spark, rows)
    cw = kg.compile_crosswalk(
        data["surface_vocab"], data["concept"], data["concept_rel"]
    )
    sents = kg.split_sentences(kg.extract_text(pages))
    modular = kg.assemble_triples(
        kg.detect_mentions(sents, cw),
        kg.extract_qualifiers(sents, data["modifier_config"]),
        qualifier_kinds=("year", "amount"),
    )
    fused_pd = kg.assemble_sentences_pandas(sents, cw, data["modifier_config"])
    fused_one = kg.extract_and_assemble(pages, cw, data["modifier_config"])
    cols = [
        "url", "sent_idx", "subj_surface", "pred_surface", "obj_surface",
        "qualifier_year", "qualifier_amount",
    ]
    a = {tuple(r) for r in modular.select(cols).collect()}
    c = {tuple(r) for r in fused_pd.select(cols).collect()}
    d2 = {tuple(r) for r in fused_one.select(cols).collect()}
    assert a == c == d2
    assert len(a) >= 4  # the tab/newline-separated sentences did assemble
    # and at least one year qualifier survived the messy whitespace
    # (cols[-2] = qualifier_year; no fixture sentence carries an amount)
    assert any(t[-2] is not None for t in a)


def test_dual_domain_vocab_rejected(spark, data):
    """ADVICE r01: a surface mapped to both Predicate and an entity domain
    makes mention routing ambiguous — every assembly path must reject it at
    plan build time."""
    cw = spark.createDataFrame(
        [("acme corp", 1000, "acme corp", "Organization"),
         ("acme corp", 5000, "acme corp", "Predicate")],
        "surface_form string, concept_id long, canon_name string, "
        "canon_domain string",
    )
    sents = kg.split_sentences(kg.extract_text(data["pages"])).limit(1)
    with pytest.raises(ValueError, match="Predicate and an entity domain"):
        kg.assemble_sentences_pandas(sents, cw, data["modifier_config"])
    with pytest.raises(ValueError, match="Predicate and an entity domain"):
        kg.assemble_sentences(sents, cw, data["modifier_config"])


def test_invalid_modifier_pattern_rejected(spark, data):
    """Qualifier patterns must be valid in the common Java/Python regex
    dialect; Java-only \\p{...} classes are rejected at plan build time."""
    bad_cfg = spark.createDataFrame(
        [("year", "in", r"^\p{Digit}{4}$", "qualifier_year")],
        "kind string, trigger_token string, pattern string, target_column string",
    )
    cw = kg.compile_crosswalk(
        data["surface_vocab"], data["concept"], data["concept_rel"]
    )
    sents = kg.split_sentences(kg.extract_text(data["pages"])).limit(1)
    with pytest.raises(ValueError, match="Java-only"):
        kg.assemble_sentences_pandas(sents, cw, bad_cfg)


def test_qualifier_overflow_clamped(spark, data):
    """ADVICE r01: a qualifier >= 2^21-1 must NOT overflow into the sent_idx
    bits of the dedup packing — it is treated as absent (null), and the
    triple still emits."""
    import datetime

    cw = kg.compile_crosswalk(
        data["surface_vocab"], data["concept"], data["concept_rel"]
    )
    cm = kg.canonicalize_concepts(cw)
    assembled = spark.createDataFrame(
        [("https://x.example/1", datetime.datetime(2024, 1, 1), 0,
          "acme corp", "acquired", "globex corp", 5_000_000, 250),
         ("https://x.example/1", datetime.datetime(2024, 1, 1), 1,
          "acme corp", "acquired", "globex corp", -3, None),
         ("https://x.example/2", datetime.datetime(2024, 1, 1), 0,
          "stark corp", "sued", "hooli corp", 2001, 3_000_000)],
        "url string, warc_ts timestamp, sent_idx int, subj_surface string, "
        "pred_surface string, obj_surface string, qualifier_year int, "
        "qualifier_amount int",
    )
    # clamped per column: year keeps/loses independently of amount
    out = {
        (r.url, r.qualifier_year, r.qualifier_amount)
        for r in kg.link_and_emit(assembled, cw, cm).collect()
    }
    assert out == {
        ("https://x.example/1", None, 250),
        ("https://x.example/2", 2001, None),
    }


def test_fused_equals_modular_with_10x_vocab(spark, data):
    """VERDICT r01 #6: the broadcast-variable vocab path must stay equal to
    the modular path at a vocabulary ~10x the fixture (padding surfaces that
    never occur in the text must not perturb routing or matching)."""
    cw = kg.compile_crosswalk(
        data["surface_vocab"], data["concept"], data["concept_rel"]
    )
    n = cw.count()
    pad = spark.range(9 * n).select(
        F.concat(F.lit("padsurf"), F.col("id").cast("string")).alias("surface_form"),
        (F.col("id") + 900_000).alias("concept_id"),
        F.concat(F.lit("pad "), F.col("id").cast("string")).alias("canon_name"),
        F.when(F.col("id") % 7 == 0, F.lit("Predicate"))
        .otherwise(F.lit("Organization"))
        .alias("canon_domain"),
    )
    big_cw = cw.unionByName(pad)
    sents = kg.split_sentences(
        kg.extract_text(data["pages"]).where(F.col("lang") == "en")
    ).limit(500).persist()
    modular = kg.assemble_triples(
        kg.detect_mentions(sents, big_cw),
        kg.extract_qualifiers(sents, data["modifier_config"]),
        qualifier_kinds=("year", "amount"),
    )
    fused_pd = kg.assemble_sentences_pandas(sents, big_cw, data["modifier_config"])
    cols = [
        "url", "sent_idx", "subj_surface", "pred_surface", "obj_surface",
        "qualifier_year", "qualifier_amount",
    ]
    a = {tuple(r) for r in modular.select(cols).collect()}
    c = {tuple(r) for r in fused_pd.select(cols).collect()}
    sents.unpersist()
    assert a == c and len(a) > 0


# ---------------------------------------------------------------------------
# Embedding entity-link scoring (planted ambiguity)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def amb_data(spark):
    return generate(spark, N_PAGES, with_ambiguity=True)


def _amb_cw(data):
    return kg.compile_crosswalk(
        data["surface_vocab"], data["concept"], data["concept_rel"]
    )


def test_embedding_link_recovers_planted_truth(spark, amb_data):
    """The cue-determined entity is recovered for EVERY ambiguous mention
    (planted margin 3 vs single-token hash noise), and overall P/R vs the
    goldens stays exact — the dictionary join alone cannot do this (it
    would fan every ambiguous mention out to both entities)."""
    from i2o_transform_spark.datagen import AMB_BASE

    cw = _amb_cw(amb_data)
    canon = kg.canonicalize_concepts(cw)
    assembled = kg.extract_and_assemble(
        amb_data["pages"].where(F.col("lang") == "en"),
        cw,
        amb_data["modifier_config"],
        ctx_dim=kg.CTX_DIM,
    )
    triples = kg.link_and_emit(
        assembled, cw, canon, entity_embeddings=amb_data["entity_embeddings"]
    )
    got = triples.select("subj_id", "pred_id", "obj_id").distinct()
    gold = amb_data["golden_triples"].select(
        "subj_id", "pred_id", "obj_id"
    ).distinct()
    n_got, n_gold = got.count(), gold.count()
    inter = got.join(gold, ["subj_id", "pred_id", "obj_id"]).count()
    assert n_gold > 0 and n_got == n_gold == inter, (n_got, n_gold, inter)
    # the ambiguous subset is non-trivial and exactly right
    amb_gold = {tuple(r) for r in gold.where(F.col("subj_id") >= AMB_BASE).collect()}
    amb_got = {tuple(r) for r in got.where(F.col("subj_id") >= AMB_BASE).collect()}
    assert len(amb_gold) > 10
    assert amb_got == amb_gold


def test_ctx_embedding_bitequal_across_paths(spark, amb_data):
    """The crc32 hashing-trick context embedding is bit-equal between the
    JVM column-expression encoder (expression assembly) and the numpy
    scatter in the Arrow kernel (pandas + fully-fused assembly)."""
    cw = _amb_cw(amb_data)
    sents = kg.split_sentences(
        kg.extract_text(amb_data["pages"]).where(F.col("lang") == "en")
    ).persist()
    cols = ["url", "sent_idx", "subj_surface", "pred_surface", "obj_surface"]

    def key(df):
        return {
            tuple(r[c] for c in cols) + (tuple(r["ctx"]),)
            for r in df.select(*cols, "ctx").collect()
        }

    expr = key(kg.assemble_sentences(
        sents, cw, amb_data["modifier_config"], ctx_dim=kg.CTX_DIM))
    pand = key(kg.assemble_sentences_pandas(
        sents, cw, amb_data["modifier_config"], ctx_dim=kg.CTX_DIM))
    fused = key(kg.extract_and_assemble(
        amb_data["pages"].where(F.col("lang") == "en"),
        cw, amb_data["modifier_config"], ctx_dim=kg.CTX_DIM))
    sents.unpersist()
    assert len(expr) > 0
    assert expr == pand == fused


def test_disambiguation_modular_equals_fused(spark, amb_data):
    """link_and_emit with an in-line ctx column (fused assembly) and with a
    separately-joined ctx frame (modular assembly) emit identical triples."""
    cw = _amb_cw(amb_data)
    canon = kg.canonicalize_concepts(cw)
    ee = amb_data["entity_embeddings"]
    pages_en = amb_data["pages"].where(F.col("lang") == "en")
    fused_t = kg.link_and_emit(
        kg.extract_and_assemble(
            pages_en, cw, amb_data["modifier_config"], ctx_dim=kg.CTX_DIM
        ),
        cw, canon, entity_embeddings=ee,
    )
    from i2o_transform_spark.operators.entity_link import hashing_trick_embed

    sents = kg.split_sentences(kg.extract_text(pages_en)).persist()
    modular_assembled = kg.assemble_triples(
        kg.detect_mentions(sents, cw),
        kg.extract_qualifiers(sents, amb_data["modifier_config"]),
        qualifier_kinds=("year", "amount"),
    )
    ctx_frame = sents.select(
        "url", "sent_idx",
        hashing_trick_embed(F.col("tokens"), kg.CTX_DIM).alias("ctx"),
    )
    modular_t = kg.link_and_emit(
        modular_assembled, cw, canon, entity_embeddings=ee, ctx=ctx_frame
    )
    cols = ["subj_id", "pred_id", "obj_id", "url",
            "qualifier_year", "qualifier_amount"]
    a = {tuple(r) for r in fused_t.select(cols).collect()}
    b = {tuple(r) for r in modular_t.select(cols).collect()}
    sents.unpersist()
    assert len(a) > 0 and a == b


def test_fused_election_equals_staged_disambiguation(spark, amb_data):
    """extract_and_assemble(entity_candidates=...) — the in-kernel election
    where ctx never crosses Arrow — emits triples identical to the staged
    path (ctx column -> embedding_disambiguate_dual_pandas)."""
    cw = _amb_cw(amb_data)
    canon = kg.canonicalize_concepts(cw)
    ee = amb_data["entity_embeddings"]
    pages_en = amb_data["pages"].where(F.col("lang") == "en")
    staged_t = kg.link_and_emit(
        kg.extract_and_assemble(
            pages_en, cw, amb_data["modifier_config"], ctx_dim=kg.CTX_DIM
        ),
        cw, canon, entity_embeddings=ee,
    )
    cand = kg.entity_candidate_frame(cw, canon, ee)
    fused_asm = kg.extract_and_assemble(
        pages_en, cw, amb_data["modifier_config"],
        ctx_dim=kg.CTX_DIM, entity_candidates=cand,
    )
    assert "ctx" not in fused_asm.columns
    fused_t = kg.link_and_emit(fused_asm, cw, canon)
    cols = ["subj_id", "pred_id", "obj_id", "url",
            "qualifier_year", "qualifier_amount"]
    a = {tuple(r) for r in staged_t.select(cols).collect()}
    b = {tuple(r) for r in fused_t.select(cols).collect()}
    assert len(a) > 0 and a == b


def test_runner_disambiguate_end_to_end(spark, tmp_path):
    """The stage DAG with disambiguate=True: entity_embeddings stage
    persisted, triples match the ambiguity goldens, lineage intact."""
    outs = run_pipeline(spark, str(tmp_path / "amb"), n_pages=200,
                        disambiguate=True)
    got = _emitted(outs)
    gold = generate(spark, 200, with_ambiguity=True)["golden_triples"].select(
        "subj_id", "pred_id", "obj_id"
    ).distinct()
    inter = got.join(gold, ["subj_id", "pred_id", "obj_id"]).count()
    n_got, n_gold = got.count(), gold.count()
    assert inter / n_got >= 0.99 and inter / n_gold >= 0.99
    assert "entity_embeddings" in outs


def test_runner_modular_disambiguate_end_to_end(spark, tmp_path):
    """The stage DAG with fused=False, disambiguate=True: the context
    embedding is its own ``sentence_ctx`` stage, declared upstream of
    ``triples``, and the triples pass the same P/R check as the fused
    path."""
    n = 200
    with _stage_spans() as spans:
        outs = run_pipeline(spark, str(tmp_path / "amb_mod"), n_pages=n,
                            disambiguate=True, fused=False)
    _assert_upstream_ended_first(spans)
    assert "sentence_ctx" in spans["triples"][0]
    got = _emitted(outs)
    gold = generate(spark, n, with_ambiguity=True)["golden_triples"].select(
        "subj_id", "pred_id", "obj_id"
    ).distinct()
    inter = got.join(gold, ["subj_id", "pred_id", "obj_id"]).count()
    n_got, n_gold = got.count(), gold.count()
    assert inter / n_got >= 0.99 and inter / n_gold >= 0.99


def test_web_extras_stages(spark, tmp_path):
    """--web-extras DAG (r05): enriched pages feed the fused structured-
    data trio, the single-pass web-table walker, and the term dictionary;
    per-page yields are closed-form from the enrichment spec (ld+json 4,
    microdata 3, rdfa 2 triples; 5 rows x 3 cols of table pairs), the
    hash dictionary covers every term, and the core triples stage is
    byte-unaffected by the enrichment."""
    out = str(tmp_path / "kg_web")
    n = 60
    outs = run_pipeline(spark, out, n_pages=n, web_extras=True)
    sd = outs["sd_triples"]
    by_syntax = {r["syntax"]: r["n"] for r in
                 sd.groupBy("syntax").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_syntax == {"jsonld": 4 * n, "microdata": 3 * n, "rdfa": 2 * n}
    pairs = outs["web_table_pairs"]
    assert pairs.count() == 15 * n
    assert {r["attr"] for r in pairs.select("attr").distinct().collect()} \
        == {"sku", "price", "qty"}
    # dictionary total over the triple terms; encode is join-free hash ids
    terms = outs["sd_triples"].select(F.col("subj").alias("term")).unionByName(
        sd.select(F.col("pred").alias("term"))).unionByName(
        sd.select(F.col("obj").alias("term"))).distinct()
    d = outs["web_term_dict"]
    assert d.count() == terms.count()
    assert outs["sd_triples_encoded"].count() == sd.count()
    # enrichment never leaks into the core pipeline output
    out2 = str(tmp_path / "kg_plain")
    outs_plain = run_pipeline(spark, out2, n_pages=n)
    a = _emitted(outs)
    b = _emitted(outs_plain)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
