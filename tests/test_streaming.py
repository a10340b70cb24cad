"""Structured Streaming equivalence tests: the same operator run as a file
stream (replaying the events parquet) must produce the batch result.

This is the streaming correctness oracle — Spark's unified API means the
batch execution of the identical plan defines expected output; the stream
run proves watermarking/state semantics don't change it for on-time data.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from i2o_transform_spark.sources.tables import load_table
from i2o_transform_spark.streaming.windowed import (
    sessionize_events,
    windowed_event_counts,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _no_stream_outlives_its_test(spark):
    """Fail a test that leaves a streaming query running, and stop it: a
    leftover query keeps its Python workers busy for the rest of the
    session."""
    yield
    active = spark.streams.active
    for q in active:
        q.stop()
    assert not active, f"streaming queries still active: {[q.name for q in active]}"


def _stream_events(spark):
    """File-stream the events table (the source needs a directory, the
    testdata ships one file -> stage a symlink dir)."""
    import tempfile

    batch = load_table(spark, SF_DIR, "events")
    d = os.path.join(tempfile.gettempdir(), "i2o_stream_events")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.join(SF_DIR, "events.parquet"), link)
    return spark.readStream.schema(batch.schema).parquet(d)


def _run_stream_to_memory(spark, sdf, name):
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    return spark.table(name)


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_windowed_counts_stream_equals_batch(spark):
    batch = windowed_event_counts(load_table(spark, SF_DIR, "events"))
    stream = _run_stream_to_memory(
        spark, windowed_event_counts(_stream_events(spark)), "win_counts"
    )
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    assert _rows(stream, cols) == _rows(batch, cols)
    assert batch.count() > 0


def test_sessionize_stream_equals_batch(spark):
    batch = sessionize_events(load_table(spark, SF_DIR, "events"))
    stream = _run_stream_to_memory(
        spark, sessionize_events(_stream_events(spark)), "sessions"
    )
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert _rows(stream, cols) == _rows(batch, cols)
    assert batch.count() > 0


def test_watermark_attached_only_when_streaming(spark):
    batch = windowed_event_counts(load_table(spark, SF_DIR, "events"))
    assert not batch.isStreaming
    sdf = windowed_event_counts(_stream_events(spark))
    assert sdf.isStreaming


def test_stateful_running_totals_stream_equals_batch(spark):
    """applyInPandasWithState custom operator: after one batch over the
    whole input, the latest per-user state equals the batch aggregation
    (rounding to the stream's accumulator precision).  ``once``, not
    ``availableNow``: with a processing-time timeout an availableNow query
    never terminates (see ``stateful_running_totals``)."""
    from pyspark.sql.window import Window

    from i2o_transform_spark.streaming.windowed import stateful_running_totals

    batch = stateful_running_totals(load_table(spark, SF_DIR, "events"))
    sdf = stateful_running_totals(_stream_events(spark))
    q = (
        sdf.writeStream.format("memory")
        .queryName("state_totals")
        .outputMode("update")
        .trigger(once=True)
        .start()
    )
    assert q.awaitTermination(120)
    updates = spark.table("state_totals")
    # keep the LAST update per user (update mode emits one row per trigger)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    latest = (
        updates.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk")
    )
    got = {
        r.user_id: (r.n_events, round(r.total_value, 2))
        for r in latest.collect()
    }
    want = {
        r.user_id: (r.n_events, round(r.total_value, 2))
        for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_dedup_events_stream_equals_batch(spark):
    """Exactly-once dedup under at-least-once delivery: the stream replays
    every event twice (two copies of the parquet in the source dir);
    dropDuplicatesWithinWatermark must collapse them to exactly the pristine
    events table (== the batch dropDuplicates result)."""
    import tempfile

    from i2o_transform_spark.streaming.windowed import dedup_events

    batch_events = load_table(spark, SF_DIR, "events")
    d = os.path.join(tempfile.gettempdir(), "i2o_stream_events_dup")
    os.makedirs(d, exist_ok=True)
    for name in ("events_a.parquet", "events_b.parquet"):
        link = os.path.join(d, name)
        if not os.path.exists(link):
            os.symlink(os.path.join(SF_DIR, "events.parquet"), link)
    sdf = spark.readStream.schema(batch_events.schema).parquet(d)

    # watermark longer than the fixture's time span: every replayed duplicate
    # is inside the dedup horizon no matter how the files split into batches
    deduped = dedup_events(sdf, watermark="365 days")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_events")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    stream = spark.table("dedup_events")

    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    want = _rows(dedup_events(batch_events.unionAll(batch_events)), cols)
    assert _rows(stream, cols) == want
    assert len(want) == batch_events.count()  # collapsed back to pristine


def test_kg_stream_triples_equal_batch(spark, tmp_path):
    """The flagship KG pipeline on a page STREAM: fused extraction in the
    stream plan (stateless mapInPandas, append mode), link + dedup +
    cross-batch anti-join per micro-batch.  maxFilesPerTrigger=1 forces
    multiple micro-batches so the cross-batch dedup path actually runs; the
    final sink must equal the one-shot batch pipeline row-for-row."""
    from i2o_transform_spark.datagen import generate
    from i2o_transform_spark.plans import kg
    from i2o_transform_spark.streaming.kg_stream import stream_triples_to_sink

    d = generate(spark, 2000)
    pages_dir = str(tmp_path / "pages")
    d["pages"].repartition(4).write.parquet(pages_dir)
    batch_pages = spark.read.parquet(pages_dir)
    cw = kg.compile_crosswalk(
        d["surface_vocab"], d["concept"], d["concept_rel"]
    ).persist()
    cm = kg.canonicalize_concepts(cw).persist()

    expected = kg.link_and_emit(
        kg.extract_and_assemble(
            batch_pages.where(F.col("lang") == "en"), cw, d["modifier_config"]
        ),
        cw,
        cm,
    )

    stream = (
        spark.readStream.schema(batch_pages.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(pages_dir)
    )
    sink = str(tmp_path / "triples")
    q = stream_triples_to_sink(
        stream, cw, cm, d["modifier_config"], sink, str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(180)
    got = spark.read.parquet(sink)

    cols = sorted(expected.columns)

    def rows(df):  # triple_id is unique: sort on it (qualifiers can be NULL)
        return sorted(
            (tuple(r) for r in df.select(*cols).collect()),
            key=lambda t: t[cols.index("triple_id")],
        )

    assert rows(got) == rows(expected)
    assert got.count() > 0
    # triple ids are content-derived -> no duplicates across micro-batches
    assert got.select("triple_id").distinct().count() == got.count()


def test_stateful_timeout_evicts_state():
    """ADVICE r01: on ProcessingTimeTimeout the update function must remove
    the state and emit nothing (no duplicate farewell row, no re-armed
    timer); on data it must accumulate and re-arm."""
    import pandas as pd

    from i2o_transform_spark.streaming.windowed import make_running_totals_update

    class FakeState:
        def __init__(self, exists=False, value=None, timed_out=False):
            self.exists = exists
            self._value = value
            self.hasTimedOut = timed_out
            self.removed = False
            self.updated = None
            self.timeout_set = None

        @property
        def get(self):
            return self._value

        def update(self, v):
            self.updated = v

        def remove(self):
            self.removed = True

        def setTimeoutDuration(self, ms):
            self.timeout_set = ms

    update = make_running_totals_update(timeout_minutes=60)

    # data path: accumulates, re-arms, emits one row
    st = FakeState(exists=True, value=(2, 10.0))
    out = list(update((7,), iter([pd.DataFrame({"value": [1.5, 2.5]})]), st))
    assert st.updated == (4, 14.0) and st.timeout_set == 60 * 60 * 1000
    assert len(out) == 1 and out[0]["n_events"].iloc[0] == 4
    assert not st.removed

    # timeout path: state removed, nothing emitted, timer NOT re-armed
    st2 = FakeState(exists=True, value=(4, 14.0), timed_out=True)
    out2 = list(update((7,), iter([]), st2))
    assert st2.removed and out2 == []
    assert st2.updated is None and st2.timeout_set is None


def test_kg_stream_disambiguation_equals_batch(spark, tmp_path):
    """In-stream embedding entity-link scoring: the streaming pipeline with
    entity_embeddings resolves the planted ambiguity per micro-batch and the
    sink equals the one-shot disambiguating batch pipeline row-for-row."""
    from i2o_transform_spark.datagen import AMB_BASE, generate
    from i2o_transform_spark.plans import kg
    from i2o_transform_spark.streaming.kg_stream import stream_triples_to_sink

    d = generate(spark, 1000, with_ambiguity=True)
    pages_dir = str(tmp_path / "pages")
    d["pages"].repartition(3).write.parquet(pages_dir)
    batch_pages = spark.read.parquet(pages_dir)
    cw = kg.compile_crosswalk(
        d["surface_vocab"], d["concept"], d["concept_rel"]
    ).persist()
    cm = kg.canonicalize_concepts(cw).persist()
    ee = d["entity_embeddings"].persist()

    expected = kg.link_and_emit(
        kg.extract_and_assemble(
            batch_pages.where(F.col("lang") == "en"), cw, d["modifier_config"],
            entity_candidates=kg.entity_candidate_frame(cw, cm, ee),
        ),
        cw, cm,
    )

    stream = (
        spark.readStream.schema(batch_pages.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(pages_dir)
    )
    sink = str(tmp_path / "triples")
    q = stream_triples_to_sink(
        stream, cw, cm, d["modifier_config"], sink, str(tmp_path / "ckpt"),
        entity_embeddings=ee,
    )
    assert q.awaitTermination(180)
    got = spark.read.parquet(sink)

    cols = sorted(expected.columns)

    def rows(df):
        return sorted(
            (tuple(r) for r in df.select(*cols).collect()),
            key=lambda t: t[cols.index("triple_id")],
        )

    assert rows(got) == rows(expected)
    # ambiguous subjects present and uniquely resolved
    assert got.where(F.col("subj_id") >= AMB_BASE).count() > 0


def test_enrich_events_stream_equals_batch(spark):
    """Stream-static broadcast join: append-mode streaming result equals the
    batch execution of the identical plan."""
    from i2o_transform_spark.streaming.windowed import enrich_events

    dim = load_table(spark, SF_DIR, "customer")
    batch = enrich_events(load_table(spark, SF_DIR, "events"), dim)
    sdf = enrich_events(_stream_events(spark), dim)
    q = (
        sdf.writeStream.format("memory")
        .queryName("enrich_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    streamed = spark.table("enrich_sink")
    cols = ["event_id", "user_id", "event_type", "segment", "nation_key"]
    assert _rows(streamed, cols) == _rows(batch, cols)
    assert streamed.count() == load_table(spark, SF_DIR, "events").count()


def test_kg_stream_restart_from_checkpoint(spark, tmp_path):
    """Kill-and-restart continuation: stream half the input, stop, add the
    rest, restart with the SAME checkpoint dir — the final sink equals the
    one-shot batch pipeline with zero duplicate triples (checkpoint offsets
    + cross-batch anti-join give exactly-once sink semantics)."""
    import shutil

    from i2o_transform_spark.datagen import generate
    from i2o_transform_spark.plans import kg
    from i2o_transform_spark.streaming.kg_stream import stream_triples_to_sink

    d = generate(spark, 2000)
    all_dir = str(tmp_path / "pages_all")
    d["pages"].repartition(4).write.parquet(all_dir)
    batch_pages = spark.read.parquet(all_dir)
    cw = kg.compile_crosswalk(
        d["surface_vocab"], d["concept"], d["concept_rel"]
    ).persist()
    cm = kg.canonicalize_concepts(cw).persist()
    expected = kg.link_and_emit(
        kg.extract_and_assemble(
            batch_pages.where(F.col("lang") == "en"), cw, d["modifier_config"]
        ),
        cw, cm,
    )

    # stage only half the files, run to completion, then add the rest
    live_dir = str(tmp_path / "pages_live")
    os.makedirs(live_dir)
    parts = sorted(
        f for f in os.listdir(all_dir) if f.endswith(".parquet")
    )
    assert len(parts) == 4
    for f in parts[:2]:
        shutil.copy(os.path.join(all_dir, f), os.path.join(live_dir, f))

    sink = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")

    def run_once():
        stream = (
            spark.readStream.schema(batch_pages.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(live_dir)
        )
        q = stream_triples_to_sink(
            stream, cw, cm, d["modifier_config"], sink, ckpt
        )
        assert q.awaitTermination(180)

    run_once()
    n_first = spark.read.parquet(sink).count()
    assert 0 < n_first < expected.count()

    for f in parts[2:]:
        shutil.copy(os.path.join(all_dir, f), os.path.join(live_dir, f))
    run_once()  # restart from the same checkpoint — only new files process

    got = spark.read.parquet(sink)
    cols = sorted(expected.columns)

    def rows(df):
        return sorted(
            (tuple(r) for r in df.select(*cols).collect()),
            key=lambda t: t[cols.index("triple_id")],
        )

    assert rows(got) == rows(expected)
    assert got.select("triple_id").distinct().count() == got.count()


def test_attribution_join_stream_equals_batch(spark):
    """Stream-stream interval join: both sides file-streamed with
    watermarks; inner join emits eagerly, so an availableNow replay must
    reproduce the batch range-join exactly."""
    from i2o_transform_spark.streaming.windowed import attribution_join

    ev = load_table(spark, SF_DIR, "events")
    batch = attribution_join(ev, ev)
    sdf = attribution_join(_stream_events(spark), _stream_events(spark))
    assert sdf.isStreaming
    q = (
        sdf.writeStream.format("memory")
        .queryName("attr_join")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    stream = spark.table("attr_join")
    cols = ["user_id", "l_event_id", "r_event_id", "l_ts", "r_ts", "r_value"]
    assert _rows(stream, cols) == _rows(batch, cols)
    assert batch.count() > 0


def test_windowed_counts_drop_late_data_past_watermark(spark, tmp_path):
    """Watermark semantics hard signal: an event arriving BELOW the
    checkpointed watermark is dropped from the windowed aggregation (its
    already-finalized window is not re-opened and no duplicate window row
    reaches the append sink), while on-time data keeps advancing windows.

    Run 1 processes events at 10:00:10 and 10:05:30 (watermark after the
    batch: 10:04:30; the 10:00 window finalizes).  Run 2 — same checkpoint
    — adds a LATE duplicate at 10:00:20 (below watermark -> dropped) plus
    on-time events at 10:10 and 10:15 that push the watermark past the
    10:05 window so it flushes.  Final sink: 10:00 window counted exactly
    once with n_events=1, 10:05 window n_events=1."""
    import datetime
    import os

    from i2o_transform_spark.streaming.windowed import windowed_event_counts

    T = datetime.datetime
    schema = "ts timestamp, event_type string, value double"
    src_dir = str(tmp_path / "events")
    os.makedirs(src_dir)
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def add_file(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(tmp_path / "staging" / name))
        import shutil

        stage = str(tmp_path / "staging" / name)
        part = next(
            f for f in os.listdir(stage) if f.endswith(".parquet")
        )
        shutil.copy(os.path.join(stage, part), os.path.join(src_dir, name + ".parquet"))

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        agg = windowed_event_counts(
            stream, window="1 minute", watermark="1 minute"
        )
        q = (
            agg.writeStream.format("parquet")
            .outputMode("append")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    add_file("f1", [
        (T(2024, 1, 1, 10, 0, 10), "click", 1.0),
        (T(2024, 1, 1, 10, 5, 30), "click", 1.0),
    ])
    run_once()

    add_file("f2", [
        (T(2024, 1, 1, 10, 0, 20), "click", 1.0),   # LATE: below watermark
        (T(2024, 1, 1, 10, 10, 0), "click", 1.0),   # advances watermark
    ])
    add_file("f3", [
        (T(2024, 1, 1, 10, 15, 0), "click", 1.0),   # flushes the 10:05 window
    ])
    run_once()

    got = sorted(
        (r.window_start.strftime("%H:%M"), r.n_events)
        for r in spark.read.parquet(sink).collect()
    )  # LIST, not set: a duplicate re-emission of an identical window row
    #    (the exact regression this gates) must stay visible
    w1000 = [n for w, n in got if w == "10:00"]
    assert w1000 == [1], (w1000, got)  # late row dropped, window emitted ONCE
    assert got.count(("10:05", 1)) == 1, got  # on-time window flushed once


def test_line_dedup_stream_equals_batch(spark):
    """Streaming CCNet line dedup: documents delivered TWICE (at-least-once)
    through a file stream; dropDuplicatesWithinWatermark on md5(line) must
    emit exactly the batch-distinct line set."""
    import tempfile

    from i2o_transform_spark.streaming.windowed import line_dedup_stream

    batch_docs = load_table(spark, SF_DIR, "documents")
    d = os.path.join(tempfile.gettempdir(), "i2o_stream_docs_dup")
    os.makedirs(d, exist_ok=True)
    for name in ("docs_a.parquet", "docs_b.parquet"):
        link = os.path.join(d, name)
        if not os.path.exists(link):
            os.symlink(os.path.join(SF_DIR, "documents.parquet"), link)

    def prep(df):
        return df.select(
            "doc_id",
            "text",
            F.expr(
                "timestampadd(SECOND, CAST(doc_id % 86400 AS INT),"
                " timestamp'2024-01-01 00:00:00')"
            ).alias("ts"),
        )

    sdf = spark.readStream.schema(batch_docs.schema).parquet(d)
    deduped = line_dedup_stream(prep(sdf), watermark="365 days")
    q = (
        deduped.writeStream.format("memory")
        .queryName("line_dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    stream = spark.table("line_dedup_stream")

    want = _rows(line_dedup_stream(prep(batch_docs)), ["line_md5", "line"])
    assert _rows(stream, ["line_md5", "line"]) == want
    assert len(want) > 0


def test_stream_incremental_cc_equals_batch(spark, tmp_path):
    """Edges arriving over three micro-batches maintain the same clustering
    a from-scratch batch CC computes over the union — the second and third
    batches exercise the INCREMENTAL path (merge two existing components,
    attach brand-new nodes)."""
    import os
    import random

    from i2o_transform_spark.operators.graph import (
        label_propagation_components,
    )
    from i2o_transform_spark.streaming.kg_stream import (
        stream_incremental_components,
    )

    rng = random.Random(23)
    batches = [
        [(i, i + 1) for i in range(0, 20, 2)],            # 10 tiny comps
        [(i, i + 1) for i in range(1, 15, 4)],            # merge neighbors
        [(100, 101), (101, 102), (3, 100)],               # new nodes + link
    ]
    rng.shuffle(batches[1])
    src = tmp_path / "edges_in"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "src int, dst int").coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / f"b{i}.parquet"))
    stream = (
        spark.readStream.schema("src int, dst int")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*/")
    )
    labels_dir = str(tmp_path / "labels")
    q = stream_incremental_components(
        stream, labels_dir, str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(300)
    assert os.path.exists(os.path.join(labels_dir, "_SUCCESS"))
    got = {
        r.node: r.root for r in spark.read.parquet(labels_dir).collect()
    }
    all_edges = spark.createDataFrame(
        [e for b in batches for e in b], "src int, dst int"
    )
    want = {
        r.node: r.root
        for r in label_propagation_components(all_edges).collect()
    }
    assert got == want


def test_stream_incremental_cc_recovers_from_swap_crash(spark, tmp_path):
    """Simulate a crash BETWEEN the two renames of the label-table swap
    (labels -> .old done, .next -> labels not yet): on the next batch the
    recovery path must promote the complete .next (or .old) table back
    into place instead of silently rebuilding from the delta alone
    (ADVICE r03 medium).  Clustering after recovery must equal the
    from-scratch batch answer over ALL edges ever seen."""
    import os
    import shutil

    from i2o_transform_spark.operators.graph import (
        label_propagation_components,
    )
    from i2o_transform_spark.streaming.kg_stream import (
        stream_incremental_components,
    )

    b0 = [(i, i + 1) for i in range(0, 20, 2)]
    b1 = [(100, 101), (3, 100)]
    src = tmp_path / "edges_in"
    src.mkdir()
    spark.createDataFrame(b0, "src int, dst int").coalesce(1).write.parquet(
        str(src / "b0.parquet")
    )
    labels_dir = str(tmp_path / "labels")

    def run_stream():
        stream = (
            spark.readStream.schema("src int, dst int")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*/")
        )
        q = stream_incremental_components(
            stream, labels_dir, str(tmp_path / "ckpt")
        )
        assert q.awaitTermination(300)

    run_stream()
    assert os.path.exists(os.path.join(labels_dir, "_SUCCESS"))

    # crash simulation: the complete table sits at .old, labels_dir gone
    # (exactly the state after rename #1 of the swap, before rename #2)
    os.rename(labels_dir, labels_dir + ".old")
    assert not os.path.exists(labels_dir)

    spark.createDataFrame(b1, "src int, dst int").coalesce(1).write.parquet(
        str(src / "b1.parquet")
    )
    run_stream()

    got = {r.node: r.root for r in spark.read.parquet(labels_dir).collect()}
    want = {
        r.node: r.root
        for r in label_propagation_components(
            spark.createDataFrame(b0 + b1, "src int, dst int")
        ).collect()
    }
    assert got == want
    # node 0's component must have survived the crash (it is only in b0)
    assert 0 in got
    shutil.rmtree(labels_dir + ".old", ignore_errors=True)


def test_stream_canon_dedup_relabel_and_replay(spark, tmp_path):
    """Relabeled twins arriving in a later micro-batch are dropped against
    the store; a full replay with a FRESH checkpoint appends nothing new
    (idempotency is by the key anti-join, not by exactly-once delivery)."""
    import os

    from i2o_transform_spark.streaming.kg_stream import (
        stream_canonical_dedup,
    )

    Q = "graph string, subj string, pred string, obj string"
    b0 = spark.createDataFrame(
        [("g1", "_:x", "about", "E:1"), ("g1", "_:x", "v", "A"),
         ("g2", "_:x", "about", "E:2"), ("g2", "_:x", "v", "B")],
        Q,
    )
    b1 = spark.createDataFrame(
        # twin of g1 under fresh labels -> dropped; g4 is new -> kept
        [("g3", "_:zz", "about", "E:1"), ("g3", "_:zz", "v", "A"),
         ("g4", "_:y", "about", "E:3"), ("g4", "_:y", "v", "A")],
        Q,
    )
    src = str(tmp_path / "quads")
    b0.coalesce(1).write.parquet(os.path.join(src, "b0.parquet"))
    b1.coalesce(1).write.parquet(os.path.join(src, "b1.parquet"))
    store = str(tmp_path / "store")

    def run(ckpt):
        stream = (
            spark.readStream.schema(Q)
            .option("maxFilesPerTrigger", 1).parquet(src + "/*/")
        )
        assert stream_canonical_dedup(
            stream, store, str(tmp_path / ckpt)
        ).awaitTermination(300)

    run("ckpt1")
    got = {r.graph for r in spark.read.parquet(store).collect()}
    assert got == {"g1", "g2", "g4"}
    run("ckpt2")  # full replay, fresh checkpoint
    rows = spark.read.parquet(store).collect()
    assert len(rows) == 3 and {r.graph for r in rows} == {"g1", "g2", "g4"}


def test_stream_structured_ingest_equals_batch_and_replays(spark, tmp_path):
    """Streaming crawl ingest (kg_stream.stream_structured_ingest): pages
    arriving in waves through the fused trio extractor must build exactly
    the batch extraction's triple SET, and a full replay with a fresh
    checkpoint (at-least-once delivery) must not duplicate a row."""
    import os

    from i2o_transform_spark.sources.unified import (
        structured_data_to_triples,
    )
    from i2o_transform_spark.streaming.kg_stream import (
        stream_structured_ingest,
    )

    def page(i):
        return (
            f"https://c/{i}",
            '<html lang="en" vocab="https://schema.org/">'
            '<script type="application/ld+json">'
            f'{{"@context": "https://schema.org", "@id": "http://e/{i}",'
            f' "@type": "Person", "name": "E{i}"}}</script>'
            f'<div itemscope itemtype="https://schema.org/Person" '
            f'itemid="http://e/{i}">'
            f'<meta itemprop="identifier" content="C{i}"></div>'
            f'<span property="name">Crawl {i}</span></html>',
        )

    waves = [[page(i) for i in range(0, 4)], [page(i) for i in range(4, 7)]]
    src = tmp_path / "pages_in"
    src.mkdir()
    for w, rows in enumerate(waves):
        spark.createDataFrame(rows, "url string, html string").coalesce(
            1
        ).write.parquet(str(src / f"w{w}.parquet"))
    store = str(tmp_path / "triples")

    def run(ckpt):
        stream = (
            spark.readStream.schema("url string, html string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src) + "/*/")
        )
        q = stream_structured_ingest(stream, store, str(tmp_path / ckpt))
        assert q.awaitTermination(300)

    run("ckpt1")
    all_pages = spark.createDataFrame(
        [p for w in waves for p in w], "url string, html string"
    )
    want = sorted(
        map(tuple, structured_data_to_triples(all_pages).distinct()
            .collect())
    )
    got = sorted(map(tuple, spark.read.parquet(store).collect()))
    assert got == want and len(got) == 7 * 5

    # full replay with a fresh checkpoint: nothing may duplicate
    run("ckpt2")
    again = sorted(map(tuple, spark.read.parquet(store).collect()))
    assert again == want
    assert os.path.exists(store)
