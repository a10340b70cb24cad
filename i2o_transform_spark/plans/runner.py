"""Stage-DAG orchestrator: concurrent, manifest-checkpointed, resumable,
lineage-tracked.

Reference lifecycle analogue (SURVEY.md §3.1): `OMOPloader` runs a fixed
dependency-ordered DAG of INSERT-SELECTs with RAISERROR stage flags
(MSSQL/OMOPLoader.sql:1934-1988) over full-refresh tables (`OMOPclear`,
:1870-1890).  Here each stage is a pure DataFrame function whose output is
written once (idempotent overwrite); a manifest JSON records, per stage, a
fingerprint of (stage code version, params, upstream fingerprints) plus row
counts and wall time.  Re-running with an existing manifest skips every
stage whose fingerprint matches and whose output exists — the north_rule's
"resumable from checkpoint".

Scheduling: the reference runs its DAG one statement at a time; here
``Runner.submit`` declares a stage with its ``upstream`` list and the stage
starts on its own thread as soon as every upstream stage has committed, so
independent branches (``extracted`` beside ``crosswalk -> canon_map``, the
web-extras branch beside the KG branch) run at once.  Spark's task
scheduler is the only throttle.  Inside its thread a stage is one blocking
``Runner.stage`` call, so Spark job groups and local properties set around
it stay per stage; threads inherit the declaring thread's local properties
(``pyspark.inheritable_thread_target``) and their py4j connections close
when they end.  Declared inputs: a stage function receives its upstream
stages' committed DataFrames as positional arguments, in ``upstream``
order, and reaches no other stage's output.  Path decisions that read data
(``run_pipeline``'s vocabulary-size check) wait only for the stage they
read (``Runner.wait``).  ``stop_after=X`` runs every stage declared up to
and including X, then ``finish``.

Lineage (i2oreport analogue, MSSQL/OMOPLoader.sql:511-515, 2085-2095): a
``lineage`` table with one row per (run, stage, output partition) and a
``metrics`` table with per-stage rows/entities/wall — both persisted next to
the outputs.  The manifest, lineage and metrics are updated under one lock.

Run as a module for the CLI:
    python -m i2o_transform_spark.plans.runner --n-pages 2000 --out /tmp/kg
On a cluster the same file ships via spark-submit --py-files and the
``pages`` stage is replaced by the Iceberg scan.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import threading
import time
from collections.abc import Callable

import pandas as pd
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from i2o_transform_spark.datagen import generate
from i2o_transform_spark.plans import kg

CODE_VERSION = "1"  # bump to invalidate every checkpoint

_LINEAGE_SCHEMA = "run_id long, stage string, partition_id int, rows long"
_METRICS_SCHEMA = (
    "run_id long, stage string, rows long, distinct_entities long, wall_s double"
)


def _fingerprint(stage: str, params: dict, upstream: list[str]) -> str:
    payload = json.dumps(
        {"stage": stage, "v": CODE_VERSION, "params": params, "up": sorted(upstream)},
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


class Runner:
    """One run over ``out_dir``.  Use as a context manager: leaving the
    block waits for every stage thread, also when the block raised."""

    def __init__(self, spark: SparkSession, out_dir: str, params: dict | None = None):
        self.spark = spark
        self.out_dir = out_dir
        self.params = params or {}
        self.manifest_path = os.path.join(out_dir, "_manifest.json")
        self.manifest: dict[str, dict] = {}
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path) as f:
                self.manifest = json.load(f)
        self.run_id = int(time.time() * 1000)
        self.lineage_rows: list[tuple] = []
        self.metrics_rows: list[tuple] = []
        self.executed: list[str] = []
        self.skipped: list[str] = []
        self.outputs: dict[str, DataFrame] = {}  # committed stages
        # guards everything above that stages update, plus the scheduler state
        self._lock = threading.Condition()
        self._declared: list[str] = []
        self._pending: dict[str, tuple] = {}  # declared, not yet started
        self._failed: dict[str, BaseException] = {}
        self._threads: list[threading.Thread] = []

    def __enter__(self) -> Runner:
        return self

    def __exit__(self, *exc) -> None:
        self._wait_all()

    def _save_manifest(self) -> None:
        os.makedirs(self.out_dir, exist_ok=True)
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.manifest, f, indent=1)
        os.replace(tmp, self.manifest_path)

    def stage(
        self,
        name: str,
        fn: Callable[..., DataFrame],
        upstream: list[str] = (),
        entity_col: str | None = None,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        """Run (or resume-skip) one stage, blocking; ``fn`` gets the committed
        output of each ``upstream`` stage, in order.  Returns the stage
        output DF (always read back from the persisted table so downstream
        plans never recompute upstream work — the reference's temp-table
        materialization, MSSQL/OMOPLoader.sql:1011)."""
        with self._lock:
            inputs = [self.outputs[u] for u in upstream]
            up_fps = [self.manifest[u]["fingerprint"] for u in upstream]
            entry = self.manifest.get(name)
        fp = _fingerprint(name, self.params, up_fps)
        path = os.path.join(self.out_dir, name)
        if entry and entry.get("fingerprint") == fp and os.path.exists(path):
            out = self.spark.read.parquet(path)
            with self._lock:
                self.skipped.append(name)
                self.outputs[name] = out
            return out

        t0 = time.time()
        df = fn(*inputs)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        out = self.spark.read.parquet(path)

        # lineage: per-output-partition row counts (per-partition lineage rows
        # per north_rule); metrics: stage totals
        part_counts = (
            out.groupBy(F.spark_partition_id().alias("partition_id"))
            .count()
            .collect()
        )
        rows = sum(int(r[1]) for r in part_counts)
        n_entities = (
            out.select(F.count_distinct(F.col(entity_col)).alias("n")).collect()[0][0]
            if entity_col and entity_col in out.columns
            else None
        )
        wall = time.time() - t0
        with self._lock:
            self.lineage_rows.extend(
                (self.run_id, name, int(r[0]), int(r[1])) for r in part_counts
            )
            self.metrics_rows.append(
                (self.run_id, name, rows, n_entities, round(wall, 3))
            )
            self.manifest[name] = {
                "fingerprint": fp,
                "rows": rows,
                "wall_s": round(wall, 3),
                "path": path,
            }
            self._save_manifest()
            self.executed.append(name)
            self.outputs[name] = out
        return out

    # -- scheduling ---------------------------------------------------------

    def submit(
        self,
        name: str,
        fn: Callable[..., DataFrame],
        upstream: list[str] = (),
        **kw,
    ) -> None:
        """Declare a stage: it runs ``self.stage(name, fn, upstream, **kw)``
        on its own thread once every ``upstream`` stage has committed.  Every
        upstream stage must already be declared."""
        # local properties are captured here, in the declaring thread,
        # whichever stage thread later starts this one
        target = inheritable_thread_target(self.spark)(self._run)
        with self._lock:
            unknown = [u for u in upstream if u not in self._declared]
            if name in self._declared or unknown:
                raise ValueError(
                    f"stage {name!r}: duplicate, or undeclared upstream {unknown}"
                )
            self._declared.append(name)
            self._pending[name] = (target, fn, list(upstream), kw)
            self._start_ready()

    def _start_ready(self) -> None:
        """Start every pending stage whose upstream has committed; fail every
        one whose upstream failed.  Caller holds the lock.  One pass in
        declaration order suffices: an upstream is always declared first."""
        for name, (target, fn, upstream, kw) in list(self._pending.items()):
            failed = next((u for u in upstream if u in self._failed), None)
            if failed is not None:
                del self._pending[name]
                self._failed[name] = self._failed[failed]
            elif all(u in self.outputs for u in upstream):
                del self._pending[name]
                t = threading.Thread(
                    target=target, args=(name, fn, upstream, kw),
                    name=f"stage:{name}", daemon=True,
                )
                self._threads.append(t)
                t.start()
        self._lock.notify_all()

    def _run(self, name: str, fn, upstream: list[str], kw: dict) -> None:
        err = None
        try:
            self.stage(name, fn, upstream, **kw)
        except BaseException as e:  # re-raised to the caller by wait/join
            err = e
        with self._lock:
            if err is not None:
                self._failed[name] = err
            self._start_ready()

    def _resolved(self, name: str) -> bool:
        return name in self.outputs or name in self._failed

    def wait(self, name: str) -> DataFrame:
        """Block until stage ``name`` has committed; returns its output, or
        re-raises its failure."""
        with self._lock:
            self._lock.wait_for(lambda: self._resolved(name))
            if name in self._failed:
                raise self._failed[name]
            return self.outputs[name]

    def _wait_all(self) -> None:
        with self._lock:
            self._lock.wait_for(lambda: all(map(self._resolved, self._declared)))
            threads = list(self._threads)
        for t in threads:
            t.join()

    def join(self) -> None:
        """Block until every declared stage has committed or failed and its
        thread has ended; re-raises the first failure in declaration order."""
        self._wait_all()
        for name in self._declared:
            if name in self._failed:
                raise self._failed[name]

    def finish(self) -> None:
        """Append this run's lineage and metrics rows; a run where every
        stage resumed appends nothing.  Both frames go through Arrow from
        pandas: no Python-worker job per write."""
        if self.lineage_rows:
            lineage = pd.DataFrame(
                self.lineage_rows,
                columns=["run_id", "stage", "partition_id", "rows"],
            )
            self.spark.createDataFrame(lineage, _LINEAGE_SCHEMA).write.mode(
                "append"
            ).parquet(os.path.join(self.out_dir, "_lineage"))
        if self.metrics_rows:
            metrics = pd.DataFrame(
                self.metrics_rows,
                columns=["run_id", "stage", "rows", "distinct_entities", "wall_s"],
            ).astype({"distinct_entities": "Int64"})
            self.spark.createDataFrame(metrics, _METRICS_SCHEMA).write.mode(
                "append"
            ).parquet(os.path.join(self.out_dir, "_metrics"))


def run_pipeline(
    spark: SparkSession,
    out_dir: str,
    n_pages: int = 2000,
    seed: int = 42,
    stop_after: str | None = None,
    disambiguate: bool = False,
    web_extras: bool = False,
) -> dict[str, DataFrame]:
    """Full KG pipeline over synthesized pages (tests/bench) — on a cluster
    the pages stage is the Iceberg scan instead.  ``stop_after`` ends the
    run after every stage declared up to and including the named one has
    committed (kill-and-resume testing).  Returns every committed stage's
    output by name, plus the ``Runner`` under ``"_runner"``.

    The vocabulary size picks the assembly path, after ``crosswalk``
    commits: up to ``kg.MAX_BROADCAST_VOCAB`` surfaces the fused
    ``extract_and_assemble`` kernel (one ``assembled`` stage over the raw
    pages); past it the salted modular path (``mentions``, ``qualifiers``,
    then ``assembled``).

    ``disambiguate`` turns on embedding entity-link scoring: datagen plants
    the ambiguous surface + cue phrases, and the ``assembled`` stage (on
    either path) resolves entity surfaces to ``subj_id``/``obj_id`` by
    argmax cosine between the sentence context embedding and the
    entity_embeddings stage instead of 1->many fan-out; ``triples`` then
    links predicates only.

    ``web_extras`` adds the web-source families to the DAG (the r04
    endurance ask): pages enriched with deterministic structured-data
    blocks (datagen.enrich_pages_web), then the fused JSON-LD/Microdata/
    RDFa trio (ONE Arrow pass), the single-pass web-table walker, and the
    hash term dictionary + encoded-triples projection — each a lineage-
    carrying checkpointed stage like the rest of the DAG.  The branch
    reads only ``pages``, so it runs beside the KG branch."""
    params = {"n_pages": n_pages, "seed": seed, "disambiguate": disambiguate}
    d = generate(spark, n_pages, seed, with_ambiguity=disambiguate)

    with Runner(spark, out_dir, params) as r:

        def _run(name, fn, upstream=(), **kw):
            r.submit(name, fn, upstream, **kw)
            if stop_after == name:
                raise _StopRun(name)

        def english(pages):
            return pages.where(F.col("lang") == "en")

        try:
            _run("pages", lambda: d["pages"], entity_col="url")
            _run("surface_vocab", lambda: d["surface_vocab"])
            _run("concept", lambda: d["concept"])
            _run("concept_rel", lambda: d["concept_rel"])
            _run("modifier_config", lambda: d["modifier_config"])

            _run(
                "crosswalk",
                kg.compile_crosswalk,
                upstream=["surface_vocab", "concept", "concept_rel"],
                entity_col="concept_id",
            )
            _run(
                "canon_map",
                kg.canonicalize_concepts,
                upstream=["crosswalk"],
                entity_col="canon_id",
            )
            _run("extracted", kg.extract_text, upstream=["pages"], entity_col="url")
            _run(
                "extraction_validation",
                kg.validation_report,
                upstream=["pages", "extracted"],
            )
            if disambiguate:
                _run(
                    "entity_embeddings",
                    lambda: d["entity_embeddings"],
                    entity_col="concept_id",
                )
            if web_extras:
                _submit_web_extras(_run)

            # past the broadcast cap the salted modular path takes over
            # instead of the fused kernel failing mid-pipeline
            crosswalk = r.wait("crosswalk")
            n_vocab = crosswalk.select("surface_form").distinct().count()
            if n_vocab <= kg.MAX_BROADCAST_VOCAB:
                # fully-fused narrow path (extract_and_assemble): html ->
                # assembled rows in one Arrow stage, zero shuffles, one
                # materialization.  Reads the raw pages table (not the
                # extracted stage) — the extracted stage still exists for
                # the byte-identity validation.  With disambiguate the
                # entity-link election ALSO runs in this kernel
                # (entity_candidates=): ctx never exists as a column, the
                # assembled stage lands with elected subj_id/obj_id.
                def assemble(pages, crosswalk, modcfg, ent_emb=None, canon_map=None):
                    return kg.extract_and_assemble(
                        english(pages), crosswalk, modcfg,
                        entity_candidates=(
                            kg.entity_candidate_frame(crosswalk, canon_map, ent_emb)
                            if disambiguate else None
                        ),
                    )

                _run(
                    "assembled",
                    assemble,
                    upstream=["pages", "crosswalk", "modifier_config"]
                    + (["entity_embeddings", "canon_map"] if disambiguate else []),
                    entity_col="url",
                )
            else:
                _run(
                    "mentions",
                    lambda extracted, crosswalk: kg.detect_mentions(
                        kg.split_sentences(english(extracted)), crosswalk
                    ),
                    upstream=["extracted", "crosswalk"],
                    entity_col="url",
                )
                _run(
                    "qualifiers",
                    lambda extracted, modcfg: kg.extract_qualifiers(
                        kg.split_sentences(english(extracted)), modcfg
                    ),
                    upstream=["extracted", "modifier_config"],
                    entity_col="url",
                )
                kinds = tuple(
                    row.kind
                    for row in r.wait("modifier_config").select("kind").collect()
                )

                def assemble(mentions, qualifiers, extracted=None,
                             crosswalk=None, canon_map=None, ent_emb=None):
                    asm = kg.assemble_triples(mentions, qualifiers, kinds)
                    if not disambiguate:
                        return asm
                    return kg.elect_entities(
                        asm,
                        kg.split_sentences(english(extracted)),
                        kg.entity_candidate_frame(crosswalk, canon_map, ent_emb),
                    )

                _run(
                    "assembled",
                    assemble,
                    upstream=["mentions", "qualifiers"]
                    + (
                        ["extracted", "crosswalk", "canon_map", "entity_embeddings"]
                        if disambiguate else []
                    ),
                    entity_col="url",
                )

            _run(
                "triples",
                kg.link_and_emit,
                upstream=["assembled", "crosswalk", "canon_map"],
                entity_col="subj_id",
                partition_by=["pred_id"],
            )
            _run(
                "nodes",
                kg.materialize_nodes,
                upstream=["crosswalk", "canon_map"],
                entity_col="node_id",
            )
        except _StopRun:
            pass
        r.join()
        r.finish()
    outputs = dict(r.outputs)
    outputs["_runner"] = r  # type: ignore[assignment]
    return outputs


def _submit_web_extras(run: Callable) -> None:
    """The web-source branch: enriched pages -> structured-data triples and
    web-table pairs; structured-data triples -> term dictionary and encoded
    triples."""
    from i2o_transform_spark.datagen import enrich_pages_web
    from i2o_transform_spark.operators.dictenc import (
        build_term_dictionary,
        encode_triples,
    )
    from i2o_transform_spark.sources.htmltable import extract_attr_values
    from i2o_transform_spark.sources.unified import structured_data_to_triples

    run("web_enriched", enrich_pages_web, upstream=["pages"], entity_col="url")
    run(
        "web_table_pairs",
        lambda enriched: extract_attr_values(enriched, keep=["url"]),
        upstream=["web_enriched"],
        entity_col="url",
    )
    run(
        "sd_triples",
        lambda enriched: structured_data_to_triples(enriched).select(
            "syntax", "doc_key", "subj", "pred", "obj", "obj_is_iri", "obj_lang",
        ),
        upstream=["web_enriched"],
        entity_col="doc_key",
        partition_by=["syntax"],
    )
    run(
        "web_term_dict",
        lambda sd: build_term_dictionary(sd.select("subj", "pred", "obj"), method="hash"),
        upstream=["sd_triples"],
        entity_col="term",
    )
    run(
        "sd_triples_encoded",
        lambda sd: encode_triples(sd.select("subj", "pred", "obj")),
        upstream=["sd_triples"],
        entity_col="s_id",
    )


class _StopRun(Exception):
    pass


def main() -> None:
    from i2o_transform_spark.session import get_spark

    ap = argparse.ArgumentParser(
        description="KG pipeline runner.  The vocabulary size picks the "
        "assembly path: the fused Arrow kernel up to MAX_BROADCAST_VOCAB "
        "surfaces, the salted modular path past it."
    )
    ap.add_argument("--n-pages", type=int, default=2000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out", required=True)
    ap.add_argument("--disambiguate", action="store_true",
                    help="embedding entity-link scoring over planted ambiguity")
    ap.add_argument("--web-extras", action="store_true",
                    help="add web-source stages: enriched html -> fused "
                         "JSON-LD/Microdata/RDFa trio, single-pass web "
                         "tables, term dictionary + encoded triples")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    spark = get_spark("kg-runner", master=args.master)
    spark.sparkContext.setLogLevel("WARN")
    t0 = time.time()
    outs = run_pipeline(
        spark,
        args.out,
        n_pages=args.n_pages,
        seed=args.seed,
        disambiguate=args.disambiguate,
        web_extras=args.web_extras,
    )
    r: Runner = outs["_runner"]  # type: ignore[assignment]
    n_triples = outs["triples"].count()
    print(
        json.dumps(
            {
                "n_pages": args.n_pages,
                "n_triples": n_triples,
                "executed": r.executed,
                "skipped": r.skipped,
                "wall_s": round(time.time() - t0, 2),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
