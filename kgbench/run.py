"""KG-construction benchmark: pages -> (subj, pred, obj) builds, then queries.

Run from the repository root:

    python3 kgbench/run.py --workload build_text --seed 1 --seconds 25 --trace 0

Each run is one process and one client, closed loop: it starts a Spark
session at ``local[<cpus>]`` through ``session.get_spark``, materializes the
generated input tables with the runner's own resume path (a set-up
``run_pipeline(stop_after="modifier_config")``), then times one
``plans.runner.run_pipeline`` build that resumes at ``crosswalk`` and runs
the read-only SPARQL mix (``querymix``) over the checkpoints it committed:
two warm-up passes, then timed passes back to back until ``--seconds``
have passed since the build started, and at least two.  It then checks
the build against an oracle derived from the generator's choices, checks
exact yields, and compares every query answer with DuckDB.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` the per-layer ones (see README.md).
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

from oracle import golden_triples, stage_rows, triple_precision_recall, yield_failures
from querymix import duckdb_answers, make_mix, run_query
from tracing import MIB, RssSampler, StageSpans, descendants, dir_bytes, job_group_metrics

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

HEAP = "3g"            # driver heap: JVM + local executors in one process
PR_GATE = 0.95         # BASELINE.json triple precision/recall gate
WARMUP_MIXES = 2       # untimed passes over the query mix after the build
MIN_TIMED_MIXES = 2    # timed passes after them

WORKLOADS = {
    "build_text": {"n_pages": 4_000, "disambiguate": False, "web_extras": False},
    "build_web_disambig": {"n_pages": 3_000, "disambiguate": True, "web_extras": True},
}

# checkpoint stage -> (layer.function it runs, data-proportional)
STAGE_LAYERS = {
    "assembled": ("kg.extract_and_assemble", True),
    "extracted": ("kg.extract_text", True),
    "extraction_validation": ("kg.validation_report", True),
    "triples": ("kg.link_and_emit", True),
    "sd_triples": ("unified.structured_data_to_triples", True),
    "web_table_pairs": ("htmltable.extract_attr_values", True),
    "web_term_dict": ("dictenc.build_term_dictionary", True),
    "sd_triples_encoded": ("dictenc.encode_triples", True),
    "crosswalk": ("kg.compile_crosswalk", False),
    "canon_map": ("kg.canonicalize_concepts", False),
    "nodes": ("kg.materialize_nodes", False),
    "entity_embeddings": ("datagen.entity_embeddings", False),
    "web_enriched": ("datagen.enrich_pages_web", False),
}
FIXED_MEASURES = {"wall_s": "s", "rows": "rows", "mib": "MiB", "jobs": "count"}
SPARK_MEASURES = {"cpu_s": "s", "gc_s": "s", "shuffle_mib": "MiB",
                  "spill_mib": "MiB", "skew": "ratio"}
QUERY_CLASSES = ("lookup", "aggregate", "filter", "path")
QUERY_MEASURES = {"parse_s": "s", "plan_s": "s", "exec_s": "s", "rows": "rows"}
END_TO_END_UNITS = {
    "setup_s": "s", "pages_per_s": "pages/s", "triples_per_s": "triples/s",
    "stored_mib": "MiB", "triple_precision": "ratio", "triple_recall": "ratio",
    "query_p50_s": "s", "query_mix_s": "s", "peak_rss_mib": "MiB",
    "success_rate": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    out = {}
    for layer, proportional in STAGE_LAYERS.values():
        measures = {**FIXED_MEASURES, **(SPARK_MEASURES if proportional else {})}
        for m, unit in measures.items():
            out[f"{layer}.{m}"] = unit
    for m in ("glue_s", "finish_s", "resume_s"):
        out[f"runner.{m}"] = "s"
    for cls in QUERY_CLASSES:
        for m, unit in QUERY_MEASURES.items():
            out[f"sparql.{cls}.{m}"] = unit
    out["session.get_spark_s"] = "s"
    out["datagen.inputs_s"] = "s"
    out["tracing.overhead_s"] = "s"
    return out


def log(msg: str) -> None:
    print(f"[kgbench {_process_age_s():7.2f}s] {msg}", file=sys.stderr, flush=True)


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class Bench:
    """One benchmark run: a Spark session, a work directory, one workload."""

    def __init__(self, workload: str, seed: int, seconds: int, work: Path):
        self.spec = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.cpus = len(os.sched_getaffinity(0))
        self.spark = None
        os.environ.update({
            "SPARK_GRAFT_DRIVER_MEM": HEAP,
            # the session's fixed, pre-touched heap: the JVM's resident
            # memory then does not depend on when the collector grows it
            "SPARK_GRAFT_SANDBOX": "1",
            "TMPDIR": str(work / "tmp"),
            # no JVM perf-data files in /tmp, from spark-submit's launcher JVM
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
            "PYTHONPATH": os.pathsep.join(
                p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
            ),
        })
        (work / "tmp").mkdir(parents=True)
        sys.path.insert(0, str(ROOT))

    # -- session ------------------------------------------------------------

    def start_session(self, event_dir: Path | None = None) -> float:
        from i2o_transform_spark.session import get_spark

        conf = {
            "spark.local.dir": str(self.work / "local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.defaultJavaOptions":
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_dir is not None:
            event_dir.mkdir(parents=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(event_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark("kgbench", master=f"local[{self.cpus}]",
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        self.spark.stop()
        self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, the JVM and every process below this one, and wait
        until each has ended."""
        from pyspark import SparkContext

        pids = descendants(os.getpid())
        gateway = SparkContext._gateway
        try:
            if self.spark is not None:
                self.stop_session()
            if gateway is not None:
                gateway.shutdown()
        except Exception:  # e.g. a run interrupted mid-call: stop the JVM anyway
            traceback.print_exc()
        if gateway is not None:
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + 30
        for pid in pids:
            while _alive(pid):
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                time.sleep(0.05)

    # -- builds -------------------------------------------------------------

    def run_pipeline(self, out_dir: Path, **kw):
        from i2o_transform_spark.plans.runner import run_pipeline

        return run_pipeline(
            self.spark, str(out_dir), n_pages=self.spec["n_pages"],
            seed=self.seed, disambiguate=self.spec["disambiguate"],
            web_extras=self.spec["web_extras"], **kw,
        )

    def materialize_inputs(self) -> float:
        """Write the generated input tables through the runner: the stages
        before ``crosswalk``."""
        t0 = time.perf_counter()
        self.run_pipeline(self.work / "inputs", stop_after="modifier_config")
        return time.perf_counter() - t0

    def build(self, name: str) -> tuple[Path, float]:
        """One timed build into a fresh copy of the input checkpoint."""
        out = self.work / name
        shutil.copytree(self.work / "inputs", out)
        t0 = time.perf_counter()
        self.run_pipeline(out)
        return out, time.perf_counter() - t0

    # -- queries ------------------------------------------------------------

    def query_mixes(self, ckpt: Path, deadline: float, trace: bool):
        """``WARMUP_MIXES`` warm-up passes over the mix, then timed passes
        back to back until ``deadline``, at least ``MIN_TIMED_MIXES``; each
        pass draws its own constants from the seed's generator.  Every
        answer is kept for the oracle; only the timed passes are timed.
        Returns (per-query timings, one list per timed pass; pass walls;
        (query, answer) pairs; failures)."""
        rng = random.Random(self.seed)
        timings, walls, answers, failed = [], [], [], 0
        for n in itertools.count():
            if (n >= WARMUP_MIXES + MIN_TIMED_MIXES
                    and time.perf_counter() >= deadline):
                return timings, walls, answers, failed
            t0 = time.perf_counter()
            mine = []
            for q in make_mix(rng):
                try:
                    timing, rows = run_query(self.spark, str(ckpt), q, trace)
                except Exception:  # a failed query is counted, not fatal
                    traceback.print_exc()
                    failed += 1
                    continue
                mine.append(timing)
                answers.append((q, rows))
            if n >= WARMUP_MIXES:
                timings.append(mine)
                walls.append(time.perf_counter() - t0)

    # -- checks -------------------------------------------------------------

    def check_build(self, ckpt: Path) -> tuple[float, float, list[str]]:
        golden = golden_triples(self.spark, self.spec["n_pages"], self.seed,
                                self.spec["disambiguate"])
        precision, recall = triple_precision_recall(self.spark, str(ckpt), golden)
        problems = yield_failures(str(ckpt), self.spec["n_pages"],
                                  self.spec["web_extras"])
        if min(precision, recall) < PR_GATE:
            problems.append(f"triple P/R {precision:.5f}/{recall:.5f} < {PR_GATE}")
        return precision, recall, problems

    def check(self, ckpt: Path, answers, raised: int):
        """Run every oracle; returns (attempted, failed, precision, recall).
        The build is one operation, each query issued another."""
        precision, recall, problems = self.check_build(ckpt)
        for p in problems:
            print(f"build check failed: {p}", file=sys.stderr)
        failed = int(bool(problems)) + raised + self.check_queries(ckpt, answers)
        log(f"checks done, {failed} failed")
        return 1 + len(answers) + raised, failed, precision, recall

    def check_queries(self, ckpt: Path, answers) -> int:
        expected = duckdb_answers(str(ckpt), (q for q, _ in answers))
        bad = 0
        for q, rows in answers:
            if rows != expected[q]:
                print(f"query {q.cls} differs from DuckDB", file=sys.stderr)
                bad += 1
        return bad

    def triple_rows(self, ckpt: Path) -> int:
        rows = stage_rows(str(ckpt), "triples")
        if self.spec["web_extras"]:
            rows += stage_rows(str(ckpt), "sd_triples")
        return rows

    # -- runs ---------------------------------------------------------------

    def setup(self) -> dict[str, float]:
        session_s = self.start_session()
        inputs_s = self.materialize_inputs()
        log(f"session {session_s:.2f}s, inputs {inputs_s:.2f}s")
        return {
            "session_s": session_s,
            "inputs_s": inputs_s,
            "setup_s": _process_age_s(),
        }

    def run_untraced(self) -> dict:
        setup = self.setup()
        phase0 = time.perf_counter()
        ckpt, wall = self.build("build")
        log(f"build {wall:.2f}s")
        stored = dir_bytes(ckpt) / MIB
        timings, walls, answers, raised = self.query_mixes(
            ckpt, phase0 + self.seconds, trace=False)
        log(f"timed query mixes {[round(w, 2) for w in walls]}s")
        attempted, failed, precision, recall = self.check(
            ckpt, answers, raised)
        return {
            "attempted": attempted,
            "failed": failed,
            "metrics": {
                "setup_s": setup["setup_s"],
                "pages_per_s": self.spec["n_pages"] / wall,
                "triples_per_s": self.triple_rows(ckpt) / wall,
                "stored_mib": stored,
                "triple_precision": precision,
                "triple_recall": recall,
                "query_p50_s": statistics.median(
                    t.latency_s for mine in timings for t in mine),
                "query_mix_s": statistics.median(walls),
                "success_rate": 1 - failed / attempted,
            },
        }

    def run_traced(self) -> dict:
        """Per-layer run.  Build 1 (untraced) warms the JVM; the session is
        then restarted with an event log for build 2 (traced: stage spans,
        a resume pass and the query mix), and restarted without one for
        build 3, so builds 2 and 3 differ only in tracing."""
        setup = self.setup()
        self.build("warmup")
        self.stop_session()

        events = self.work / "events"
        self.start_session(event_dir=events)
        spans = StageSpans(self.spark)
        with spans.installed():
            ckpt, wall_traced = self.build("build")
        t0 = time.perf_counter()
        self.run_pipeline(ckpt)  # every stage fingerprint matches: all skip
        resume_s = time.perf_counter() - t0
        timings, _, answers, raised = self.query_mixes(
            ckpt, 0.0, trace=True)
        self.stop_session()  # flushes the event log
        groups = job_group_metrics(events)

        self.start_session()
        _, wall_untraced = self.build("untraced")
        attempted, failed, _, _ = self.check(ckpt, answers, raised)

        metrics: dict[str, float] = {}
        for stage, (layer, proportional) in STAGE_LAYERS.items():
            ran = stage in spans.stage_s and (ckpt / stage).exists()
            g = groups.get(f"stage:{stage}", {})
            metrics[f"{layer}.wall_s"] = spans.stage_s.get(stage, 0.0)
            metrics[f"{layer}.rows"] = stage_rows(str(ckpt), stage) if ran else 0
            metrics[f"{layer}.mib"] = dir_bytes(ckpt / stage) / MIB if ran else 0.0
            metrics[f"{layer}.jobs"] = g.get("jobs", 0)
            if proportional:
                for m in SPARK_MEASURES:
                    metrics[f"{layer}.{m}"] = g.get(m, 0.0)
        metrics["runner.glue_s"] = wall_traced - sum(spans.stage_s.values())
        metrics["runner.finish_s"] = spans.finish_s
        metrics["runner.resume_s"] = resume_s
        for cls in QUERY_CLASSES:
            for m in QUERY_MEASURES:
                metrics[f"sparql.{cls}.{m}"] = statistics.median(
                    sum(getattr(t, m) for t in mine if t.cls == cls)
                    for mine in timings
                )
        metrics["session.get_spark_s"] = setup["session_s"]
        metrics["datagen.inputs_s"] = setup["inputs_s"]
        metrics["tracing.overhead_s"] = wall_traced - wall_untraced
        return {"attempted": attempted, "failed": failed, "metrics": metrics}


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=25,
                    help="length of the timed phase: one build, then query "
                         "passes until this long after the build started "
                         f"({WARMUP_MIXES} warm-up and at least "
                         f"{MIN_TIMED_MIXES} timed)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    rss = RssSampler()
    rss.start()
    bench = Bench(args.workload, args.seed, args.seconds, work)
    try:
        result = bench.run_traced() if args.trace else bench.run_untraced()
    finally:
        try:
            bench.shutdown()
        finally:
            peak_rss_mib = rss.stop()
            shutil.rmtree(work, ignore_errors=True)
    units = per_layer_units() if args.trace else END_TO_END_UNITS
    if not args.trace:
        result["metrics"]["peak_rss_mib"] = peak_rss_mib
    for name in units:
        print(f"{args.workload:>20} {name:<44} {result['metrics'][name]:>14.6g} "
              f"{units[name]}")
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            name: {"value": result["metrics"][name], "unit": unit}
            for name, unit in units.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
