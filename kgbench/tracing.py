"""Measurement helpers: process-tree memory, stage spans, Spark event logs.

Everything here observes the program from outside.  Stage spans come from
wrapping ``Runner.stage`` / ``Runner.finish`` for the duration of a traced
build; per-stage Spark work (jobs, CPU, GC, shuffle, spill, skew) comes from
the event log the traced SparkContext writes, keyed by the job group the
span wrapper sets around each stage.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from pathlib import Path

MIB = 1024 * 1024


def _children_by_ppid() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm may contain spaces; fields after the closing paren are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(entry.name))
    return out


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (the JVM, its Python daemon and the
    daemon's forked workers)."""
    tree = _children_by_ppid()
    out, todo = [], list(tree.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(tree.get(p, []))
    return out


def _vm_rss_kib(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and everything it spawned.

    Every ``interval_s`` it sums ``VmRSS`` over the process tree (the
    driver, the JVM, the Python daemon and its workers) and keeps the
    largest sum: the simultaneous high-water mark, to the sampling
    interval.  Summing per-process high-water marks instead would count
    workers that replaced each other as if they had run together.

    Only processes alive at two consecutive polls count.  A helper the JVM
    spawns shares the JVM's memory until it execs, and its ``VmRSS`` then
    reads as the JVM's; counted, one such instant inflated the peak by
    half."""

    def __init__(self, interval_s: float = 0.2):
        self._root = os.getpid()
        self._interval = interval_s
        self._peak_kib = 0
        self._last: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _poll(self) -> None:
        rss = {p: _vm_rss_kib(p) for p in [self._root, *descendants(self._root)]}
        total = sum(kib for p, kib in rss.items() if p in self._last)
        self._last = set(rss)
        self._peak_kib = max(self._peak_kib, total)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self._poll()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        """Stop polling; returns the peak in MiB."""
        self._stop.set()
        self._thread.join()
        return self._peak_kib / 1024


def dir_bytes(path: str | os.PathLike) -> int:
    """Apparent size of every file under ``path`` (checksum files too)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class StageSpans:
    """Wall-clock spans around ``Runner.stage`` and ``Runner.finish``.

    While installed, every stage call runs under the Spark job group
    ``stage:<name>`` so the event log attributes its jobs to the stage."""

    def __init__(self, spark):
        self.spark = spark
        self.stage_s: dict[str, float] = {}
        self.finish_s = 0.0

    @contextlib.contextmanager
    def installed(self):
        from i2o_transform_spark.plans.runner import Runner

        orig_stage, orig_finish = Runner.stage, Runner.finish
        spans = self
        sc = self.spark.sparkContext

        def stage(runner, name, *args, **kwargs):
            sc.setJobGroup(f"stage:{name}", name)
            t0 = time.perf_counter()
            try:
                return orig_stage(runner, name, *args, **kwargs)
            finally:
                spans.stage_s[name] = time.perf_counter() - t0
                sc.setLocalProperty("spark.jobGroup.id", None)

        def finish(runner):
            t0 = time.perf_counter()
            try:
                return orig_finish(runner)
            finally:
                spans.finish_s = time.perf_counter() - t0

        Runner.stage, Runner.finish = stage, finish
        try:
            yield self
        finally:
            Runner.stage, Runner.finish = orig_stage, orig_finish


def job_group_metrics(event_dir: str | os.PathLike) -> dict[str, dict[str, float]]:
    """Per job group: jobs, executor CPU, GC, shuffle written, disk spill and
    skew (the largest max/median task run time over the group's Spark
    stages that ran more than one task) from the event logs in
    ``event_dir``."""
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = {}
    tasks: dict[int, list[dict]] = {}
    for log in Path(event_dir).iterdir():
        with open(log) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    jobs[group] = jobs.get(group, 0) + 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    tasks.setdefault(ev["Stage ID"], []).append(ev["Task Metrics"])
    out = {
        g: {"jobs": n, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_mib": 0.0,
            "spill_mib": 0.0, "skew": 1.0}
        for g, n in jobs.items()
    }
    for sid, metrics in tasks.items():
        group = stage_group.get(sid)
        if group is None:
            continue
        m = out[group]
        for t in metrics:
            m["cpu_s"] += t.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += t.get("JVM GC Time", 0) / 1e3
            m["shuffle_mib"] += (
                t.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                / MIB
            )
            m["spill_mib"] += t.get("Disk Bytes Spilled", 0) / MIB
        run_ms = [t.get("Executor Run Time", 0) for t in metrics]
        if len(run_ms) > 1 and statistics.median(run_ms) > 0:
            m["skew"] = max(m["skew"], max(run_ms) / statistics.median(run_ms))
    return out
