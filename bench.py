"""Benchmark harness.

Default: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

--scaling: run the KG pipeline (pages -> triples) at two parallelism levels
(local[8] vs local[32]) on the SAME materialized input and report throughput
at both plus scaling efficiency eff = (thr_32 / thr_8) / 4 — the sandbox
proxy for the north_rule's N -> 4N executor criterion (BASELINE.md §2).
Results are appended to BENCH_SCALING.md.

--kg-child: internal (one parallelism level, prints a JSON line; invoked by
--scaling in a subprocess so each level gets a fresh JVM).
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "j1_dict_broadcast_join",
    "j4_two_hop_join",
    "w1_interval_merge",
    "a7_pivot_conditional",
    "ta_quality_score",
    "dd_minhash_lsh",
    "ann_cosine_topk",
    "kg_extract_triples",
]

KG_BENCH_PAGES = int(os.environ.get("SPARK_GRAFT_KG_PAGES", "100000"))

# supplementary round-2 flagships: timed and reported, but NOT in the
# headline total (which stays comparable round-over-round)
EXTRA = [
    "q3_shipping_priority",
    "ta_doc_chunking",
    "ta_nb_classifier",
    "ta_tfidf_topk",
    "dd_span_dedup",
    "zo_zorder_code",
    # round-3 flagships
    "td_pipeline",
    "dd_line_dedup",
    "kg_anchor_links",
    "dd_semantic_dedup",
    "ta_lm_quality",
    # round-3 session-B KG construction/query flagships
    "kg_shacl_check",
    "kg_transitive_closure",
    "kg_bisim_summary",
    "kg_ontology_align",
    "er_sorted_neighborhood",
    "kg_incremental_cc",
    "kg_rdfs_entailment",
    "kg_sameas_canonicalize",
    # round-4 flagships: SPARQL binding ops, real video frame decode
    "kg_bgp_aggregate",
    "kg_bgp_values",
    "mm_frame_sample",
    # round-4 SPARQL close-out: UNION branches + snapshot UPDATE
    "kg_bgp_union",
    "kg_update_where",
    # round-4 session-B: subqueries, literal facets, FD mining, bnode canon
    "kg_sparql_subquery",
    "kg_shacl_facets",
    "kg_fd_mine",
    "kg_bnode_canon",
    # round-4 session-C: structured-data ingest trio, dictionary
    # encoding, anchor priors
    "sd_unified_ingest",
    "sd_unified_fused",
    "md_extract_triples",
    "rdfa_extract_triples",
    "kg_dict_encode",
    "kg_bgp_encoded",
    "kg_anchor_priors",
    # round-4 session-D: partition planning, RDF-star wire, incremental
    # query/rank maintenance, federation, profiling trio, web tables
    "kg_partition_plan",
    "nt_star_roundtrip",
    "kg_bgp_maintain",
    "kg_sparql_service",
    "kg_ind_mine",
    "wt_type_infer_fast",
    # round-5 flagships: sampled betweenness, SPARQL text UPDATE,
    # biased walks, LPA communities, k-truss
    "kg_betweenness_approx",
    "kg_sparql_update",
    "kg_biased_walks",
    "kg_lpa_communities",
    "kg_ktruss",
]


def _spark(cpus: str):
    from i2o_transform_spark.session import get_spark

    shuffle = max(32, int(cpus) * 4) if cpus.isdigit() else 64
    s = get_spark(
        "bench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.shuffle.partitions": str(shuffle),
            # bench inputs are ~100s of MB: 8 MB splits give every level
            # multiple task waves (128 MB splits quantize a 160 MB input
            # into ~2 partitions and starve the wide configs); on the
            # 100 TB cluster the default 128 MB is right
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(1024 * 1024),
        },
    )
    s.sparkContext.setLogLevel("ERROR")
    return s


def run_headline() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    from i2o_transform_spark.queries import QUERIES

    spark = _spark(cpus)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    timings: dict[str, float] = {}
    # warm the JVM/codegen once on a trivial action, and the Python UDF
    # worker pool on a trivial pandas_udf — both are per-session fixed costs
    # (a long-running cluster amortizes them to zero), not per-query costs
    spark.range(1000).count()
    from pyspark.sql.functions import pandas_udf  # noqa: PLC0415

    @pandas_udf("long")
    def _warm(s):
        return s

    spark.range(10000).select(_warm("id")).count()
    # two runs per query: run 1 pays plan compile + whole-stage codegen JIT
    # (a per-plan fixed cost a long-running cluster amortizes), run 2 is
    # steady state.  Report BOTH — `queries` (steady, best-of-2) feeds the
    # headline total; `queries_cold` keeps the first-run numbers visible.
    # VERDICT r02 "What's wrong #2": artifact-level regressions (j1/j4)
    # were indistinguishable from sandbox variance without a rerun.  N=4
    # runs per query; the artifact carries the full per-query spread
    # (cold first run + [min, median, max] of the steady runs) so a
    # regression is self-adjudicating from the JSON alone.
    N_RUNS = 4

    def time_query(name: str) -> tuple[float, float, list[float]]:
        """(cold_first_run, steady_min, [min, median, max] of steady runs)
        — one timing methodology for every reported query."""
        fn = QUERIES[name]
        runs = []
        for _ in range(N_RUNS):
            t0 = time.time()
            fn(spark, sf_dir).count()
            runs.append(round(time.time() - t0, 3))
        steady = sorted(runs[1:])
        return (
            runs[0],
            steady[0],
            [steady[0], steady[len(steady) // 2], steady[-1]],
        )

    cold: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in HEADLINE:
        cold[name], timings[name], spread[name] = time_query(name)

    extra: dict[str, float] = {}
    for name in EXTRA:
        _, extra[name], spread[name] = time_query(name)

    # KG pipeline throughput: materialized pages -> triples.  One small
    # warmup run first — python UDF workers + codegen JIT are fixed costs
    # that belong to the session, not the measured pipeline.
    kg_throughput(spark, n_pages=2000)
    kg = kg_throughput(spark, n_pages=KG_BENCH_PAGES, repeats=2)
    timings["kg_pipeline"] = kg["sec"]
    # supplementary (NOT in the headline total, which stays comparable
    # round-over-round): the pipeline with embedding entity-link scoring —
    # planted-ambiguity datagen + in-kernel argmax election
    kg_dis = kg_throughput(
        spark, n_pages=KG_BENCH_PAGES, repeats=2, disambiguate=True
    )

    # same-boot memory-bandwidth control (advisory — see run_scaling): lets
    # a reader normalize this artifact against boot-to-boot hardware drift
    bw = None
    try:
        sys.path.insert(
            0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "dev")
        )
        from bandwidth_control import run as bw_run  # noqa: PLC0415

        bw = max(bw_run(int(cpus)) for _ in range(2))
    except Exception as e:  # noqa: BLE001 — control is advisory, never fatal
        sys.stderr.write(f"bandwidth control skipped: {e}\n")

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "timing": f"steady_min_of_{N_RUNS - 1}_after_1_cold",
        "queries": timings,
        "queries_cold": cold,
        "queries_extra": extra,
        "queries_spread_min_med_max": spread,
        "bandwidth_ctrl_gib_s": bw,
        "sf": sf,
        "kg_pages": KG_BENCH_PAGES,
        "kg_triples": kg["triples"],
        "kg_pages_per_sec": kg["pages_per_sec"],
        "kg_triples_per_sec": kg["triples_per_sec"],
        "kg_disambig_sec": kg_dis["sec"],
        "kg_disambig_pages_per_sec": kg_dis["pages_per_sec"],
        "cpus": cpus,
    }
    # VERDICT r03 "What's wrong #3": the r03 artifact captured only the
    # TAIL of the (long) JSON line, so the headline fell off the front and
    # the artifact recorded `parsed: null`.  Two-layer fix: (1) the full
    # payload — spreads and all — is written whole to BENCH_LAST.json,
    # which the driver can snapshot; (2) stdout gets the full line first,
    # then a compact essentials-only line LAST (short enough that no
    # plausible byte-cap truncates it, and last so tail-capture keeps it).
    with open(
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_LAST.json"
        ),
        "w",
    ) as f:
        json.dump(payload, f)
        f.write("\n")
    print(json.dumps(payload))
    compact = {
        k: payload[k]
        for k in (
            "metric", "value", "unit", "timing", "queries", "sf",
            "kg_pages", "kg_triples_per_sec", "kg_pages_per_sec",
            "kg_disambig_pages_per_sec", "cpus",
        )
    }
    compact["full_payload_in"] = "BENCH_LAST.json"
    sys.stdout.flush()
    print(json.dumps(compact))
    spark.stop()


def kg_throughput(
    spark, n_pages: int, pages_dir: str | None = None, repeats: int = 1,
    disambiguate: bool = False,
) -> dict:
    """Materialize pages once, then time pages -> triples end to end.

    ``repeats`` > 1 reports the best in-JVM run: the first execution of a
    plan pays JIT/codegen compilation that a long-running cluster amortizes
    to zero, and steady-state throughput is what the scaling criterion is
    about."""
    import tempfile

    from pyspark.sql import functions as F

    from i2o_transform_spark.datagen import generate
    from i2o_transform_spark.plans import kg as kgp

    own_tmp = pages_dir is None
    if own_tmp:
        pages_dir = tempfile.mkdtemp(prefix="kg_bench_pages_")
    sub = "pages_amb" if disambiguate else "pages"
    pages_path = os.path.join(pages_dir, sub)
    d = generate(spark, n_pages, with_ambiguity=disambiguate)
    if not os.path.exists(pages_path):
        # many small files: a 100 TB crawl arrives as tens of thousands of
        # WARC segments; at bench scale the same file-per-split shape is what
        # lets FilePartition packing feed every core (8 big single-row-group
        # files cap scan parallelism at 8 regardless of cluster size)
        n_files = max(64, min(512, n_pages // 2000))
        d["pages"].repartition(n_files).write.mode("overwrite").parquet(pages_path)
    pages = spark.read.parquet(pages_path)

    # vocabulary compile is the reference's one-time install-phase job
    # (OMOPBuildMapping, SURVEY §3.2) — persisted once, reused by every
    # pipeline run; it is not part of pages->triples throughput
    cw = kgp.compile_crosswalk(
        d["surface_vocab"], d["concept"], d["concept_rel"]
    ).persist()
    cm = kgp.canonicalize_concepts(cw).persist()
    cw.count(), cm.count()

    ee = d["entity_embeddings"].persist() if disambiguate else None
    if disambiguate:
        ee.count()
    sec = None
    for _ in range(max(1, repeats)):
        t0 = time.time()
        # fully-fused narrow path: html -> text -> sentences -> assembled rows
        # in ONE Arrow stage (see extract_and_assemble docstring); the single
        # pipeline exchange is the triple dedup inside link_and_emit
        # disambiguate: fused in-kernel election (entity_candidates=) — the
        # ctx matrix never crosses Arrow; the candidate-frame build is in
        # the timed region
        asm = kgp.extract_and_assemble(
            pages.where(F.col("lang") == "en"), cw, d["modifier_config"],
            entity_candidates=(
                kgp.entity_candidate_frame(cw, cm, ee) if disambiguate else None
            ),
        )
        triples = kgp.link_and_emit(asm, cw, cm)
        n_triples = triples.count()
        run_sec = time.time() - t0
        sec = run_sec if sec is None else min(sec, run_sec)
    cw.unpersist()
    cm.unpersist()
    return {
        "sec": round(sec, 3),
        "triples": n_triples,
        "pages_per_sec": round(n_pages / sec, 1),
        "triples_per_sec": round(n_triples / sec, 1),
    }


def run_kg_child(cpus: str, n_pages: int, pages_dir: str) -> None:
    spark = _spark(cpus)
    spark.range(1000).count()  # JVM warmup
    kg_throughput(spark, n_pages=2000)  # UDF-worker + codegen warmup
    out = kg_throughput(spark, n_pages, pages_dir, repeats=2)
    out["cpus"] = int(cpus)
    print("KGCHILD " + json.dumps(out))
    spark.stop()


def run_scaling(n_pages: int, repeats: int = 3, levels: tuple[str, str] = ("4", "16")) -> None:
    """Interleaved best-of-N per level: the sandbox host is shared and single
    runs vary by up to 2x; the per-level best approximates uncontended
    capacity, which is what the N->4N criterion is about.

    Each child is pinned to exactly N CPUs with taskset: in local[N] a Python
    UDF stage can otherwise run N JVM task threads + N python workers
    concurrently and silently borrow >N host CPUs, inflating the small
    config's throughput and corrupting the N->4N ratio (this is what a real
    N-core executor container would enforce via cgroups)."""
    import shutil
    import tempfile

    small, large = levels
    factor = int(large) / int(small)
    pages_dir = tempfile.mkdtemp(prefix="kg_scaling_pages_")
    have_taskset = shutil.which("taskset") is not None
    runs: dict[str, list[dict]] = {small: [], large: []}
    for _ in range(repeats):
        for cpus in (small, large):
            pin = (
                ["taskset", "-c", f"0-{int(cpus) - 1}"]
                if have_taskset and cpus.isdigit()
                else []
            )
            proc = subprocess.run(
                pin
                + [
                    sys.executable,
                    os.path.abspath(__file__),
                    "--kg-child",
                    "--cpus",
                    cpus,
                    "--n-pages",
                    str(n_pages),
                    "--pages-dir",
                    pages_dir,
                ],
                capture_output=True,
                text=True,
                check=False,
            )
            line = next(
                (ln for ln in proc.stdout.splitlines() if ln.startswith("KGCHILD ")),
                None,
            )
            if line is None:
                sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-2000:])
                raise RuntimeError(f"child failed at cpus={cpus}")
            runs[cpus].append(json.loads(line[len("KGCHILD "):]))
    results = {
        c: max(rs, key=lambda r: r["triples_per_sec"]) for c, rs in runs.items()
    }
    all_runs = {
        c: [r["triples_per_sec"] for r in rs] for c, rs in runs.items()
    }

    thr_s = results[small]["triples_per_sec"]
    thr_l = results[large]["triples_per_sec"]
    eff = round((thr_l / thr_s) / factor, 3)
    # same-boot hardware control: boot-to-boot this sandbox's low-core
    # memory bandwidth varies ~2x, which silently moves the ceiling a
    # bandwidth-bound job can score; every scaling record carries the
    # STREAM-triad control measured on the same boot so the eff number is
    # interpretable later (BENCH_SCALING.md "boot-variance note")
    bw_eff = None
    bw = {}
    try:
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "dev"))
        from bandwidth_control import run as bw_run  # noqa: PLC0415

        for lv in (int(small), int(large)):
            bw[lv] = max(bw_run(lv) for _ in range(2))
        bw_eff = round((bw[int(large)] / bw[int(small)]) / factor, 3)
    except Exception as e:  # noqa: BLE001 — control is advisory, never fatal
        sys.stderr.write(f"bandwidth control skipped: {e}\n")
    summary = {
        "metric": f"kg_scaling_efficiency_{small}_to_{large}_cores",
        "value": eff,
        "unit": "ratio",
        "all_runs_triples_per_sec": all_runs,
        "queries": {
            f"kg_pipeline_local{small}": results[small]["sec"],
            f"kg_pipeline_local{large}": results[large]["sec"],
        },
        "sf": n_pages,
        "throughput_triples_per_sec": {f"local{small}": thr_s, f"local{large}": thr_l},
        "throughput_pages_per_sec": {
            f"local{small}": results[small]["pages_per_sec"],
            f"local{large}": results[large]["pages_per_sec"],
        },
        "bandwidth_ctrl_gib_s": bw,
        "bandwidth_ctrl_eff": bw_eff,
    }
    print(json.dumps(summary))
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALING.md"), "a") as f:
        f.write(
            f"\n## scaling run: {n_pages} pages, local[{small}] vs local[{large}]"
            f" (best of {repeats}, interleaved)\n\n"
            f"| level | wall s | pages/s | triples/s | all runs (triples/s) |\n"
            f"|---|---|---|---|---|\n"
            f"| local[{small}] | {results[small]['sec']} | {results[small]['pages_per_sec']} | {thr_s} | {all_runs[small]} |\n"
            f"| local[{large}] | {results[large]['sec']} | {results[large]['pages_per_sec']} | {thr_l} | {all_runs[large]} |\n\n"
            f"scaling efficiency (thr_{large}/thr_{small})/{factor:.0f} = **{eff}** "
            f"(target >= 0.8 per BASELINE.json north_rule proxy)\n"
            + (
                f"same-boot STREAM-triad control: {bw} GiB/s aggregate, "
                f"bandwidth-bound scaling ceiling **{bw_eff}**\n"
                if bw_eff is not None
                else ""
            )
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--kg-child", action="store_true")
    ap.add_argument("--cpus", default="32")
    ap.add_argument("--n-pages", type=int, default=KG_BENCH_PAGES)
    ap.add_argument("--pages-dir", default=None)
    ap.add_argument(
        "--levels",
        default="4,16",
        help="small,large parallelism pair for --scaling (e.g. 4,16)",
    )
    args = ap.parse_args()
    if args.kg_child:
        run_kg_child(args.cpus, args.n_pages, args.pages_dir)
    elif args.scaling:
        run_scaling(args.n_pages, levels=tuple(args.levels.split(",")))
    else:
        run_headline()


if __name__ == "__main__":
    main()
