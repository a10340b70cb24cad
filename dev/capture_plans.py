"""Regenerate PLANS.md: physical-plan trees for the flagship operators."""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def tree_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    txt = buf.getvalue()
    tree = txt.split("\n\n")[0]
    details = "\n".join(
        line
        for line in txt.splitlines()
        if re.match(r"(PushedFilters|ReadSchema)", line.strip())
    )
    return tree + ("\n\n[scan detail]\n" + details if details else "")


def main() -> None:
    from i2o_transform_spark.datagen import generate
    from i2o_transform_spark.plans import kg
    from i2o_transform_spark.queries import QUERIES
    from i2o_transform_spark.session import get_spark

    spark = get_spark("plans", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.01"
    sections = []

    sections.append((
        "j1_dict_broadcast_join — the dictionary join (fact -> vocab)",
        tree_of(QUERIES["j1_dict_broadcast_join"](spark, sf)),
        "`BroadcastHashJoin` — zero shuffle on the fact side; "
        "`PushedFilters`/`ReadSchema` show predicate pushdown and column "
        "pruning at the parquet scan; partial `HashAggregate` above the "
        "single exchange = map-side combine; everything inside "
        "`WholeStageCodegen` spans.",
    ))
    sections.append((
        "q1_pricing_summary — scan-heavy aggregation",
        tree_of(QUERIES["q1_pricing_summary"](spark, sf)),
        "One scan, one exchange; shipdate filter pushed to the reader; "
        "decimal sums stay in codegen.",
    ))
    sections.append((
        "w1_interval_merge — era/interval-merge window chain",
        tree_of(QUERIES["w1_interval_merge"](spark, sf)),
        "The reference's flagship operator (MSSQL/OMOPLoader.sql:1508-1565): "
        "one exchange on (entity, concept); running-max and row_number share "
        "one `Window` sort.",
    ))

    # KG pipeline over a real parquet scan (the bench/runner shape)
    d = generate(spark, 1000)
    pdir = os.path.join(tempfile.mkdtemp(prefix="plans_pages_"), "pages")
    d["pages"].write.mode("overwrite").parquet(pdir)
    pages = spark.read.parquet(pdir)
    cw = kg.compile_crosswalk(
        d["surface_vocab"], d["concept"], d["concept_rel"]
    ).persist()
    cm = kg.canonicalize_concepts(cw).persist()
    cw.count(), cm.count()
    asm = kg.extract_and_assemble(
        pages.where(F.col("lang") == "en"), cw, d["modifier_config"]
    )
    triples = kg.link_and_emit(asm, cw, cm)
    t = tree_of(triples)
    # keep the main data-path spine; the broadcast build sides re-print the
    # whole (cached) vocabulary-compile lineage, which isn't the point here
    lines = t.splitlines()
    cut = next(
        (i for i, ln in enumerate(lines) if "BroadcastExchange" in ln),
        len(lines),
    )
    spine = "\n".join(lines[:cut]) + (
        "\n   [... broadcast build sides: cached vocabulary-compile lineage"
        " (InMemoryTableScan), elided ...]"
        if cut < len(lines)
        else ""
    )
    detail = t.split("[scan detail]")
    if len(detail) > 1:
        spine += "\n\n[scan detail]\n" + detail[1].strip()
    n_ex = len(re.findall(r"\bExchange\b", "\n".join(lines[:cut])))
    t = spine
    sections.append((
        f"KG pipeline (extract_and_assemble -> link_and_emit) — "
        f"{n_ex} exchange(s) total",
        t,
        "The whole pages -> triples pipeline: ONE `MapInPandas` (the fused "
        "Arrow stage: html -> text -> sentences -> assembled rows), three "
        "`BroadcastHashJoin`s for linking, and exactly one `Exchange` — the "
        "triple-dedup as `HashAggregate` with map-side partial combine (the "
        "(sent_idx, qualifier) pack keeps the aggregation buffer "
        "hash-aggregatable; no sort window anywhere).  The lang filter sits "
        "in the scan's PushedFilters.",
    ))
    sections.append((
        "j14_asof_join — as-of join as union + window forward-fill",
        tree_of(QUERIES["j14_asof_join"](spark, sf)),
        "pandas merge_asof semantics with NO range join: both sides union "
        "into one frame, ONE `Exchange` (the window partition on the key), "
        "one `Window` sort carrying the running `last(payload)` fill — the "
        "naive form (the DuckDB oracle) fans out O(left x matches) rows "
        "through a theta join before discarding all but one per row.",
    ))
    sections.append((
        "dd_minhash_lsh — band-bucket join (never all-pairs)",
        tree_of(QUERIES["dd_minhash_lsh"](spark, sf)),
        "LSH band explode keeps candidate generation linear; the bucket "
        "equi-join shuffles only candidates — the 10^12-doc-feasible shape.",
    ))

    sections.append((
        "q3_shipping_priority — TPC-H Q3 shape (selective dim -> fact top-k)",
        tree_of(QUERIES["q3_shipping_priority"](spark, sf)),
        "The segment-filtered customer side broadcasts; both date "
        "predicates sit in the scans' PushedFilters; the lineitem/orders "
        "join is the single exchange pair and the top-10 is "
        "`TakeOrderedAndProject` (per-partition partial top-k), never a "
        "global sort.",
    ))
    sections.append((
        "ta_doc_chunking — zero-shuffle training-chunk fan-out",
        tree_of(QUERIES["ta_doc_chunking"](spark, sf)),
        "Tokenize -> `sequence` -> `explode` -> `slice`: pure narrow "
        "pipeline, zero exchanges — output fan-out (~tokens/stride rows "
        "per doc) happens inside the scan's codegen stage.",
    ))
    sections.append((
        "ta_nb_classifier — in-pipeline classifier train + broadcast inference",
        tree_of(QUERIES["ta_nb_classifier"](spark, sf)),
        "Training is the one token-keyed exchange (map-side-combined "
        "agg); the learned vocab-sized weight table comes back as a "
        "`BroadcastHashJoin`, so scoring the corpus adds no shuffle "
        "beyond the per-doc rollup.",
    ))
    sections.append((
        "dd_prefix_jaccard — lossless prefix-filter candidate generation",
        tree_of(QUERIES["dd_prefix_jaccard"](spark, sf)),
        "AllPairs/PPJoin: shingles ordered rarest-first, only each doc's "
        "|x|-ceil(t|x|)+1 prefix is indexed — the hottest (stopword) "
        "shingles are never joined, and unlike the df-cut heuristic no "
        "pair above threshold can be missed; candidates verified with one "
        "array_intersect each.",
    ))

    sections.append((
        "dd_line_dedup — CCNet line-level dedup (election + reassembly)",
        tree_of(QUERIES["dd_line_dedup"](spark, sf)),
        "Lines explode map-side and key on md5(line); the first-occurrence "
        "election is a map-side-combinable min-struct `HashAggregate` (a "
        "globally hot boilerplate line reduces before its exchange — no "
        "skew blow-up), the join back rides the same key (AQE picks "
        "broadcast here, skew-split SMJ at scale), and reassembly is one "
        "`ObjectHashAggregate` on doc_id.  Line text crosses an exchange "
        "exactly once.",
    ))
    sections.append((
        "td_pipeline — composed training-data funnel (5 stages, one plan)",
        tree_of(QUERIES["td_pipeline"](spark, sf)),
        "langid/quality/sampling are pure column expressions fused into the "
        "scan's codegen stage (stages 1-3 and 5 add ZERO exchanges); the "
        "only exchanges in the whole funnel belong to the line-dedup "
        "election and reassembly.  Each funnel row is a partial-aggregated "
        "scalar agg — the per-stage counts cost one pass each over an "
        "already-narrow plan (the runner materializes stage tables instead "
        "of recomputing; this query is the one-shot audit form).",
    ))
    sections.append((
        "kg_anchor_links — link-graph edge extraction",
        tree_of(QUERIES["kg_anchor_links"](spark, sf)),
        "regexp_extract_all + arrays_zip + explode run inside the scan's "
        "codegen span (no UDF, anchor payloads never shuffle); "
        "normalize_url is pure string expressions; the single exchange is "
        "the (src_host, dst_host) aggregate with map-side partial combine.",
    ))
    sections.append((
        "dd_semantic_dedup — SemDeDup cell-blocked survivor election",
        tree_of(QUERIES["dd_semantic_dedup"](spark, sf)),
        "The quadratic compare is confined to a per-cell self-join "
        "(`_cell` equi-join, exact cosine on candidates only); the "
        "dropped-id set returns as a broadcast LeftAnti join.  Cell "
        "assignment is one `ArrowEvalPython` matmul per batch — the only "
        "Python in the plan, map-side, zero state.",
    ))

    # embedding entity-link scoring: the disambiguating link path
    d2 = generate(spark, 1000, with_ambiguity=True)
    cw2 = kg.compile_crosswalk(
        d2["surface_vocab"], d2["concept"], d2["concept_rel"]
    ).persist()
    cm2 = kg.canonicalize_concepts(cw2).persist()
    cw2.count(), cm2.count()
    pdir2 = os.path.join(tempfile.mkdtemp(prefix="plans_pages_amb_"), "pages")
    d2["pages"].write.mode("overwrite").parquet(pdir2)
    pages2 = spark.read.parquet(pdir2)
    asm2 = kg.extract_and_assemble(
        pages2.where(F.col("lang") == "en"), cw2, d2["modifier_config"],
        entity_candidates=kg.entity_candidate_frame(
            cw2, cm2, d2["entity_embeddings"]
        ),
    )
    tri2 = kg.link_and_emit(asm2, cw2, cm2)
    t2 = tree_of(tri2)
    lines2 = t2.splitlines()
    cut2 = next(
        (i for i, ln in enumerate(lines2) if "BroadcastExchange" in ln),
        len(lines2),
    )
    spine2 = "\n".join(lines2[:cut2]) + (
        "\n   [... broadcast build sides elided ...]" if cut2 < len(lines2) else ""
    )
    n_ex2 = len(re.findall(r"\bExchange\b", "\n".join(lines2[:cut2])))
    sections.append((
        f"KG pipeline with embedding entity-link scoring — "
        f"{n_ex2} exchange(s) on the data path",
        spine2,
        "extract_and_assemble(entity_candidates=...): the subject/object "
        "argmax-cosine elections run inside the one assembly `MapInPandas` "
        "against a broadcast variable of per-surface candidate matrices "
        "(not a plan node), so the sentence context matrix never becomes a "
        "column; link_and_emit then joins only the broadcast predicate "
        "crosswalk — disambiguation adds ZERO exchanges, and the single "
        "data-path exchange is still the triple-dedup hash aggregate.",
    ))

    sections.append((
        "el_fuzzy_link — SymSpell deletion-blocked fuzzy linking",
        tree_of(QUERIES["el_fuzzy_link"](spark, sf)),
        "Typo-tolerant linking with NO cross join: mention deletion-variants "
        "are generated in codegen (`sequence`/`transform` -> `explode`), the "
        "exploded dictionary ships as a `BroadcastExchange`, levenshtein "
        "verification is a codegen'd filter, and the ONLY exchange is the "
        "per-mention election — a packed-long `min` (dist*2^48+entity_id) "
        "kept as a map-side-combining `HashAggregate`; a struct-min here "
        "would force a SortAggregate.  The winner's name comes back via a "
        "second broadcast join (free).",
    ))
    sections.append((
        "td_truth_discovery — 2-round source-reliability weighted vote",
        tree_of(QUERIES["td_truth_discovery"](spark, sf)),
        "The claims-scale tally (`groupBy(item, value)`) is a partial-"
        "combining `HashAggregate` pair each round; the per-item argmax is "
        "a struct-min `SortAggregate` over the TALLY frame only (one row "
        "per distinct (item, value) — generic value types rule out the "
        "packed-long trick, see operators/truth.py).  The learned per-"
        "source weight table re-enters each round through a "
        "`BroadcastHashJoin`, so round count never multiplies shuffle "
        "width — only depth.  No windows anywhere.",
    ))

    sections.append((
        "kg_sparql_subquery — { SELECT top-3 } inside a pattern "
        "(aggregate-then-join)",
        tree_of(QUERIES["kg_sparql_subquery"](spark, sf)),
        "The inner SELECT plans as partial+final `HashAggregate` under a "
        "`TakeOrderedAndProject` (per-partition top-(k) heaps, no global "
        "sort), and its 3-row result enters the enclosing pattern through "
        "a `BroadcastExchange` + `BroadcastHashJoin` — the store-side "
        "scan never shuffles.  This is the plan a hand-written two-pass "
        "job would produce, obtained from one query string.",
    ))
    sections.append((
        "kg_fd_mine — 3 FD candidates in ONE pass",
        tree_of(QUERIES["kg_fd_mine"](spark, sf)),
        "One scan of orders, a constant-fan-out `Generate` (explode of "
        "the 3 candidate structs), then the 3-level aggregation cascade — "
        "each level a partial+final `HashAggregate` pair, each strictly "
        "smaller than the last; the only data-scale exchange is keyed on "
        "(pair, lhs).",
    ))

    sections.append((
        "sd_unified_fused — the trio in ONE Arrow pass",
        tree_of(QUERIES["sd_unified_fused"](spark, sf)),
        "A single `MapInPandas` node over the synthesized crawl frame — "
        "the html column crosses the JVM->Python boundary once for all "
        "three structured-data syntaxes (the composable three-pass union "
        "plans three of these and ships the pages thrice; "
        "BENCH_SCALING.md quantifies 0.63 -> 0.83 scaling efficiency "
        "from the fusion).  No Exchange anywhere: extraction "
        "parallelism is the crawl's partitioning.",
    ))
    sections.append((
        "kg_dict_encode — dense term ids with NO single-partition stage",
        tree_of(QUERIES["kg_dict_encode"](spark, sf)),
        "The naive ROW_NUMBER-over-everything formulation would plan a "
        "`Window` over `SinglePartition` — one task owning the whole "
        "vocabulary.  Here: range `Exchange`, the localCheckpoint scan, "
        "per-partition counts collected driver-side, and a `Window` "
        "partitioned by `_pid` (a real hash exchange).  The string "
        "\"SinglePartition\" does not appear (pinned by "
        "tests/test_dictenc.py).",
    ))
    sections.append((
        "rb_robots_filter — politeness as one broadcast + one aggregate",
        tree_of(QUERIES["rb_robots_filter"](spark, sf)),
        "Rules ride a `BroadcastExchange` into a `BroadcastHashJoin` "
        "against the frontier (LeftOuter), and the longest-match/"
        "allow-wins election is a single partial+final `HashAggregate` "
        "over a packed struct max — the frontier is scanned once and "
        "shuffled only on its own key for the election.",
    ))

    sections.append((
        "kg_partition_plan — layout evaluation as hash aggs only",
        tree_of(QUERIES["kg_partition_plan"](spark, sf)),
        "Per strategy: the bucket assignment is a pure projection over "
        "the edge scan (md5-nibble arithmetic inside codegen), loads and "
        "replicas are partial+final `HashAggregate` pairs, and the two "
        "1-row stat frames meet in a `BroadcastNestedLoopJoin` that "
        "moves two rows.  The hybrid strategy's degree profile joins "
        "back as one more hash agg + equi-join — no window, no "
        "iteration, no collect anywhere in the tree.",
    ))
    sections.append((
        "kg_bgp_maintain — delta-anchored view maintenance",
        tree_of(QUERIES["kg_bgp_maintain"](spark, sf)),
        "Every join chain roots at the DELTA leg (insert or delete "
        "bucket of the edge scan), so AQE plans the store probes as "
        "broadcasts from the small side; the view update lands as a "
        "LeftAnti on the view's own key plus a distinct union — the "
        "full store is never re-joined against itself.",
    ))
    sections.append((
        "wt_extract_tables — JVM-only web-table walk",
        tree_of(QUERIES["wt_extract_tables"](spark, sf)),
        "The page->table->row->cell walk is `Generate` (posexplode) "
        "nodes stacked over one scan with `regexp_extract_all` evaluated "
        "in codegen — the html column never reaches Python and the only "
        "exchange in the tree belongs to the fixture's own groupBy (real "
        "crawl input arrives pre-formed, making the walk exchange-free).",
    ))

    out = [
        "# PLANS — physical-plan evidence for flagship operators\n\n"
        "Operator trees from `.explain(\"formatted\")` at sf0.01 (shape is\n"
        "scale-invariant), plus each scan's PushedFilters/ReadSchema lines.\n"
        "Regenerate: `python dev/capture_plans.py`.\n"
    ]
    for title, plan, note in sections:
        out.append(f"## {title}\n\n{note}\n\n```\n{plan.strip()}\n```\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    plans_path = os.path.join(root, "PLANS.md")
    # preserve hand-audited sections below the marker across regenerations
    marker = "## Session-B KG operators"
    tail = ""
    if os.path.exists(plans_path):
        cur = open(plans_path).read()
        if marker in cur:
            tail = "\n" + cur[cur.index(marker) - 3:]
    with open(plans_path, "w") as f:
        f.write("\n".join(out) + tail)
    print("WROTE PLANS.md; KG exchanges:", n_ex)
    spark.stop()


if __name__ == "__main__":
    main()
