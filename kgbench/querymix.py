"""The read-only SPARQL mix over a committed build, and its DuckDB oracle.

The store is a reified view of the ``triples`` and ``nodes`` checkpoints,
read back from disk for every query: each triple row is a statement node
``t<triple_id>`` with ``subj`` / ``pred`` / ``obj`` / ``year`` edges, and
each node has a ``name`` edge.  Ids are the canonical concept ids as
strings.

Four query classes, one query each except ``aggregate``, which has two
forms.  Each pass over the mix draws its constants from a generator seeded
with the workload seed, so a run's passes cover several constants:

* ``lookup``    facts about a named entity other than the hot one;
* ``aggregate`` per-predicate counts, and the top-5 objects of a predicate;
* ``filter``    distinct (subject, object) pairs in a qualifier-year range;
* ``path``      two-hop paths through the hot entity (30% of subjects,
  ``datagen.HOT_SUBJ_PCT``): a join whose key is a single value.

Each query has an independent DuckDB formulation over the same parquet
files; a result that differs from it counts as a failed query.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass


@dataclass(frozen=True)
class Query:
    cls: str
    sparql: str
    sql: str


def make_mix(rng: random.Random) -> list[Query]:
    """Five queries: one of each class, two of ``aggregate``; constants
    drawn from ``rng``."""
    from i2o_transform_spark.datagen import (
        CANON_BASE,
        N_ORG,
        N_PRED,
        PRED_BASE,
        build_vocab_spec,
    )

    names = {row[0]: row[6] for row in build_vocab_spec().concept_rows}
    hot = names[CANON_BASE]  # datagen plants surface 0 as the hot subject
    mix = []
    entity = names[CANON_BASE + rng.randrange(1, N_ORG)]
    mix.append(Query(
        "lookup",
        f"""SELECT ?p ?o (COUNT(*) AS ?n) WHERE {{
              ?e name "{entity}" . ?t subj ?e . ?t pred ?p . ?t obj ?o
            }} GROUP BY ?p ?o""",
        f"""SELECT pred_id::VARCHAR, obj_id::VARCHAR, count(*)
            FROM triples JOIN nodes ON subj_id = node_id
            WHERE name = '{entity}' GROUP BY ALL""",
    ))
    mix.append(Query(
        "aggregate",
        """SELECT ?p (COUNT(*) AS ?n) WHERE { ?t pred ?p } GROUP BY ?p""",
        "SELECT pred_id::VARCHAR, count(*) FROM triples GROUP BY ALL",
    ))
    p_top = PRED_BASE + rng.randrange(N_PRED)
    mix.append(Query(
        "aggregate",
        f"""SELECT ?o (COUNT(*) AS ?n) WHERE {{
              ?t pred "{p_top}" . ?t obj ?o
            }} GROUP BY ?o ORDER BY DESC(?n) LIMIT 5""",
        f"""SELECT obj_id::VARCHAR AS o, count(*) AS n FROM triples
            WHERE pred_id = {p_top} GROUP BY ALL
            ORDER BY n DESC, o LIMIT 5""",
    ))
    y0 = rng.randrange(1990, 2016)
    y1 = y0 + 4
    mix.append(Query(
        "filter",
        f"""SELECT DISTINCT ?s ?o WHERE {{
              ?t year ?y . ?t subj ?s . ?t obj ?o .
              FILTER (xsd:integer(?y) >= {y0} && xsd:integer(?y) <= {y1})
            }}""",
        f"""SELECT DISTINCT subj_id::VARCHAR, obj_id::VARCHAR FROM triples
            WHERE qualifier_year BETWEEN {y0} AND {y1}""",
    ))
    p1, p2 = (PRED_BASE + rng.randrange(N_PRED) for _ in range(2))
    mix.append(Query(
        "path",
        f"""SELECT ?a ?b (COUNT(*) AS ?n) WHERE {{
              ?h name "{hot}" .
              ?t1 obj ?h . ?t1 pred "{p1}" . ?t1 subj ?a .
              ?t2 subj ?h . ?t2 pred "{p2}" . ?t2 obj ?b
            }} GROUP BY ?a ?b""",
        f"""SELECT t1.subj_id::VARCHAR, t2.obj_id::VARCHAR, count(*)
            FROM triples t1 JOIN triples t2 ON t1.obj_id = t2.subj_id
            JOIN nodes h ON h.node_id = t1.obj_id
            WHERE h.name = '{hot}' AND t1.pred_id = {p1}
              AND t2.pred_id = {p2}
            GROUP BY ALL""",
    ))
    return mix


def load_store(spark, ckpt: str):
    """Reified (subj, pred, obj) view of the committed triples and nodes."""
    from pyspark.sql import functions as F

    t = spark.read.parquet(os.path.join(ckpt, "triples"))
    n = spark.read.parquet(os.path.join(ckpt, "nodes"))
    stmt = F.concat(F.lit("t"), F.col("triple_id").cast("string")).alias("subj")

    def edge(frame, subj, pred, col):
        return frame.select(subj, F.lit(pred).alias("pred"),
                            F.col(col).cast("string").alias("obj"))

    store = edge(n, F.col("node_id").cast("string").alias("subj"), "name", "name")
    for pred, col in (("subj", "subj_id"), ("pred", "pred_id"),
                      ("obj", "obj_id"), ("year", "qualifier_year")):
        store = store.unionByName(
            edge(t, stmt, pred, col).where(F.col("obj").isNotNull())
        )
    return store


def _canon(rows) -> list[tuple]:
    return sorted(tuple(str(v) for v in r) for r in rows)


@dataclass
class Timing:
    cls: str
    parse_s: float
    plan_s: float
    exec_s: float
    rows: int

    @property
    def latency_s(self) -> float:
        return self.plan_s + self.exec_s


def run_query(spark, ckpt: str, q: Query, trace: bool) -> tuple[Timing, list[tuple]]:
    """One query, from reading the checkpoints to the collected answer.
    ``parse_s`` (the parser alone, traced runs only) is excluded from the
    latency: ``plan_s`` already covers the parse inside ``sparql()``."""
    from i2o_transform_spark.operators.sparql import parse, sparql

    parse_s = 0.0
    if trace:
        t0 = time.perf_counter()
        parse(q.sparql)
        parse_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    df = sparql(load_store(spark, ckpt), q.sparql)
    t1 = time.perf_counter()
    rows = df.collect()
    t2 = time.perf_counter()
    return Timing(q.cls, parse_s, t1 - t0, t2 - t1, len(rows)), _canon(rows)


def duckdb_answers(ckpt: str, queries) -> dict[Query, list[tuple]]:
    """Every one of ``queries`` answered by DuckDB over the same parquet."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        tdir = os.path.join(ckpt, "triples", "**", "*.parquet")
        ndir = os.path.join(ckpt, "nodes", "*.parquet")
        con.execute(f"CREATE VIEW triples AS SELECT * FROM "
                    f"read_parquet('{tdir}', hive_partitioning = true)")
        con.execute(f"CREATE VIEW nodes AS SELECT * FROM read_parquet('{ndir}')")
        return {q: _canon(con.execute(q.sql).fetchall()) for q in set(queries)}
    finally:
        con.close()
