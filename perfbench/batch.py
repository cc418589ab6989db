"""A fixed mix of registry queries (``plans.registry`` -> ``operators.*``).

Two groups:

* ``driver_sync``: iterative operators whose DataFrame construction runs
  many eager driver-side jobs (one or more per round);
* ``single_pass``: queries that run a few jobs, mostly the final plan.

Each query is timed as construction (calling the registered function) plus
execution (collecting the result, which the oracle check then compares),
inside its own job group so that ``statusTracker`` can count the jobs,
stages and tasks it ran. A run makes one untimed warm-up pass and three
measured passes, and reports per query the median of the measured ones.
"""

from __future__ import annotations

import importlib.util
import os
import statistics
import time

# The mix is split in two halves; each workload runs one. "docs" reads
# documents and embeddings, "graph" the co-purchase graph and events. Each
# half has both groups. A half runs four times in a run (a warm-up pass and
# three measured ones), so it is kept to what fits: three or four queries.
HALVES = {
    "docs": {
        "driver_sync": ["kmeans_lloyd"],
        "single_pass": ["tfidf_top_terms", "tokenize_to_ids"],
    },
    "graph": {
        "driver_sync": ["graph_sssp_weighted", "graph_kcore"],
        "single_pass": ["flagship_latest_event_per_user", "exact_percentiles"],
    },
}
# A copy of the engine's sf0.01 test tables (TPC-H-style star schema,
# events, documents, embeddings), read-only. At this size the iterative
# queries are bound by driver round-trips, not data, which is what the
# registry part measures.
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def registry():
    from structured_streaming_cassandra_sink_spark.plans import registry as reg

    reg.load_all()
    return reg


def query_order(half: str) -> list[str]:
    """The half's queries in a fixed order, the same on every run."""
    return [q for qs in HALVES[half].values() for q in qs]


def run_pass(spark, names: list[str], counts: bool, tag: str):
    """Time each query's construction and its execution, which collects the
    result (kept for the oracle check). With ``counts`` also count the jobs,
    stages and tasks each query ran, in a job group named after the query
    and ``tag`` (one tag per pass).

    Returns ``(timings, results)``."""
    reg = registry()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    timings, results = {}, {}
    try:
        for name in names:
            group = f"{name}/{tag}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            df = reg.QUERIES[name](spark, SF_DIR)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
            results[name] = (df.columns, df.schema, [tuple(r) for r in rows])
            rec = {"build_s": t1 - t0, "exec_s": t2 - t1}
            if counts:
                jobs = tracker.getJobIdsForGroup(group)
                stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
                infos = [tracker.getStageInfo(s) for s in stages]
                rec.update(
                    jobs=len(jobs),
                    stages=len(stages),
                    tasks=sum(i.numTasks for i in infos if i is not None),
                )
            timings[name] = rec
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return timings, results


def median_timings(passes: list[dict]) -> dict:
    """Per query, the median over passes of construction and of execution
    time; the counts are those of the first pass."""
    out = {}
    for q, rec in passes[0].items():
        out[q] = dict(rec)
        for k in ("build_s", "exec_s"):
            out[q][k] = statistics.median(p[q][k] for p in passes)
    return out


def _check_module():
    """``tools/check.py`` of the checkout: its type-class mapping and
    order-insensitive, type-tagged value comparison are the oracle
    contract this benchmark checks against."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = os.path.join(root, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("repo_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_check(results: dict) -> dict[str, str | None]:
    """Compare each collected result with its DuckDB oracle the way
    ``tools/check.py`` does. Returns ``{query: None | failure message}``."""
    import duckdb

    chk = _check_module()
    oracles = registry().ORACLES
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    verdict: dict[str, str | None] = {}
    for name, (scols, schema, srows) in results.items():
        rel = con.sql(oracles[name])
        ocols = list(rel.columns)
        otypes = [chk._duck_class(t) for t in rel.types]
        orows = rel.fetchall()
        stypes = [chk._spark_class(f.dataType) for f in schema.fields]
        verdict[name] = None
        if sorted(zip(scols, stypes)) != sorted(zip(ocols, otypes)):
            verdict[name] = "column names or type classes differ"
        elif len(srows) != len(orows):
            verdict[name] = f"rowcount spark={len(srows)} oracle={len(orows)}"
        elif chk._rows_to_set(srows, scols) != chk._rows_to_set(orows, ocols):
            verdict[name] = "values differ"
    return verdict


def end_to_end(half: str, timings: dict) -> dict:
    """Group totals of construction + execution."""
    return {
        f"{g}_s": sum(timings[q]["build_s"] + timings[q]["exec_s"] for q in qs)
        for g, qs in HALVES[half].items()
    }


def layer_metrics(half: str, timings: dict) -> dict:
    """Per-group totals of a traced pass: construction and execution time,
    jobs, stages and tasks."""
    return {
        f"{g}.{k}": sum(timings[q][k] for q in qs)
        for g, qs in HALVES[half].items()
        for k in ("build_s", "exec_s", "jobs", "stages", "tasks")
    }
