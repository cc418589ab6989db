#!/usr/bin/env python3
"""Benchmark of the paper's streaming pipeline and a registry query mix.

Usage (from the repository root):

    python3 perfbench/run.py --workload stream_hot_keys --seed 1 --seconds 8 --trace 0

Each run, in one Spark session built by ``session.get_spark`` with
``local[nproc]``:

1. set-up (``setup_s``): session start; seeded event generation and
   packing into message files; writing the converged state of a history of
   earlier events into the sink's table; a warm-up pass over the workload's
   half of the registry query mix;
2. the stream: a closed-loop replay through
   ``streaming.pipeline.streaming_flagship``, one message file of 24,000
   events per micro-batch, merging into that table. The first
   ``WARMUP_BATCHES`` micro-batches are warm-up (counted in ``setup_s``);
   the ``--seconds`` micro-batches after them are measured;
3. three measured passes over the same registry queries, on a copy of the
   engine's sf0.01 test tables: one before the stream, one right after it
   and one after the stream's output check. Each pass times construction,
   then execution that collects the result (the last pass's result goes to
   the oracle check). Each query's time is the median of the three;
4. outside the timed region: the output checks (stream end state against
   the batch flagship, events = 3 x messages, every micro-batch committed,
   each query against its DuckDB oracle).

The workloads differ in the stream's key space and in which half of the
query mix they run. ``--trace 1`` runs the same work with per-layer spans and
counters, adds a downstream read of the sink's converged state (a full scan
plus a key-set lookup, median of nine reads), and prints the per-layer
metrics instead of the end-to-end ones.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name -> value and unit, as ``BENCHMARK.json``
declares them). The line before it records per-query numbers, the check
details, the effective Spark conf and the ambient load.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# workload -> (stream key space, registry half)
WORKLOADS = {
    # keys drawn from 1,500 users, as in the sf0.1 events table
    "stream_hot_keys": (1_500, "graph"),
    # keys drawn from 2^40 values: practically every key is new
    "stream_growing_state": (2**40, "docs"),
}
EVENTS_PER_BATCH = 24_000
# Events the sink's table already holds when the stream starts (~58k keys
# with unique keys, 1,500 with hot keys); a multiple of 3, so that message
# packing lines up with the batches.
HISTORY_EVENTS = 72_000
# Micro-batches replayed before the measured ones, while the JVM compiles
# the per-trigger code paths.
WARMUP_BATCHES = 2
BATCHES_PER_SECOND = 1.0
SETUP_PHASES = ("session", "stream_prepare", "state_seed", "registry_warmup", "stream_warmup")


def _declared(kind: str) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def run(workload: str, seed: int, seconds: int, trace: bool, n_cores: int) -> dict:
    import batch
    import stream
    from common import (
        Ambient,
        effective_conf,
        jvm_peak_rss_mb,
        start_session,
        stop_session,
    )

    key_space, half = WORKLOADS[workload]
    ambient = Ambient()
    work = os.path.join(ROOT, ".perfbench", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    n_batches = WARMUP_BATCHES + max(4, round(BATCHES_PER_SECOND * seconds))
    phases: dict[str, float] = {}
    phase_steal: dict[str, float] = {}
    since = [Ambient()]

    def phase(name: str, t0: float) -> float:
        now = time.perf_counter()
        phases[name] = now - t0
        phase_steal[name] = since[0].sample().get("cpu_steal_frac", 0.0)
        since[0] = Ambient()
        return now

    spark = None
    try:
        spark, session_s = start_session(n_cores)
        t0 = phase("session", time.perf_counter() - session_s)

        # -- set-up of the stream ---------------------------------------------
        sink, ckpt = os.path.join(work, "sink"), os.path.join(work, "ckpt")
        inp = stream.prepare(
            spark, seed, key_space, n_batches, EVENTS_PER_BATCH, work, HISTORY_EVENTS
        )
        t0 = phase("stream_prepare", t0)
        stream.seed_state(spark, inp, sink)
        t0 = phase("state_seed", t0)
        queries = batch.query_order(half)
        batch.run_pass(spark, queries, counts=False, tag="warmup")
        t0 = phase("registry_warmup", t0)

        # -- measured: registry passes before and after the stream ----------
        first, _ = batch.run_pass(spark, queries, counts=trace, tag="first")
        t0 = phase("registry_first", t0)
        sq = stream.run_query(spark, inp["messages"], sink, ckpt, trace)
        t0 = phase("stream", t0)
        phases["stream_warmup"] = sq["wall_s"] - stream.measured_wall_s(sq, WARMUP_BATCHES)
        setup_s = sum(phases[p] for p in SETUP_PHASES)
        second, _ = batch.run_pass(spark, queries, counts=trace, tag="second")
        t0 = phase("registry_second", t0)

        # -- checks, and (traced) the downstream read of the sink's state ----
        sc = stream.check(spark, inp, sq, n_batches, WARMUP_BATCHES)
        t0 = phase("stream_check", t0)
        reads = []
        if trace:
            reads = stream.state_reads(spark, sq["sink_dir"], stream.sample_keys(seed, inp))
            t0 = phase("state_read", t0)
        # the third measured pass runs a few seconds after the second, so
        # that a short burst of host load does not reach the median of both
        third, results = batch.run_pass(spark, queries, counts=trace, tag="third")
        t0 = phase("registry_third", t0)
        timings = batch.median_timings([first, second, third])
        oc = batch.oracle_check(results)
        phase("oracle_check", t0)
        rss = jvm_peak_rss_mb(spark)
        conf = effective_conf(spark)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed_queries = {q: why for q, why in oc.items() if why}
    failed = (
        sc["uncommitted_batches"]
        + (sc["mismatched_rows"] > 0)
        + (not sc["events_ok"])
        + len(failed_queries)
    )
    attempted = n_batches + 2 + len(oc)

    if trace:
        metrics = {"session.get_spark_s": session_s, "session.jvm_peak_rss_mb": rss}
        metrics.update(stream.layer_metrics(sq, WARMUP_BATCHES))
        metrics["streaming.sinks.state_rows"] = sc["state_rows"]
        metrics["streaming.sinks.state_read_s"] = statistics.median(reads)
        metrics.update(batch.layer_metrics(half, timings))
        # end-to-end numbers of the traced run, to set against an untraced
        # run's: the difference is the tracing overhead
        for k, v in stream.end_to_end(sq, sc["measured_events"], WARMUP_BATCHES).items():
            metrics[f"traced.{k}"] = v
        for k, v in batch.end_to_end(half, timings).items():
            metrics[f"traced.{k}"] = v
        metrics = {k: {"value": metrics[k], "unit": u} for k, u in _declared("per_layer").items()}
    else:
        values = {"setup_s": setup_s}
        values.update(stream.end_to_end(sq, sc["measured_events"], WARMUP_BATCHES))
        values.update(batch.end_to_end(half, timings))
        metrics = {k: {"value": values[k], "unit": u} for k, u in _declared("end_to_end").items()}

    info = {
        "workload": workload,
        "seed": seed,
        "cores": n_cores,
        "micro_batches": n_batches,
        "warmup_batches": WARMUP_BATCHES,
        "events": sc["events"],
        "messages": sc["messages"],
        "stream_check": sc,
        "registry_half": half,
        "registry_queries": timings,
        "failed_queries": failed_queries,
        "phases_s": phases,
        "state_reads_s": reads,
        "trigger_ms": [b["durationMs"]["triggerExecution"] for b in sq["batches"]],
        "jvm_peak_rss_mb": rss,
        # traced: (state rows before the epoch, sink seconds) per epoch, the
        # points the merge slope is fitted to
        "sink_epochs": [(e["state_rows_before"], e["merge_s"]) for e in sq["epochs"] or []],
        "spark_conf": conf,
        "ambient": ambient.sample(),
        # share of CPU time the host took from this machine during each phase
        "phase_steal_frac": phase_steal,
    }
    print(json.dumps({"info": info}))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": int(failed),
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--cores", type=int, default=None, help="local[N] (default: nproc); for reference runs"
    )
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "structured_streaming_cassandra_sink_spark")):
        print(f"no engine package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from common import cores

    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.cores or cores())
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
