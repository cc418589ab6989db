"""The paper's pipeline, timed: file-mirror source -> parse -> transform ->
upsert sink, driven through ``streaming.pipeline.streaming_flagship``.

Closed loop: every message file is on disk before the query starts, and the
file source takes one file per micro-batch, so each batch starts as soon as
the previous one has committed (a catch-up replay). The first ``warmup``
micro-batches let the JVM compile the per-trigger code paths; the metrics
cover only the micro-batches after them.

The untraced run reads its numbers off the query handle
(``StreamingQueryProgress``). The traced run patches the names
``streaming_flagship`` looks up in ``streaming.pipeline`` so that the parse and
transform entry points run inside the sink, one layer at a time, around the
sink function the pipeline builds. Whatever sink or transform the pipeline
uses, the traced run uses it too.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import time
from collections import Counter
from contextlib import contextmanager
from datetime import datetime

import pyarrow.dataset as pads
import pyarrow.parquet as pq

from common import median, p75, slope
from gen import (
    RECORDS_PER_MESSAGE,
    events_frame,
    generate_events,
    write_events,
    write_message_files,
)

PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
KEY = "user_id"
ORDER = ["ts", "event_id"]


def prepare(spark, seed: int, key_space: int, n_batches: int, events_per_batch: int,
            work_dir: str, history_events: int = 0) -> dict:
    """Generate the events and write them under ``work_dir``.

    ``history.parquet`` holds the first ``history_events`` events: the
    history the sink's table already holds when the stream starts (see
    ``seed_state``). ``replay.parquet`` holds the rest, which are also packed
    into ``n_batches`` message files under ``messages/``. Returns those
    paths and the event counts."""
    if history_events % RECORDS_PER_MESSAGE:
        raise ValueError("history_events must be a multiple of 3")
    events = generate_events(seed, history_events + n_batches * events_per_batch, key_space)
    inp = {
        "history": os.path.join(work_dir, "history.parquet"),
        "replay": os.path.join(work_dir, "replay.parquet"),
        "messages": os.path.join(work_dir, "messages"),
        "history_events": history_events,
        "replay_events": events.num_rows - history_events,
    }
    os.makedirs(work_dir, exist_ok=True)
    write_events(events.slice(0, history_events), inp["history"])
    write_events(events.slice(history_events), inp["replay"])
    shutil.rmtree(inp["messages"], ignore_errors=True)
    counts = write_message_files(
        events_frame(spark, inp["replay"]), inp["messages"], events_per_batch, history_events
    )
    if len(counts) != n_batches:
        raise RuntimeError(f"wrote {len(counts)} message files, expected {n_batches}")
    return inp


def _batch_flagship(spark, *paths: str):
    """``latest_per_key(transform_events(events))``, the batch flagship, with
    ``ts`` typed as the stream carries it."""
    from structured_streaming_cassandra_sink_spark.plans.flagship import (
        latest_per_key,
        transform_events,
    )

    out = latest_per_key(transform_events(events_frame(spark, *paths)), KEY, ORDER)
    return out.withColumn("ts", out["ts"].cast("timestamp"))


# ``read_state``, ``seed_state`` and ``_state_rows`` are the only code that
# knows where the flagship's upsert sink (``parquet_upsert_sink``) keeps its
# table: one parquet dir at the sink path.
def read_state(spark, sink_dir: str):
    return spark.read.parquet(sink_dir)


def _state_rows(sink_dir: str) -> int:
    if not os.path.isdir(sink_dir):
        return 0
    return pads.dataset(sink_dir, format="parquet").count_rows()


def seed_state(spark, inp: dict, sink_dir: str) -> None:
    """Write the converged state of the history where the upsert sink keeps
    its table, in the column order the stream writes, so the stream merges
    into a table that already holds those keys."""
    from structured_streaming_cassandra_sink_spark.plans.flagship import transform_events
    from structured_streaming_cassandra_sink_spark.streaming.sources import (
        parse_message_stream,
    )

    if not inp["history_events"]:
        return
    columns = transform_events(parse_message_stream(spark.read.parquet(inp["messages"]))).columns
    _batch_flagship(spark, inp["history"]).select(*columns).write.parquet(sink_dir)


def _parquet_files(root: str) -> dict[str, int]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = os.stat(p).st_ino
    return out


class _Tracer:
    """Per-epoch layer spans recorded from inside the sink call."""

    def __init__(self, pipeline, sink_dir: str):
        self.real_parse = pipeline.parse_message_stream
        self.real_transform = pipeline.transform_events
        self.sink_dir = sink_dir
        self.epochs: list[dict] = []

    def wrap(self, sink_fn):
        def traced(df, epoch_id):
            rec = {"epoch": epoch_id}
            t0 = time.perf_counter()
            msgs = df.persist()
            rec["messages"] = msgs.count()
            t1 = time.perf_counter()
            events = self.real_parse(msgs).persist()
            rec["events"] = events.count()
            t2 = time.perf_counter()
            kept = self.real_transform(events).persist()
            rec["rows_kept"] = kept.count()
            t3 = time.perf_counter()
            rec["state_rows_before"] = _state_rows(self.sink_dir)
            before = _parquet_files(self.sink_dir)
            sink_fn(kept, epoch_id)
            t4 = time.perf_counter()
            new = [p for p, ino in _parquet_files(self.sink_dir).items()
                   if before.get(p) != ino]
            rec["rows_written"] = (
                pads.dataset(new, format="parquet").count_rows() if new else 0
            )
            rec["bytes_written"] = sum(os.path.getsize(p) for p in new)
            for d in (kept, events, msgs):
                d.unpersist()
            rec.update(read_s=t1 - t0, parse_s=t2 - t1, transform_s=t3 - t2, merge_s=t4 - t3)
            self.epochs.append(rec)

        return traced


@contextmanager
def _traced_pipeline(sink_dir: str):
    """Defer parse and transform into the sink so each layer is timed
    on its own, then restore the pipeline module."""
    from structured_streaming_cassandra_sink_spark.streaming import pipeline

    tracer = _Tracer(pipeline, sink_dir)
    real_start = pipeline.start_to_sink
    patched = {
        "parse_message_stream": lambda messages, *a, **k: messages,
        "transform_events": lambda events: events,
        "start_to_sink": lambda df, sink_fn, *a, **k: real_start(
            df, tracer.wrap(sink_fn), *a, **k
        ),
    }
    saved = {name: getattr(pipeline, name) for name in patched}
    for name, fn in patched.items():
        setattr(pipeline, name, fn)
    try:
        yield tracer
    finally:
        for name, fn in saved.items():
            setattr(pipeline, name, fn)


def run_query(spark, src_dir: str, sink_dir: str, ckpt_dir: str, trace: bool) -> dict:
    """One replay of every message file through ``streaming_flagship``."""
    from structured_streaming_cassandra_sink_spark.streaming import pipeline

    tracer = None
    if trace:
        with _traced_pipeline(sink_dir) as tracer:
            t0 = time.perf_counter()
            q = pipeline.streaming_flagship(spark, src_dir, sink_dir, ckpt_dir, 1)
    else:
        t0 = time.perf_counter()
        q = pipeline.streaming_flagship(spark, src_dir, sink_dir, ckpt_dir, 1)
    try:
        q.processAllAvailable()
        wall = time.perf_counter() - t0
        progress = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    return {
        "wall_s": wall,
        "sink_dir": sink_dir,
        "batches": batches,
        "epochs": tracer.epochs if tracer else None,
    }


def state_reads(spark, sink_dir: str, keys: list[int], reps: int = 9, warmup: int = 5) -> list[float]:
    """A downstream reader of the converged state: a full scan plus a
    lookup of a key set. Returns the times of ``reps`` reads made after
    ``warmup`` untimed ones. A full collection first clears the garbage
    the stream and the queries left, which would otherwise be collected
    during some runs' reads and not others'."""
    from pyspark.sql import functions as F

    spark.sparkContext._jvm.java.lang.System.gc()
    times = []
    for i in range(warmup + reps):
        t0 = time.perf_counter()
        state = read_state(spark, sink_dir)
        state.write.format("noop").mode("overwrite").save()
        state.filter(F.col(KEY).isin(keys)).collect()
        if i >= warmup:
            times.append(time.perf_counter() - t0)
    return times


def _sorted_arrow(df):
    t = df.toArrow()
    return t.sort_by([(c, "ascending") for c in t.column_names])


def _mismatched_rows(got, want) -> int:
    """Rows in one frame and not the other, as multisets."""
    g, w = _sorted_arrow(got), _sorted_arrow(want)
    if g.num_rows == w.num_rows and all(g.column(c).equals(w.column(c)) for c in g.column_names):
        return 0
    g_rows, w_rows = (Counter(zip(*(t.column(c).to_pylist() for c in t.column_names)))
                      for t in (g, w))
    return sum(((g_rows - w_rows) + (w_rows - g_rows)).values())


def _message_files(messages_dir: str) -> list[str]:
    """Message files in replay order: file ``k`` is micro-batch ``k``."""
    return [os.path.join(messages_dir, f) for f in sorted(os.listdir(messages_dir))]


def check(spark, inp: dict, run: dict, n_batches: int, warmup: int) -> dict:
    """Output checks, outside the timed region.

    * the sink's end state equals the batch flagship over the history and
      the replayed events (``latest_per_key(transform_events(events))``);
    * events parsed from the message files = 3 x messages = events replayed;
    * every micro-batch committed, micro-batch ``k`` read exactly the
      messages of file ``k``.

    Also counts the events parsed from the files of the measured
    micro-batches (the ones after ``warmup``), which ``end_to_end`` divides
    by their wall time.
    """
    from structured_streaming_cassandra_sink_spark.streaming.sources import (
        parse_message_stream,
    )

    got = read_state(spark, run["sink_dir"])
    want = _batch_flagship(spark, inp["history"], inp["replay"]).select(*got.columns)
    files = _message_files(inp["messages"])
    per_file = [pq.read_metadata(f).num_rows for f in files]
    n_events = parse_message_stream(spark.read.parquet(inp["messages"])).count()
    measured_events = parse_message_stream(spark.read.parquet(*files[warmup:])).count()
    per_batch = [b["numInputRows"] for b in sorted(run["batches"], key=lambda b: b["batchId"])]
    committed = len({b["batchId"] for b in run["batches"]})
    out = {
        "state_rows": got.count(),
        "mismatched_rows": _mismatched_rows(got, want),
        "messages": sum(per_file),
        "events": n_events,
        "measured_events": measured_events,
        "progress_input_rows": sum(per_batch),
        "committed_batches": committed,
        "uncommitted_batches": n_batches - committed,
    }
    out["events_ok"] = (
        n_events == inp["replay_events"] == RECORDS_PER_MESSAGE * out["messages"]
        and per_batch == per_file
    )
    return out


def _start_s(progress: dict) -> float:
    return datetime.fromisoformat(progress["timestamp"]).timestamp()


def measured_batches(run: dict, warmup: int) -> list[dict]:
    """Progress records of the micro-batches after the warm-up ones."""
    return sorted(run["batches"], key=lambda b: b["batchId"])[warmup:]


def measured_wall_s(run: dict, warmup: int) -> float:
    """Wall time from the start of the first measured micro-batch to the
    end of the last one, from the progress records."""
    mb = measured_batches(run, warmup)
    return _start_s(mb[-1]) + mb[-1]["durationMs"]["triggerExecution"] / 1000 - _start_s(mb[0])


def end_to_end(run: dict, measured_events: int, warmup: int) -> dict:
    """events/s and micro-batch latency over the measured micro-batches."""
    trig = [b["durationMs"]["triggerExecution"] for b in measured_batches(run, warmup)]
    return {
        "events_per_s": measured_events / measured_wall_s(run, warmup),
        "microbatch_p50_ms": median(trig),
        "microbatch_p75_ms": p75(trig),
    }


def layer_metrics(run: dict, warmup: int) -> dict:
    """Per-layer numbers of a traced run, over the measured micro-batches."""
    ep = [e for e in run["epochs"] if e["epoch"] >= warmup]
    # Sink time against state size, over the epochs that merge into an
    # existing state. A state that grew by less than one epoch's rows has no
    # measurable size effect: its slope would be noise divided by a
    # near-zero spread of sizes, so it is reported as 0.
    merging = [e for e in ep if e["state_rows_before"] > 0]
    sizes = [e["state_rows_before"] for e in merging]
    grew = max(sizes) - min(sizes) >= median([e["rows_kept"] for e in ep])
    m = {
        "streaming.sources.read_s": sum(e["read_s"] for e in ep),
        "streaming.sources.parse_s": sum(e["parse_s"] for e in ep),
        "streaming.sources.messages": sum(e["messages"] for e in ep),
        "streaming.sources.events": sum(e["events"] for e in ep),
        "plans.flagship.transform_s": sum(e["transform_s"] for e in ep),
        "plans.flagship.rows_kept": sum(e["rows_kept"] for e in ep),
        "streaming.sinks.merge_s": sum(e["merge_s"] for e in ep),
        "streaming.sinks.merge_p50_ms": 1000 * median([e["merge_s"] for e in ep]),
        "streaming.sinks.merge_slope_ms_per_100k_rows": (
            1000 * 100_000 * slope(sizes, [e["merge_s"] for e in merging]) if grew else 0.0
        ),
        "streaming.sinks.rows_written": sum(e["rows_written"] for e in ep),
        "streaming.sinks.bytes_written": sum(e["bytes_written"] for e in ep),
    }
    m["streaming.sinks.write_amplification"] = (
        m["streaming.sinks.rows_written"] / m["plans.flagship.rows_kept"]
    )
    for ph in PHASES:
        m[f"streaming.pipeline.{ph}_ms"] = sum(
            b["durationMs"].get(ph, 0) for b in measured_batches(run, warmup)
        )
    return m


def sample_keys(seed: int, inp: dict, n: int = 200) -> list[int]:
    users = sorted(set(pq.read_table(inp["replay"], columns=[KEY]).column(KEY).to_pylist()))
    return random.Random(seed).sample(users, min(n, len(users)))
