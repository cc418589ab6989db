"""Seeded inputs for the benchmark, each a pure function of its seed:

* ``generate_events`` draws rows with the engine's ``events`` schema; the
  stream workloads differ only in ``key_space`` (how many distinct
  ``user_id`` values events are drawn from).
* ``write_events`` writes them as parquet, which ``events_frame`` reads.
* ``write_message_files`` packs those events into Kafka-shaped messages with
  ``streaming.sources.events_to_messages`` (3 JSON records per message) and
  writes one parquet file per micro-batch, in batch order, for the file
  mirror source.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
RECORDS_PER_MESSAGE = 3
# 2024-01-01T00:00:00Z in microseconds; events span 30 days from here.
_EVENT_EPOCH_US = 1_704_067_200_000_000
_EVENT_SPAN_US = 30 * 86_400 * 1_000_000

_EVENTS_ARROW = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def generate_events(seed: int, n_events: int, key_space: int) -> pa.Table:
    """``n_events`` rows of the ``events`` schema.

    ``event_id`` is 0..n-1 and ``ts`` is non-decreasing in it (a replay in
    arrival order). ``event_type`` is uniform over five types, so ~20% are
    ``error`` rows that ``transform_events`` drops. ``props`` is
    ``{"k": n}`` with n in 0..99."""
    rng = np.random.default_rng(seed)
    ts = _EVENT_EPOCH_US + np.sort(rng.integers(0, _EVENT_SPAN_US, n_events))
    event_type = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_events)]
    value = np.round(rng.uniform(0.0, 500.0, n_events), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]
    # drawn last: how many random bits a draw takes depends on key_space
    user_id = rng.integers(0, key_space, n_events, dtype=np.int64)
    return pa.table(
        [
            pa.array(np.arange(n_events, dtype=np.int64)),
            pa.array(ts, type=pa.int64()).cast(pa.timestamp("us")),
            pa.array(user_id),
            pa.array(event_type),
            pa.array(value),
            pa.array(props),
        ],
        schema=_EVENTS_ARROW,
    )


def write_events(events: pa.Table, path: str) -> None:
    """Write events as parquet, in row groups small enough for Spark to
    split the file across cores."""
    pq.write_table(events, path, row_group_size=50_000)


def events_frame(spark, *paths: str):
    """Events written by ``write_events``, read with the engine's declared
    schema."""
    from structured_streaming_cassandra_sink_spark.schemas import EVENTS

    return spark.read.schema(EVENTS).parquet(*paths)


def _first_event_id(line: str) -> int:
    # to_json writes struct fields in schema order: {"event_id":N,...
    return int(line[len('{"event_id":') : line.index(",")])


def write_message_files(events, out_dir: str, events_per_batch: int, first_id: int) -> list[int]:
    """Pack the ``events`` frame into messages and write one parquet file
    per micro-batch under ``out_dir``; returns the message count per file.

    Batch ``b`` holds events ``[first_id + b*E, first_id + (b+1)*E)``.
    ``events_to_messages`` groups consecutive event ids, so with E and
    ``first_id`` multiples of 3 no message straddles two batches. The order
    of records inside a message and of messages inside a file is
    canonicalised by event id, so equal seeds give byte-identical files.
    File modification times increase with the batch number, which is the
    order the file source replays them in."""
    from structured_streaming_cassandra_sink_spark.streaming.sources import (
        events_to_messages,
    )

    if events_per_batch % RECORDS_PER_MESSAGE:
        raise ValueError("events_per_batch must be a multiple of 3")
    values = (
        events_to_messages(events, RECORDS_PER_MESSAGE)
        .toArrow()
        .column("value")
        .to_pylist()
    )
    batches: dict[int, list[tuple[int, str]]] = {}
    for v in values:
        lines = sorted(v.split("\n"), key=_first_event_id)
        first = _first_event_id(lines[0])
        batches.setdefault((first - first_id) // events_per_batch, []).append(
            (first, "\n".join(lines))
        )
    os.makedirs(out_dir, exist_ok=True)
    counts = []
    mtime0 = 1_700_000_000
    for b in sorted(batches):
        msgs = [m for _, m in sorted(batches[b])]
        path = os.path.join(out_dir, f"batch-{b:05d}.parquet")
        pq.write_table(pa.table({"value": pa.array(msgs, pa.string())}), path)
        os.utime(path, (mtime0 + b, mtime0 + b))
        counts.append(len(msgs))
    return counts
