"""Tests of the benchmark's own code: seeded inputs and event counting.

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import stream  # noqa: E402
from common import start_session, stop_session  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    spark, _ = start_session(2)
    yield spark
    stop_session(spark)


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = fh.read()
    return out


def test_same_seed_same_message_files_other_seed_differs(spark, tmp_path):
    written = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        d = str(tmp_path / tag)
        stream.prepare(spark, seed, 1_500, 3, 300, d)
        written[tag] = _files(os.path.join(d, "messages"))
    assert list(written["a"]) == [f"batch-{b:05d}.parquet" for b in range(3)]
    assert written["a"] == written["b"]
    assert all(written["a"][f] != written["c"][f] for f in written["a"])


def test_key_space_is_the_only_workload_difference():
    hot = gen.generate_events(3, 3_000, 1_500)
    growing = gen.generate_events(3, 3_000, 2**40)
    for col in ("event_id", "ts", "event_type", "value", "props"):
        assert hot.column(col).equals(growing.column(col))
    assert len(set(hot.column("user_id").to_pylist())) <= 1_500
    assert len(set(growing.column("user_id").to_pylist())) == 3_000
    share = hot.column("event_type").to_pylist().count("error") / hot.num_rows
    assert 0.15 < share < 0.25


@pytest.mark.parametrize("trace", [False, True])
def test_events_not_messages_reach_the_metrics(spark, tmp_path, trace):
    """Progress records count source rows, i.e. messages; events/s must
    divide parsed events, three per message, of the measured micro-batches
    only."""
    sink = str(tmp_path / "sink")
    inp = stream.prepare(spark, 5, 1_500, 3, 600, str(tmp_path), history_events=900)
    stream.seed_state(spark, inp, sink)
    run = stream.run_query(spark, inp["messages"], sink, str(tmp_path / "ckpt"), trace)
    chk = stream.check(spark, inp, run, 3, warmup=1)
    assert chk["events_ok"] and chk["mismatched_rows"] == 0
    assert chk["uncommitted_batches"] == 0
    assert chk["events"] == 1_800 == 3 * chk["messages"]
    assert chk["progress_input_rows"] == chk["messages"]
    assert chk["measured_events"] == 1_200
    e2e = stream.end_to_end(run, chk["measured_events"], 1)
    assert e2e["events_per_s"] * stream.measured_wall_s(run, 1) == pytest.approx(1_200)
    if trace:
        m = stream.layer_metrics(run, 1)
        assert m["streaming.sources.events"] == 3 * m["streaming.sources.messages"] == 1_200
        assert m["plans.flagship.rows_kept"] < m["streaming.sources.events"]
