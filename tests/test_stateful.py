"""Triggered-window semantics (SURVEY.md §2.2): count triggers,
ACCUMULATING vs DISCARDING panes — batch replay path (the deterministic
definition the streaming operator is tested against)."""

import datetime as dt
import time

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from samza_spark.operators.windows import AccumulationMode, Triggers, Windows
from samza_spark.streaming.stateful import (
    AggSpec,
    triggered_window_batch,
    triggered_window_stream,
)

_ALL_OPS = [
    AggSpec("n", "count"), AggSpec("s", "sum", "v"), AggSpec("lo", "min", "v"),
    AggSpec("hi", "max", "v"), AggSpec("a", "avg", "v"),
]


def ts(minute, second=0):
    return dt.datetime(2024, 1, 1, 10, minute, second)


def make_events(spark, n, key="k", start_min=0):
    rows = [(key, ts(start_min, i)) for i in range(n)]
    return spark.createDataFrame(rows, "k string, t timestamp")


def test_count_trigger_discarding(spark):
    spec = (
        Windows.keyed_tumbling_window("k", "t", "1 hour")
        .set_early_trigger(Triggers.count(3))
        .set_accumulation_mode(AccumulationMode.DISCARDING)
    )
    df = make_events(spark, 8)
    out = triggered_window_batch(df, spec, [AggSpec("n", "count")]).collect()
    panes = sorted((r.pane_seq, r.n, r.fire_reason, r.is_final) for r in out)
    assert panes == [
        (0, 3, "count(3)", False),
        (1, 3, "count(3)", False),
        (2, 2, "window_close", True),
    ]


def test_count_trigger_accumulating(spark):
    spec = (
        Windows.keyed_tumbling_window("k", "t", "1 hour")
        .set_early_trigger(Triggers.count(3))
        .set_accumulation_mode(AccumulationMode.ACCUMULATING)
    )
    df = make_events(spark, 7)
    out = triggered_window_batch(df, spec, [AggSpec("n", "count")]).collect()
    panes = sorted((r.pane_seq, r.n, r.is_final) for r in out)
    # accumulating: each pane includes all prior messages of the window
    assert panes == [(0, 3, False), (1, 6, False), (2, 7, True)]


def test_no_trigger_single_close_pane(spark):
    spec = Windows.keyed_tumbling_window("k", "t", "1 hour").set_accumulation_mode(
        AccumulationMode.DISCARDING
    )
    df = make_events(spark, 5)
    out = triggered_window_batch(df, spec, [AggSpec("n", "count")]).collect()
    assert [(r.n, r.fire_reason, r.is_final) for r in out] == [(5, "window_close", True)]


def test_panes_respect_window_boundaries(spark):
    spec = (
        Windows.keyed_tumbling_window("k", "t", "10 minutes")
        .set_early_trigger(Triggers.count(4))
        .set_accumulation_mode(AccumulationMode.DISCARDING)
    )
    rows = [("k", ts(0, 0)), ("k", ts(1, 0)), ("k", ts(11, 0)), ("k", ts(12, 0))]
    df = spark.createDataFrame(rows, "k string, t timestamp")
    out = triggered_window_batch(df, spec, [AggSpec("n", "count")]).collect()
    # two windows, neither reaches the count trigger -> two close panes of 2
    assert sorted((r.window_start.minute, r.n) for r in out) == [(0, 2), (10, 2)]


def test_sum_and_avg_aggs(spark):
    spec = Windows.keyed_tumbling_window("k", "t", "1 hour").set_early_trigger(
        Triggers.count(100)  # never fires; single close pane
    )
    rows = [("k", ts(0, i), float(i)) for i in range(4)]
    df = spark.createDataFrame(rows, "k string, t timestamp, v double")
    out = triggered_window_batch(
        df, spec, [AggSpec("s", "sum", "v"), AggSpec("m", "max", "v"), AggSpec("a", "avg", "v")]
    ).collect()
    [row] = out
    assert row.s == 6.0 and row.m == 3.0 and row.a == 1.5


def test_session_window_batch_panes(spark):
    spec = Windows.keyed_session_window("k", "t", "5 minutes").set_accumulation_mode(
        AccumulationMode.DISCARDING
    )
    rows = [("k", ts(0)), ("k", ts(2)), ("k", ts(20)), ("k", ts(21))]
    df = spark.createDataFrame(rows, "k string, t timestamp")
    out = triggered_window_batch(df, spec, [AggSpec("n", "count")]).collect()
    assert sorted(r.n for r in out) == [2, 2]  # two sessions of two events


@pytest.mark.parametrize("null_at", [0, 1, 2])
def test_min_max_skip_null_wherever_it_falls(spark, null_at):
    """A null value is skipped by min/max, sum and avg at any position in the
    window; count counts the null's row."""
    spec = Windows.keyed_tumbling_window("k", "t", "1 hour").set_early_trigger(
        Triggers.count(100)  # never fires; single close pane
    )
    vals = [1.0, 5.0]
    vals.insert(null_at, None)
    rows = [("k", ts(0, i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k string, t timestamp, v double")
    [row] = triggered_window_batch(df, spec, _ALL_OPS).collect()
    assert (row.n, row.s, row.lo, row.hi, row.a) == (3, 6.0, 1.0, 5.0, 3.0)


class _Capture:
    """Stands in for a DataFrame to capture the pandas function a triggered
    window hands to Spark, so it can be driven without a query."""

    def __init__(self, schema):
        self.schema = schema

    def groupBy(self, *cols):
        return self

    def applyInPandas(self, fn, ddl):
        self.fn = fn

    def applyInPandasWithState(self, fn, *args):
        self.fn = fn


class _State:
    exists = False

    def update(self, value):
        self.exists, self.get = True, tuple(value)

    def remove(self):
        self.exists = False

    def setTimeoutDuration(self, ms):
        pass


def _drive(spark, monkeypatch, spec, aggs, chunks):
    """Feed ``chunks`` to the stream's state function at one arrival time,
    then close every window; returns the replay's and the stream's panes."""
    schema = spark.createDataFrame([], "k string, t timestamp, v double").schema
    replay, stream = _Capture(schema), _Capture(schema)
    triggered_window_batch(replay, spec, aggs)
    triggered_window_stream(stream, spec, aggs)
    clock = [1_000.0]
    monkeypatch.setattr(time, "time", lambda: clock[0])
    state, out = _State(), []
    for chunk in chunks:
        out.extend(stream.fn(("k",), iter([chunk]), state))
        assert all(isinstance(v, list) for v in state.get)  # typed arrays as lists
    clock[0] += 86_400
    out.extend(stream.fn(("k",), iter([]), state))
    assert not state.exists
    return replay.fn(pd.concat(chunks)), pd.concat(out)


def _events(n, seed):
    rng = np.random.default_rng(seed)
    t = pd.Timestamp("2024-01-01 10:00") + pd.to_timedelta(
        np.sort(rng.integers(0, 600_000, n)), unit="ms"
    )
    v = rng.integers(-5, 20, n).astype(float)  # integral: sums exact in any order
    v[rng.random(n) < 0.2] = np.nan
    return pd.DataFrame({"k": "k", "t": t, "v": v})


@pytest.mark.parametrize("mode", list(AccumulationMode))
@pytest.mark.parametrize("session", [False, True])
def test_stream_state_fn_one_message_chunks_equal_replay(spark, monkeypatch, mode, session):
    """Fed one message per chunk in event-time order, the stream's typed
    state emits exactly the replay's panes (count triggers,
    session coalescing, DISCARDING resets, window close)."""
    if session:
        spec = Windows.keyed_session_window("k", "t", "20 seconds")
    else:
        spec = Windows.keyed_tumbling_window("k", "t", "1 minute")
    spec = spec.set_early_trigger(
        Triggers.any(Triggers.count(4), Triggers.count(3))
    ).set_accumulation_mode(mode)
    ev = _events(120, seed=3)
    replay, stream = _drive(spark, monkeypatch, spec, _ALL_OPS,
                            [ev.iloc[i:i + 1] for i in range(len(ev))])
    cols = ["window_start", "window_end", "n", "s", "lo", "hi", "a",
            "pane_seq", "fire_reason", "is_final"]

    def norm(df):
        df = df[cols].sort_values(["window_start", "pane_seq"]).reset_index(drop=True)
        if session:  # an early pane of a growing session ends where it stood
            df.loc[~df.is_final, "window_end"] = pd.NaT  # the replay knows the last end
        return df

    assert set(replay.fire_reason) == {"count(3)", "window_close"}
    pd.testing.assert_frame_equal(norm(stream), norm(replay), check_dtype=False)


def test_stream_state_fn_any_chunking_keeps_final_panes(spark, monkeypatch):
    """Whatever the chunking and arrival order, each window's close pane
    under ACCUMULATING equals the replay's."""
    spec = (
        Windows.keyed_tumbling_window("k", "t", "1 minute")
        .set_early_trigger(Triggers.count(7))
        .set_accumulation_mode(AccumulationMode.ACCUMULATING)
    )
    ev = _events(300, seed=5).sample(frac=1.0, random_state=5)
    cuts = np.sort(np.random.default_rng(5).choice(np.arange(1, 300), 9, replace=False))
    chunks = [ev.iloc[a:b] for a, b in zip(np.r_[0, cuts], np.r_[cuts, 300])]
    replay, stream = _drive(spark, monkeypatch, spec, _ALL_OPS, chunks)
    cols = ["window_start", "window_end", "n", "s", "lo", "hi", "a"]

    def finals(df):
        return df[df.is_final][cols].sort_values("window_start").reset_index(drop=True)

    pd.testing.assert_frame_equal(finals(stream), finals(replay), check_dtype=False)


def test_avg_skips_nulls_and_is_null_over_only_nulls(spark, monkeypatch):
    """avg divides by its non-null values, as Spark SQL's avg does, in the
    stream and the replay alike; a pane of only nulls has a null avg."""
    spec = Windows.keyed_tumbling_window("k", "t", "1 minute").set_accumulation_mode(
        AccumulationMode.DISCARDING
    )
    t0 = pd.Timestamp("2024-01-01 10:00")
    ev = pd.DataFrame({
        "k": "k",
        "t": [t0, t0 + pd.Timedelta(seconds=1), t0 + pd.Timedelta(seconds=2),
              t0 + pd.Timedelta(minutes=1), t0 + pd.Timedelta(minutes=1, seconds=1)],
        "v": [1.0, np.nan, 5.0, np.nan, np.nan],
    })
    aggs = [AggSpec("n", "count"), AggSpec("s", "sum", "v"), AggSpec("a", "avg", "v")]
    for panes in _drive(spark, monkeypatch, spec, aggs, [ev.iloc[:2], ev.iloc[2:]]):
        got = panes.sort_values("window_start")[["n", "s", "a"]].to_numpy().tolist()
        assert got[0] == [3, 6.0, 3.0]
        assert got[1][:2] == [2, 0.0] and np.isnan(got[1][2])
