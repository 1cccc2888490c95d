"""Streaming triggered-window operator (applyInPandasWithState path):
count triggers fire across micro-batches, per-key state survives between
batches, DISCARDING clears pane state after each fire."""

import datetime as dt
import shutil
import tempfile
import time

import pytest

from samza_spark.operators import MessageStream, Windows
from samza_spark.operators.windows import AccumulationMode, Triggers, WindowType
from samza_spark.sources import FileSource, MemorySink
from samza_spark.streaming.stateful import AggSpec, await_condition


def ts(minute, second=0):
    return dt.datetime(2024, 1, 1, 10, minute, second)


@pytest.fixture()
def two_batch_dir(spark):
    d = tempfile.mkdtemp(prefix="ss_trig_")
    f1 = [("a", ts(0, i)) for i in range(4)]
    f2 = [("a", ts(1, i)) for i in range(3)]
    spark.createDataFrame(f1, "k string, t timestamp").coalesce(1).write.parquet(f"{d}/b1")
    time.sleep(1.1)  # distinct mtimes -> deterministic file-trigger order
    spark.createDataFrame(f2, "k string, t timestamp").coalesce(1).write.parquet(f"{d}/b2")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_streaming_count_trigger_across_batches(spark, two_batch_dir):
    src = FileSource(
        f"{two_batch_dir}/*",
        schema="k string, t timestamp",
        max_files_per_trigger=1,
    )
    stream = src.read_stream(spark)
    spec = (
        Windows.keyed_tumbling_window("k", "t", "1 hour")
        .set_early_trigger(Triggers.count(3))
        .set_accumulation_mode(AccumulationMode.DISCARDING)
    )
    out = stream.window(spec, AggSpec("n", "count"))
    sink = MemorySink("trig_out", output_mode="append")
    q = out.send_to(sink)
    # processAllAvailable hangs for ProcessingTimeTimeout queries (timer
    # batches run forever) — poll the sink for the expected panes instead.
    ok = await_condition(q, lambda: len(sink.collect(spark)) >= 2, timeout_s=90)
    q.stop()
    q.awaitTermination(30)
    assert ok, f"expected 2 panes, got {sink.collect(spark)}"
    rows = sorted(sink.collect(spark), key=lambda r: r.pane_seq)
    # micro-batch granularity: batch1 (4 rows) fires one count(3) pane of 4,
    # DISCARDING clears it; batch2 (3 rows) fires a pane of 3 with state
    # carried across batches (seq increments)
    assert [(r.pane_seq, r.n, r.is_final) for r in rows] == [(0, 4, False), (1, 3, False)]
    assert all(r.fire_reason == "count(3)" for r in rows)
    assert all(r.k == "a" for r in rows)


def test_streaming_session_windows_merge_across_batches(spark, two_batch_dir):
    """Triggered SESSION windows on a stream: batch 1 (4 rows at 10:00:00-03)
    and batch 2 (3 rows at 10:01:00-02) fall within one 5-minute gap, so the
    open session merges across micro-batches; count(5) fires an early pane
    once the merged session holds 7 rows; the gap timer closes it with the
    full session bounds."""
    src = FileSource(
        f"{two_batch_dir}/*",
        schema="k string, t timestamp",
        max_files_per_trigger=1,
    )
    spec = (
        Windows.keyed_session_window("k", "t", "5 minutes")
        .set_early_trigger(Triggers.count(5))
        .set_accumulation_mode(AccumulationMode.ACCUMULATING)
    )
    out = src.read_stream(spark).window(spec, AggSpec("n", "count"))
    sink = MemorySink("sess_stream_out", output_mode="append")
    q = out.send_to(sink)
    # batch1: 4 rows (< 5, no fire); batch2 merges -> 7 rows >= 5 -> pane
    ok = await_condition(
        q, lambda: any(r.fire_reason.startswith("count") for r in sink.collect(spark)),
        timeout_s=90,
    )
    q.stop()
    q.awaitTermination(30)
    assert ok, f"no count pane in {sink.collect(spark)}"
    pane = [r for r in sink.collect(spark) if r.fire_reason.startswith("count")][0]
    assert pane.n == 7 and pane.k == "a" and not pane.is_final
    # merged session bounds: start 10:00:00, end = last event 10:01:02 + gap
    assert pane.window_start == ts(0, 0)
    assert pane.window_end == ts(6, 2)


def test_streaming_time_since_last_trigger(spark):
    """timeSinceLastMessage(d) (Triggers.java:77): a quiet period after the
    last message fires a time_trigger pane via ProcessingTimeTimeout, once
    per quiet period."""
    d = tempfile.mkdtemp(prefix="ss_timetrig_")
    try:
        rows = [("a", ts(0, i)) for i in range(2)]
        spark.createDataFrame(rows, "k string, t timestamp").coalesce(1).write.parquet(
            f"{d}/b1"
        )
        src = FileSource(f"{d}/*", schema="k string, t timestamp")
        spec = (
            Windows.keyed_tumbling_window("k", "t", "1 hour")
            .set_early_trigger(Triggers.time_since_last_message("2 seconds"))
            .set_accumulation_mode(AccumulationMode.ACCUMULATING)
        )
        out = src.read_stream(spark).window(spec, AggSpec("n", "count"))
        sink = MemorySink("timetrig_out", output_mode="append")
        q = out.send_to(sink)
        ok = await_condition(
            q,
            lambda: any(
                r.fire_reason == "time_trigger" for r in sink.collect(spark)
            ),
            timeout_s=60,
        )
        # quiet period continues: give it two more timer cycles to prove the
        # trigger does NOT refire without new data
        time.sleep(5)
        q.stop()
        q.awaitTermination(30)
        assert ok, f"no time_trigger pane in {sink.collect(spark)}"
        panes = [r for r in sink.collect(spark) if r.fire_reason == "time_trigger"]
        assert len(panes) == 1
        assert panes[0].n == 2 and panes[0].k == "a" and not panes[0].is_final
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_window_close_fires_under_sustained_traffic(spark):
    """Regression: window_close must fire while data KEEPS arriving for the
    key — the close sweep runs every invocation, not only on timeout (each
    data batch resets the timeout, so a timeout-only sweep starves and state
    grows unboundedly under sustained per-key traffic)."""
    from samza_spark.operators.stream import MessageStream

    src = spark.readStream.format("rate").option("rowsPerSecond", "20").load()
    stream = MessageStream(
        src.selectExpr("'k' AS k", "timestamp AS t")
    )
    spec = (
        Windows.keyed_tumbling_window("k", "t", "2 seconds")
        .set_accumulation_mode(AccumulationMode.DISCARDING)
    )
    out = stream.window(spec, AggSpec("n", "count"))
    sink = MemorySink("close_sustained_out", output_mode="append")
    q = out.send_to(sink)
    ok = await_condition(
        q,
        lambda: any(r.is_final for r in sink.collect(spark)),
        timeout_s=60,
    )
    q.stop()
    q.awaitTermination(30)
    assert ok, f"no window_close pane under sustained traffic: {sink.collect(spark)}"
    finals = [r for r in sink.collect(spark) if r.is_final]
    assert all(r.fire_reason == "window_close" for r in finals)
    assert all(r.n > 0 for r in finals)


def test_running_aggregate_apws_across_batches(spark, tmp_path):
    """Per-key running (n, total) accumulates across >=3 micro-batches on
    applyInPandasWithState (KeyValueStore get/put accumulation,
    KeyValueStore.java:40)."""
    from samza_spark.streaming.running_agg import running_aggregate

    d = tmp_path / "run_agg"
    d.mkdir()
    for i in range(3):
        spark.createDataFrame(
            [("a", float(i + 1)), ("b", 10.0 * (i + 1))], "k string, v double"
        ).coalesce(1).write.parquet(str(d / f"b{i}"))
        time.sleep(1.1)  # distinct mtimes -> deterministic batch order
    src = FileSource(f"{d}/*", schema="k string, v double", max_files_per_trigger=1)
    out = running_aggregate(src.read_stream(spark), "k", "v")
    sink = MemorySink("run_agg_out", output_mode="append")
    q = sink.write(out)
    ok = await_condition(q, lambda: len(sink.collect(spark)) >= 6, timeout_s=90)
    q.stop()
    q.awaitTermination(30)
    assert ok, f"expected 6 rows, got {sink.collect(spark)}"
    rows = sorted(
        ((r.key, r.running_n, r.running_total) for r in sink.collect(spark)),
        key=lambda t: (t[0], t[1]),
    )
    assert rows == [
        ("a", 1, 1.0), ("a", 2, 3.0), ("a", 3, 6.0),
        ("b", 1, 10.0), ("b", 2, 30.0), ("b", 3, 60.0),
    ]


def test_streaming_final_panes_match_replay_on_all_ops(spark, tmp_path):
    """Every window-close pane of the stream equals the replay's on the same
    rows, for count, sum, min, max and avg: 2 keys x 2 six-second tumbling
    windows, each window's rows split over 2 micro-batches, ACCUMULATING.
    A window closes 6 s after its first arrival, so batch 2 must land
    within that span; it normally follows batch 1 in under a second."""
    import os

    from samza_spark.streaming.stateful import triggered_window_batch

    schema = "k string, t timestamp, v double"
    # per key and window, 2 rows in each batch; values are exact in binary
    batches = [
        [(k, ts(0, s), float(s) * m) for k, m in (("a", 1.5), ("b", -0.25))
         for s in (off, off + 1, 6 + off, 7 + off)]
        for off in (0, 2)
    ]
    for i, rows in enumerate(batches):
        d = tmp_path / f"b{i}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(d))
        for f in d.iterdir():  # distinct mtimes -> deterministic batch order
            os.utime(f, (1_700_000_000 + i * 10,) * 2)
    spec = (
        Windows.keyed_tumbling_window("k", "t", "6 seconds")
        .set_early_trigger(Triggers.count(3))
        .set_accumulation_mode(AccumulationMode.ACCUMULATING)
    )
    aggs = [
        AggSpec("n", "count"), AggSpec("s", "sum", "v"), AggSpec("lo", "min", "v"),
        AggSpec("hi", "max", "v"), AggSpec("a", "avg", "v"),
    ]
    src = FileSource(f"{tmp_path}/*", schema=schema, max_files_per_trigger=1)
    sink = MemorySink("all_ops_out", output_mode="append")
    q = src.read_stream(spark).window(spec, *aggs).send_to(sink)
    ok = await_condition(
        q, lambda: sum(r.is_final for r in sink.collect(spark)) >= 4, timeout_s=90
    )
    q.stop()
    q.awaitTermination(30)
    assert ok, f"expected 4 final panes, got {sink.collect(spark)}"

    def finals(rows):
        return sorted(
            (r.k, r.window_start, r.window_end, r.n, r.s, r.lo, r.hi, r.a, r.pane_seq)
            for r in rows if r.is_final
        )

    replay = triggered_window_batch(
        spark.createDataFrame(batches[0] + batches[1], schema), spec, aggs
    )
    assert finals(sink.collect(spark)) == finals(replay.collect())
