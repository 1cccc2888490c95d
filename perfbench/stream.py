"""The streaming job of the stateful_replay workload, and its correctness gate.

Job (one ``MessageStream`` chain): read the partitioned ``samza_log`` ->
decode the JSON value -> ``join_table`` against a small ``LocalTable`` of
per-key weights -> keyed tumbling window with an early count trigger
(``streaming.stateful`` via ``MessageStream.window``) -> ``send_to_table``
into a ``DurableLocalTable`` keyed by (key, window_start, pane_seq).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import gen
from perfbench.gen import key_weight
from perfbench.measure import Tracer
from samza_spark.operators.windows import Triggers, Windows
from samza_spark.sources.descriptors import SamzaLogSource
from samza_spark.streaming.stateful import AggSpec
from samza_spark.tables.local import DurableLocalTable, LocalTable

TABLE_KEYS = ["key", "window_start", "pane_seq"]
COMPACT_EVERY = 10  # DurableLocalTable's default: compact on every 10th merge
TABLE_DDL = (
    "key string, window_start timestamp, window_end timestamp, n bigint, "
    "amount double, pane_seq int, fire_reason string, is_final boolean"
)


class TimedTable(DurableLocalTable):
    """A ``DurableLocalTable`` that records each merge's wall-clock interval
    (merge i is micro-batch i of a fresh query) and counts compactions. A
    merge compacted when it leaves the table's mutation counter at 0: the
    changelog it truncates is written again by the same merge, so ``changelog/``
    itself never shows the truncation."""

    tracer = Tracer(False)

    def merge_batch(self, updates, mode="upsert"):
        trace_id = f"batch-{len(self.merges)}"
        with self.tracer.span("tables.merge_batch", "tables", trace_id=trace_id) as sp:
            super().merge_batch(updates, mode)
        self.merges.append((sp.start, sp.end))
        if self.compact_every and self._mutations_since_compact == 0:
            self.compactions += 1
        return self


def dim_table(spark):
    rows = [(f"k{r:04d}", key_weight(r)) for r in range(gen.N_KEYS)]
    return LocalTable(spark.createDataFrame(rows, "key string, w long"), ["key"])


def start_job(spark, log_dir: str, table, dim, count_trigger: int, max_per_trigger: int,
              tracer: Tracer):
    """Build the chain and start it; returns the StreamingQuery."""
    value = T.StructType([T.StructField(c, T.LongType()) for c in ("id", "v")])
    with tracer.span("sources.read_stream", "sources"):
        src = SamzaLogSource(
            log_dir, startpoint="oldest", max_records_per_trigger=max_per_trigger
        ).read_stream(spark)
    with tracer.span("operators.chain", "operators"):
        decoded = src.map(
            "key", ts=F.timestamp_millis("timestamp_ms"), r=F.from_json("value", value)
        ).map("key", "ts", v="r.v")
        enriched = decoded.join_table(dim, "key").map(
            "key", "ts", amount=F.col("v") * F.col("w")
        )
        win = (
            Windows.keyed_tumbling_window("key", "ts", f"{gen.WINDOW_MS} milliseconds")
            .set_early_trigger(Triggers.count(count_trigger))
            .with_watermark(f"{gen.OOO_MAX_MS} milliseconds")
        )
        panes = enriched.window(win, AggSpec("n", "count"), AggSpec("amount", "sum", "amount"))
    with tracer.span("operators.send_to_table", "operators"):
        return panes.send_to_table(table)


def open_table(spark, path: str, tracer: Tracer):
    t = TimedTable.open(spark, path, TABLE_KEYS, schema=TABLE_DDL, compact_every=COMPACT_EVERY)
    t.tracer, t.merges, t.compactions = tracer, [], 0
    return t


def wait_closed(q, n_input: int, timeout_s: float, poll_s: float = 0.02) -> dict:
    """Wait for the first progress, after every input row was consumed, whose
    state store is empty (every window closed and emitted). Returns it."""
    deadline = time.monotonic() + timeout_s
    seen = 0
    while time.monotonic() < deadline:
        if q.exception() is not None:
            raise RuntimeError(f"query failed: {q.exception()}")
        for p in q.recentProgress:
            if p["batchId"] < seen:
                continue
            seen = p["batchId"] + 1
            n_input -= p["numInputRows"]
            ops = p["stateOperators"]
            if n_input <= 0 and p["numInputRows"] == 0 and ops and ops[0]["numRowsTotal"] == 0:
                return p
        time.sleep(poll_s)
    raise TimeoutError(f"windows still open after {timeout_s}s ({n_input} rows unread)")


def read_log(log_dir: str) -> list[dict]:
    """Every record of the log, decoded."""
    out = []
    for path in sorted(glob.glob(os.path.join(log_dir, "part-*.jsonl"))):
        with open(path) as f:
            for line in f:
                rec = json.loads(line)
                val = json.loads(rec["value"])
                out.append({"key": rec["key"], "ts": rec["timestamp_ms"], **val})
    return out


def reference(records: list[dict]) -> dict[tuple, tuple[int, float]]:
    """(key, window_start_ms) -> (count, sum of v * weight) over every record."""
    ref: dict[tuple, list] = {}
    for r in records:
        ws = r["ts"] // gen.WINDOW_MS * gen.WINDOW_MS
        cur = ref.setdefault((r["key"], ws), [0, 0.0])
        cur[0] += 1
        cur[1] += r["v"] * key_weight(int(r["key"][1:]))
    return {k: (n, s) for k, (n, s) in ref.items()}


def check_table(rows, ref: dict) -> list[str]:
    """The restored table holds, for every window in ``ref``, panes numbered
    0..m with exactly one final pane (the last) equal to the reference, and no
    pane of any other window. Returns the problems found."""
    by_win: dict[tuple, list] = {}
    for r in rows:
        ws = int(r.window_start.timestamp() * 1000)
        by_win.setdefault((r.key, ws), []).append(r)
    problems = []
    extra = set(by_win) - set(ref)
    if extra:
        problems.append(f"{len(extra)} windows not in the log, e.g. {sorted(extra)[:3]}")
    for k, (n, s) in ref.items():
        panes = sorted(by_win.get(k, []), key=lambda r: r.pane_seq)
        finals = [r for r in panes if r.is_final]
        if [r.pane_seq for r in panes] != list(range(len(panes))):
            problems.append(f"{k}: pane_seq {[r.pane_seq for r in panes]}")
        elif len(finals) != 1 or finals[0] is not panes[-1]:
            problems.append(f"{k}: {len(finals)} final panes")
        elif (finals[0].n, finals[0].amount) != (n, s):
            problems.append(f"{k}: final ({finals[0].n}, {finals[0].amount}) != ({n}, {s})")
        if len(problems) >= 5:
            break
    return problems


def restore_rows(spark, path: str):
    return DurableLocalTable.open(spark, path, TABLE_KEYS).df.collect()


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
