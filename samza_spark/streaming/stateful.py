"""Triggered windows with accumulation modes — the custom stateful operator.

Samza semantics being reproduced (/root/reference):

* early triggers fire panes before window close: count(n),
  timeSinceFirstMessage(d), timeSinceLastMessage(d), any(...), repeat(...)
  — samza-api/.../operators/triggers/Triggers.java:54-106, evaluated in
  samza-core/.../operators/impl/WindowOperatorImpl.java:253-297.
* AccumulationMode.DISCARDING purges pane state on every fire;
  ACCUMULATING keeps it (WindowOperatorImpl.java:272,
  windows/AccumulationMode.java).
* windows are assigned by event time but triggered on processing time
  (a Clock is injected — WindowOperatorImpl.java:104-113).

Catalyst has no per-pane trigger analog (SURVEY.md §4.2 item 1), so this is
implemented with ``applyInPandasWithState`` for streams and an
``applyInPandas`` emulation for batch/replay. State per key is one typed row
of arrays with one element per open window, sorted by window start —
Samza's TimeSeriesStore ``(key, windowStart)`` entries
(samza-core/.../operators/impl/store/TimeSeriesStoreImpl.java:79) stored as
columns.

Every pane value goes through one fold table, ``_FOLD``: count, sum and avg
add, min and max take ``fmin``/``fmax``. A null is skipped wherever it falls
in the window; ``avg`` is its sum over its own count of non-null values, as
Spark SQL's ``avg``, so a pane of only nulls has a null avg.

Scale note: state is partitioned by key across executors (RocksDB state
store provider), and each Arrow batch is folded with one numpy group-by
over its windows — no per-row Python in the hot path. Pane output is
append-mode, so the sink sees the same pane stream Samza's downstream
operators see.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from samza_spark.operators.windows import (
    AccumulationMode,
    Trigger,
    WindowSpec,
    WindowType,
)

# op -> (combine, identity): the one fold of every pane value, in the
# stream's per-chunk group-by, its session merge and the replay alike. A null
# enters as the identity, and fmin/fmax skip NaN, so nulls are skipped
# wherever they fall; a pane of only nulls has min/max/avg null and sum 0.
_FOLD = {
    "count": (np.add, 0),
    "sum": (np.add, 0.0),
    "avg": (np.add, 0.0),
    "min": (np.fmin, np.nan),
    "max": (np.fmax, np.nan),
}


@dataclass(frozen=True)
class AggSpec:
    """A pane aggregation: op in count|sum|min|max|avg over ``col``
    (the FoldLeftFunction analog, Windows.java:128-221; Samza's SQL layer
    only ever folds COUNT — LogicalAggregateTranslator.java:62-87)."""

    name: str
    op: str
    col: str | None = None

    def __post_init__(self):
        if self.op not in _FOLD:
            raise ValueError(f"unsupported pane agg: {self.op}")


def _duration_ms(text: str) -> int:
    qty, unit = text.split()
    unit = unit.rstrip("s")
    scale = {
        "millisecond": 1,
        "second": 1000,
        "minute": 60_000,
        "hour": 3_600_000,
        "day": 86_400_000,
    }[unit]
    return int(float(qty) * scale)


def _flatten_triggers(t: Trigger | None) -> list[Trigger]:
    if t is None:
        return []
    if t.kind in ("any", "repeat"):
        out: list[Trigger] = []
        for c in t.children:
            out.extend(_flatten_triggers(c))
        return out
    return [t]


def _fold_fields(aggs: Sequence[AggSpec]) -> list[tuple[str, str, str | None]]:
    """The pane's folded values as ``(field, op, col)``: ``n`` (rows in the
    pane, which ``count`` reads), then one ``v{j}`` per other ``aggs[j]``
    and, for an ``avg``, one ``c{j}`` counting its non-null values, which
    the avg divides by."""
    fields = [("n", "count", None)]
    for j, a in enumerate(aggs):
        if a.op != "count":
            fields.append((f"v{j}", a.op, a.col))
        if a.op == "avg":
            fields.append((f"c{j}", "count", a.col))
    return fields


def _fold_inputs(pdf: pd.DataFrame, fields) -> list[np.ndarray]:
    """Each row's input to each fold field; a null enters as the fold's
    identity, so it is skipped wherever it falls. A count over a column
    counts its non-null values."""
    out = []
    for _, op, col in fields:
        if op == "count" and col is None:
            out.append(np.ones(len(pdf), np.int64))
            continue
        x = pdf[col].to_numpy(dtype=np.float64, na_value=np.nan)
        if op == "count":
            out.append((~np.isnan(x)).astype(np.int64))
        else:
            out.append(np.where(np.isnan(x), _FOLD[op][1], x))
    return out


def _pane_frame(key_cols, key, aggs: Sequence[AggSpec], panes: dict) -> pd.DataFrame:
    """One key's pane rows, the record layout both paths emit. ``panes``
    maps ws, we, pane_seq, fire_reason, is_final and the fold fields to
    equal-length sequences."""
    n = np.asarray(panes["n"], np.int64)
    cols = {k: [v] * len(n) for k, v in zip(key_cols, key)}
    for c, f in (("window_start", "ws"), ("window_end", "we")):
        cols[c] = np.asarray(panes[f], "datetime64[ms]").astype("datetime64[ns]")
    for j, a in enumerate(aggs):
        if a.op == "count":
            cols[a.name] = n
        else:
            v = np.asarray(panes[f"v{j}"], np.float64)
            if a.op == "avg":
                c = np.asarray(panes[f"c{j}"], np.int64)
                v = np.divide(v, c, out=np.full(len(v), np.nan), where=c > 0)
            cols[a.name] = v
    for c in ("pane_seq", "fire_reason", "is_final"):
        cols[c] = np.asarray(panes[c])
    return pd.DataFrame(cols)


def output_schema_ddl(spec: WindowSpec, key_ddl: str, aggs: Sequence[AggSpec]) -> str:
    agg_ddl = ", ".join(
        f"{a.name} {'bigint' if a.op == 'count' else 'double'}" for a in aggs
    )
    prefix = f"{key_ddl}, " if key_ddl else ""
    return (
        f"{prefix}window_start timestamp, window_end timestamp, "
        f"{agg_ddl}, pane_seq int, fire_reason string, is_final boolean"
    )


# ---------------------------------------------------------------------------
# Batch emulation (replay): deterministic pane stream given event-time order.
# ---------------------------------------------------------------------------


def triggered_window_batch(
    df: DataFrame,
    spec: WindowSpec,
    aggs: Sequence[AggSpec],
) -> DataFrame:
    """Replay-mode pane computation: what the trigger machinery *would* emit
    given rows in event-time order. Used for BATCH ApplicationMode parity
    (ApplicationConfig.java:44-46) and as the deterministic oracle for the
    streaming operator's tests: each message is folded alone, so count
    triggers fire at exactly n messages."""
    win_ms = _duration_ms(spec.duration) if spec.duration else None
    gap_ms = _duration_ms(spec.gap) if spec.gap else None
    triggers = _flatten_triggers(spec.early_trigger)
    count_ns = [t.count for t in triggers if t.kind == "count"]
    discarding = spec.accumulation is AccumulationMode.DISCARDING
    key_cols = list(spec.key_cols)
    ts_col = spec.ts_col
    key_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name in key_cols
    )
    out_ddl = output_schema_ddl(spec, key_ddl, aggs)
    fields = _fold_fields(aggs)
    combines = [_FOLD[op][0] for _, op, _ in fields]
    identities = [_FOLD[op][1] for _, op, _ in fields]

    def emit_panes(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col, kind="mergesort")
        ts_ms = (pdf[ts_col].astype("int64") // 1_000_000).to_numpy()
        if spec.window_type is WindowType.SESSION:
            # a session runs from its first event to its last event + gap
            brk = np.diff(ts_ms) > gap_ms
            sid = np.cumsum(np.r_[False, brk])
            ws_rows = ts_ms[np.r_[True, brk]][sid]
            we_rows = ts_ms[np.r_[brk, True]][sid] + gap_ms
        else:
            ws_rows = ts_ms // win_ms * win_ms
            we_rows = ws_rows + win_ms

        rows = []
        open_windows: dict = {}  # (ws, we) -> [rows since fire, pane_seq, fold values]
        inputs = zip(*(x.tolist() for x in _fold_inputs(pdf, fields)))
        for wkey, xs in zip(zip(ws_rows.tolist(), we_rows.tolist()), inputs):
            st = open_windows.setdefault(wkey, [0, 0, identities])
            st[2] = [c(v, x) for c, v, x in zip(combines, st[2], xs)]
            st[0] += 1
            fire_n = next((n for n in count_ns if st[0] >= n), None)
            if fire_n is not None:
                rows.append((*wkey, st[1], f"count({fire_n})", False, *st[2]))
                st[0], st[1] = 0, st[1] + 1
                if discarding:
                    st[2] = identities
        for wkey, (_, seq, vals) in open_windows.items():
            if vals[0]:
                rows.append((*wkey, seq, "window_close", True, *vals))

        names = ["ws", "we", "pane_seq", "fire_reason", "is_final"] + [f for f, _, _ in fields]
        # every window of a non-empty group fires at least once
        panes = dict(zip(names, zip(*rows)))
        return _pane_frame(key_cols, [pdf[k].iloc[0] for k in key_cols], aggs, panes)

    grouped = df.groupBy(*[F.col(k) for k in key_cols]) if key_cols else df.groupBy(F.lit(1).alias("__g"))
    out = grouped.applyInPandas(lambda pdf: emit_panes(pdf), out_ddl)
    return out


# ---------------------------------------------------------------------------
# Streaming operator: applyInPandasWithState.
# ---------------------------------------------------------------------------

# Per open window bookkeeping kept in the state row: (field, state type).
_WINDOW_FIELDS = [
    ("ws", "bigint"),
    ("we", "bigint"),
    ("since_fire", "bigint"),
    ("pane_seq", "int"),
    ("first_ms", "bigint"),
    ("last_ms", "bigint"),
    ("quiet_fired", "boolean"),
]
_NP_TYPES = {"bigint": np.int64, "int": np.int32, "boolean": np.bool_, "double": np.float64}


def triggered_window_stream(
    df: DataFrame,
    spec: WindowSpec,
    aggs: Sequence[AggSpec],
) -> DataFrame:
    """Streaming pane computation with per-key state.

    State layout: one typed row per key whose fields are arrays with one
    element per open window, sorted by window start — Samza's
    TimeSeriesStore ``(key, windowStart)`` entries (TimeSeriesStoreImpl.
    java:79) as columns: ``ws``, ``we``, ``since_fire`` (rows since the last
    fire), ``pane_seq``, ``first_ms``/``last_ms`` (arrival clock),
    ``quiet_fired``, ``n`` (rows in the pane state), one ``v{j}`` per
    non-count aggregate and one ``c{j}`` (non-null values) per avg. Each
    Arrow chunk is folded with one group-by over window positions through
    ``_FOLD``; nulls are skipped wherever they fall. Time-based triggers
    use ProcessingTimeTimeout, matching Samza's injected-Clock
    processing-time trigger evaluation; windows close on that clock too
    (fixed windows ``duration`` after first arrival, sessions one gap after
    last arrival), so a ``with_watermark`` delay is not honoured here and
    late rows fold into a new window.

    SESSION windows keep dynamic ``(start, last_event+gap)`` windows;
    incoming chunks are split at >gap breaks and each piece is coalesced
    with every overlapping open session (Samza's session merge), the
    merged state folded through the same table.

    Granularity note: Samza evaluates count triggers per *message*
    (RunLoop drives one envelope at a time); under micro-batching the
    trigger condition is checked once per window per Arrow chunk, so a
    count(3) pane may carry more than 3 rows when a chunk overshoots the
    threshold. The batch replay (`triggered_window_batch`) keeps exact
    per-message semantics and is the reference for tests/oracles."""
    import time as _time

    is_session = spec.window_type is WindowType.SESSION
    win_ms = _duration_ms(spec.duration) if spec.duration else None
    gap_ms = _duration_ms(spec.gap) if spec.gap else None
    triggers = _flatten_triggers(spec.early_trigger)
    count_ns = [t.count for t in triggers if t.kind == "count"]
    since_first = [
        _duration_ms(t.duration) for t in triggers if t.kind == "time_since_first"
    ]
    since_last = [
        _duration_ms(t.duration) for t in triggers if t.kind == "time_since_last"
    ]
    discarding = spec.accumulation is AccumulationMode.DISCARDING
    key_cols = list(spec.key_cols)
    ts_col = spec.ts_col
    close_after_ms = win_ms or gap_ms or 60_000
    next_due = min([close_after_ms] + since_first + since_last)

    key_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name in key_cols
    )
    out_ddl = output_schema_ddl(spec, key_ddl, aggs)
    fields = _fold_fields(aggs)
    state_fields = _WINDOW_FIELDS + [
        (f, "bigint" if op == "count" else "double") for f, op, _ in fields
    ]
    state_ddl = ", ".join(f"{f} array<{t}>" for f, t in state_fields)
    pane_fields = ["ws", "we", "pane_seq"] + [f for f, _, _ in fields]

    def fn(key, pdf_iter: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        now_ms = int(_time.time() * 1000)
        stored = state.get if state.exists else [[]] * len(state_fields)
        w = {f: np.asarray(v, _NP_TYPES[t]) for (f, t), v in zip(state_fields, stored)}
        fired = []

        def fire(idx, reason: str, final: bool) -> None:
            pane = {f: w[f][idx] for f in pane_fields}
            pane["fire_reason"] = np.full(len(idx), reason, dtype=object)
            pane["is_final"] = np.full(len(idx), final)
            fired.append(pane)
            w["pane_seq"][idx] += 1
            w["since_fire"][idx] = 0
            if discarding:
                for f, op, _ in fields:
                    w[f][idx] = _FOLD[op][1]

        def insert(ws, we, **init) -> None:
            """Open windows ``[ws, we)`` (arrays), keeping ``w`` sorted."""
            at = np.searchsorted(w["ws"], ws)
            fresh = {"ws": ws, "we": we, "first_ms": now_ms, "last_ms": now_ms}
            fresh.update({f: _FOLD[op][1] for f, op, _ in fields}, **init)
            for f, _ in state_fields:
                w[f] = np.insert(w[f], at, fresh.get(f, 0))

        def coalesce(s: int, e: int) -> None:
            """Merge the session ``[s, e]`` with every overlapping open one."""
            hit = (w["ws"] <= e) & (s <= w["we"])
            init = {
                f: _FOLD[op][0].reduce(w[f][hit], initial=_FOLD[op][1])
                for f, op, _ in fields
            }
            init["since_fire"] = w["since_fire"][hit].sum()
            init["pane_seq"] = w["pane_seq"][hit].max(initial=0)
            init["first_ms"] = w["first_ms"][hit].min(initial=now_ms)
            ws = min(s, w["ws"][hit].min(initial=s))
            we = max(e, w["we"][hit].max(initial=e))
            for f in w:
                w[f] = w[f][~hit]
            insert(np.array([ws]), np.array([we]), **init)

        def ingest(pdf: pd.DataFrame, at: np.ndarray) -> None:
            """Fold the chunk into the windows at positions ``at`` (one per
            row), then fire each touched window's first due count trigger."""
            order = np.argsort(at, kind="stable")
            pos, starts, counts = np.unique(at[order], return_index=True, return_counts=True)
            for (f, op, _), x in zip(fields, _fold_inputs(pdf, fields)):
                combine = _FOLD[op][0]
                w[f][pos] = combine(w[f][pos], combine.reduceat(x[order], starts))
            w["since_fire"][pos] += counts
            w["last_ms"][pos] = now_ms
            w["quiet_fired"][pos] = False  # new data re-arms time triggers
            for n in count_ns:
                due = pos[w["since_fire"][pos] >= n]
                fire(due, f"count({n})", False)
                pos = np.setdiff1d(pos, due)

        for pdf in pdf_iter:
            if pdf.empty:
                continue
            ts_ms = (pdf[ts_col].astype("int64") // 1_000_000).to_numpy()
            if is_session:
                sorted_ts = np.sort(ts_ms)
                brk = np.diff(sorted_ts) > gap_ms
                firsts, lasts = sorted_ts[np.r_[True, brk]], sorted_ts[np.r_[brk, True]]
                for s, e in zip(firsts.tolist(), lasts.tolist()):
                    coalesce(s, e + gap_ms)
                ingest(pdf, np.searchsorted(w["ws"], ts_ms, side="right") - 1)
            else:
                ws_rows = ts_ms // win_ms * win_ms
                new = np.setdiff1d(ws_rows, w["ws"])
                if len(new):
                    insert(new, new + win_ms)
                ingest(pdf, np.searchsorted(w["ws"], ws_rows))

        # Close/time-trigger sweep runs on EVERY invocation, not only on
        # timeout: each data batch resets the timeout clock, so under
        # sustained per-key traffic a timeout-only sweep would never fire
        # window_close and expired windows would pile up in state forever.
        # Windows touched this batch have last_ms == now_ms, so fresh
        # sessions never close early and last_due never fires spuriously.
        since_first_ms = now_ms - w["first_ms"]
        since_last_ms = now_ms - w["last_ms"]
        live = w["n"] > 0
        # sessions close one gap after the LAST event (arrival-clock
        # proxy for the gap timer); fixed windows after their span
        closing = (
            since_last_ms >= gap_ms if is_session else since_first_ms >= close_after_ms
        )
        due = np.zeros(len(closing), bool)
        for d in since_first:
            due |= since_first_ms >= d
        for d in since_last:
            due |= since_last_ms >= d
        # one time fire per quiet period (Samza re-evaluates
        # timeSinceLastMessage only as messages arrive; repeat semantics
        # need Triggers.repeat)
        quiet = np.flatnonzero(due & live & ~closing & ~w["quiet_fired"])
        fire(quiet, "time_trigger", False)
        w["quiet_fired"][quiet] = True
        fire(np.flatnonzero(closing & live), "window_close", True)

        if closing.all():
            if state.exists:
                state.remove()
        else:
            state.update(tuple(w[f][~closing].tolist() for f, _ in state_fields))
            state.setTimeoutDuration(next_due)

        # the sweep always fires (maybe nothing), so ``fired`` is never empty
        yield _pane_frame(
            key_cols, key, aggs, {f: np.concatenate([p[f] for p in fired]) for f in fired[0]}
        )

    return (
        df.groupBy(*[F.col(k) for k in key_cols])
        .applyInPandasWithState(
            fn, out_ddl, state_ddl, "append", GroupStateTimeout.ProcessingTimeTimeout
        )
    )


def await_condition(query, condition, timeout_s: float = 60.0, poll_s: float = 0.25) -> bool:
    """Wait until ``condition()`` is truthy or ``timeout_s`` elapses.

    Required instead of ``StreamingQuery.processAllAvailable`` for queries
    containing this operator: with ``ProcessingTimeTimeout`` configured,
    Spark's FlatMapGroupsWithStateExec.shouldRunAnotherBatch is always true
    (timer-evaluation batches are scheduled indefinitely), so the engine
    never signals ``noNewData`` and processAllAvailable blocks forever.
    Returns True if the condition was met; raises if the query failed."""
    import time as _time

    deadline = _time.monotonic() + timeout_s
    while _time.monotonic() < deadline:
        if query.exception() is not None:
            raise query.exception()
        if condition():
            return True
        _time.sleep(poll_s)
    return bool(condition())


def triggered_window(df: DataFrame, spec: WindowSpec, agg_cols) -> DataFrame:
    """Entry point used by MessageStream.window for trigger/DISCARDING specs.

    ``agg_cols`` may be AggSpec objects; Column aggregates are not accepted
    on the stateful path (Samza's trigger path only folds —
    WindowOperatorImpl's FoldLeftFunctions).
    """
    aggs = [a for a in agg_cols if isinstance(a, AggSpec)]
    if not aggs:
        aggs = [AggSpec("count", "count")]
    if df.isStreaming:
        return triggered_window_stream(df, spec, aggs)
    return triggered_window_batch(df, spec, aggs)
