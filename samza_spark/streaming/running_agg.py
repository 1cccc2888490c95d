"""Per-key stateful streaming aggregates on ``applyInPandasWithState``.

Samza analog: a task accumulating per-key totals in its KeyValueStore
(KeyValueStore.java:40 get/put) and emitting the updated value per message
— the canonical low-level stateful pattern (e.g. the reference's join/
checker correctness job). Here the state lives in Spark's state store as
one per-key state tuple; output is one row per (key, batch) with the
state after that batch.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, functions as F


def running_aggregate(
    stream,
    key_col: str,
    value_col: str | None = None,
) -> DataFrame:
    """Running per-key (count, sum) emitted after every micro-batch that
    touches the key, as ``(key, running_n, running_total)``. State
    persists across batches in the state store: per-key state is a single
    (n, total) tuple, exactly Samza's KeyValueStore get/put accumulation
    (KeyValueStore.java:40)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    df = getattr(stream, "df", stream)

    def fn(key, pdf_iter, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        got = False
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            got = True
            n += len(pdf)
            if value_col is not None:
                total += float(pdf[value_col].sum())
        if got:
            state.update((n, float(total)))
            yield pd.DataFrame(
                {"key": [str(key[0])], "running_n": [n], "running_total": [total]}
            )
        else:
            yield pd.DataFrame({"key": [], "running_n": [], "running_total": []})

    return (
        df.groupBy(F.col(key_col))
        .applyInPandasWithState(
            fn,
            "key string, running_n bigint, running_total double",
            "n bigint, total double",
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def running_balance_stream(
    df: DataFrame,
    key_col: str,
    delta_col: str,
    ts_col: str = "ts",
    id_col: str = "event_id",
    floor_at: int = 0,
) -> DataFrame:
    """Streaming clamped running balance — the incremental form of
    :func:`samza_spark.pipeline.events.running_balance`: per-key
    ``(balance, clamps, n)`` state carried across micro-batches in the
    state store, each batch's rows folded in (ts, id) order with
    ``balance = max(floor, balance + delta)``. Because the fold is
    NON-associative, correctness requires per-key event-time-ordered
    delivery across batches (the replay/partitioned-log contract the
    reference engine guarantees per partition); within a batch this
    implementation sorts, so any intra-batch arrival order is fine.

    Dependency-free ``applyInPandasWithState`` (no protobuf); emits one
    row per (key, batch) with the post-batch state — Samza's
    KeyValueStore get/fold/put shape verbatim.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    fl = int(floor_at)

    def fn(key, pdf_iter, state: GroupState):
        bal, clamps, n = state.get if state.exists else (fl, 0, 0)
        got = False
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            got = True
            pdf = pdf.sort_values([ts_col, id_col])
            for d in pdf[delta_col].astype("int64"):
                nxt = bal + int(d)
                if nxt < fl:
                    clamps += 1
                    bal = fl
                else:
                    bal = nxt
                n += 1
        if got:
            state.update((int(bal), int(clamps), int(n)))
            yield pd.DataFrame(
                {
                    "key": [str(key[0])],
                    "final_balance": [int(bal)],
                    "n_clamps": [int(clamps)],
                    "n_events": [int(n)],
                }
            )
        else:
            yield pd.DataFrame(
                {"key": [], "final_balance": [], "n_clamps": [], "n_events": []}
            )

    return (
        df.groupBy(F.col(key_col))
        .applyInPandasWithState(
            fn,
            "key string, final_balance bigint, n_clamps bigint, n_events bigint",
            "bal bigint, clamps bigint, n bigint",
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def funnel_stream(
    df: DataFrame,
    steps: "list[str]",
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Streaming ordered funnel — the incremental form of
    :func:`samza_spark.pipeline.events.funnel`: per-user state is
    ``(step_reached, t_last_micros)``; each micro-batch runs the same
    min-forward scan the batch operator uses (for the next step, the
    earliest matching event at/after the previous step's completion
    time — repeated until no step advances), so within-batch arrival
    order never matters and the final state equals the batch answer as
    long as batches arrive in event-time order per key (the reference's
    per-partition ordered-delivery contract, as with
    :func:`running_balance_stream`).

    Samza shape: StreamTask + KeyValueStore per-user funnel tracker
    (TaskApplication with a store — the canonical Samza example app);
    emits one row per (user, batch) with post-batch progress.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    steps_ = list(steps)

    def fn(key, pdf_iter, state: GroupState):
        reached, last_us = state.get if state.exists else (0, 0)
        got = False
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            got = True
            # dtype-safe epoch-µs (Arrow may hand datetime64[ns] OR [us])
            us = pd.Series(
                pdf[ts_col].values.astype("datetime64[us]").astype("int64"),
                index=pdf.index,
            )
            et = pdf[type_col]
            # min-forward: advance through remaining steps greedily
            while reached < len(steps_):
                cand = us[(et == steps_[reached]) & (us >= last_us)]
                if not len(cand):
                    break
                last_us = int(cand.min())
                reached += 1
        if got:
            state.update((int(reached), int(last_us)))
            yield pd.DataFrame(
                {
                    "key": [str(key[0])],
                    "step_reached": [int(reached)],
                    "t_last_us": [int(last_us)],
                }
            )
        else:
            yield pd.DataFrame({"key": [], "step_reached": [], "t_last_us": []})

    return df.groupBy(F.col(user_col)).applyInPandasWithState(
        fn,
        "key string, step_reached bigint, t_last_us bigint",
        "reached bigint, last_us bigint",
        "append",
        GroupStateTimeout.NoTimeout,
    )
