"""Changelog compaction: latest-wins reduction of an ordered update log
to table state.

This is the batch form of what the reference does on every container
restart: replay the (Kafka log-compacted) changelog topic of a durable
table and keep only the newest record per key, treating a delete marker
as "remove the key" (/root/reference
samza-kv/src/main/scala/org/apache/samza/storage/kv/
KeyValueStorageEngine.scala restore loop: `put` per record, `delete` on
null value — last write wins; the broker-side analog is Kafka topic
compaction, which Samza's `changelog` table config relies on).
``DurableLocalTable.open`` restores its base snapshot plus changelog
through :func:`compact_changelog`.

Spark-first shape: ONE shuffle. ``max_by(payload, order)`` is a
declarative aggregate with map-side partial combine, so each executor
reduces its slice of every key to a single candidate row before the
exchange — shuffle volume is O(#distinct keys), not O(#log records).
That is the property that makes this run on a 100 TB changelog: the log
is scanned once, and the exchange moves table-sized (not log-sized)
data. A `row_number() = 1` window formulation would instead shuffle the
ENTIRE log into per-key sorted partitions — never do that for
latest-wins.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, functions as F


def compact_changelog(
    log: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    value_cols: "Sequence[str] | None" = None,
    tombstone: "Column | None" = None,
) -> DataFrame:
    """Reduce an update log to its latest state per key.

    Parameters
    ----------
    log : the changelog; one row per update.
    key_cols : the table key (the changelog topic's message key).
    order_cols : total order WITHIN a key — e.g. ``("ts", "offset")``.
        Must be unique per key for a deterministic result (mirror the
        reference, where the changelog partition's offset order is the
        authority). Compared lexicographically as a struct.
    value_cols : payload columns to keep (default: everything that is
        not a key column).
    tombstone : predicate evaluated on the LATEST record of each key;
        keys whose newest record matches are dropped entirely — the
        delete-marker semantics of a compacted changelog (a Samza
        ``table.delete(key)`` writes a null-value record).

    Returns one row per surviving key: ``key_cols + value_cols +
    order_cols`` (the order columns of the winning record are kept so
    callers can checkpoint "state as of"). A streaming ``log`` gives the
    continuously maintained view: one state row per key, and each
    ``outputMode("update")`` micro-batch emits the keys whose state changed.
    """
    key_cols = list(key_cols)
    order_cols = list(order_cols)
    if value_cols is None:
        value_cols = [c for c in log.columns if c not in key_cols and c not in order_cols]
    payload = F.struct(*[F.col(c) for c in list(value_cols) + order_cols])
    order = F.struct(*[F.col(c) for c in order_cols])
    latest = (
        log.groupBy(*key_cols)
        .agg(F.max_by(payload, order).alias("__latest"))
        .select(*key_cols, "__latest.*")
    )
    if tombstone is not None:
        latest = latest.filter(~tombstone)
    return latest


def changelog_history(
    log: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    value_cols: "Sequence[str] | None" = None,
) -> DataFrame:
    """Type-2 history of a changelog: one row per key VERSION with its
    validity interval — the warehouse-side "slowly changing dimension"
    view of the same log :func:`compact_changelog` reduces to current
    state (Kimball SCD2; the reference's changelog topic holds exactly
    this history before Kafka compaction garbage-collects it).

    Returns ``key_cols + value_cols + order_cols + (version,
    is_current)`` where ``version`` numbers a key's updates from 1 in
    changelog order and ``is_current`` marks its newest record. The
    interval end of version N is version N+1's order columns — callers
    join consecutive versions or use a lead() as needed.

    Scale shape: ONE key-partitioned window (row_number ascending +
    count over the partition) — a single exchange of the log, sorted
    within keys. Unlike compaction this is inherently log-sized output,
    so there is no partial-aggregate shortcut; per-key skew is bounded
    by a key's update count.
    """
    from pyspark.sql import Window

    key_cols = list(key_cols)
    order_cols = list(order_cols)
    if value_cols is None:
        value_cols = [c for c in log.columns if c not in key_cols and c not in order_cols]
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c) for c in order_cols])
    w_all = (
        Window.partitionBy(*key_cols)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return log.select(
        *key_cols,
        *list(value_cols),
        *order_cols,
        F.row_number().over(w).alias("version"),
        (F.row_number().over(w) == F.count(F.lit(1)).over(w_all)).alias("is_current"),
    )
