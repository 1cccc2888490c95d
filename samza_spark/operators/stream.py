"""MessageStream: the high-level streams DSL on top of DataFrames.

Reference surface: /root/reference samza-api/.../operators/MessageStream.java
(map:60, flatMap:70, flatMapAsync:95, filter:107, sink:121, sendTo:136,
window:157, join:185, join-table:216, merge:227, partitionBy:280,
sendTo-table:298, broadcast:328). Samza lowers map/filter/flatMap to a single
flatMap impl (samza-core/.../operators/spec/OperatorSpecs.java); we lower
everything to *declarative DataFrame transformations* instead so Catalyst can
fuse, push down, and codegen them — a per-message Python callback path would
throw away whole-stage codegen (SURVEY.md §1.1 "row-oriented, not columnar").

Column-expression overloads are therefore the primary API; Python-callable
overloads exist for parity but route through Arrow-batched ``mapInPandas``
(never row-at-a-time UDFs).

Works identically on batch and streaming DataFrames: Samza's BATCH/STREAM
ApplicationMode (samza-core/.../config/ApplicationConfig.java:44-46) maps to
the *same* logical plan executed by ``spark.read`` vs ``spark.readStream``.
"""

from __future__ import annotations

from typing import Callable, Iterable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from samza_spark.operators.windows import WindowSpec, WindowType

# Samza's KV<K,V> (samza-api/.../operators/KV.java) degenerates to a pair of
# column names in the relational model.
KV = tuple


def _cond(c: Column | str) -> Column:
    return F.expr(c) if isinstance(c, str) else c


class MessageStream:
    """A logical, transformable stream — wraps a (batch or streaming)
    DataFrame (MessageStream.java:50 -> streaming Dataset, SURVEY.md §1.1)."""

    def __init__(self, df: DataFrame):
        self._df = df

    # -- accessors ---------------------------------------------------------

    @property
    def df(self) -> DataFrame:
        return self._df

    @property
    def is_streaming(self) -> bool:
        return self._df.isStreaming

    def _wrap(self, df: DataFrame) -> "MessageStream":
        return MessageStream(df)

    # -- stateless 1:1 / 1:n / predicate (MessageStream.java:60-107) -------

    def map(self, *cols: Column | str, **aliased: Column | str) -> "MessageStream":
        """1:1 transform. Pass column expressions (kept JVM-side); kwargs
        become aliases: ``s.map("a", total=col("b") + col("c"))``."""
        exprs = [_cond(c) for c in cols]
        exprs += [_cond(c).alias(name) for name, c in aliased.items()]
        return self._wrap(self._df.select(*exprs))

    def map_pandas(self, fn: Callable, schema) -> "MessageStream":
        """Arbitrary-Python 1:1/1:n transform via Arrow-batched mapInPandas
        (the parity path for opaque Samza MapFunction objects)."""
        return self._wrap(self._df.mapInPandas(fn, schema))

    def filter(self, cond: Column | str) -> "MessageStream":
        return self._wrap(self._df.filter(_cond(cond)))

    def flat_map(
        self, col: Column | str, alias: str, keep: Sequence[str] | None = None
    ) -> "MessageStream":
        """1:n transform: explode an array expression into rows
        (MessageStream.java:70 -> explode, SURVEY.md §2.1)."""
        keep_cols = [F.col(c) for c in (keep if keep is not None else self._df.columns)]
        return self._wrap(self._df.select(*keep_cols, F.explode(_cond(col)).alias(alias)))

    def flat_map_async(self, fn: Callable, schema) -> "MessageStream":
        """Async 1:n (MessageStream.java:95). Under Spark the async-IO use
        case is remote enrichment; route through mapInPandas where the
        callable may batch its own async client (see
        samza_spark.tables.remote for the rate-limited lookup runner)."""
        return self._wrap(self._df.mapInPandas(fn, schema))

    # -- merge / partitionBy / broadcast ----------------------------------

    def merge(self, *others: "MessageStream") -> "MessageStream":
        """UNION ALL of same-typed streams (MessageStream.java:227)."""
        out = self._df
        for o in others:
            out = out.unionByName(o._df)
        return self._wrap(out)

    def partition_by(self, *key_cols: Column | str, num_partitions: int | None = None) -> "MessageStream":
        """Repartition by key. Samza materialises an intermediate Kafka topic
        (PartitionByOperatorImpl.java:46-60, IntermediateStreamManager.java:
        59-94); Spark's shuffle service replaces the physical topic —
        downstream keyed ops see identical co-partitioning."""
        cols = [_cond(c) for c in key_cols]
        if num_partitions:
            return self._wrap(self._df.repartition(num_partitions, *cols))
        return self._wrap(self._df.repartition(*cols))

    def broadcast(self) -> "MessageStream":
        """Mark this (small) stream for broadcast to every task
        (MessageStream.java:328/BroadcastOperatorImpl.java:40-59). In Spark
        this is a join-strategy hint, not a physical topic."""
        return self._wrap(F.broadcast(self._df))

    # -- joins (MessageStream.java:185/216) --------------------------------

    def join(
        self,
        other: "MessageStream",
        on: Column | str | Sequence[str],
        how: str = "inner",
        ttl: str | None = None,
        left_ts: str | None = None,
        right_ts: str | None = None,
    ) -> "MessageStream":
        """Stream-stream equi-join. Samza buffers both sides for ``ttl`` of
        processing time and emits on match (PartialJoinOperatorImpl.java:
        73-96). Spark mapping: for batch a plain join; for streaming, pass
        ``ttl`` + both event-time columns and the join adds the watermark
        range condition Spark needs to expire state — event-time TTL, a
        documented (stronger) deviation from Samza's processing-time TTL."""
        cond = on if not isinstance(on, str) else [on]
        left_df, right_df = self._df, other._df
        if ttl and left_ts and right_ts:
            if left_df.isStreaming and right_df.isStreaming:
                # watermarks bound the join state exactly like Samza's
                # per-side TTL'd RocksDB buffers (PartialJoinOperatorImpl's
                # ttlMs); Spark expires buffered rows past watermark+range
                left_df = left_df.withWatermark(left_ts, ttl)
                right_df = right_df.withWatermark(right_ts, ttl)
            lts, rts = left_df[left_ts], right_df[right_ts]
            range_cond = (rts >= lts - F.expr(f"INTERVAL {ttl}")) & (
                rts <= lts + F.expr(f"INTERVAL {ttl}")
            )
            key_names = cond if isinstance(cond, list) else []
            if isinstance(cond, list):
                eq = None
                for c in cond:
                    e = left_df[c] == right_df[c]
                    eq = e if eq is None else (eq & e)
                cond = eq & range_cond
            else:
                cond = cond & range_cond
            joined = left_df.join(right_df, cond, how)
            # string equi-keys: keep only the left copy (same column set a
            # plain USING join would produce)
            for c in key_names:
                joined = joined.drop(right_df[c])
            return self._wrap(joined)
        return self._wrap(left_df.join(right_df, cond, how))

    def join_table(
        self,
        table,
        on: Column | str | Sequence[str],
        how: str = "inner",
    ) -> "MessageStream":
        """Stream-table lookup join (MessageStream.java:216,
        StreamTableJoinOperatorImpl.java:45-81). Local tables broadcast
        (stream-static join); remote tables route through
        samza_spark.tables.remote.RemoteTable.enrich."""
        from samza_spark.tables.local import LocalTable

        if isinstance(table, LocalTable):
            return self._wrap(self._df.join(table.as_broadcast(), on, how))
        if isinstance(table, MessageStream):
            return self._wrap(self._df.join(F.broadcast(table._df), on, how))
        if isinstance(table, DataFrame):
            return self._wrap(self._df.join(F.broadcast(table), on, how))
        raise TypeError(f"not a joinable table: {type(table)}")

    # -- windows (MessageStream.java:157) ----------------------------------

    def window(
        self, spec: WindowSpec, *aggs: Column, **aliased_aggs: Column
    ) -> "MessageStream":
        """Window + aggregate. Native Catalyst path when no early triggers /
        DISCARDING mode are requested; otherwise the stateful operator
        (samza_spark.streaming.stateful) implements Samza's trigger
        semantics (WindowOperatorImpl.java:253-297). That path closes
        windows on processing time and ignores ``spec.watermark``."""
        agg_cols = list(aggs) + [a.alias(n) for n, a in aliased_aggs.items()]
        if not agg_cols:
            agg_cols = [F.count(F.lit(1)).alias("count")]
        if spec.needs_stateful_operator:
            from samza_spark.streaming.stateful import triggered_window

            return self._wrap(triggered_window(self._df, spec, agg_cols))

        df = self._df
        if spec.watermark and df.isStreaming:
            df = df.withWatermark(spec.ts_col, spec.watermark)
        if spec.window_type is WindowType.SESSION:
            wcol = F.session_window(F.col(spec.ts_col), spec.gap)
        elif spec.window_type is WindowType.SLIDING:
            wcol = F.window(F.col(spec.ts_col), spec.duration, spec.slide)
        else:
            wcol = F.window(F.col(spec.ts_col), spec.duration)
        keys = [F.col(k) for k in spec.key_cols]
        return self._wrap(df.groupBy(*keys, wcol.alias("window")).agg(*agg_cols))

    # -- terminal ops (MessageStream.java:121-136, 298) --------------------

    def send_to(self, sink) -> object:
        """Write to a named output (OutputOperatorImpl). ``sink`` is a
        samza_spark.sources descriptor; returns the StreamingQuery (stream)
        or None (batch write)."""
        return sink.write(self._df)

    def sink(self, fn: Callable[[DataFrame, int], None], **stream_opts) -> object:
        """Terminal side-effecting sink (MessageStream.java:121 ->
        foreachBatch, SURVEY.md §2.1)."""
        if self._df.isStreaming:
            writer = self._df.writeStream.foreachBatch(fn)
            for k, v in stream_opts.items():
                writer = writer.option(k, v)
            return writer.start()
        fn(self._df, 0)
        return None

    def send_to_table(self, table, mode: str = "upsert") -> object:
        """Upsert stream into a table (MessageStream.java:298/321,
        SendToTableOperatorImpl). Local tables merge per micro-batch."""
        return table.write_stream(self) if self.is_streaming else table.merge_batch(self._df, mode)
