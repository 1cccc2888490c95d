"""Local tables: the Spark analog of Samza's RocksDB / in-memory KV tables.

Reference: RocksDbTableDescriptor (/root/reference samza-kv-rocksdb/.../
RocksDbTableDescriptor.java:47,201-207,342), InMemoryKeyValueStore
(samza-kv-inmemory/.../InMemoryKeyValueStore.java), ReadWriteUpdateTable
(samza-api/.../table/ReadWriteUpdateTable.java:46-140).

Samza keeps a per-task RocksDB instance fed by a changelog topic; under
Spark a *local table* is a keyed DataFrame that joins (usually broadcast)
against the stream. ``get/put/putAll/delete/range/all``
(KeyValueStore.java:40-152) map to lookups/upserts expressed relationally
so they stay distributed.

A table's plan only ever holds materialised rows: ``merge_batch`` runs its
input once — the in-memory table into an eager ``localCheckpoint``,
:class:`DurableLocalTable` into its changelog, read back from those files
— so no later read or compaction runs a micro-batch's source scan, join or
stateful operator again. Durability is that changelog: a
:class:`DurableLocalTable` restores from its base snapshot plus changelog,
as Samza's KeyValueStorageEngine restores a store without recomputing it.

TTL (RocksDbTableDescriptor.withTtl, :201-207) maps to a timestamp column +
filter on read.
"""

from __future__ import annotations

import functools
import os
import shutil
import time
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from samza_spark.tables.compaction import compact_changelog


class LocalTable:
    """A keyed, updatable dataset held as a DataFrame.

    Mutations are relational (union + dedup-by-key keeping latest) so the
    same code path works for a 1k-row dim table and a 10 TB keyed table —
    only the join strategy changes (broadcast vs shuffle).
    """

    TTL_COL = "__ss_put_ms"

    def __init__(
        self,
        df: DataFrame,
        key_cols: Sequence[str],
        ttl_ms: int | None = None,
        compact_every: int = 10,
    ):
        self.key_cols = list(key_cols)
        self.ttl_ms = ttl_ms
        self._df = df
        # Every mutation stacks an anti-join+union over materialised rows;
        # ``compact_every`` mutations collapse them into one materialised
        # table, so plan depth stays O(compact_every) for any stream length.
        self.compact_every = compact_every
        self._mutations_since_compact = 0

    def _materialise(self, rows: DataFrame, mode: str) -> DataFrame:
        """``rows`` run once; the result's plan reads them, not their source."""
        if set(self._df.columns) <= set(rows.columns):
            rows = rows.select(*self._df.columns)
        return rows.localCheckpoint(eager=True)

    def _compact(self) -> DataFrame:
        # Coalescing gives a new Dataset over the same plan (an interrupted
        # action, as in a stopped stream's merge, leaves its Dataset unable
        # to run again, and ``self._df`` must stay readable) and keeps the
        # partition count from growing with every union, without a shuffle.
        spark = self._df.sparkSession
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        return self._df.coalesce(n).localCheckpoint(eager=True)

    def _maybe_compact(self) -> None:
        self._mutations_since_compact += 1
        if self.compact_every and self._mutations_since_compact >= self.compact_every:
            self._df = self._compact()
            self._mutations_since_compact = 0

    # -- construction ------------------------------------------------------

    @classmethod
    def from_parquet(cls, spark: SparkSession, path: str, key_cols: Sequence[str]) -> "LocalTable":
        return cls(spark.read.parquet(path), key_cols)

    # -- read side ---------------------------------------------------------

    @property
    def df(self) -> DataFrame:
        df = self._df
        if self.ttl_ms is not None and self.TTL_COL in df.columns:
            cutoff = int(time.time() * 1000) - self.ttl_ms
            df = df.filter(F.col(self.TTL_COL) >= F.lit(cutoff))
        return df.drop(self.TTL_COL) if self.TTL_COL in df.columns else df

    def as_broadcast(self) -> DataFrame:
        """Hint the table as the broadcast side of a lookup join — the moral
        equivalent of Samza shipping the table to every task's RocksDB."""
        return F.broadcast(self.df)

    def get_all(self) -> DataFrame:
        """KeyValueStore.all (KeyValueStore.java:152)."""
        return self.df

    def range(self, col: str, lo, hi) -> DataFrame:
        """Ordered range scan (KeyValueStore.range, KeyValueStore.java:130).
        Relational translation: a between-filter Catalyst pushes to the scan."""
        return self.df.filter((F.col(col) >= lo) & (F.col(col) < hi))

    # -- write side (ReadWriteUpdateTable.java:78-140) ---------------------

    def merge_batch(self, updates: DataFrame, mode: str = "upsert") -> "LocalTable":
        """Upsert a batch of rows (last-writer-wins per key), or with
        ``mode="delete"`` remove the batch's keys. The one write path.

        Implements sendTo(table) / UpdateOptions partial update
        (SendToTableOperatorImpl, SendToTableWithUpdateOperatorImpl) without
        Delta: materialise the batch once, anti-join the old rows it
        replaces, union the new.
        """
        if mode == "delete":
            updates = updates.select(*self.key_cols)
        elif mode != "upsert":
            raise ValueError(f"unknown merge mode {mode!r}")
        rows = self._materialise(updates, mode)
        # a USING anti-join moves the key columns first; keep the table's order
        survivors = self._df.join(
            rows.select(*self.key_cols), on=self.key_cols, how="left_anti"
        ).select(*self._df.columns)
        self._df = (
            survivors if mode == "delete"
            else survivors.unionByName(rows, allowMissingColumns=True)
        )
        self._maybe_compact()
        return self

    def update_batch(
        self,
        updates: DataFrame,
        insert_missing: bool = False,
        defaults: Mapping | None = None,
    ) -> "LocalTable":
        """Partial update: ``updates`` carries the key columns plus any
        subset of value columns; unspecified columns keep their current
        value (column-wise MERGE). The post-image of the affected keys goes
        through :meth:`merge_batch`.

        Implements sendTo(table, UpdateOptions)
        (SendToTableWithUpdateOperatorImpl; UpdateOptions UPDATE_ONLY vs
        UPDATE_WITH_DEFAULTS, samza-api/.../operators/UpdateOptions.java):
        ``insert_missing=False`` = UPDATE_ONLY (rows for unknown keys are
        dropped); ``insert_missing=True`` = UPDATE_WITH_DEFAULTS (unknown
        keys become new rows, absent columns from ``defaults`` or null).
        """
        defaults = dict(defaults or {})
        upd_cols = [c for c in updates.columns if c not in self.key_cols]
        bad = set(upd_cols) - set(self._df.columns)
        if bad:
            raise ValueError(f"update columns not in table schema: {sorted(bad)}")
        u = updates.select(
            *self.key_cols, *[F.col(c).alias(f"__u_{c}") for c in upd_cols]
        )
        how = "right_outer" if insert_missing else "inner"
        existing = self._df.withColumn("__exists", F.lit(True))
        merged = existing.join(u, on=self.key_cols, how=how)
        is_new = F.col("__exists").isNull()
        out_cols = []
        for c in self._df.columns:
            if c in self.key_cols:
                out_cols.append(F.col(c))
            elif c in upd_cols:
                out_cols.append(F.coalesce(F.col(f"__u_{c}"), F.col(c)).alias(c))
            elif c in defaults:
                # defaults fill only newly-inserted rows; existing nulls stay
                out_cols.append(
                    F.when(is_new, F.lit(defaults[c])).otherwise(F.col(c)).alias(c)
                )
            else:
                out_cols.append(F.col(c))
        return self.merge_batch(merged.select(*out_cols))

    def write_stream(self, stream) -> object:
        """sendTo(table) from a streaming source: per-micro-batch merge via
        foreachBatch (SURVEY.md §2.1 sendTo(table))."""
        return stream.sink(lambda batch, _epoch: self.merge_batch(batch))


class DurableLocalTable(LocalTable):
    """Parquet-warehouse-backed local table — the changelog-restore analog
    of Samza's KeyValueStorageEngine (/root/reference samza-kv/src/main/
    scala/org/apache/samza/storage/kv/KeyValueStorageEngine.scala:44-157):
    every mutation appends the POST-IMAGE of the affected keys (or delete
    markers) to ``{path}/changelog/``, and the table reads those files back
    instead of holding the batch's plan; construction restores the
    ``{path}/base/`` snapshot plus the changelog with last-writer-wins per
    key (:func:`~samza_spark.tables.compaction.compact_changelog`), so
    state survives session restarts. Compaction (every ``compact_every``
    mutations) snapshots the table to base/ and truncates the changelog —
    restore cost stays O(table + recent mutations), the exact shape of
    Samza's changelog-topic restore.

    Paths must be visible to the driver's filesystem (local or shared
    mount): data moves through Spark jobs, but directory bookkeeping
    (existence checks, new changelog files, truncation) uses python ``os``.
    """

    OP_COL = "__ss_op"
    SEQ_COL = "__ss_seq"

    def __init__(
        self,
        df: DataFrame,
        key_cols: Sequence[str],
        path: str,
        ttl_ms: int | None = None,
        compact_every: int = 10,
        seq: int = 0,
    ):
        super().__init__(df, key_cols, ttl_ms=ttl_ms, compact_every=compact_every)
        self._path = path
        self._seq = seq

    # -- construction / restore -------------------------------------------

    @staticmethod
    def _parquet_files(d: str) -> set:
        return {f for f in os.listdir(d) if f.endswith(".parquet")} if os.path.isdir(d) else set()

    @classmethod
    def _has_parquet(cls, d: str) -> bool:
        return bool(cls._parquet_files(d))

    @classmethod
    def open(
        cls,
        spark: SparkSession,
        path: str,
        key_cols: Sequence[str],
        schema=None,
        ttl_ms: int | None = None,
        compact_every: int = 10,
    ) -> "DurableLocalTable":
        """Open (restoring if the warehouse has state) or create (empty,
        ``schema`` required) a durable table at ``path``."""
        base, clog = os.path.join(path, "base"), os.path.join(path, "changelog")
        parts = []
        if cls._has_parquet(base):
            parts.append(
                spark.read.parquet(base)
                .withColumn(cls.OP_COL, F.lit("upsert"))
                .withColumn(cls.SEQ_COL, F.lit(-1).cast("long"))
            )
        seq = 0
        if cls._has_parquet(clog):
            clog_df = spark.read.parquet(clog)
            parts.append(clog_df)
            seq = (clog_df.agg(F.max(cls.SEQ_COL)).first()[0] or 0) + 1
        if not parts:
            if schema is None:
                raise ValueError(
                    f"no state at {path!r} and no schema to create an empty table"
                )
            return cls(
                spark.createDataFrame([], schema),
                key_cols,
                path,
                ttl_ms=ttl_ms,
                compact_every=compact_every,
            )
        log = functools.reduce(DataFrame.unionByName, parts)
        cols = [c for c in log.columns if c not in (cls.OP_COL, cls.SEQ_COL)]
        df = (
            compact_changelog(
                log, key_cols, [cls.SEQ_COL], tombstone=F.col(cls.OP_COL) == "delete"
            )
            .select(*cols)
            # materialize the restore once (the 50 MB/s restore analog);
            # lookups then hit the checkpointed rows, not base+changelog
            .localCheckpoint(eager=True)
        )
        return cls(
            df, key_cols, path, ttl_ms=ttl_ms, compact_every=compact_every, seq=seq
        )

    # -- write-through changelog ------------------------------------------

    def _materialise(self, rows: DataFrame, mode: str) -> DataFrame:
        """Append ``rows`` to the changelog — the one job that runs the
        batch — and return a read of just the files that append wrote. The
        schema is passed, so the read launches no job."""
        clog = os.path.join(self._path, "changelog")
        before = self._parquet_files(clog)
        schema = self._df.schema
        have = dict(rows.dtypes)
        rows.select(
            # cast only what differs: each cast costs the driver a type parse
            *[
                F.col(f.name) if have.get(f.name) == f.dataType.simpleString()
                else (F.col(f.name) if f.name in have else F.lit(None))
                .cast(f.dataType).alias(f.name)
                for f in schema.fields
            ],
            F.lit(mode).alias(self.OP_COL),
            F.lit(self._seq).cast("long").alias(self.SEQ_COL),
        ).write.mode("append").parquet(clog)
        self._seq += 1
        written = ",".join(sorted(self._parquet_files(clog) - before))
        return (
            self._df.sparkSession.read.schema(schema)
            .option("pathGlobFilter", f"{{{written}}}")
            .parquet(clog)
        )

    def _compact(self) -> DataFrame:
        # checkpoint BEFORE truncating: the plan reads the changelog files
        df = super()._compact()
        df.write.mode("overwrite").parquet(os.path.join(self._path, "base"))
        shutil.rmtree(os.path.join(self._path, "changelog"), ignore_errors=True)
        return df


class InMemoryTable(LocalTable):
    """Small dict-backed table (InMemoryKeyValueStore analog) for tests and
    bootstrap-style side inputs."""

    @classmethod
    def from_rows(
        cls,
        spark: SparkSession,
        rows: Sequence[Mapping] | Sequence[tuple],
        schema,
        key_cols: Sequence[str],
    ) -> "InMemoryTable":
        return cls(spark.createDataFrame(rows, schema), key_cols)
