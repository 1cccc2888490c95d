"""Changelog compaction (tables/compaction.py), snapshot diff
(pipeline/versioning.py), and cross-split leakage audit
(pipeline/decontam.split_leakage)."""

import tempfile

import pytest
from pyspark.sql import functions as F

from samza_spark.pipeline import decontam, versioning
from samza_spark.tables.compaction import compact_changelog

LOG_ROWS = [
    # (key, ts, offset, val)
    ("a", 10, 1, "v1"),
    ("a", 20, 2, "v2"),
    ("a", 20, 3, "v3"),  # same ts — offset breaks the tie
    ("b", 5, 4, "b1"),
    ("c", 1, 5, "c1"),
    ("c", 9, 6, "__del__"),  # tombstone is c's newest record
    ("d", 2, 7, "__del__"),
    ("d", 8, 8, "alive"),  # delete then re-insert: key survives
]


def _log(spark):
    return spark.createDataFrame(LOG_ROWS, "key string, ts long, off long, val string")


def test_compact_latest_wins_and_tombstones(spark):
    state = compact_changelog(
        _log(spark),
        key_cols=["key"],
        order_cols=["ts", "off"],
        tombstone=F.col("val") == "__del__",
    )
    rows = {r["key"]: r for r in state.collect()}
    assert set(rows) == {"a", "b", "d"}  # c dropped: latest record is a delete
    assert rows["a"]["val"] == "v3" and rows["a"]["off"] == 3
    assert rows["b"]["val"] == "b1"
    assert rows["d"]["val"] == "alive"


def test_compact_is_partitioning_invariant(spark):
    """Latest-wins must not depend on input partitioning (the changelog
    offset order is the only authority)."""
    log = _log(spark)
    a = compact_changelog(log, ["key"], ["ts", "off"]).orderBy("key").collect()
    b = (
        compact_changelog(log.repartition(7), ["key"], ["ts", "off"])
        .orderBy("key")
        .collect()
    )
    assert a == b


def test_compact_stream_matches_batch(spark):
    """compact_changelog over a stream, drained with availableNow, must end
    at the same table state as batch compaction (tombstone filtering is
    the consumer's job in streaming — compare without it)."""
    log = _log(spark)
    with tempfile.TemporaryDirectory() as d:
        log.repartition(3).write.parquet(f"{d}/log")
        src = spark.readStream.schema(log.schema).parquet(f"{d}/log")
        q = (
            compact_changelog(src, ["key"], ["ts", "off"])
            .writeStream.format("memory")
            .queryName("compact_state")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            r["key"]: (r["val"], r["ts"], r["off"])
            for r in spark.sql("SELECT * FROM compact_state").collect()
        }
    want = {
        r["key"]: (r["val"], r["ts"], r["off"])
        for r in compact_changelog(log, ["key"], ["ts", "off"]).collect()
    }
    assert got == want


def test_snapshot_diff_statuses(spark):
    old = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], "id long, text string"
    )
    new = spark.createDataFrame(
        [(2, "two"), (3, "three-edited"), (4, "four")], "id long, text string"
    )
    diff = versioning.snapshot_diff(old, new, id_col="id", cmp_cols=("text",))
    got = {r["id"]: r["status"] for r in diff.collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}
    summary = {
        r["status"]: r["n"]
        for r in versioning.snapshot_diff_summary(diff).collect()
    }
    assert summary == {"removed": 1, "unchanged": 1, "changed": 1, "added": 1}


def test_split_leakage_finds_cross_split_pair(spark):
    """Two identical docs whose ids hash to different splits must be
    reported; an identical pair within one split must not."""
    from samza_spark.pipeline.sampling import assign_split

    base = "the quick brown fox jumps over the lazy dog again and again"
    ids = list(range(40))
    docs = spark.createDataFrame(
        [(i, f"{base} {i}") for i in ids], "doc_id long, text string"
    )
    weights = (("train", 4), ("test", 1))
    split_of = {
        r["doc_id"]: r["split"]
        for r in assign_split(docs, "doc_id", weights=weights).collect()
    }
    test_ids = [i for i in ids if split_of[i] == "test"]
    train_ids = [i for i in ids if split_of[i] == "train"]
    assert test_ids and len(train_ids) >= 2, "hash split degenerate on 0..39"
    cross_a, cross_b = sorted([train_ids[0], test_ids[0]])
    same_a, same_b = sorted(train_ids[1:3])
    rows = [(i, f"unique text number {i} with its own words entirely") for i in ids]
    dup = f"{base} shared across splits"
    rows[cross_a] = (cross_a, dup)
    rows[cross_b] = (cross_b, dup)
    dup2 = f"{base} shared within train"
    rows[same_a] = (same_a, dup2)
    rows[same_b] = (same_b, dup2)
    corpus = spark.createDataFrame(rows, "doc_id long, text string")

    leaks = decontam.split_leakage(
        corpus, threshold=0.8, num_perm=64, bands=16, weights=weights
    ).collect()
    got_pairs = {(r["a"], r["b"]) for r in leaks}
    assert (cross_a, cross_b) in got_pairs
    assert (same_a, same_b) not in got_pairs
    for r in leaks:
        assert r["split_a"] != r["split_b"]
        assert r["jaccard"] >= 0.8


def test_changelog_history_versions(spark):
    from samza_spark.tables.compaction import changelog_history, compact_changelog

    hist = changelog_history(_log(spark), ["key"], ["ts", "off"])
    rows = sorted(
        ((r["key"], r["version"], r["val"], r["is_current"]) for r in hist.collect())
    )
    assert rows == [
        ("a", 1, "v1", False),
        ("a", 2, "v2", False),
        ("a", 3, "v3", True),
        ("b", 1, "b1", True),
        ("c", 1, "c1", False),
        ("c", 2, "__del__", True),
        ("d", 1, "__del__", False),
        ("d", 2, "alive", True),
    ]
    # the is_current slice equals compaction (without tombstone filtering)
    cur = {
        r["key"]: (r["val"], r["ts"], r["off"])
        for r in hist.where("is_current").collect()
    }
    want = {
        r["key"]: (r["val"], r["ts"], r["off"])
        for r in compact_changelog(_log(spark), ["key"], ["ts", "off"]).collect()
    }
    assert cur == want
