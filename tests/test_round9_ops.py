"""Round-9 operator unit tests: outer banded range join, Luhn audit,
Simpson's-paradox audit, binary near-dup."""

import pytest
from pyspark.sql import Row, functions as F


# -- banded_range_join how="left" --------------------------------------------


class TestBandedRangeJoinLeft:
    def _mk(self, spark):
        left = spark.createDataFrame(
            [
                Row(lid=1, lts="2024-01-01 00:00:00"),
                Row(lid=2, lts="2024-01-01 01:00:00"),  # no match
            ]
        ).select("lid", F.col("lts").cast("timestamp").alias("lts"))
        right = spark.createDataFrame(
            [
                Row(rid=10, rts="2024-01-01 00:02:00"),
                Row(rid=11, rts="2024-01-01 00:04:00"),
            ]
        ).select("rid", F.col("rts").cast("timestamp").alias("rts"))
        return left, right

    def test_unmatched_left_kept_once(self, spark):
        from samza_spark.operators.rangejoin import banded_range_join

        left, right = self._mk(spark)
        out = banded_range_join(
            left, right, "lts", "rts",
            lower="INTERVAL 0 SECONDS", upper="INTERVAL 5 MINUTES",
            how="left", left_id_cols=["lid"],
        ).collect()
        # lid=1 matches both rights; lid=2 appears exactly once with null
        assert sorted((r.lid, r.rid) for r in out) == [
            (1, 10), (1, 11), (2, None),
        ]

    def test_unmatched_not_duplicated_across_bands(self, spark):
        # a left row explodes into up to 2 bands; the anti-complement
        # must emit its unmatched copy exactly once regardless
        from samza_spark.operators.rangejoin import banded_range_join

        left = spark.createDataFrame(
            [Row(lid=i, lts=f"2024-01-01 00:{i:02d}:30") for i in range(5)]
        ).select("lid", F.col("lts").cast("timestamp").alias("lts"))
        right = spark.createDataFrame(
            [Row(rid=99, rts="2023-06-01 00:00:00")]
        ).select("rid", F.col("rts").cast("timestamp").alias("rts"))
        out = banded_range_join(
            left, right, "lts", "rts",
            lower="INTERVAL 0 SECONDS", upper="INTERVAL 3 MINUTES",
            how="left", left_id_cols=["lid"],
        ).collect()
        assert sorted(r.lid for r in out) == [0, 1, 2, 3, 4]
        assert all(r.rid is None for r in out)

    def test_left_requires_id_cols(self, spark):
        from samza_spark.operators.rangejoin import banded_range_join

        left, right = self._mk(spark)
        with pytest.raises(ValueError, match="left_id_cols"):
            banded_range_join(
                left, right, "lts", "rts", how="left"
            )

    def test_unknown_how_rejected(self, spark):
        from samza_spark.operators.rangejoin import banded_range_join

        left, right = self._mk(spark)
        with pytest.raises(ValueError, match="inner/left"):
            banded_range_join(left, right, "lts", "rts", how="full")


# -- Luhn audit ---------------------------------------------------------------


class TestLuhnAudit:
    def test_known_valid_and_invalid(self, spark):
        from samza_spark.pipeline.governance import luhn_audit

        rows = [
            Row(token="4532015112830366"),  # Luhn-valid test number
            Row(token="4532015112830367"),  # last digit off by one
            Row(token="79927398713"),       # valid but too short (<12)
            Row(token="4111x11111111111"),  # non-digit: excluded
        ]
        out = luhn_audit(spark.createDataFrame(rows), "token").collect()
        assert len(out) == 1
        r = out[0]
        assert (r.token_len, r.n_tokens, r.n_valid) == (16, 2, 1)
        assert r.valid_ppm == 500_000

    def test_random_tokens_near_ten_percent(self, spark):
        # the mod-10 floor: ~1 in 10 random digit strings pass
        from samza_spark.pipeline.governance import luhn_audit

        df = spark.range(0, 2000).select(
            F.expr(
                "lpad(cast((id * 1000003 + 7) % 1000000000000 as string), "
                "12, '0')"
            ).alias("token")
        )
        r = luhn_audit(df, "token").collect()[0]
        assert r.n_tokens == 2000
        assert 50_000 <= r.valid_ppm <= 150_000

    def test_group_cols(self, spark):
        from samza_spark.pipeline.governance import luhn_audit

        rows = [
            Row(src="a", token="4532015112830366"),
            Row(src="b", token="4532015112830366"),
        ]
        out = luhn_audit(
            spark.createDataFrame(rows), "token", group_cols=["src"]
        ).collect()
        assert sorted((r.src, r.n_valid) for r in out) == [("a", 1), ("b", 1)]


# -- Simpson audit ------------------------------------------------------------


class TestSimpsonAudit:
    def test_textbook_reversal(self, spark):
        from samza_spark.pipeline.stats import simpson_audit

        # each stratum: control beats exposed; pooled: exposed wins
        # (exposed mass concentrated in the easy stratum)
        rows = (
            # stratum A (easy): exposed 80/100, control 9/10
            [Row(x=1, y=1, z="A")] * 80 + [Row(x=1, y=0, z="A")] * 20
            + [Row(x=0, y=1, z="A")] * 9 + [Row(x=0, y=0, z="A")] * 1
            # stratum B (hard): exposed 2/10, control 30/100
            + [Row(x=1, y=1, z="B")] * 2 + [Row(x=1, y=0, z="B")] * 8
            + [Row(x=0, y=1, z="B")] * 30 + [Row(x=0, y=0, z="B")] * 70
        )
        out = {
            r.stratum: r
            for r in simpson_audit(
                spark.createDataFrame(rows), "x", "y", "z"
            ).collect()
        }
        assert out["A"].dir_pooled == 1  # pooled: exposed looks better
        assert out["A"].dir_stratum == -1 and out["A"].reverses == 1
        assert out["B"].dir_stratum == -1 and out["B"].reverses == 1

    def test_consistent_no_flags(self, spark):
        from samza_spark.pipeline.stats import simpson_audit

        rows = (
            [Row(x=1, y=1, z="A")] * 8 + [Row(x=1, y=0, z="A")] * 2
            + [Row(x=0, y=1, z="A")] * 2 + [Row(x=0, y=0, z="A")] * 8
            + [Row(x=1, y=1, z="B")] * 6 + [Row(x=1, y=0, z="B")] * 4
            + [Row(x=0, y=1, z="B")] * 1 + [Row(x=0, y=0, z="B")] * 9
        )
        out = simpson_audit(
            spark.createDataFrame(rows), "x", "y", "z"
        ).collect()
        assert all(r.reverses == 0 for r in out)

    def test_empty_arm_stratum_not_flagged(self, spark):
        from samza_spark.pipeline.stats import simpson_audit

        rows = [Row(x=1, y=1, z="only_exposed")] * 5 + [
            Row(x=0, y=1, z="mixed"), Row(x=1, y=0, z="mixed"),
        ]
        out = {
            r.stratum: r
            for r in simpson_audit(
                spark.createDataFrame(rows), "x", "y", "z"
            ).collect()
        }
        # a stratum with no control arm can never "reverse"
        assert out["only_exposed"].reverses == 0


# -- binary near-dup ----------------------------------------------------------


class TestBinaryNearDup:
    def test_identical_payloads_pair_at_zero(self, spark):
        from samza_spark.pipeline.multimodal import binary_near_dup

        rows = [
            Row(doc_id=1, content=bytearray(b"the same asset bytes " * 20)),
            Row(doc_id=2, content=bytearray(b"the same asset bytes " * 20)),
            Row(doc_id=3, content=bytearray(b"something else entirely " * 20)),
        ]
        out = binary_near_dup(
            spark.createDataFrame(rows), max_hamming=3
        ).collect()
        pairs = {(r.a, r.b): r.hamming for r in out}
        assert pairs.get((1, 2)) == 0
        assert (1, 3) not in pairs and (2, 3) not in pairs

    def test_md5_family_matches_pandas_impl(self, spark):
        """md5-family candidates equal the brute-force hamming join over
        the same hex-shingle SimHash signatures (recall is exactly 1)."""
        from samza_spark.pipeline.dedup import shingle_hashes, simhash_pandas
        from samza_spark.pipeline.multimodal import binary_near_dup

        rows = [
            Row(doc_id=i, content=bytearray(f"blob {i % 4} payload".encode() * 8))
            for i in range(12)
        ]
        df = spark.createDataFrame(rows)
        got = sorted(
            (r.a, r.b, r.hamming)
            for r in binary_near_dup(df, hash_family="md5").collect()
        )
        sig = (
            df.select("doc_id", F.hex("content").alias("__hx"))
            .select("doc_id", shingle_hashes("__hx", family="md5").alias("__shh"))
            .select("doc_id", simhash_pandas("__shh").alias("sh"))
        )
        l, r = sig.alias("l"), sig.alias("r")
        want = sorted(
            tuple(row)
            for row in l.join(r, F.col("l.doc_id") < F.col("r.doc_id"))
            .select(
                F.col("l.doc_id").alias("a"),
                F.col("r.doc_id").alias("b"),
                F.expr("bit_count(l.sh ^ r.sh)").alias("hamming"),
            )
            .filter("hamming <= 3")
            .collect()
        )
        assert got == want and len(got) >= 1


# -- token-bucket rate limiting ----------------------------------------------


class TestRateLimit:
    def test_hand_check_admissions(self, spark):
        from samza_spark.streaming.ratelimit import rate_limit_batch

        # 1 token/s, burst 2: admits at 0s, 0.1s (burst), denies 0.2s,
        # refills for 1.5s, caps at burst by 10s
        rows = [
            Row(k="a", seq=i, ts_us=t)
            for i, t in enumerate(
                [0, 100_000, 200_000, 1_500_000, 10_000_000]
            )
        ]
        df = spark.createDataFrame(rows).select(
            "k", "seq", F.timestamp_micros("ts_us").alias("ts")
        )
        out = sorted(
            rate_limit_batch(
                df, "k", "ts", "seq",
                rate_milli_per_sec=1000, burst_milli=2000,
            ).collect(),
            key=lambda r: r.seq,
        )
        assert [r.admitted for r in out] == [1, 1, 0, 1, 1]
        assert [r.tokens_milli for r in out] == [1000, 100, 200, 500, 1000]

    def test_keys_isolated(self, spark):
        from samza_spark.streaming.ratelimit import rate_limit_batch

        rows = [Row(k=f"k{i % 3}", seq=i, ts_us=0) for i in range(9)]
        df = spark.createDataFrame(rows).select(
            "k", "seq", F.timestamp_micros("ts_us").alias("ts")
        )
        out = rate_limit_batch(
            df, "k", "ts", "seq", rate_milli_per_sec=1000, burst_milli=1000
        ).collect()
        # burst 1: exactly one admit per key at the same instant
        per_key = {}
        for r in out:
            per_key.setdefault(r.k, 0)
            per_key[r.k] += r.admitted
        assert per_key == {"k0": 1, "k1": 1, "k2": 1}

    def test_streamed_equals_batch(self, spark, tmp_path):
        from samza_spark.streaming.ratelimit import (
            rate_limit_batch,
            rate_limit_stream,
        )

        src = str(tmp_path / "src")
        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        # two time-ordered files per key: the stream replays them as
        # separate micro-batches; state carries across the boundary
        df1 = spark.createDataFrame(
            [Row(k=f"k{i % 4}", seq=i, ts_us=i * 137_000) for i in range(60)]
        ).select("k", "seq", F.timestamp_micros("ts_us").alias("ts"))
        df2 = spark.createDataFrame(
            [
                Row(k=f"k{i % 4}", seq=i, ts_us=i * 137_000)
                for i in range(60, 120)
            ]
        ).select("k", "seq", F.timestamp_micros("ts_us").alias("ts"))
        df1.coalesce(1).write.parquet(src)
        df2.coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("k string, seq long, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = (
            rate_limit_stream(
                stream, "k", "ts", "seq",
                rate_milli_per_sec=2000, burst_milli=3000,
            )
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        streamed = sorted(
            (r.k, r.seq, r.tokens_milli, r.admitted)
            for r in spark.read.parquet(out_dir).collect()
        )
        batch = sorted(
            (r.k, r.seq, r.tokens_milli, r.admitted)
            for r in rate_limit_batch(
                spark.read.parquet(src), "k", "ts", "seq",
                rate_milli_per_sec=2000, burst_milli=3000,
            ).collect()
        )
        assert streamed == batch and len(streamed) == 120


# -- exact set-similarity join (prefix filtering) -----------------------------


class TestJaccardPrefixJoin:
    def test_hand_check_threshold(self, spark):
        from samza_spark.pipeline.dedup import jaccard_prefix_join

        rows = [
            Row(doc_id=1, text="alpha beta gamma delta epsilon"),
            Row(doc_id=2, text="alpha beta gamma delta zeta"),      # J=4/6
            Row(doc_id=3, text="alpha beta gamma delta epsilon"),   # J=1 w/ 1
            Row(doc_id=4, text="totally different words here now"),
        ]
        out = jaccard_prefix_join(
            spark.createDataFrame(rows), tau_num=4, tau_den=5
        ).collect()
        pairs = {(r.a, r.b): r.jaccard_ppm for r in out}
        assert pairs == {(1, 3): 1_000_000}

    def test_recall_vs_bruteforce(self, spark):
        # prefix filtering must find EVERY pair at J >= tau
        from samza_spark.pipeline.dedup import jaccard_prefix_join

        words = ["w%d" % i for i in range(12)]
        rows = [
            Row(doc_id=i, text=" ".join(words[j] for j in range(12) if (i >> (j % 4)) & 1 or j < 8))
            for i in range(16)
        ]
        df = spark.createDataFrame(rows)
        got = {
            (r.a, r.b)
            for r in jaccard_prefix_join(df, tau_num=3, tau_den=4).collect()
        }
        # brute force in python
        sets = {r.doc_id: set(r.text.split()) for r in rows}
        want = set()
        ids = sorted(sets)
        for i in ids:
            for j in ids:
                if i < j:
                    inter = len(sets[i] & sets[j])
                    union = len(sets[i] | sets[j])
                    if inter * 4 >= union * 3:
                        want.add((i, j))
        assert got == want and want

    def test_jaccard_exact_value(self, spark):
        from samza_spark.pipeline.dedup import jaccard_prefix_join

        rows = [
            Row(doc_id=1, text="a b c d e f g h i j"),
            Row(doc_id=2, text="a b c d e f g h i k"),  # inter 9, union 11
        ]
        out = jaccard_prefix_join(
            spark.createDataFrame(rows), tau_num=4, tau_den=5
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.inter, r.na, r.nb) == (9, 10, 10)
        assert r.jaccard_ppm == 9 * 1_000_000 // 11


# -- deletion audit -----------------------------------------------------------


class TestDeletionAudit:
    def test_residuals_counted_per_table(self, spark):
        from samza_spark.pipeline.governance import deletion_audit

        req = spark.createDataFrame([Row(uid=1), Row(uid=2), Row(uid=1)])
        t1 = spark.createDataFrame(
            [Row(uid=1, v="x"), Row(uid=1, v="y"), Row(uid=9, v="z")]
        )
        t2 = spark.createDataFrame([Row(k=2, v="a"), Row(k=3, v="b")])
        out = {
            r.table: r
            for r in deletion_audit(
                req, "uid", {"t1": (t1, "uid"), "t2": (t2, "k")}
            ).collect()
        }
        assert out["t1"].n_requests == 2
        assert (out["t1"].n_residual_rows, out["t1"].n_residual_keys) == (2, 1)
        assert (out["t2"].n_residual_rows, out["t2"].n_residual_keys) == (1, 1)

    def test_clean_tables_attest_zero(self, spark):
        from samza_spark.pipeline.governance import deletion_audit

        req = spark.createDataFrame([Row(uid=5)])
        t1 = spark.createDataFrame([Row(uid=1, v="x")])
        out = deletion_audit(req, "uid", {"t1": (t1, "uid")}).collect()
        assert out[0].n_residual_rows == 0 and out[0].n_residual_keys == 0


# -- bitmap index set ops -----------------------------------------------------


class TestBitmapOps:
    def test_counts_match_set_algebra(self, spark):
        from samza_spark.pipeline.events import (
            bitmap_index,
            bitmap_pair_counts,
        )

        rows = [Row(s="A", m=m) for m in [1, 2, 3, 64, 65]] + [
            Row(s="B", m=m) for m in [2, 3, 65, 200]
        ] + [Row(s="C", m=m) for m in [500]]
        bm = bitmap_index(spark.createDataFrame(rows), "s", "m")
        out = {(r.set_a, r.set_b): r for r in bitmap_pair_counts(bm).collect()}
        ab = out[("A", "B")]
        assert (ab.n_a, ab.n_b, ab.n_inter, ab.n_union, ab.n_only_a) == (
            5, 4, 3, 6, 2,
        )
        assert ab.jaccard_ppm == 3 * 1_000_000 // 6
        # C is disjoint from both: no rows
        assert ("A", "C") not in out and ("B", "C") not in out

    def test_duplicate_members_counted_once(self, spark):
        from samza_spark.pipeline.events import (
            bitmap_index,
            bitmap_pair_counts,
        )

        rows = [Row(s="A", m=7)] * 5 + [Row(s="B", m=7)] * 3
        bm = bitmap_index(spark.createDataFrame(rows), "s", "m")
        r = bitmap_pair_counts(bm).collect()[0]
        assert (r.n_a, r.n_b, r.n_inter) == (1, 1, 1)


# -- streaming Misra-Gries heavy hitters --------------------------------------


class TestStreamingHeavyHitters:
    def test_guarantees_across_batches(self, spark, tmp_path):
        from samza_spark.pipeline.sketches import streaming_heavy_hitters

        src = str(tmp_path / "src")
        state = str(tmp_path / "state")
        ckpt = str(tmp_path / "ckpt")
        # skewed stream: key 'hot' is >10% of mass, long uniform tail
        df1 = spark.range(0, 400).select(
            F.expr("CASE WHEN id % 4 = 0 THEN 'hot' ELSE "
                   "concat('t', id % 97) END").alias("k")
        )
        df2 = spark.range(400, 800).select(
            F.expr("CASE WHEN id % 4 = 0 THEN 'hot' ELSE "
                   "concat('u', id % 89) END").alias("k")
        )
        df1.coalesce(1).write.parquet(src)
        df2.coalesce(1).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema("k string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = streaming_heavy_hitters(
            stream, "k", state, k=16, checkpoint_dir=ckpt
        )
        q.awaitTermination(120)
        st = spark.read.parquet(state)
        meta = st.filter("is_meta = 1").collect()[0]
        assert meta.c == 800  # n_total carried across batches
        summaries = {r.key: r.c for r in st.filter("is_meta = 0").collect()}
        assert len(summaries) <= 16
        true_counts = {
            r.k: r.c
            for r in spark.read.parquet(src)
            .groupBy("k").agg(F.count(F.lit(1)).alias("c")).collect()
        }
        bound = 800 // 17 + 1
        # any key above n/(k+1) must be present; estimates undercount <= bound
        for key, n in true_counts.items():
            if n > 800 / 17:
                assert key in summaries, key
        for key, est in summaries.items():
            assert est <= true_counts[key]
            assert true_counts[key] - est <= bound


# -- expectations report ------------------------------------------------------


class TestExpectationsReport:
    def test_kinds_and_violation_counts(self, spark):
        from samza_spark.pipeline.governance import expectations_report

        rows = [
            Row(k=1, v=10, s="A"),
            Row(k=1, v=200, s="B"),   # dup key, out of range, bad set
            Row(k=2, v=None, s="A"),  # null v
            Row(k=3, v=30, s="A"),
        ]
        specs = [
            {"name": "v_nn", "kind": "not_null", "col": "v"},
            {"name": "v_rng", "kind": "range", "col": "v", "lo": 0, "hi": 100},
            {"name": "s_set", "kind": "in_set", "col": "s", "values": ["A"]},
            {"name": "k_uniq", "kind": "unique", "cols": ["k"]},
        ]
        out = {
            r.expectation: r
            for r in expectations_report(
                spark.createDataFrame(rows), specs
            ).collect()
        }
        assert out["v_nn"].n_violations == 1 and out["v_nn"].n_rows == 4
        # range counts NULL as a violation too
        assert out["v_rng"].n_violations == 2
        assert out["s_set"].n_violations == 1
        assert out["k_uniq"].n_violations == 1  # one excess row for k=1
        assert {r.expectation: r["pass"] for r in out.values()} == {
            "v_nn": 0, "v_rng": 0, "s_set": 0, "k_uniq": 0,
        }

    def test_clean_table_all_pass(self, spark):
        from samza_spark.pipeline.governance import expectations_report

        rows = [Row(k=i, v=i * 10, s="A") for i in range(1, 5)]
        specs = [
            {"kind": "not_null", "col": "v"},
            {"kind": "regex", "col": "s", "pattern": "^[A-Z]$"},
            {"kind": "unique", "cols": ["k"]},
        ]
        out = expectations_report(spark.createDataFrame(rows), specs).collect()
        assert all(r["pass"] == 1 and r.n_violations == 0 for r in out)
        # default names derive from kind:col
        assert {r.expectation for r in out} == {
            "not_null:v", "regex:s", "unique:k",
        }

    def test_unknown_kind_rejected(self, spark):
        from samza_spark.pipeline.governance import expectations_report

        with pytest.raises(ValueError, match="unknown expectation"):
            expectations_report(
                spark.range(3), [{"kind": "nope", "col": "id"}]
            ).collect()

    def test_tag_rows_and_order(self, spark):
        from samza_spark.pipeline.governance import expectations_tag

        rows = [Row(v=10, s="A"), Row(v=None, s="Z"), Row(v=500, s="A")]
        out = expectations_tag(
            spark.createDataFrame(rows),
            [
                {"name": "v_nn", "kind": "not_null", "col": "v"},
                {"name": "v_rng", "kind": "range", "col": "v",
                 "lo": 0, "hi": 100},
                {"name": "s_set", "kind": "in_set", "col": "s",
                 "values": ["A"]},
            ],
        ).collect()
        got = {(r.v, r.s): r.failed_expectations for r in out}
        assert got[(10, "A")] == []
        # tags preserve spec order
        assert got[(None, "Z")] == ["v_nn", "v_rng", "s_set"]
        assert got[(500, "A")] == ["v_rng"]

    def test_tag_rejects_unique(self, spark):
        from samza_spark.pipeline.governance import expectations_tag

        with pytest.raises(ValueError, match="row-level"):
            expectations_tag(
                spark.range(2), [{"kind": "unique", "cols": ["id"]}]
            )

    def test_streaming_route_pass_and_quarantine(self, spark, tmp_path):
        from samza_spark.pipeline.governance import (
            streaming_expectations_route,
        )

        src = str(tmp_path / "src")
        ok_dir = str(tmp_path / "pass")
        qr_dir = str(tmp_path / "quarantine")
        ckpt = str(tmp_path / "ckpt")
        spark.createDataFrame(
            [Row(k=1, v=10), Row(k=2, v=None), Row(k=3, v=900), Row(k=4, v=20)]
        ).coalesce(1).write.parquet(src)
        stream = spark.readStream.schema("k long, v long").parquet(src)
        q = streaming_expectations_route(
            stream,
            [
                {"name": "v_nn", "kind": "not_null", "col": "v"},
                {"name": "v_rng", "kind": "range", "col": "v",
                 "lo": 0, "hi": 100},
            ],
            ok_dir, qr_dir, checkpoint_dir=ckpt,
        )
        q.awaitTermination(120)
        ok = spark.read.parquet(ok_dir).collect()
        qr = spark.read.parquet(qr_dir).collect()
        assert sorted(r.k for r in ok) == [1, 4]
        assert "failed_expectations" not in ok[0].asDict()
        reasons = {r.k: r.failed_expectations for r in qr}
        assert reasons == {2: ["v_nn", "v_rng"], 3: ["v_rng"]}


# -- simhash estimator calibration --------------------------------------------


class TestSimhashEval:
    def test_identical_docs_at_hamming_zero_full_jaccard(self, spark):
        from samza_spark.pipeline.dedup import simhash_estimate_eval

        rows = [
            Row(doc_id=0, text="the quick brown fox jumps over it"),
            Row(doc_id=1, text="the quick brown fox jumps over it"),
            Row(doc_id=2, text="a completely different sentence here"),
        ]
        out = {r.hamming: r for r in simhash_estimate_eval(
            spark.createDataFrame(rows), block_mod=50
        ).collect()}
        assert out[0].n_pairs >= 1
        assert out[0].mean_exact_ppm >= 900_000  # identical pair dominates

    def test_blocking_bounds_pairs(self, spark):
        from samza_spark.pipeline.dedup import simhash_estimate_eval

        rows = [Row(doc_id=i, text=f"document body number {i}") for i in range(8)]
        out = simhash_estimate_eval(
            spark.createDataFrame(rows), block_mod=4
        ).collect()
        # blocks {0..3}/{4..7}: C(4,2)*2 = 12 pairs total across buckets
        assert sum(r.n_pairs for r in out) == 12


# -- rewrite robustness edge cases --------------------------------------------


class TestRewriteEdgeCases:
    def test_escaped_quote_in_string_literal(self, spark):
        # SQL-escaped quotes ('' inside a literal) toggle the scanner
        # twice — net balanced, so the rewrite still fires correctly
        from samza_spark.sql.parser import rewrite_distinct_on

        out = spark.sql(
            rewrite_distinct_on(
                "SELECT DISTINCT ON (k) k, v FROM VALUES "
                "('it''s', 1), ('it''s', 2) t(k, v) ORDER BY k, v DESC"
            )
        ).collect()
        assert [(r.k, r.v) for r in out] == [("it's", 2)]

    def test_qualify_keyword_inside_string_stays(self):
        from samza_spark.sql.parser import rewrite_qualify

        sql = "SELECT 'no qualify here' AS c FROM t"
        assert rewrite_qualify(sql) == sql

    def test_distinct_on_only_in_subquery_leaves_outer_alone(self):
        # the outer statement has no DISTINCT ON prefix: only the inner
        # group is rewritten, outer text (incl. its ORDER BY) untouched
        from samza_spark.sql.parser import rewrite_distinct_on

        out = rewrite_distinct_on(
            "SELECT * FROM (SELECT DISTINCT ON (k) k FROM t ORDER BY k) "
            "ORDER BY k DESC"
        )
        assert out.endswith("ORDER BY k DESC")
        assert "__don__" in out and out.count("row_number") == 1

    def test_nested_parens_in_expression_keys(self, spark):
        from samza_spark.sql.parser import rewrite_distinct_on

        out = spark.sql(
            rewrite_distinct_on(
                "SELECT DISTINCT ON (substr(concat(k, 'x'), 1, 2)) k, v "
                "FROM VALUES ('ab', 1), ('ab', 9), ('cd', 5) t(k, v) "
                "ORDER BY substr(concat(k, 'x'), 1, 2), v DESC"
            )
        ).collect()
        assert sorted((r.k, r.v) for r in out) == [("ab", 9), ("cd", 5)]
