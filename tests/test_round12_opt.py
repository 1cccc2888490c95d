"""Round-12 optimization pins: every kernelized corpus-scale fold must be
bit-identical to the interpreted expression it replaces (guide §4.1 —
the built-in is replaced only with proof), the edge semantics of the
folds that stayed built-in, plus the scale-hardening guards added this
round (query-side broadcast cap, CC non-convergence fallback, rerank
zero-norm guard)."""

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# hyperplane_buckets_det: edge semantics of the interpreted fold
# ---------------------------------------------------------------------------


def _messy_vectors(spark, dim=64):
    import random

    rng = random.Random(4242)
    rows = []
    for i in range(200):
        v = [rng.uniform(-2, 2) for _ in range(dim)]
        rows.append((i, v))
    # edge rows: NULL vector, short vector, long vector, zero vector,
    # a NULL element, a NaN element
    rows.append((900, None))
    rows.append((901, [1.0] * (dim // 2)))
    rows.append((902, [1.0] * (dim + 3)))
    rows.append((903, [0.0] * dim))
    rows.append((904, [None if j == 7 else 1.0 for j in range(dim)]))
    rows.append((905, [float("nan") if j == 3 else 1.0 for j in range(dim)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_hyperplane_det_kernel_matches_sql_fold(spark):
    """Edge rows of the fold: NULL vector, short/long vector and NULL
    element give bucket 0; a NaN element sets every bit."""
    from samza_spark.pipeline.similarity import hyperplane_buckets_det

    df = _messy_vectors(spark)
    got = {r["vec_id"]: r["bucket"] for r in hyperplane_buckets_det(df).collect()}
    assert len(got) == 206
    # NULL/length-mismatch/NULL-element rows fold to bucket 0
    for vid in (900, 901, 902, 904):
        assert got[vid] == 0
    # a NaN element makes every plane's fold NaN, and Spark's
    # NaN >= 0.0 is TRUE -> every bit set
    assert got[905] == 255


# ---------------------------------------------------------------------------
# jl_project: pandas kernel vs interpreted fold
# ---------------------------------------------------------------------------


def test_jl_project_kernel_matches_sql_fold(spark):
    from samza_spark.pipeline.similarity import jl_project

    df = _messy_vectors(spark)
    got = {
        (r["vec_id"], r["axis"]): r["v"]
        for r in jl_project(df, k=16, impl="pandas").collect()
    }
    want = {
        (r["vec_id"], r["axis"]): r["v"]
        for r in jl_project(df, k=16, impl="sql").collect()
    }
    assert set(got) == set(want)
    for key, w in want.items():
        g = got[key]
        if w is not None and math.isnan(w):
            # SQL folds a NaN ELEMENT to NaN; the kernel's NaN crosses
            # Arrow as NULL — the documented never-looser edge (same as
            # the cosine kernels); only the NaN-element row may differ
            # this way
            assert key[0] == 905 and g is None, (key, g, w)
        elif w is None or g is None:
            assert g == w, key
        else:
            # bit-identical doubles, not approx
            assert g == w, (key, g, w)


# ---------------------------------------------------------------------------
# zorder_value: closed-form bit spread vs the aggregate fold it replaced
# ---------------------------------------------------------------------------


def test_zorder_spread_matches_fold(spark):
    from samza_spark.pipeline.sampling import zorder_value

    for bits in (4, 16, 31):
        mask = (1 << bits) - 1
        fold = F.expr(
            f"aggregate(sequence(0, {bits - 1}), cast(0 as bigint), (acc, i) -> "
            f"acc + shiftleft(shiftright(cast(a as bigint) & {mask}, i) & 1, cast(2 * i as int)) "
            f"+ shiftleft(shiftright(cast(b as bigint) & {mask}, i) & 1, cast(2 * i + 1 as int)))"
        )
        df = spark.range(500).select(
            (F.col("id") * 2654435761 % 2147483647).alias("a"),
            (F.col("id") * 40503 % 1000003).alias("b"),
        )
        # include negatives and the mask boundary
        extra = spark.createDataFrame(
            [(-1, -7), (mask, mask), (0, 0), (mask + 1, 1)], "a long, b long"
        )
        full = df.unionByName(extra)
        rows = full.select(
            zorder_value("a", "b", bits=bits).alias("z_new"), fold.alias("z_old")
        ).collect()
        for r in rows:
            assert r["z_new"] == r["z_old"]


# ---------------------------------------------------------------------------
# luhn values pinned vs the inline fold spec (the r12 unrolled-codegen
# candidate was measured SLOWER — 1.74 s vs 1.15 s settled — and
# reverted; this pin guards whatever implementation against the spec)
# ---------------------------------------------------------------------------


def test_luhn_values_match_fold_spec(spark):
    from samza_spark.pipeline.governance import luhn_audit

    # valid + invalid card-like tokens across the 12..19 length range,
    # plus noise the regex layer drops
    toks = [
        "4111111111111111",  # valid 16
        "4111111111111112",  # invalid
        "79927398713",       # valid 11 -> excluded by regex (len < 12)
        "799273987130",      # 12
        "5555555555554444",  # valid 16
        "378282246310005",   # valid 15
        "6011111111111117",  # valid 16
        "1234567890123456789",  # 19
        "123456789012",      # 12
        "not-a-number",
        "",
    ]
    df = spark.createDataFrame([(t,) for t in toks], "token string")
    got = {
        (r["token_len"], r["n_tokens"], r["n_valid"], r["valid_ppm"])
        for r in luhn_audit(df, "token").collect()
    }
    fold = F.expr(
        "aggregate(sequence(1, length(token)), 0, (acc, i) -> "
        "acc + (CASE WHEN (length(token) - i) % 2 = 0 "
        "THEN ascii(substr(token, i, 1)) - 48 "
        "ELSE IF((ascii(substr(token, i, 1)) - 48) * 2 > 9, "
        "(ascii(substr(token, i, 1)) - 48) * 2 - 9, "
        "(ascii(substr(token, i, 1)) - 48) * 2) END))"
    )
    ref = (
        df.filter(F.col("token").rlike("^[0-9]{12,19}$"))
        .withColumn("token_len", F.length("token").cast("int"))
        .withColumn("__valid", (fold % 10 == 0).cast("long"))
        .groupBy("token_len")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("__valid").cast("long").alias("n_valid"),
        )
        .withColumn("valid_ppm", F.expr("n_valid * 1000000 div n_tokens"))
    )
    want = {
        (r["token_len"], r["n_tokens"], r["n_valid"], r["valid_ppm"])
        for r in ref.collect()
    }
    assert got == want
    # known Luhn-valid tokens actually validate
    lens_valid = {r[0]: r[2] for r in got}
    assert lens_valid[16] == 3  # 4111..., 5555..., 6011...
    assert lens_valid[15] == 1  # amex


# ---------------------------------------------------------------------------
# symspell_pairs: in-bucket expansion vs the self-join it replaced
# ---------------------------------------------------------------------------


def test_symspell_bucket_expansion_matches_self_join(spark):
    from samza_spark.pipeline.linkage import symspell_pairs

    words = spark.createDataFrame(
        [
            ("cat",), ("cut",), ("cart",), ("car",), ("dog",), ("dig",),
            ("dogs",), ("",), ("a",), ("at",), ("hat",), ("chat",),
            ("hats",), ("tac",),
        ],
        "w string",
    )
    got = {tuple(r) for r in symspell_pairs(words).collect()}
    # reference: the brute-force quadratic spec (the oracle's shape)
    ref = {
        (r["w1"], r["w2"], r["dist"])
        for r in spark.sql(
            "SELECT a.w AS w1, b.w AS w2, "
            "CAST(levenshtein(a.w, b.w) AS BIGINT) AS dist "
            "FROM {w} a JOIN {w} b ON a.w < b.w "
            "WHERE levenshtein(a.w, b.w) <= 1",
            w=words,
        ).collect()
    }
    assert got == ref and ("cat", "cut", 1) in got


# ---------------------------------------------------------------------------
# connected_components: non-convergence falls back to star CC
# ---------------------------------------------------------------------------


def test_cc_nonconvergence_falls_back_to_star(spark):
    from samza_spark.pipeline.dedup import connected_components

    # a 30-node chain has diameter 29 >> max_iter=3: min-label alone
    # would return stale labels; the fallback must return the exact
    # min-id component labels anyway
    # plus a node whose only edge is a self-loop: the converged path
    # labels it with its own id, and the fallback must keep it too
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)] + [(99, 99)], "a long, b long"
    )
    out = {
        r["doc_id"]: r["component"]
        for r in connected_components(pairs, max_iter=3).collect()
    }
    assert len(out) == 32
    assert out.pop(99) == 99
    assert set(out.values()) == {0}


def test_cc_converged_path_unchanged(spark):
    from samza_spark.pipeline.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "a long, b long"
    )
    out = {r["doc_id"]: r["component"] for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


# ---------------------------------------------------------------------------
# pq/ivfpq query-side broadcast cap
# ---------------------------------------------------------------------------


def test_pq_topk_query_cap_raises(spark):
    from samza_spark.pipeline.similarity import pq_topk

    corpus = spark.range(40).select(
        F.col("id").alias("vec_id"),
        F.expr("transform(sequence(1, 64), i -> cast(id * i % 13 as double))").alias(
            "embedding"
        ),
    )
    with pytest.raises(ValueError, match="max_queries"):
        pq_topk(corpus, corpus, k=3, max_queries=10).count()


# ---------------------------------------------------------------------------
# quantized rerank zero-norm guard: NaN must not outrank real cosines
# ---------------------------------------------------------------------------


def test_quantized_rerank_zero_norm_not_top_ranked(spark):
    from samza_spark.pipeline.similarity import quantized_topk

    rows = [(i, [float((i * j) % 7) + 1.0 for j in range(8)]) for i in range(12)]
    rows.append((99, [0.0] * 8))  # degenerate zero-norm corpus vector
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter("vec_id = 1")
    out = quantized_topk(corpus, queries, k=3).collect()
    assert out, "rerank returned nothing"
    for r in out:
        # unguarded, 99 scores NaN and NaN sorts above every double
        assert r["neighbor_id"] != 99
        assert r["cosine"] is None or not math.isnan(r["cosine"])
