"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design (100 TB corpora):

* exact dedup is one ``min_by`` hash aggregation (map-side partials), no
  Python; the streaming variant is watermark-bounded
  ``dropDuplicatesWithinWatermark``.
* MinHash hot path: words hashed once JVM-side (``xxhash64``), then n-gram
  mixing + permutations + band folding fused in one Arrow-batched numpy
  UDF; candidates come from ONE shuffle (groupBy band bucket) with
  in-bucket pair expansion — never O(n²). Char-shingle mode hashes each
  distinct shingle JVM-side and MinHashes with the same numpy family.
* candidate verification (exact Jaccard) first semi-joins the corpus down
  to candidate-pair members, so its cost tracks the candidate set.
* SimHash: numpy bit-matrix majority vote per batch; near-dup = hamming
  on bucket-grouped prefixes (same single-shuffle pair expansion).
* embedding near-dup reuses the ANN module's bucketed cosine join;
  ``connected_components`` turns verified pairs into transitive groups.

Skew note: a degenerate shingle (e.g. empty docs) can hot-spot one LSH
bucket. Pair expansion caps bucket/block membership (``max_bucket_size`` /
``max_block_size``) so a pathological bucket is dropped — with its census
queryable via ``lsh_capped_buckets`` — instead of expanding quadratically
in one straggler task; pre-filtering empty/boilerplate docs (quality
filter in pipeline.text) remains the first line of defense.
"""

from __future__ import annotations

import logging

import pandas as pd

from pyspark.sql import Column, DataFrame, Window, functions as F

from samza_spark.pipeline.text import normalized

logger = logging.getLogger(__name__)


def jaccard_ppm_pandas(a: str, b: str) -> Column:
    """Integer-exact Jaccard in ppm — ``|A∩B| * 1_000_000 div |A∪B|``
    as an Arrow batch kernel (all arithmetic is Python integers, so
    there is nothing float to drift from the SQL ``div`` form or the
    DuckDB oracle). NULL on either side → NULL; an empty union → NULL.

    PROJECTION-ONLY: the returned Column is ``asNondeterministic()`` (a
    pure function — the flag is an optimizer annotation that stops the
    §4.4 double evaluation under threshold filters). Spark REJECTS
    non-deterministic expressions in join conditions and sort orders, so
    bind it with ``withColumn``/``select`` and filter/join on the
    materialized attribute; referencing it twice in one select also
    evaluates it twice (bind once, derive the rest)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def jp(sa: pd.Series, sb: pd.Series) -> pd.Series:
        vals = [None] * len(sa)
        for i in range(len(sa)):
            x, y = sa.iat[i], sb.iat[i]
            if x is None or y is None:
                continue
            s1, s2 = set(x), set(y)
            nu = len(s1 | s2)
            if nu:
                vals[i] = (len(s1 & s2) * 1_000_000) // nu
        return pd.Series(vals, dtype="Int64")

    # non-deterministic stops the optimizer cloning the kernel below a
    # threshold filter (a deterministic UDF column referenced by a filter
    # is evaluated once for the filter and AGAIN for the projection)
    return jp.asNondeterministic()(F.col(a), F.col(b))


def sig_match_ppm_pandas(a: str, b: str, denom: int) -> Column:
    """Signature-position match fraction in ppm — the batch form of
    ``size(filter(zip_with(a, b, (x, y) -> x = y), v -> v)) * 1_000_000
    div denom``: count equal positions over the common prefix (the
    fold's NULL-padded tail never survives its filter), exact integer
    division. NULL on either side → NULL. PROJECTION-ONLY: the Column is
    non-deterministic — see :func:`jaccard_ppm_pandas`."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    d = int(denom)

    @pandas_udf("long")
    def mp(sa: pd.Series, sb: pd.Series) -> pd.Series:
        vals = [None] * len(sa)
        for i in range(len(sa)):
            x, y = sa.iat[i], sb.iat[i]
            if x is None or y is None:
                continue
            m = min(len(x), len(y))
            eq = int(
                (np.asarray(x[:m]) == np.asarray(y[:m])).sum()
            )
            vals[i] = eq * 1_000_000 // d
        return pd.Series(vals, dtype="Int64")

    # see jaccard_ppm_pandas: single evaluation under filters
    return mp.asNondeterministic()(F.col(a), F.col(b))


def _report_capped(census: DataFrame, what: str, on_capped: str) -> None:
    """Shared hot-bucket census surfacing: ``on_capped`` is 'ignore' (no
    extra job), 'log' (WARNING with bucket/member counts when anything was
    dropped), or 'raise'. At 100 TB a silently-skipped boilerplate cluster
    is a correctness hazard; the default pipelines log."""
    if on_capped == "ignore":
        return
    if on_capped not in ("log", "raise"):
        raise ValueError(f"on_capped must be ignore|log|raise, got {on_capped!r}")
    n_buckets, n_members = census.agg(
        F.count(F.lit(1)), F.coalesce(F.sum("n_ids"), F.lit(0))
    ).first()
    if not n_buckets:
        return
    msg = (
        f"{what}: hot-bucket cap dropped {n_buckets} bucket(s) covering "
        f"{n_members} member rows from near-dup candidate expansion — "
        "likely boilerplate/empty-doc clusters; run exact dedup or a "
        "quality filter first, or query the census function for membership"
    )
    if on_capped == "raise":
        raise RuntimeError(msg)
    logger.warning(msg)


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id representative of each exact-content group.

    Single pass: ``min_by(struct(*), id)`` grouped by the content
    fingerprint (md5 of normalized text — 16-byte group key, not the
    document). One hash-aggregation shuffle with map-side partials, no
    sort, and the upstream plan is evaluated once — the groupBy+self-join
    alternative computes it twice, which matters when ``df`` is itself an
    expensive pipeline stage."""
    fp = F.md5(normalized(F.col(text_col)))
    cols = df.columns
    return (
        df.groupBy(fp.alias("__fp"))
        .agg(F.min_by(F.struct(*cols), F.col(id_col)).alias("__r"))
        .select(*[F.col(f"__r.{c}").alias(c) for c in cols])
    )


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-content-group stats: (fp, n_copies, keep_id) — the audit view."""
    return (
        df.select(F.md5(normalized(F.col(text_col))).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min(id_col).alias("keep_id"))
    )


# ---------------------------------------------------------------------------
# Shingling + MinHash + LSH
# ---------------------------------------------------------------------------


def char_shingles(text_col: str, k: int = 5) -> Column:
    """Distinct k-character shingles of the normalized text (JVM-side)."""
    norm = f"trim(regexp_replace(lower({text_col}), '\\\\s+', ' '))"
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(length({norm}) - {k - 1}, 1)), "
        f"i -> substring({norm}, i, {k})))"
    )


def word_ngrams(text_col: str, n: int = 3) -> Column:
    """Distinct word n-grams of the normalized text."""
    norm = f"trim(regexp_replace(lower({text_col}), '\\\\s+', ' '))"
    toks = f"split({norm}, ' ')"
    return F.expr(
        f"array_distinct(transform(sequence(1, greatest(size({toks}) - {n - 1}, 1)), "
        f"i -> array_join(slice({toks}, i, {n}), ' ')))"
    )


def _shingle_expr(text_col: str, mode: str, k: int) -> Column:
    if mode == "char":
        return char_shingles(text_col, k)
    if mode == "word":
        return word_ngrams(text_col, k)
    raise ValueError(f"unknown shingle mode {mode!r}")


def minhash_signature_pandas(shingle_hash_col: str, num_perm: int = 64) -> Column:
    """Vectorized MinHash signature: one Arrow-batched pandas UDF computing
    all permutations with numpy instead of interpreted Catalyst HOFs.

    Each "permutation" p re-mixes the 64-bit shingle hash with a fixed
    multiply-xorshift family ((h + b_p) * a_p, then x ^= x >> 33 — the
    splitmix64 finalizer shape, public domain); the minimum over shingles is
    a single ``np.minimum.reduceat`` over the flattened batch. ~30x faster
    than an interpreted sequence+transform expression (HOFs pay
    per-element dispatch; numpy pays none). Constants come from a fixed
    seed, so signatures are deterministic across runs and executors."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    rng = np.random.default_rng(0x5A17ED)
    A = (rng.integers(1, 2**63, size=num_perm, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    B = rng.integers(0, 2**63, size=num_perm, dtype=np.uint64)

    @pandas_udf("array<bigint>")
    def sig(shh: pd.Series) -> pd.Series:
        lens = np.fromiter((len(x) for x in shh), dtype=np.int64, count=len(shh))
        if lens.sum() == 0:
            return pd.Series([[0] * num_perm] * len(shh))
        flat = np.concatenate([np.asarray(x, dtype=np.int64) for x in shh]).astype(np.uint64)
        offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
        # reduceat on an empty segment (offsets[d] == offsets[d+1], or a
        # trailing offset == len) returns the NEXT doc's value or raises —
        # clamp the index and overwrite empty docs with 0 below
        safe_offsets = np.minimum(offsets, len(flat) - 1)
        out = np.empty((len(shh), num_perm), dtype=np.uint64)
        # chunk the permutation axis so the (perm, total_shingles) work
        # matrix stays ~64 MB regardless of Arrow batch size
        chunk = max(1, int(8_000_000 // max(len(flat), 1)))
        for p0 in range(0, num_perm, chunk):
            a = A[p0 : p0 + chunk, None]
            b = B[p0 : p0 + chunk, None]
            v = (flat[None, :] + b) * a
            v ^= v >> np.uint64(33)
            out[:, p0 : p0 + chunk] = np.minimum.reduceat(v, safe_offsets, axis=1).T
        out[lens == 0] = 0
        signed = out.view(np.int64)
        return pd.Series(list(signed))

    return sig(F.col(shingle_hash_col))


def lsh_band_buckets_pandas(
    word_hash_col: str, num_perm: int, bands: int, ngram: int = 3
) -> Column:
    """Fused n-gram + MinHash + LSH banding in one Arrow-batched numpy UDF.

    Input: per-doc array of 64-bit *word* hashes (xxhash64, computed once
    JVM-side — no n-gram string construction, the dominant cost of the
    expression path). The UDF then, fully vectorized over the flattened
    batch: (1) mixes each ``ngram``-word sliding window into one 64-bit
    shingle hash, (2) MinHashes all permutations via the multiply-xorshift
    family + ``np.minimum.reduceat``, (3) folds each signature band into a
    single 64-bit bucket id. Output: array of ``bands`` bucket hashes.

    MinHash over a multiset equals MinHash over the set, so no distinct
    pass is needed (dup shingles can't change a minimum)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    rng = np.random.default_rng(0x5A17ED)
    A = (rng.integers(1, 2**63, size=num_perm, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    B = rng.integers(0, 2**63, size=num_perm, dtype=np.uint64)
    # odd multipliers for the n-gram position mix and the band fold
    POS = (rng.integers(1, 2**63, size=ngram, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    BANDK = (rng.integers(1, 2**63, size=2, dtype=np.uint64) << np.uint64(1)) | np.uint64(1)
    r = num_perm // bands

    def _xs(v):
        v ^= v >> np.uint64(33)
        v *= np.uint64(0xFF51AFD7ED558CCD)
        v ^= v >> np.uint64(33)
        return v

    @pandas_udf("array<bigint>")
    def buckets(wh: pd.Series) -> pd.Series:
        ndocs = len(wh)
        lens = np.fromiter((len(x) for x in wh), dtype=np.int64, count=ndocs)
        if lens.sum() == 0:
            return pd.Series([[0] * bands] * ndocs)
        flat = np.concatenate([np.asarray(x, dtype=np.int64) for x in wh]).astype(np.uint64)
        total = len(flat)
        ends = np.cumsum(lens)
        starts = ends - lens
        # Pad ngram-1 sentinel slots after every doc so sliding windows never
        # read a neighboring doc's hashes: a doc shorter than ngram gets a
        # deterministic partial-window gram (its words + sentinels) that is
        # identical regardless of what else shares the Arrow batch.
        pad = ngram - 1
        pstarts = starts + pad * np.arange(ndocs, dtype=np.int64)
        ptotal = total + pad * ndocs
        pflat = np.full(ptotal, 0x9E3779B97F4A7C15, dtype=np.uint64)
        if total:
            word_pos = np.repeat(pstarts, lens) + (np.arange(total) - np.repeat(starts, lens))
            pflat[word_pos] = flat
        gram = np.zeros(ptotal, dtype=np.uint64)
        for j in range(ngram):
            seg = pflat[j:] * POS[j]
            gram[: ptotal - j] ^= seg
        gram = _xs(gram)
        # per-doc gram segment: count = max(len - ngram + 1, 1)
        # (docs shorter than ngram fall back to their partial-window gram)
        glens = np.maximum(lens - (ngram - 1), 1)
        keep = np.zeros(ptotal, dtype=bool)
        for d in range(ndocs):
            keep[pstarts[d] : pstarts[d] + glens[d]] = True
        cg = gram[keep]
        goff = np.concatenate(([0], np.cumsum(glens)[:-1]))
        sig = np.empty((ndocs, num_perm), dtype=np.uint64)
        chunk = max(1, int(8_000_000 // max(len(cg), 1)))
        for p0 in range(0, num_perm, chunk):
            a = A[p0 : p0 + chunk, None]
            b = B[p0 : p0 + chunk, None]
            v = (cg[None, :] + b) * a
            v ^= v >> np.uint64(33)
            sig[:, p0 : p0 + chunk] = np.minimum.reduceat(v, goff, axis=1).T
        # band fold: (ndocs, bands, r) -> (ndocs, bands)
        sb = sig.reshape(ndocs, bands, r)
        acc = np.full((ndocs, bands), 0x9E3779B97F4A7C15, dtype=np.uint64)
        for j in range(r):
            acc = _xs((acc ^ sb[:, :, j]) * BANDK[j % 2])
        return pd.Series(list(acc.view(np.int64)))

    return buckets(F.col(word_hash_col))


def spread_width(spark) -> int:
    """Partition count for the repartition that spreads a CPU-bound
    per-document stage over the cluster: one partition per core
    (``defaultParallelism``), but never wider than the session's
    ``spark.sql.shuffle.partitions``. Read from the session alone — asking
    a DataFrame for its partition count (``df.rdd``) runs the map stage
    of any shuffle upstream of it while the plan is still being built."""
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return min(spark.sparkContext.defaultParallelism, shuffle)


def _lsh_banded(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int,
    bands: int,
    shingle_k: int,
    shingle_mode: str,
) -> DataFrame:
    """(id, band, bucket) rows — the shared banding stage of the LSH
    candidate and bucket-stat paths."""
    if num_perm % bands:
        raise ValueError("bands must divide num_perm")
    rows_per_band = num_perm // bands
    # Spread the (CPU-bound) signature computation across all cores: a small
    # parquet arrives as one partition, which would serialize the whole
    # pipeline onto a single thread. The width comes from the session
    # (spread_width), so building this plan launches no job. Word n-grams
    # (default) give ~6x fewer shingles than char 5-grams at equivalent
    # dedup quality for natural-language docs — the dominant cost is
    # per-shingle hashing.
    n_parts = spread_width(df.sparkSession)
    if shingle_mode == "word":
        # fast path: hash words once JVM-side, everything else fused in
        # one vectorized UDF emitting band buckets directly
        norm = f"trim(regexp_replace(lower({text_col}), '\\\\s+', ' '))"
        banded_src = (
            df.repartition(n_parts, F.col(id_col))
            .select(
                F.col(id_col),
                F.expr(f"transform(split({norm}, ' '), t -> xxhash64(t))").alias("__wh"),
            )
            .select(
                F.col(id_col),
                lsh_band_buckets_pandas("__wh", num_perm, bands, shingle_k).alias("bks"),
            )
        )
        banded = banded_src.select(
            id_col, F.posexplode("bks").alias("band", "bucket")
        )
    else:
        with_sig = (
            df.repartition(n_parts, F.col(id_col))
            .select(F.col(id_col), _shingle_expr(text_col, shingle_mode, shingle_k).alias("__sh"))
            # hash every distinct shingle once, up front
            .select(F.col(id_col), F.expr("transform(__sh, s -> xxhash64(s))").alias("__shh"))
            .select(F.col(id_col), minhash_signature_pandas("__shh", num_perm).alias("sig"))
        )
        # per-band bucket ids, again as one expression (band id salts the hash)
        buckets = F.expr(
            f"transform(sequence(0, {bands - 1}), b -> "
            f"xxhash64(concat(cast(b as string), '|', "
            f"array_join(transform(slice(sig, b * {rows_per_band} + 1, {rows_per_band}), "
            f"x -> cast(x as string)), ','))))"
        )
        banded = with_sig.select(
            id_col, F.posexplode(buckets).alias("band", "bucket")
        )
    return banded


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    shingle_mode: str = "word",
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash-LSH.

    rows = (a, b) with a < b that collide in ≥1 band. Two docs with Jaccard
    similarity s collide w.p. 1-(1-s^r)^b, r = num_perm/bands — the standard
    LSH S-curve. One explode + one self-join keyed by (band, band_hash):
    shuffle volume is O(n·bands), never O(n²).

    Hot-bucket guard: a degenerate shingle (empty/boilerplate docs sharing
    one signature) would expand quadratically inside a single task — a
    bucket of 50k ids is 1.25B pairs. Buckets larger than
    ``max_bucket_size`` are dropped from pair expansion (their membership
    is queryable via :func:`lsh_capped_buckets` for logging/inspection);
    such buckets are boilerplate by construction — genuine near-dup
    clusters that big should be caught by exact dedup/quality filters
    first. ``None`` disables the cap."""
    agged = _lsh_bucket_groups(
        df, text_col, id_col, num_perm, bands, shingle_k, shingle_mode
    )
    if max_bucket_size is not None:
        agged = agged.filter(F.size("ids") <= max_bucket_size)
    return _expand_bucket_pairs(agged)


def _lsh_bucket_groups(
    df, text_col, id_col, num_perm, bands, shingle_k, shingle_mode
) -> DataFrame:
    """(band, bucket, ids) for every bucket with ≥2 members — the single
    groupBy shuffle both the pair expansion and the hot-bucket census
    derive from."""
    banded = _lsh_banded(
        df, text_col, id_col, num_perm, bands, shingle_k, shingle_mode
    )
    return (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list(id_col).alias("ids"))
        .filter(F.size("ids") > 1)
    )


def _expand_bucket_pairs(agged: DataFrame) -> DataFrame:
    # in-bucket pair expansion: ONE shuffle (groupBy bucket) instead of a
    # cached two-sided self-join — per bucket, emit all sorted-id pairs.
    # Bucket populations are tiny by construction (the S-curve keeps
    # non-near-dups apart), so the quadratic expansion is per-bucket local.
    pair_expr = (
        f"flatten(transform(sequence(1, size(ids) - 1), i -> "
        f"transform(sequence(0, i - 1), j -> "
        f"struct(sorted[j] AS a, sorted[i] AS b))))"  # [] is 0-based in Spark SQL
    )
    return (
        agged.withColumn("sorted", F.array_sort("ids"))
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .distinct()
    )


def minhash_lsh_candidates_with_census(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    shingle_mode: str = "word",
    max_bucket_size: int = 1000,
) -> "tuple[DataFrame, DataFrame]":
    """(pairs, census): candidate pairs under the hot-bucket cap PLUS the
    (band, bucket, n_ids) rows the cap dropped — from ONE banding pass.
    The bucket aggregation is checkpointed so both outputs reuse it
    instead of re-running the minhash UDF (the data materialized is the
    multi-member buckets the shuffle already built)."""
    agged = _lsh_bucket_groups(
        df, text_col, id_col, num_perm, bands, shingle_k, shingle_mode
    ).localCheckpoint(eager=True)
    census = agged.filter(F.size("ids") > max_bucket_size).select(
        "band", "bucket", F.size("ids").alias("n_ids")
    )
    pairs = _expand_bucket_pairs(agged.filter(F.size("ids") <= max_bucket_size))
    return pairs, census


def lsh_capped_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    shingle_mode: str = "word",
    max_bucket_size: int = 1000,
) -> DataFrame:
    """(band, bucket, n_ids) for buckets the candidate pass drops — the
    'logged count' side of the hot-bucket guard. Same single banding
    shuffle; callers log/alert on ``count()`` of this frame."""
    banded = _lsh_banded(
        df, text_col, id_col, num_perm, bands, shingle_k, shingle_mode
    )
    return (
        banded.groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n_ids"))
        .filter(F.col("n_ids") > max_bucket_size)
    )


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    shingle_k: int = 5,
    shingle_mode: str = "char",
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only (the verify stage of
    MinHash-LSH, and the standalone `n-gram Jaccard` dedup when fed
    all-pairs of a small corpus). Returns (a, b, jaccard) ≥ threshold.

    Pairs are scored with the codegen
    ``size(array_intersect)/size(array_union)`` expression: exact int
    counts and one IEEE division. The r12 settled interleaved A/Bs
    (values asserted identical) measured it faster than an Arrow batch
    kernel on this verify path (minhash_pairs shape: 3.60 s vs 3.86 s
    median; direct jaccard_verify rerun: 2.13 s vs 2.31 s) — at
    bench-scale candidate volume a Python stage is pure latency."""
    n_parts = spread_width(df.sparkSession)
    # the pair table is referenced three times below (both union sides of
    # cand_ids + the verify join); without a persist the caller's whole
    # candidate-generation subtree (LSH banding, prefix filtering, ...) is
    # re-evaluated per reference. Candidates are orders of magnitude
    # smaller than the corpus — at scale you materialize them always.
    pairs = pairs.persist()
    # shingle only docs that appear in a candidate pair — at corpus scale
    # the candidate set is orders of magnitude smaller than the corpus, so
    # the expensive shingling never touches non-candidates
    cand_ids = (
        pairs.select(F.col("a").alias(id_col))
        .union(pairs.select(F.col("b").alias(id_col)))
        .distinct()
    )
    sh = (
        df.join(cand_ids, on=id_col, how="left_semi")
        .repartition(n_parts, F.col(id_col))
        .select(F.col(id_col), _shingle_expr(text_col, shingle_mode, shingle_k).alias("sh"))
        .cache()  # read twice (a-side and b-side of the pair join)
    )
    # exact int counts; int/int `/` is one IEEE double division in Spark
    # (and in DuckDB, so the oracle's doubles are bit-identical)
    score = F.expr(
        "size(array_intersect(sh_a, sh_b)) / size(array_union(sh_a, sh_b))"
    )
    j = (
        pairs.join(sh.withColumnsRenamed({id_col: "a", "sh": "sh_a"}), on="a")
        .join(sh.withColumnsRenamed({id_col: "b", "sh": "sh_b"}), on="b")
        .withColumn("jaccard", score)
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
    return j


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    max_bucket_size: int | None = 1000,
    on_capped: str = "log",
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates -> Jaccard verify -> drop the
    higher id of each verified pair (greedy single-link approximation).

    The hot-bucket guard is no longer silent: when the candidate pass
    drops a bucket over ``max_bucket_size``, ``on_capped='log'`` (default)
    emits a WARNING with the bucket/member counts, ``'raise'`` fails the
    job, ``'ignore'`` skips the census entirely."""
    if max_bucket_size is not None and on_capped != "ignore":
        pairs, census = minhash_lsh_candidates_with_census(
            df, text_col, id_col, num_perm, bands, max_bucket_size=max_bucket_size
        )
        _report_capped(census, "minhash_dedup", on_capped)
    else:
        pairs = minhash_lsh_candidates(
            df, text_col, id_col, num_perm, bands, max_bucket_size=max_bucket_size
        )
    dups = jaccard_verify(
        df, pairs, text_col, id_col, threshold, shingle_k=3, shingle_mode="word"
    )
    to_drop = dups.select(F.col("b").alias(id_col)).distinct()
    return df.join(to_drop, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def shingle_hashes(text_col: str, shingle_k: int = 4, family: str = "xxhash64") -> Column:
    """Per-shingle hash array of the normalized text (pre-projection for
    simhash — compute once, fold many).

    ``family='xxhash64'`` (default) is the fast engine-native hash;
    ``family='md5'`` derives a 32-bit value from the first 8 hex chars of
    md5, which DuckDB can reproduce (``('0x'||substr(md5(s),1,8))::BIGINT``)
    — used by the oracle-checked simhash query. With 32-bit hashes the
    default ``bits=32`` simhash consumes exactly the hashed range."""
    norm = f"trim(regexp_replace(lower({text_col}), '\\\\s+', ' '))"
    if family == "md5":
        h = f"cast(conv(substr(md5(substring({norm}, i, {shingle_k})), 1, 8), 16, 10) as bigint)"
    elif family == "xxhash64":
        h = f"xxhash64(substring({norm}, i, {shingle_k}))"
    else:
        raise ValueError(f"unknown hash family {family!r}")
    return F.expr(
        f"transform(sequence(1, greatest(length({norm}) - {shingle_k - 1}, 1)), "
        f"i -> {h})"
    )


def simhash_pandas(hash_col: str, bits: int = 32) -> Column:
    """Vectorized SimHash over a (pre-projected) shingle-hash array
    column: bit b of the signature = 1 iff #{hashes with bit b set} > n/2.
    Per Arrow batch, unpack each 64-bit shingle hash into a bit matrix with
    numpy and majority-vote per bit via ``np.add.reduceat`` — one pass over
    the data instead of ``bits`` interpreted filter scans."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def sh(hs: pd.Series) -> pd.Series:
        ndocs = len(hs)
        lens = np.fromiter((len(x) for x in hs), dtype=np.int64, count=ndocs)
        if lens.sum() == 0:
            return pd.Series(np.zeros(ndocs, dtype=np.int64))
        flat = np.concatenate([np.asarray(x, dtype=np.int64) for x in hs]).astype(np.uint64)
        offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))
        # clamp reduceat indices (empty segments read the next doc / raise);
        # empty docs then majority-vote over 0 ones vs len 0 -> signature 0
        safe_offsets = np.minimum(offsets, len(flat) - 1)
        # (total, bits) 0/1 matrix; int16 keeps the reduceat sums compact
        bitmat = (
            (flat[:, None] >> np.arange(bits, dtype=np.uint64)[None, :]) & np.uint64(1)
        ).astype(np.int16)
        ones = np.add.reduceat(bitmat, safe_offsets, axis=0)  # (ndocs, bits)
        ones[lens == 0] = 0
        maj = (2 * ones > lens[:, None]).astype(np.uint64)
        sig = (maj << np.arange(bits, dtype=np.uint64)[None, :]).sum(
            axis=1, dtype=np.uint64
        )
        return pd.Series(sig.view(np.int64))

    return sh(F.col(hash_col))


def simhash_blocks(bits: int, max_hamming: int) -> list[tuple[int, int]]:
    """(offset, width) of the ``max_hamming + 1`` disjoint blocks that
    together cover all ``bits`` signature bits. Pigeonhole: a pair at
    hamming distance ≤ k differs in ≤ k bits, which cannot touch all k+1
    blocks, so the pair matches exactly on at least one block — candidate
    recall is 1 by construction."""
    n_blocks = max_hamming + 1
    if n_blocks > bits:
        raise ValueError(f"max_hamming={max_hamming} needs more blocks than bits={bits}")
    widths = [bits // n_blocks + (1 if i < bits % n_blocks else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    return list(zip(offsets, widths))


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 32,
    hash_family: str = "xxhash64",
    max_block_size: int | None = 5000,
) -> DataFrame:
    """Near-dup pairs by SimHash with the public pigeonhole multi-block
    scheme: split the ``bits``-wide signature into ``max_hamming + 1``
    disjoint blocks covering every bit, bucket-join on (block_idx,
    block_val), verify hamming ≤ k via bit_count(a XOR b). Any pair at
    hamming ≤ k matches on at least one whole block (its ≤ k differing
    bits cannot hit all k+1 blocks), so recall is exactly 1 — the oracle
    is the brute-force hamming join.

    ``hash_family='md5'`` makes the whole chain (gram hash -> per-bit
    majority -> block join -> hamming) reproducible in DuckDB SQL for the
    correctness oracle; xxhash64 stays the fast default.

    Scale: each doc emits k+1 keyed rows (not a pair blow-up); the single
    shuffle is keyed by (block_idx, block_val) — k+1 × 2^width buckets.
    At 100 TB corpus scale prefer ``bits=64`` (16-bit blocks at k=3 →
    4 × 65,536 buckets) over the default 32 (8-bit blocks saturate).

    ``max_block_size`` is the hot-block guard (same failure mode as the
    LSH hot bucket): a degenerate (block_idx, block_val) bucket bigger
    than the cap is dropped from pair expansion rather than exploding
    quadratically in one task. ``None`` disables."""
    agged = _simhash_block_groups(
        df, text_col, id_col, max_hamming, bits, hash_family
    )
    if max_block_size is not None:
        agged = agged.filter(F.size("ids") <= max_block_size)
    return _expand_simhash_pairs(agged, max_hamming)


def _simhash_block_groups(
    df, text_col, id_col, max_hamming, bits, hash_family
) -> DataFrame:
    """(bidx, bval, ids) for every pigeonhole block bucket with ≥2
    members — shared by pair expansion and the hot-block census."""
    n_parts = spread_width(df.sparkSession)
    sh = (
        df.repartition(n_parts, F.col(id_col))
        .select(F.col(id_col), shingle_hashes(text_col, family=hash_family).alias("__shh"))
        .select(F.col(id_col), simhash_pandas("__shh", bits=bits).alias("sh"))
    )
    # one keyed row per (doc, block); shiftrightunsigned so a sign-extended
    # 64-bit signature still yields the plain bit-slice value
    block_vals = ", ".join(
        f"(shiftrightunsigned(sh, {off}) & {(1 << w) - 1})"
        for off, w in simhash_blocks(bits, max_hamming)
    )
    blocked = sh.select(
        F.col(id_col),
        F.col("sh"),
        F.posexplode(F.expr(f"array({block_vals})")).alias("bidx", "bval"),
    )
    return (
        blocked.groupBy("bidx", "bval")
        .agg(F.collect_list(F.struct(F.col(id_col).alias("id"), "sh")).alias("ids"))
        .filter(F.size("ids") > 1)
    )


def _expand_simhash_pairs(agged: DataFrame, max_hamming: int) -> DataFrame:
    pair_expr = (
        "flatten(transform(sequence(1, size(rs) - 1), i -> "
        "transform(sequence(0, i - 1), j -> struct(rs[j] AS l, rs[i] AS r))))"
    )
    return (
        agged.withColumn("rs", F.array_sort("ids"))
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .withColumn("hamming", F.expr("bit_count(p.l.sh ^ p.r.sh)"))
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("p.l.id").alias("a"),
            F.col("p.r.id").alias("b"),
            "hamming",
        )
        # a pair can match on several blocks; hamming is deterministic per
        # pair so the distinct is on the full row
        .dropDuplicates(["a", "b"])
    )


def simhash_candidates_with_census(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 32,
    hash_family: str = "xxhash64",
    max_block_size: int = 5000,
) -> "tuple[DataFrame, DataFrame]":
    """(pairs, census): candidates under the hot-block cap plus the
    (bidx, bval, n_ids) rows the cap dropped — one signature pass, the
    block aggregation checkpointed and shared (mirror of
    :func:`minhash_lsh_candidates_with_census`)."""
    agged = _simhash_block_groups(
        df, text_col, id_col, max_hamming, bits, hash_family
    ).localCheckpoint(eager=True)
    census = agged.filter(F.size("ids") > max_block_size).select(
        "bidx", "bval", F.size("ids").alias("n_ids")
    )
    pairs = _expand_simhash_pairs(
        agged.filter(F.size("ids") <= max_block_size), max_hamming
    )
    return pairs, census


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 32,
    hash_family: str = "xxhash64",
    max_block_size: int | None = 5000,
    on_capped: str = "log",
) -> DataFrame:
    """Full SimHash near-dup dedup: pigeonhole candidates (recall 1 at
    hamming ≤ k) -> connected components over the verified pairs -> keep
    the min id per component. Hot-block drops surface per ``on_capped``
    (log default), mirroring :func:`minhash_dedup_cc`."""
    if max_block_size is not None and on_capped != "ignore":
        pairs, census = simhash_candidates_with_census(
            df, text_col, id_col, max_hamming, bits,
            hash_family=hash_family, max_block_size=max_block_size,
        )
        _report_capped(census, "simhash_dedup", on_capped)
    else:
        pairs = simhash_candidates(
            df, text_col, id_col, max_hamming, bits,
            hash_family=hash_family, max_block_size=max_block_size,
        )
    comp = connected_components(pairs.select("a", "b"), id_col)
    to_drop = comp.filter(F.col(id_col) != F.col("component")).select(id_col)
    return df.join(to_drop, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------


def embedding_near_dup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold, via the ANN
    module's LSH bucketing (avoids the O(n²) cross join at scale)."""
    from samza_spark.pipeline.similarity import (
        cosine_sim_seq_pandas,
        hyperplane_buckets,
    )

    bucketed = hyperplane_buckets(emb, vec_col, n_planes=8).select(
        F.col(id_col), F.col(vec_col), F.col("bucket")
    )
    l, r = bucketed.alias("l"), bucketed.alias("r")
    return (
        l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .withColumn(
            "cosine", cosine_sim_seq_pandas(f"l.{vec_col}", f"r.{vec_col}")
        )
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col(f"l.{id_col}").alias("a"),
            F.col(f"r.{id_col}").alias("b"),
            F.round("cosine", 6).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# Connected components (transitive near-dup grouping)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame, id_col: str = "doc_id", max_iter: int = 20
) -> DataFrame:
    """Label each node in the (a, b) pair graph with the minimum id of its
    connected component — the transitive closure the greedy per-pair drop
    approximates.

    Iterative min-label propagation: per round, every node takes the min of
    its own label and its neighbors' labels (one shuffle per round over the
    EDGE set only — nodes outside any pair never enter the loop). Rounds
    needed = component diameter; near-dup clusters are tiny, so this
    converges in a handful of rounds. ``localCheckpoint`` truncates the
    lineage so plans don't grow superlinearly.

    Returns (id_col, component) — component = min id reachable.
    """
    from pyspark import StorageLevel

    # the union references ``pairs`` twice; when the caller hands us an
    # expensive subtree (LSH + verify), an unpersisted plan would shingle
    # the corpus once per reference — persist for the single checkpoint
    # job, then drop (edges are materialized after it)
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    edges = (
        pairs.select(F.col("a").alias("s"), F.col("b").alias("d"))
        .union(pairs.select(F.col("b").alias("s"), F.col("a").alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    pairs.unpersist()
    labels = (
        edges.select(F.col("s").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        incoming = (
            edges.join(labels, edges["s"] == labels["id"])
            .select(F.col("d").alias("id"), F.col("label"))
            .groupBy("id")
            .agg(F.min("label").alias("nbr_label"))
        )
        # labels only ever DECREASE (least of own and neighbor min), so
        # "this round changed something" is exactly "some neighbor min
        # beat the old label" — carry that flag through the checkpoint
        # and the convergence test becomes a scan of the materialized
        # round output instead of a second labels-vs-new-labels shuffle
        # join per round (one fewer join job and exchange per iteration;
        # the per-round shuffle count is the scale cost of this loop)
        new_labels = (
            labels.join(incoming, on="id", how="left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
                (F.col("nbr_label") < F.col("label")).alias("__chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("__chg")).limit(1).count()
        labels = new_labels.drop("__chg")
        if changed == 0:
            break
    else:
        # propagation moves a label ONE hop per round: a component whose
        # diameter exceeds max_iter would have silently-stale labels here.
        # Near-dup clusters are dense (tiny diameters), so this branch is
        # unreachable for the dedup callers.
        import logging

        logging.getLogger(__name__).warning(
            "connected_components hit max_iter=%d without converging — "
            "falling back to connected_components_star (O(log n) rounds)",
            max_iter,
        )
        # at 100 TB an elongated component must not ship stale groups with
        # only a log line — the alternating-star CC converges in O(log n)
        # rounds and raises on ITS cap instead of under-converging;
        # identical contract and values (min reachable id per node)
        from samza_spark.pipeline.graph import connected_components_star

        return connected_components_star(
            edges.select(F.col("s").alias("a"), F.col("d").alias("b")),
            id_col=id_col,
        )
    return labels.select(F.col("id").alias(id_col), F.col("label").alias("component"))


def minhash_dedup_cc(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    max_bucket_size: int | None = 1000,
    on_capped: str = "log",
) -> DataFrame:
    """Near-dup dedup keeping exactly one doc (the min id) per *connected
    component* of verified pairs — the exact variant of ``minhash_dedup``'s
    greedy drop. Hot-bucket drops surface per ``on_capped`` (log default)."""
    if max_bucket_size is not None and on_capped != "ignore":
        pairs, census = minhash_lsh_candidates_with_census(
            df, text_col, id_col, num_perm, bands, max_bucket_size=max_bucket_size
        )
        _report_capped(census, "minhash_dedup_cc", on_capped)
    else:
        pairs = minhash_lsh_candidates(
            df, text_col, id_col, num_perm, bands, max_bucket_size=max_bucket_size
        )
    dups = jaccard_verify(
        df, pairs, text_col, id_col, threshold, shingle_k=3, shingle_mode="word"
    )
    comp = connected_components(dups.select("a", "b"), id_col)
    to_drop = comp.filter(F.col(id_col) != F.col("component")).select(id_col)
    return df.join(to_drop, on=id_col, how="left_anti")


# ---------------------------------------------------------------------------
# Streaming dedup
# ---------------------------------------------------------------------------


def streaming_dedup(
    stream,
    keys: "list[str]",
    ts_col: str | None = None,
    watermark: str = "1 hour",
):
    """Exact dedup on a stream: keep the first row per key, with state
    bounded by a watermark (``dropDuplicatesWithinWatermark``). The
    at-least-once replay a Samza-style source produces (README
    "Durability") collapses back to effectively-once content downstream.

    Without ``ts_col`` falls back to unbounded ``dropDuplicates`` (state
    grows with distinct keys — only for bounded key domains)."""
    df = getattr(stream, "df", stream)
    if ts_col is None:
        out = df.dropDuplicates(keys)
    else:
        out = df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    from samza_spark.operators.stream import MessageStream

    return MessageStream(out)


# ---------------------------------------------------------------------------
# Incremental dedup against a reference corpus
# ---------------------------------------------------------------------------


def dedup_against_reference(
    batch: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    shingle_mode: str = "word",
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Flag every ``batch`` document that duplicates the existing
    ``reference`` corpus — the incremental form of dedup every production
    pipeline runs on each new crawl/snapshot (only new-vs-old pairs are
    considered; old-vs-old was settled when the reference was built, and
    new-vs-new is a separate :func:`minhash_dedup` pass).

    Returns one row per batch document::

        (id, exact_dup, exact_ref_id, near_dup, near_ref_id, best_jaccard)

    - ``exact_dup``: the normalized text fingerprint (md5) exists in the
      reference; ``exact_ref_id`` is the smallest matching reference id.
    - ``near_dup``: some reference doc has word-n-gram Jaccard >=
      ``threshold``; ``near_ref_id`` is the smallest such id and
      ``best_jaccard`` the largest such similarity (both deterministic).

    Scale shape: the exact arm is one fingerprint aggregation over the
    reference + one hash join. The near arm bands batch+reference
    TOGETHER in the shared single-shuffle LSH stage (the reference's
    bands are recomputed here; :class:`CorpusDedupIndex` is the
    persisted-once-and-append production form — same candidate/verify
    plan, reference side read from the index tables), then expands
    only CROSS-side pairs inside each bucket: batch x batch and ref x ref
    pairs are never emitted, so candidate volume tracks the true overlap.
    Verification shingles only candidate members (semi-join first). The
    hot-bucket cap applies to the cross product size per bucket.
    """
    norm_fp = F.md5(normalized(F.coalesce(F.col(text_col), F.lit(""))))
    ref_fps = (
        reference.select(norm_fp.alias("__fp"), F.col(id_col).alias("__rid"))
        .groupBy("__fp")
        .agg(F.min("__rid").alias("exact_ref_id"))
    )
    exact = batch.select(F.col(id_col).alias("__id"), norm_fp.alias("__fp")).join(
        ref_fps, on="__fp", how="left"
    )

    # --- near-dup arm: band the union, expand cross-side pairs only ----
    tagged = (
        batch.select(
            F.concat(F.lit("b|"), F.col(id_col).cast("string")).alias("__sid"),
            F.col(text_col).alias("__text"),
        )
        .unionByName(
            reference.select(
                F.concat(F.lit("r|"), F.col(id_col).cast("string")).alias("__sid"),
                F.col(text_col).alias("__text"),
            )
        )
    )
    banded = _lsh_banded(
        tagged, "__text", "__sid", num_perm, bands, shingle_k, shingle_mode
    )
    agged = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list("__sid").alias("ids"))
        .withColumn(
            "bs", F.array_sort(F.expr("filter(ids, x -> x like 'b|%')"))
        )
        .withColumn(
            "rs", F.array_sort(F.expr("filter(ids, x -> x like 'r|%')"))
        )
        .filter((F.size("bs") > 0) & (F.size("rs") > 0))
    )
    if max_bucket_size is not None:
        agged = agged.filter(F.size("bs") * F.size("rs") <= max_bucket_size)
    cands = (
        agged.select(
            F.explode(
                F.expr(
                    "flatten(transform(bs, x -> transform(rs, y -> struct(x AS a, y AS b))))"
                )
            ).alias("p")
        )
        .select(
            F.expr("substr(p.a, 3)").alias("a_sid"),
            F.expr("substr(p.b, 3)").alias("b_sid"),
        )
        .distinct()
    )
    # verify: shingle candidate members only, per side. Ids travel as their
    # STRING form through the candidate joins but the original typed values
    # are carried alongside — casting the stripped sid back to the id type
    # would silently NULL out non-numeric ids and drop every near-dup pair.
    bsh = (
        batch.join(
            cands.select(F.col("a_sid").alias("__csid")).distinct(),
            F.col(id_col).cast("string") == F.col("__csid"),
            how="left_semi",
        )
        .select(
            F.col(id_col).cast("string").alias("a_sid"),
            F.col(id_col).alias("a_id"),
            _shingle_expr(text_col, shingle_mode, shingle_k).alias("sh_a"),
        )
    )
    rsh = (
        reference.join(
            cands.select(F.col("b_sid").alias("__csid")).distinct(),
            F.col(id_col).cast("string") == F.col("__csid"),
            how="left_semi",
        )
        .select(
            F.col(id_col).cast("string").alias("b_sid"),
            F.col(id_col).alias("b_id"),
            _shingle_expr(text_col, shingle_mode, shingle_k).alias("sh_b"),
        )
    )
    verified = (
        cands.join(bsh, on="a_sid")
        .join(rsh, on="b_sid")
        # codegen set expressions: the r12 settled A/Bs measured the
        # built-in faster than the Arrow kernel on every verify-path
        # shape (see jaccard_verify); same doubles, same NULL semantics
        .withColumn(
            "jaccard",
            F.expr("size(array_intersect(sh_a, sh_b)) / size(array_union(sh_a, sh_b))"),
        )
        .filter(F.col("jaccard") >= threshold)
        .groupBy("a_id")
        .agg(
            F.min("b_id").alias("near_ref_id"),
            F.max("jaccard").alias("best_jaccard"),
        )
    )
    return (
        exact.join(verified, exact["__id"] == verified["a_id"], "left")
        .select(
            F.col("__id").alias(id_col),
            F.col("exact_ref_id").isNotNull().alias("exact_dup"),
            "exact_ref_id",
            F.col("near_ref_id").isNotNull().alias("near_dup"),
            "near_ref_id",
            "best_jaccard",
        )
    )


class CorpusDedupIndex:
    """Persisted exact-fingerprint + LSH-bucket index over a reference
    corpus, so incremental dedup bands ONLY the incoming batch.

    :func:`dedup_against_reference` recomputes the reference side's
    MinHash bands on every call — fine for a one-shot batch job, but a
    streaming ingest loop calling it per micro-batch re-fingerprints the
    whole accumulated corpus (O(|corpus|) Arrow-UDF hashing per trigger)
    to admit a few thousand new documents. This class is the production
    shape that function's docstring promises: band each document exactly
    once when it is admitted, persist ``(band, bucket, ref_id)`` and
    ``(fp, ref_id)`` side tables, and dedup a new batch with

    - one fingerprint equi-join against the persisted ``fps`` (exact arm),
    - banding of the BATCH ONLY plus an equi-join against the persisted
      ``buckets`` (near arm), Jaccard-verified against just the candidate
      reference documents (fetched from the corpus by id semi-join).

    Per-batch cost is O(|batch|) hashing plus joins that prune to the
    candidate buckets — independent of corpus size. With ``path`` set the
    side tables are :class:`~samza_spark.tables.local.DurableLocalTable`
    warehouses (changelog + snapshot restore, KeyValueStorageEngine.scala
    analog), so the index survives restarts next to the corpus and is
    never rebuilt. Ids keep their original type end-to-end (string ids
    work; ``near_ref_id``/``exact_ref_id`` minima are lexicographic for
    string ids, numeric otherwise).
    """

    def __init__(
        self,
        spark,
        id_type: str = "long",
        num_perm: int = 64,
        bands: int = 16,
        shingle_k: int = 3,
        shingle_mode: str = "word",
        path: str | None = None,
        compact_every: int = 10,
    ):
        from samza_spark.tables.local import DurableLocalTable, LocalTable

        self.num_perm, self.bands = num_perm, bands
        self.shingle_k, self.shingle_mode = shingle_k, shingle_mode
        fp_schema = f"__fp string, ref_id {id_type}"
        bk_schema = f"band int, bucket long, ref_id {id_type}"
        if path:
            import os

            self.fps = DurableLocalTable.open(
                spark, os.path.join(path, "fps"), ["__fp"],
                schema=fp_schema, compact_every=compact_every,
            )
            self.buckets = DurableLocalTable.open(
                spark, os.path.join(path, "buckets"), ["band", "bucket", "ref_id"],
                schema=bk_schema, compact_every=compact_every,
            )
        else:
            self.fps = LocalTable(
                spark.createDataFrame([], fp_schema), ["__fp"],
                compact_every=compact_every,
            )
            self.buckets = LocalTable(
                spark.createDataFrame([], bk_schema), ["band", "bucket", "ref_id"],
                compact_every=compact_every,
            )

    def is_empty(self) -> bool:
        return self.fps.df.isEmpty() and self.buckets.df.isEmpty()

    def add(
        self, docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
    ) -> "CorpusDedupIndex":
        """Index ``docs``: fingerprint + band each document ONCE and append.

        Fingerprints are first-writer-wins (documents admitted through the
        dedup loop never collide — a colliding doc would have been dropped
        as an exact dup; for a bootstrap load of a corpus with internal
        dups the min-id representative wins). ``merge_batch`` materialises
        each input once, so the Arrow UDF runs exactly once per document,
        not once per later read of the growing bucket table."""
        new_fps = (
            docs.select(
                F.md5(normalized(F.coalesce(F.col(text_col), F.lit("")))).alias("__fp"),
                F.col(id_col).alias("ref_id"),
            )
            .groupBy("__fp")
            .agg(F.min("ref_id").alias("ref_id"))
            .join(self.fps.df.select("__fp"), on="__fp", how="left_anti")
        )
        self.fps.merge_batch(new_fps)
        banded = _lsh_banded(
            docs.select(
                F.col(id_col).alias("ref_id"), F.col(text_col).alias("__text")
            ),
            "__text", "ref_id",
            self.num_perm, self.bands, self.shingle_k, self.shingle_mode,
        ).select("band", "bucket", "ref_id")
        self.buckets.merge_batch(banded)
        return self

    def flags(
        self,
        batch: DataFrame,
        reference: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        threshold: float = 0.8,
        max_bucket_size: int | None = 1000,
    ) -> DataFrame:
        """Same output contract as :func:`dedup_against_reference` —
        ``(id, exact_dup, exact_ref_id, near_dup, near_ref_id,
        best_jaccard)`` per batch document — computed against the
        persisted index instead of re-banding the corpus. ``reference``
        supplies candidate documents' text for the Jaccard verify; only
        candidates are shingled (id semi-join fetch)."""
        norm_fp = F.md5(normalized(F.coalesce(F.col(text_col), F.lit(""))))
        exact = batch.select(
            F.col(id_col).alias("__id"), norm_fp.alias("__fp")
        ).join(
            self.fps.df.withColumnRenamed("ref_id", "exact_ref_id"),
            on="__fp", how="left",
        )

        banded = _lsh_banded(
            batch.select(
                F.col(id_col).alias("__bid"), F.col(text_col).alias("__text")
            ),
            "__text", "__bid",
            self.num_perm, self.bands, self.shingle_k, self.shingle_mode,
        )
        joined = banded.join(self.buckets.df, on=["band", "bucket"], how="inner")
        if max_bucket_size is not None:
            # same hot-bucket guard as dedup_against_reference: cap the
            # per-bucket cross product |batch members| x |ref members|
            ok = (
                joined.groupBy("band", "bucket")
                .agg(
                    F.countDistinct("__bid").alias("__nb"),
                    F.countDistinct("ref_id").alias("__nr"),
                )
                .filter(F.col("__nb") * F.col("__nr") <= max_bucket_size)
                .select("band", "bucket")
            )
            joined = joined.join(ok, on=["band", "bucket"], how="left_semi")
        cands = joined.select("__bid", "ref_id").distinct()
        bsh = (
            batch.join(
                cands.select(F.col("__bid").alias(id_col)).distinct(),
                on=id_col, how="left_semi",
            )
            .select(
                F.col(id_col).alias("__bid"),
                _shingle_expr(text_col, self.shingle_mode, self.shingle_k).alias("sh_a"),
            )
        )
        rsh = (
            reference.join(
                cands.select(F.col("ref_id").alias(id_col)).distinct(),
                on=id_col, how="left_semi",
            )
            .select(
                F.col(id_col).alias("ref_id"),
                _shingle_expr(text_col, self.shingle_mode, self.shingle_k).alias("sh_b"),
            )
        )
        verified = (
            cands.join(bsh, on="__bid")
            .join(rsh, on="ref_id")
            # codegen set expressions — same A/B-backed choice as
            # jaccard_verify / dedup_against_reference
            .withColumn(
                "jaccard",
                F.expr(
                    "size(array_intersect(sh_a, sh_b)) / size(array_union(sh_a, sh_b))"
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .groupBy("__bid")
            .agg(
                F.min("ref_id").alias("near_ref_id"),
                F.max("jaccard").alias("best_jaccard"),
            )
        )
        return (
            exact.join(verified, exact["__id"] == verified["__bid"], "left")
            .select(
                F.col("__id").alias(id_col),
                F.col("exact_ref_id").isNotNull().alias("exact_dup"),
                "exact_ref_id",
                F.col("near_ref_id").isNotNull().alias("near_dup"),
                "near_ref_id",
                "best_jaccard",
            )
        )


def streaming_corpus_ingest(
    stream,
    reference,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    checkpoint_dir: str | None = None,
    index: CorpusDedupIndex | None = None,
    index_path: str | None = None,
):
    """Streaming corpus builder: ingest a document stream, dropping every
    batch document that duplicates — exactly or nearly — what the corpus
    already holds, and append the survivors. The incremental-crawl loop
    of a production training-data pipeline, composed from the engine's
    own parts: per micro-batch (foreachBatch),

    1. intra-batch exact dedup (:func:`exact_dedup`, min-id keeps),
    2. :meth:`CorpusDedupIndex.flags` against the PERSISTED index —
       the batch is fingerprinted and banded, the accumulated corpus is
       not (it was indexed once, when each document was admitted), so
       per-trigger cost is O(|batch|) rather than O(|corpus|),
    3. ``merge_batch`` the survivors into the reference table and
       :meth:`~CorpusDedupIndex.add` their bands/fingerprints to the
       index — with a DurableLocalTable corpus and ``index_path`` set,
       both survive restarts (changelog-restore analog).

    A pre-existing non-empty corpus with an empty index is bootstrapped
    once at stream start (one O(|corpus|) banding pass — the same work
    the round-4 shape repeated every trigger). When ``index`` is passed
    explicitly its num_perm/bands/shingle settings win over this
    function's arguments.

    Note the intentional asymmetry with ``dropDuplicatesWithinWatermark``
    -based :func:`streaming_dedup`: near-dup state here is the corpus
    itself (unbounded by design — a crawl from last year still
    disqualifies today's copy), not a watermark-bounded buffer.

    Returns the started StreamingQuery (caller stops it).
    """
    df = getattr(stream, "df", stream)
    if index is None:
        id_type = df.schema[id_col].dataType.simpleString()
        index = CorpusDedupIndex(
            df.sparkSession, id_type=id_type, num_perm=num_perm, bands=bands,
            path=index_path,
        )
    if index.is_empty():
        ref_df0 = reference.df
        if not ref_df0.isEmpty():
            index.add(ref_df0, text_col=text_col, id_col=id_col)
    state = {"has": not index.is_empty()}

    def process(batch_df, batch_id):
        batch_local = exact_dedup(batch_df, text_col, id_col)
        if state["has"]:
            flags = index.flags(
                batch_local,
                reference.df,
                text_col=text_col,
                id_col=id_col,
                threshold=threshold,
            )
            keep_ids = flags.filter(
                ~F.col("exact_dup") & ~F.col("near_dup")
            ).select(id_col)
            batch_local = batch_local.join(keep_ids, on=id_col, how="left_semi")
        batch_local = batch_local.localCheckpoint(eager=True)
        if batch_local.isEmpty():
            return
        reference.merge_batch(batch_local)
        index.add(batch_local, text_col=text_col, id_col=id_col)
        state["has"] = True

    writer = df.writeStream.foreachBatch(process).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


def lsh_plan(
    threshold: float,
    num_perm: int = 64,
    target_recall: float = 0.95,
    fp_similarity: float | None = None,
):
    """Choose MinHash-LSH banding parameters from the S-curve
    (Leskovec-Rajaraman-Ullman, Mining of Massive Datasets ch. 3):
    collision probability at Jaccard s is ``1 - (1 - s^r)^b`` with
    ``r = num_perm / b``. Among band counts dividing ``num_perm`` whose
    recall at ``threshold`` meets ``target_recall``, pick the one with
    the LOWEST false-candidate probability at ``fp_similarity``
    (default threshold/2) — fewer bands means fewer hot buckets and less
    verify work, so this is the work-minimizing feasible plan.

    Pure driver-side arithmetic (no Spark); returns
    ``(bands, rows, candidates)`` where candidates lists every divisor's
    ``(bands, rows, recall_at_threshold, fp_at_low)`` for audit.
    Raises if no divisor meets the target (raise num_perm).
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError("threshold must be in (0, 1]")
    s_lo = fp_similarity if fp_similarity is not None else threshold / 2.0

    def curve(s: float, r: int, b: int) -> float:
        return 1.0 - (1.0 - s**r) ** b

    candidates = []
    for b in range(1, num_perm + 1):
        if num_perm % b:
            continue
        r = num_perm // b
        candidates.append(
            (b, r, curve(threshold, r, b), curve(s_lo, r, b))
        )
    feasible = [c for c in candidates if c[2] >= target_recall]
    if not feasible:
        raise ValueError(
            f"no banding of {num_perm} permutations reaches recall "
            f"{target_recall} at threshold {threshold}; increase num_perm"
        )
    best = min(feasible, key=lambda c: (c[3], c[0]))
    return (best[0], best[1], candidates)


def minhash_dedup_keep_best(
    df: DataFrame,
    quality_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_perm: int = 64,
    bands: int = 16,
    max_bucket_size: int | None = 1000,
    on_capped: str = "log",
) -> DataFrame:
    """Near-dup dedup keeping the BEST document per duplicate cluster —
    what production pipelines actually want: when a boilerplate-laden
    copy and a clean copy of the same page collide, keep the clean one,
    not whichever has the smaller id. Same candidate/verify/components
    machinery as :func:`minhash_dedup_cc`; the survivor per connected
    component is argmax(``quality_col``) with min-id tie-break (use an
    integer quality column for a hash-exact oracle).

    Extra cost over min-id CC dedup: one quality join (on the id key)
    over only the docs that appear in some verified pair + one
    components-keyed argmax — both tiny relative to the LSH pass.
    """
    if max_bucket_size is not None and on_capped != "ignore":
        pairs, census = minhash_lsh_candidates_with_census(
            df, text_col, id_col, num_perm, bands, max_bucket_size=max_bucket_size
        )
        _report_capped(census, "minhash_dedup_keep_best", on_capped)
    else:
        pairs = minhash_lsh_candidates(
            df, text_col, id_col, num_perm, bands, max_bucket_size=max_bucket_size
        )
    dups = jaccard_verify(
        df, pairs, text_col, id_col, threshold, shingle_k=3, shingle_mode="word"
    )
    comp = connected_components(dups.select("a", "b"), id_col)
    members = comp.join(
        df.select(F.col(id_col), F.col(quality_col).alias("__q")), on=id_col
    )
    best = members.groupBy("component").agg(
        F.max(F.struct(F.col("__q"), (-F.col(id_col)).alias("__ni"))).alias("__b")
    ).select(F.col("component"), (-F.col("__b.__ni")).alias("__keep"))
    to_drop = (
        members.join(best, on="component")
        .filter(F.col(id_col) != F.col("__keep"))
        .select(id_col)
    )
    return df.join(to_drop, on=id_col, how="left_anti")


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    granularity: int = 1_000_000,
    impl: str = "hash",
) -> DataFrame:
    """Per-document n-gram novelty: the fraction (integer ppm) of a doc's
    distinct word n-grams that NO earlier document (smaller id —
    ingestion order) contains. The incremental-crawl diagnostic between
    exact dedup and near-dedup: a doc can evade both while being 95%
    recycled text; novelty ranks exactly that.

    Plan: one distinct-gram explode, one map-side-combinable min(id) per
    gram, one gram-keyed join back (the aggregate's key — Catalyst
    reuses the partitioning), one doc-keyed count. Nothing quadratic;
    short docs yield their single degenerate shingle (the minhash
    convention) so every doc gets a row. Returns
    ``(id_col, n_grams, novel_grams, novelty_ppm)``.

    ``impl='hash'`` (default) shuffles 64-bit gram HASHES instead of the
    gram strings — the two gram-keyed stages move 8 bytes/gram instead
    of ~20-40 (measured 8.4s -> ~3s at sf0.1): each word is xxhash64'd
    once JVM-side and the n-gram key is the integer-only
    ``xxhash64(h_i..h_{i+n-1})`` — no n-gram string is ever built. A
    cross-doc 64-bit collision (p ~ m^2/2^65) would merge two grams;
    ``impl='exact'`` keeps string grams for the collision-free form
    (same answer on real corpora — tested equal).
    """
    if impl == "hash":
        norm = f"trim(regexp_replace(lower({text_col}), '\\\\s+', ' '))"
        args = ", ".join(f"element_at(__th, i + {j})" for j in range(n))
        grams = df.select(
            F.col(id_col).alias("__id"),
            F.expr(f"transform(split({norm}, ' '), t -> xxhash64(t))").alias(
                "__th"
            ),
        ).select(
            "__id",
            F.explode(
                F.expr(
                    f"array_distinct(transform(sequence(1, greatest(size(__th) - {n - 1}, 1)), "
                    f"i -> xxhash64({args})))"
                )
            ).alias("g"),
        )
    elif impl == "exact":
        grams = df.select(
            F.col(id_col).alias("__id"),
            F.explode(word_ngrams(text_col, n)).alias("g"),
        )
    else:
        raise ValueError(f"unknown impl {impl!r}")
    first = grams.groupBy("g").agg(F.min("__id").alias("__first"))
    per_doc = (
        grams.join(first, on="g")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("__first") == F.col("__id")).cast("long")).alias(
                "novel_grams"
            ),
        )
    )
    g = int(granularity)
    return per_doc.select(
        F.col("__id").alias(id_col),
        "n_grams",
        "novel_grams",
        F.expr(f"novel_grams * {g} div n_grams").alias("novelty_ppm"),
    )


def minhash_estimate_eval(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_mod: int = 50,
    num_perm: int = 16,
    k: int = 5,
) -> DataFrame:
    """MinHash estimator calibration: per candidate pair, the k-out-of-n
    signature-match ESTIMATE next to the exact shingle Jaccard and their
    absolute error — the audit that tells you whether the dedup serving
    tier's (bands, rows, threshold) operating point actually delivers
    its advertised precision/recall before a 100 TB run commits to it.

    Uses an md5 permutation family (``min over shingles of
    md5(p|shingle)``) so the estimate itself replays in ANSI SQL — this
    audits the ESTIMATOR CONTRACT (match fraction ~ Jaccard under any
    min-wise independent family), while the serving tier keeps its
    ~30x-faster xxhash64/splitmix kernel (minhash_signature_pandas).
    Pairs are blocked on ``id div block_mod`` to bound the quadratic
    strictly per block. All outputs are integer ppm.
    """
    h = (
        f"cast(conv(substr(md5(concat(cast(p as string), '|', s)), 1, 8), "
        "16, 10) as bigint)"
    )
    sh = df.select(
        F.col(id_col).alias("__id"),
        char_shingles(text_col, k).alias("__sh"),
    ).withColumn(
        "__sig",
        F.expr(
            f"transform(sequence(0, {int(num_perm) - 1}), p -> "
            f"array_min(transform(__sh, s -> {h})))"
        ),
    )
    l = sh.select(
        F.col("__id").alias("a"),
        F.col("__sh").alias("ls"),
        F.col("__sig").alias("lg"),
    )
    r = sh.select(
        F.col("__id").alias("b"),
        F.col("__sh").alias("rs"),
        F.col("__sig").alias("rg"),
    )
    pairs = l.join(
        r,
        (F.expr(f"a div {int(block_mod)}") == F.expr(f"b div {int(block_mod)}"))
        & (F.col("a") < F.col("b")),
    )
    return pairs.select(
        "a",
        "b",
        sig_match_ppm_pandas("lg", "rg", num_perm).alias("est_ppm"),
        jaccard_ppm_pandas("ls", "rs").alias("exact_ppm"),
    ).withColumn("err_ppm", F.expr("abs(est_ppm - exact_ppm)"))


def soft_dedup_weights(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Soft dedup: instead of DROPPING exact duplicates, keep every row
    and downweight it by its duplicate-cluster size (``weight_ppm =
    1e6 div cluster_size``) — the training-mixture alternative to hard
    dedup (duplicates still contribute, but a page mirrored 1000x no
    longer contributes 1000x gradient mass; total corpus weight equals
    the deduplicated count by construction). Clusters are exact
    normalized-text md5 fingerprints — the same keying as
    dedup_exact, so hard and soft paths agree on what "duplicate"
    means.

    One fingerprint-keyed aggregate + one join back on the fingerprint
    (both shuffles on the same key, so AQE reuses the exchange).
    Emits ``(id, cluster_size, weight_ppm)``."""
    fp = F.md5(normalized(F.col(text_col)))
    keyed = df.select(F.col(id_col), fp.alias("__fp"))
    sizes = keyed.groupBy("__fp").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        keyed.join(sizes, "__fp")
        .select(
            id_col,
            "cluster_size",
            F.expr("1000000 div cluster_size").alias("weight_ppm"),
        )
    )


def jaccard_prefix_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tau_num: int = 4,
    tau_den: int = 5,
    max_bucket_size: "int | None" = None,
    on_capped: str = "log",
) -> DataFrame:
    """EXACT set-similarity join by prefix filtering (AllPairs/PPJoin,
    Bayardo et al. WWW'07 / Xiao et al. WWW'08) — the exact complement
    to the MinHash band join: every document pair whose word-set
    Jaccard is >= tau (= tau_num/tau_den, a rational so the threshold
    compare is integer-exact), with NO false negatives and no
    estimation. MinHash answers "probably similar" cheaply; this is the
    operator you run when the dedup decision must be provably right.

    Prefix-filtering theorem: order every document's distinct tokens by
    a GLOBAL total order (rarest-first here — ties broken by token — the
    order that minimizes candidates; correctness holds for any fixed
    order) and keep only the first ``|T| - ceil(tau*|T|) + 1`` tokens as
    the prefix. Two sets with J >= tau overlap in more than
    ``|A| - ceil(tau*|A|)`` positions, so they MUST share at least one
    prefix token — candidate recall is exactly 1, and the brute-force
    pairwise join is a valid oracle.

    Shape: one aggregate for token frequencies (broadcast), one window
    per doc to rank tokens (keyed by doc — never global), prefix
    explode, the single (token)-keyed candidate shuffle, then the exact
    intersection count via a (pair)-keyed join of the full posting
    lists. ``max_bucket_size`` optionally drops degenerate hot
    prefix-token buckets from pair expansion (the same hot-bucket guard
    the LSH path uses) — but because this operator's contract is
    EXACTNESS it defaults to ``None`` (no cap, recall exactly 1), and
    when a cap IS set, any dropped bucket surfaces through the shared
    ``on_capped`` census discipline ('log' default / 'raise' / 'ignore')
    instead of silently losing qualifying pairs (r10 ADVICE fix).

    Emits ``(a, b, inter, na, nb, jaccard_ppm)`` for pairs at J >= tau.
    """
    norm = f"trim(regexp_replace(lower({text_col}), '\\\\s+', ' '))"
    toks = (
        df.select(
            F.col(id_col).alias("__d"),
            F.explode(F.split(F.expr(norm), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    sizes = toks.groupBy("__d").agg(F.count(F.lit(1)).alias("n_tok"))
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__f"))
    w_doc = Window.partitionBy("__d").orderBy("__f", "tok")
    # freq is vocabulary-sized and sizes doc-count-sized: neither may
    # be broadcast at corpus scale — both joins stay keyed hash joins
    # (AQE still broadcasts them when the actual input is small)
    ranked = (
        toks.join(freq, "tok")
        .withColumn("__r", F.row_number().over(w_doc))
        .join(sizes, "__d")
    )
    # prefix length = n - ceil(tau*n) + 1, integer-ceil idiom
    prefix = ranked.filter(
        F.expr(
            f"__r <= n_tok - ((n_tok * {int(tau_num)} - 1) "
            f"div {int(tau_den)} + 1) + 1"
        )
    ).select("tok", "__d")
    if max_bucket_size is not None:
        bucket_n = prefix.groupBy("tok").agg(
            F.count(F.lit(1)).alias("__bn")
        )
        _report_capped(
            bucket_n.filter(F.col("__bn") > max_bucket_size).select(
                "tok", F.col("__bn").alias("n_ids")
            ),
            "jaccard_prefix_join",
            on_capped,
        )
        prefix = prefix.join(bucket_n, "tok").filter(
            F.col("__bn") <= max_bucket_size
        )
    cand = (
        prefix.alias("l")
        .join(prefix.alias("r"), "tok")
        .filter(F.col("l.__d") < F.col("r.__d"))
        .select(F.col("l.__d").alias("a"), F.col("r.__d").alias("b"))
        .distinct()
    )
    inter = (
        cand.join(toks.select(F.col("__d").alias("a"), "tok"), "a")
        .join(toks.select(F.col("__d").alias("b"), "tok"), ["b", "tok"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("inter"))
    )
    return (
        inter.join(
            sizes.select(F.col("__d").alias("a"), F.col("n_tok").alias("na")),
            "a",
        )
        .join(
            sizes.select(F.col("__d").alias("b"), F.col("n_tok").alias("nb")),
            "b",
        )
        .filter(
            F.expr(
                f"inter * {int(tau_den)} >= (na + nb - inter) * {int(tau_num)}"
            )
        )
        .select(
            "a", "b", "inter",
            F.col("na").cast("long").alias("na"),
            F.col("nb").cast("long").alias("nb"),
            F.expr("inter * 1000000 div (na + nb - inter)").alias(
                "jaccard_ppm"
            ),
        )
    )


def simhash_estimate_eval(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_mod: int = 50,
    bits: int = 32,
    shingle_k: int = 4,
) -> DataFrame:
    """SimHash estimator calibration — :func:`minhash_estimate_eval`'s
    twin for the hamming-distance family: per blocked candidate pair,
    the signature hamming distance next to the EXACT shingle Jaccard,
    rolled up per hamming value (count + mean exact similarity). This
    is the curve that justifies a (bits, max_hamming) operating point:
    "hamming <= 3 at 32 bits" is only a dedup threshold if the measured
    mean Jaccard at hamming 3 is where the dedup policy thinks it is.

    md5 hash family throughout, so the whole chain — gram hash, per-bit
    majority, XOR popcount, exact set Jaccard — replays in DuckDB SQL.
    Pairs are blocked on ``id div block_mod`` (quadratic strictly per
    block — the documented eval-tier bound). Output rows are bounded by
    ``bits + 1``. The per-bit majority is the numpy kernel
    (:func:`simhash_pandas`).
    """
    # materialize signatures once: the self-join would otherwise
    # recompute the gram-hash + majority subtree on BOTH sides (the
    # dominant cost — md5 per gram), doubling the job
    sh = (
        df.select(
            F.col(id_col).alias("__id"),
            shingle_hashes(text_col, shingle_k, family="md5").alias("__gh"),
        )
        .withColumn("__sig", simhash_pandas("__gh", bits=bits))
        .localCheckpoint(eager=True)
    )
    l = sh.select(
        F.col("__id").alias("a"),
        F.col("__gh").alias("lh"),
        F.col("__sig").alias("lg"),
    )
    r = sh.select(
        F.col("__id").alias("b"),
        F.col("__gh").alias("rh"),
        F.col("__sig").alias("rg"),
    )
    pairs = l.join(
        r,
        (F.expr(f"a div {int(block_mod)}") == F.expr(f"b div {int(block_mod)}"))
        & (F.col("a") < F.col("b")),
    ).select(
        F.expr("cast(bit_count(lg ^ rg) as int)").alias("hamming"),
        jaccard_ppm_pandas("lh", "rh").alias("exact_ppm"),
    )
    return (
        pairs.groupBy("hamming")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("exact_ppm").cast("long").alias("__sum"),
        )
        .select(
            "hamming",
            "n_pairs",
            F.expr("__sum div n_pairs").alias("mean_exact_ppm"),
        )
    )
