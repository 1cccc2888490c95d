"""Exact set-similarity self-join (record linkage / entity resolution).

The public algorithm family (AllPairs: Bayardo et al. WWW'07; PPJoin:
Xiao et al. WWW'08) finds every record pair whose set-overlap similarity
meets a threshold WITHOUT comparing all pairs and WITHOUT the recall loss
of MinHash/LSH: order each record's elements by ascending global document
frequency, emit only a short *prefix* per record, and join on prefix
elements — the prefix-filter theorem guarantees any pair with
Jaccard >= t shares at least one prefix element, so candidate generation
is lossless and the verified output equals brute force exactly.

Prefix-filter theorem (Jaccard form): J(x, y) >= t implies
|x ∩ y| >= ceil(t * |x|); if x and y had no common element among the
first p_x = |x| - ceil(t * |x|) + 1 elements of x (in the canonical
global order), every common element would sit in x's last
ceil(t * |x|) - 1 positions — fewer than the required overlap.
Symmetrically for y, so joining prefix-to-prefix keeps full recall.

Reference anchor: apache/samza has no similarity-join operator; this is
training-data-pipeline / data-cleaning surface (record linkage,
entity resolution, exact near-dup discovery) expressed Spark-first.
Complements the MinHash path (pipeline/dedup.py): LSH is the
probabilistic at-scale screen, this is the exact join whose output is
provably identical to all-pairs — and its brute-force DuckDB oracle
checks that property, not just plausibility.

Scale design (100 TB):
- Shingling is map-only (the same array expression as dedup.word_ngrams).
- Element document frequency is ONE shuffle on the element key with
  map-side partial aggregation.
- The canonical ordering joins elements back to their df on the same key
  (exchange reuse), then ONE id-keyed re-group bounded by record size.
- Candidate pairs join prefix-to-prefix on the element key; rarest-first
  ordering makes prefixes land on LOW-df elements, so block sizes are
  small by construction (the hot "stopword" shingles never appear in a
  prefix unless a record is almost entirely hot). A length filter
  (t*|x| <= |y| <= |x|/t) prunes inside the join condition.
- Verification joins the two full shingle arrays by record id (hash
  joins on the id key); the per-pair overlap COUNT is the codegen
  ``size(array_intersect(..))`` (exact integer — the r12 settled A/B
  measured it faster than an Arrow batch kernel on this path), and the
  similarity itself is a single JVM-side division over that count and
  the two set sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from samza_spark.pipeline.dedup import spread_width, word_ngrams


def _shingle_sets(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """(id, shingles, sz): distinct word n-gram set per record and its
    size. Shingling is the dominant cost (higher-order array expressions
    are interpreted, not codegen'd), so spread it across the cluster
    first — a single input file otherwise pins the whole expression run
    to one task (same repartition-before-shingling as dedup._lsh_banded).
    The width is ``dedup.spread_width`` of the session, so building the
    plan launches no job."""
    return (
        df.repartition(spread_width(df.sparkSession), F.col(id_col))
        .select(
            F.col(id_col).alias("__id"),
            word_ngrams(text_col, n).alias("__sh"),
        )
        .select("__id", "__sh", F.size("__sh").alias("__sz"))
    )


def ordered_prefixes(
    sets_df: DataFrame, threshold: float
) -> DataFrame:
    """(id, sz, element) exploded over each record's prefix in canonical
    (df ASC, element ASC) order; prefix length |x| - ceil(t*|x|) + 1."""
    elems = sets_df.select("__id", "__sz", F.explode("__sh").alias("__e"))
    df_tab = elems.groupBy("__e").agg(F.count(F.lit(1)).alias("__df"))
    ordered = (
        elems.join(df_tab, "__e")
        .groupBy("__id", "__sz")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__df"), F.col("__e")))
            ).alias("__ord")
        )
    )
    prefix_len = (
        F.col("__sz")
        - F.ceil(F.col("__sz") * F.lit(float(threshold))).cast("int")
        + F.lit(1)
    )
    return ordered.select(
        "__id",
        "__sz",
        F.explode(
            F.transform(
                F.slice("__ord", F.lit(1), prefix_len), lambda s: s["__e"]
            )
        ).alias("__e"),
    )


def similarity_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """All record pairs with word-``n``-gram-set Jaccard >= ``threshold``.

    Returns ``(id_a, id_b, n_common, jaccard)`` with ``id_a < id_b``;
    provably identical to the brute-force all-pairs join (prefix filtering
    is lossless — see module docstring).

    The shingle-set table is referenced three times (prefix generation +
    both verify sides); without a persist Spark recomputes the expensive
    interpreted shingling per reference (measured 11-12.7s vs 7s at
    sf0.1). The sets are persisted spill-safe (MEMORY_AND_DISK), the
    pair output — many orders of magnitude smaller than the corpus — is
    materialized eagerly, and the corpus-sized cache is dropped before
    returning, so repeated calls leak nothing.
    """
    from pyspark import StorageLevel

    sets_df = _shingle_sets(df, text_col, id_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pref = ordered_prefixes(sets_df, threshold)
    t = float(threshold)
    # In-bucket pair expansion instead of a two-sided self-join: a DataFrame
    # self-join would evaluate the whole prefix subtree (two shuffles + a
    # collect_list aggregation) TWICE — Spark's ReuseExchange doesn't fire
    # across the alias-renamed sides. Grouping by element and expanding
    # sorted pairs per bucket computes the prefixes ONCE and costs one
    # element-keyed shuffle (the same idiom as dedup._expand_bucket_pairs).
    # Buckets are small by construction: rarest-first ordering puts only
    # LOW-df elements into prefixes.
    agged = pref.groupBy("__e").agg(
        F.collect_list(F.struct("__id", "__sz")).alias("ms")
    )
    pair_expr = (
        # gate on size >= 2: Spark sequence(1, 0) DESCENDS
        "if(size(ms2) >= 2, "
        "flatten(transform(sequence(1, size(ms2) - 1), i -> "
        "transform(sequence(0, i - 1), j -> "
        "struct(ms2[j].__id AS ida, ms2[j].__sz AS sza, "
        "ms2[i].__id AS idb, ms2[i].__sz AS szb)))), "
        "array())"
    )
    cand = (
        agged.withColumn("ms2", F.array_sort("ms"))
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        # length filter: t*|a| <= |b| and t*|b| <= |a|
        .where(
            (F.col("p.szb") * F.lit(t) <= F.col("p.sza"))
            & (F.col("p.sza") * F.lit(t) <= F.col("p.szb"))
        )
        .select(F.col("p.ida").alias("__ida"), F.col("p.idb").alias("__idb"))
        .distinct()
    )
    # The verify side re-shingles the corpus (map-only) rather than
    # semi-joining down to candidate members first: a semi-join on ids
    # derived from `cand` would put the whole prefix+expansion pipeline on
    # BOTH sides of the verify join and evaluate it twice (measured 2x
    # slower at sf0.1). Callers verifying against an already-materialized
    # candidate table should persist `cand` and use the semi-join shape
    # (dedup.ngram verify does exactly that with LSH candidates).
    sa = sets_df.select(
        F.col("__id").alias("__ida"), F.col("__sh").alias("__sha")
    )
    sb = sets_df.select(
        F.col("__id").alias("__idb"), F.col("__sh").alias("__shb")
    )
    # bind the overlap count to ONE column and derive n_common / jaccard
    # from it (exact integer count, evaluated by codegen — the r12
    # settled A/B measured the built-in faster on this verify path)
    union = (
        F.size("__sha") + F.size("__shb") - F.col("__ov")
    )
    ov = F.expr("size(array_intersect(__sha, __shb))").cast("int")
    out = (
        cand.join(sa, "__ida")
        .join(sb, "__idb")
        .withColumn("__ov", ov)
        .select(
            F.col("__ida").alias("id_a"),
            F.col("__idb").alias("id_b"),
            F.col("__ov").cast("int").alias("n_common"),
            (F.col("__ov").cast("double") / union.cast("double")).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= F.lit(t))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out.count()  # materialize while the shingle cache is live
    sets_df.unpersist()
    return out


def containment_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.9,
) -> DataFrame:
    """All record pairs where either direction's shingle-set CONTAINMENT
    ``|A ∩ B| / |A|`` meets ``threshold`` — the asymmetric near-dup
    measure (a document quoted wholesale inside a longer one has high
    containment but low Jaccard, so symmetric joins miss it; cf. the
    containment variant of the prefix filter in the AllPairs/PPJoin
    literature and Broder's containment resemblance).

    Prefix filter, containment form: C(x→y) >= t implies
    ``|x ∩ y| >= ceil(t*|x|)``, so x must share one of its first
    ``|x| - ceil(t*|x|) + 1`` canonical-order elements with y — but y
    gets NO prefix (it may be an arbitrary superset). Candidates are
    therefore the equi-join of x-prefix elements against ALL y elements;
    running that one directed join catches both directions after pair
    normalization (a's prefix hitting any of b's elements covers
    C(a→b); b's prefix hitting a's covers C(b→a) — both land in the
    same element buckets).

    Returns ``(id_a, id_b, n_common, cont_a_in_b, cont_b_in_a)`` with
    ``id_a < id_b`` and ``max(cont) >= threshold``; exactly equal to the
    brute-force all-pairs join (lossless candidates).

    Scale: prefix side is small (rarest-first elements); the full-element
    side is the corpus's distinct shingles — the join is element-keyed
    hash equi-join, and hot (stopword) shingles only explode if they
    enter a PREFIX, which rarest-first ordering prevents unless a record
    is almost entirely hot."""
    from pyspark import StorageLevel

    t = float(threshold)
    sets_df = _shingle_sets(df, text_col, id_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    pref = ordered_prefixes(sets_df, t).select(
        F.col("__id").alias("__pid"), F.col("__e")
    )
    full = sets_df.select(
        F.col("__id").alias("__fid"), F.explode("__sh").alias("__e")
    )
    cand = (
        pref.join(full, "__e")
        .where(F.col("__pid") != F.col("__fid"))
        .select(
            F.least("__pid", "__fid").alias("__ida"),
            F.greatest("__pid", "__fid").alias("__idb"),
        )
        .distinct()
    )
    sa = sets_df.select(F.col("__id").alias("__ida"), F.col("__sh").alias("__sha"))
    sb = sets_df.select(F.col("__id").alias("__idb"), F.col("__sh").alias("__shb"))
    # one overlap-count column, three derived expressions (see
    # similarity_join)
    ov = F.expr("size(array_intersect(__sha, __shb))").cast("int")
    out = (
        cand.join(sa, "__ida")
        .join(sb, "__idb")
        .withColumn("__ov", ov)
        .select(
            F.col("__ida").alias("id_a"),
            F.col("__idb").alias("id_b"),
            F.col("__ov").cast("int").alias("n_common"),
            (F.col("__ov").cast("double") / F.size("__sha").cast("double")).alias(
                "cont_a_in_b"
            ),
            (F.col("__ov").cast("double") / F.size("__shb").cast("double")).alias(
                "cont_b_in_a"
            ),
        )
        .where(
            (F.col("cont_a_in_b") >= F.lit(t))
            | (F.col("cont_b_in_a") >= F.lit(t))
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out.count()  # materialize while the shingle cache is live
    sets_df.unpersist()
    return out


def similarity_join_bruteforce(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """All-pairs reference implementation (testing only — O(n²) pairs;
    the equality `similarity_join == similarity_join_bruteforce` is the
    lossless-recall property the prefix filter guarantees)."""
    sets_df = _shingle_sets(df, text_col, id_col, n)
    a = sets_df.select(
        F.col("__id").alias("id_a"), F.col("__sh").alias("__sha")
    )
    b = sets_df.select(
        F.col("__id").alias("id_b"), F.col("__sh").alias("__shb")
    )
    inter = F.size(F.array_intersect("__sha", "__shb"))
    union = F.size("__sha") + F.size("__shb") - inter
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            inter.cast("int").alias("n_common"),
            (inter.cast("double") / union.cast("double")).alias("jaccard"),
        )
        .where(F.col("jaccard") >= F.lit(float(threshold)))
    )


def blocking_eval(
    candidates: DataFrame,
    truth: DataFrame,
    n_docs: int,
    ppm: int = 1_000_000,
) -> DataFrame:
    """Blocking-scheme quality audit (the two standard record-linkage
    metrics, Christen 2012): given the candidate pair set a blocking
    key produced and the ground-truth match set,

    - **reduction ratio** RR = 1 − |candidates| / (n·(n−1)/2) — how much
      of the quadratic comparison space the blocking avoided;
    - **pairs completeness** PC = |candidates ∩ truth| / |truth| — how
      many real matches survived blocking (recall of the candidate
      generator).

    Both reported in integer parts-per-million (one ``div`` each —
    engine-exact). Inputs are (a, b) pair frames with a < b normalized;
    the intersection is one equi-join on the pair key. Output is a
    single row ``(n_docs, n_cand, n_true, n_hit, rr_ppm, pc_ppm)``.

    At scale both pair sets are blocking outputs (bounded by bucket
    caps), never materialized cross products; the audit itself is two
    counts and a join on (a, b).
    """
    c = candidates.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).distinct()
    t = truth.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).distinct()
    hit = c.join(t, on=["a", "b"], how="inner")
    total_pairs = int(n_docs) * (int(n_docs) - 1) // 2
    counts = (
        c.agg(F.count(F.lit(1)).alias("n_cand"))
        .crossJoin(t.agg(F.count(F.lit(1)).alias("n_true")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
    )
    return counts.select(
        F.lit(int(n_docs)).cast("long").alias("n_docs"),
        F.col("n_cand").cast("long"),
        F.col("n_true").cast("long"),
        F.col("n_hit").cast("long"),
        F.expr(
            f"cast({ppm} - (n_cand * {ppm}) div {total_pairs} as bigint)"
        ).alias("rr_ppm"),
        F.expr(
            f"cast(if(n_true = 0, {ppm}, (n_hit * {ppm}) div n_true) as bigint)"
        ).alias("pc_ppm"),
    )


def fellegi_sunter(
    a: DataFrame,
    b: DataFrame,
    id_a: str,
    id_b: str,
    block_cols,
    fields,
    m_permille: dict,
    u_permille: dict,
    threshold_ratio: "tuple[int, int]" = (100, 1),
) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage (JASA 1969; the
    Splink/RecordLinkage model) in exact integer arithmetic.

    Candidate pairs come from an equi-join on ``block_cols`` (classic
    blocking — never an all-pairs product); each field comparison
    contributes the likelihood ratio m/u on agreement and
    (1-m)/(1-u) on disagreement. With probabilities in **permille**
    (integers 1-999), the pair's match weight is the exact rational

        W = prod(agree ? m_i : 1000-m_i) / prod(agree ? u_i : 1000-u_i)

    kept as two BIGINT products (``w_num`` / ``w_den`` — up to six
    fields stay under 2^63), and the match decision
    ``W >= threshold_ratio`` is an integer cross-multiplication — no
    logs, no floats, so a SQL oracle reproduces every bit (the
    textbook log2-weight formulation ranks identically since log is
    monotone; we skip the transcendental, see NOTES round-4 on
    cross-engine ``ln``).

    ``fields`` is a list of ``(name, expr_a, expr_b)`` SQL expressions
    evaluated against the aliased sides ``A`` / ``B``; agreement is
    null-safe equality. Scale: one blocked hash join + map-only scoring.

    Reference anchor: apache/samza has no linkage operator; this is the
    data-cleaning surface beside the exact PPJoin above, sharing its
    blocking discipline.
    """
    t_num, t_den = threshold_ratio
    pa = a.alias("A")
    pb = b.alias("B")
    cond = [F.col(f"A.{c}") == F.col(f"B.{c}") for c in block_cols]
    pairs = pa.join(pb, cond)
    agrees = [
        F.expr(f"({ea}) <=> ({eb})").alias(f"agr_{name}")
        for name, ea, eb in fields
    ]
    scored = pairs.select(
        F.col(f"A.{id_a}").alias("a_id"),
        F.col(f"B.{id_b}").alias("b_id"),
        *agrees,
    )
    num = F.lit(1).cast("long")
    den = F.lit(1).cast("long")
    pattern = F.lit("")
    for name, _, _ in fields:
        m = int(m_permille[name])
        u = int(u_permille[name])
        assert 0 < m < 1000 and 0 < u < 1000, "permille probabilities only"
        agr = F.col(f"agr_{name}")
        num = num * F.when(agr, F.lit(m)).otherwise(F.lit(1000 - m))
        den = den * F.when(agr, F.lit(u)).otherwise(F.lit(1000 - u))
        pattern = F.concat(pattern, F.when(agr, F.lit("1")).otherwise(F.lit("0")))
    return scored.select(
        "a_id",
        "b_id",
        pattern.alias("pattern"),
        num.alias("w_num"),
        den.alias("w_den"),
        (num * F.lit(int(t_den)) >= den * F.lit(int(t_num))).alias("is_match"),
    )


def golden_record(
    records: DataFrame,
    entity_col: str,
    priority_col: str,
    fields: "list[str]",
) -> DataFrame:
    """Survivorship / golden-record consolidation (the MDM step after
    record linkage): one output row per entity, each field taken from
    the highest-priority source record where that field is non-null.

    Field-level (not record-level) survivorship: a low-priority source
    can still contribute the only non-null phone number. Null fields are
    demoted to priority -1 so any non-null value from any source beats
    them; an all-null field stays null.

    Scale shape: ONE map-side-combinable ``max_by`` aggregate per field
    in a single groupBy — no per-field self-joins, no window over the
    record universe. Priorities must be distinct per entity for a
    deterministic pick (the usual source-rank contract).
    """
    aggs = [
        F.expr(
            f"max_by({f}, case when {f} is not null then {priority_col} "
            "else -1 end)"
        ).alias(f)
        for f in fields
    ]
    aggs.append(F.count(F.lit(1)).alias("n_sources"))
    return records.groupBy(entity_col).agg(*aggs)


def symspell_pairs(
    words: DataFrame, word_col: str = "w", max_len: int = 64
) -> DataFrame:
    """All distinct word pairs within Levenshtein distance 1, WITHOUT
    the all-pairs cross join — the SymSpell deletion-neighborhood trick
    (Garbe 2012): every word emits itself plus its single-character
    deletions; any two words within edit distance 1 (insert, delete, or
    substitute) provably share at least one variant, so candidates come
    from an equi-join on the variant key and a cheap exact
    ``levenshtein <= 1`` filter kills the false positives (e.g.
    transpositions, which share a variant but are distance 2).

    Scale: fanout is |word|+1 variants per word (bounded by
    ``max_len``), the join is hash-partitioned on the variant string,
    and the verify step runs only on candidates — the same
    generate/bucket/verify shape as MinHash-LSH, here with a
    completeness PROOF instead of a probability.

    Returns ``(w1, w2, dist)`` with ``w1 < w2``.
    """
    w = words.select(F.col(word_col).alias("w")).distinct().filter(
        F.length("w") <= max_len
    )
    variants = w.select(
        "w",
        F.explode(
            F.expr(
                "array_union(array(w), transform(sequence(0, length(w) - 1), "
                "i -> concat(left(w, i), substring(w, i + 2))))"
            )
        ).alias("v"),
    )
    # In-bucket pair expansion instead of a two-sided self-join on the
    # variant key: the self-join evaluated the whole variant subtree
    # (distinct + explode over |word|+1 variants/word) TWICE — Spark's
    # ReuseExchange does not fire across the alias-renamed sides — and
    # paid two shuffles. Grouping by variant and expanding sorted pairs
    # per bucket computes the variants ONCE and costs one variant-keyed
    # shuffle (the same idiom as similarity_join / _expand_bucket_pairs).
    # Identical candidates: the set of w1 < w2 pairs sharing a variant.
    agged = variants.groupBy("v").agg(F.collect_list("w").alias("ws"))
    pair_expr = (
        "if(size(ws2) >= 2, "
        "flatten(transform(sequence(1, size(ws2) - 1), i -> "
        "transform(sequence(0, i - 1), j -> "
        "struct(ws2[j] AS w1, ws2[i] AS w2)))), "
        "array())"
    )
    cand = (
        agged.withColumn("ws2", F.array_sort("ws"))
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .distinct()
    )
    return cand.select(
        "w1", "w2", F.levenshtein("w1", "w2").cast("long").alias("dist")
    ).filter(F.col("dist") <= 1)
