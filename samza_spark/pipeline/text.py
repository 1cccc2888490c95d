"""Text analysis operators over document tables.

All hot paths are pure ``pyspark.sql.functions`` expressions (JVM-side,
whole-stage codegen); nothing here drops to Python. Every operator is a
DataFrame->DataFrame function usable in both batch and streaming plans.

Determinism: expressions are chosen so a DuckDB oracle can reproduce them
bit-for-bit (md5, regexp counts, integer arithmetic) — see
``__spark_entry__.oracle_sql``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Tiny per-language stopword marker sets for the n-gram/stopword heuristic
# language-ID. Chosen to be high-frequency and disjoint-ish across languages.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " to ", " in "],
    "de": [" der ", " und ", " die ", " nicht ", " das "],
    "fr": [" le ", " la ", " les ", " des ", " est "],
    "es": [" el ", " los ", " las ", " una ", " que "],
}


def token_count(text: Column) -> Column:
    """Whitespace token count (a BPE-ish regex split is `tokenize_bpe`).

    Strips ALL whitespace at the ends (``trim`` only removes spaces, so a
    trailing tab/newline would otherwise produce a phantom empty token) —
    matches Python ``str.split()`` semantics."""
    t = F.regexp_replace(text, r"^\s+|\s+$", "")
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("long")


def tokenize_bpe_like(text: Column) -> Column:
    """BPE-ish pre-tokenization: split into word / number / punctuation
    runs (the GPT-2 pre-tokenizer shape, public knowledge)."""
    return F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"), 0)


def normalized(text: Column) -> Column:
    """Canonical form for fingerprints: lowercase, collapsed whitespace."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 of the normalized text. (A rolling-hash
    variant is `rolling_fingerprint`; md5 is the cross-engine-checkable
    default.)"""
    return F.md5(normalized(text))


def rolling_fingerprint(text_col: str, window: int = 8, family: str = "md5") -> Column:
    """Rolling hash fingerprint: XOR-fold of a per-shingle hash over all
    ``window``-character shingles of the normalized text — a 60/64-bit
    content signature stable under whitespace/case changes. Pure Catalyst
    (aggregate over substring shingles), no Python. Takes the column *name*
    so the normalized expression can be inlined into generated SQL.

    ``family='md5'`` (default) derives each shingle hash from the first 15
    hex chars of md5 — 60 bits, cross-engine checkable (DuckDB spells it
    ``('0x' || substr(md5(s), 1, 15))::BIGINT``). ``family='xxhash64'`` is
    the faster engine-specific variant (no SQL oracle)."""
    norm = f"trim(regexp_replace(lower({text_col}), '\\\\s+', ' '))"
    if family == "md5":
        h = f"cast(conv(substr(md5(substring({norm}, i, {window})), 1, 15), 16, 10) as bigint)"
    elif family == "xxhash64":
        h = f"xxhash64(substring({norm}, i, {window}))"
    else:
        raise ValueError(f"unknown hash family {family!r}")
    return F.expr(
        f"aggregate(transform(sequence(1, greatest(length({norm}) - {window - 1}, 1)), "
        f"i -> {h}), cast(0 as bigint), (acc, h) -> acc ^ h)"
    )


def repetition_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """C4/Gopher-style repetition and shape heuristics (public-knowledge
    quality rules), all integer-count-derived so an oracle replays them:

    * ``dup_line_frac`` — 1 - distinct/total non-empty lines (a page of
      repeated boilerplate lines scores high);
    * ``mean_word_len`` — letters-per-token of the normalized text
      (gibberish and code skew far from prose's ~4-6);
    * ``symbol_ratio`` — #/%/&/$/@/* chars per character;
    * ``ellipsis_line_frac`` — lines ending in '...' over lines.

    Pure Catalyst; one projection, no shuffle."""
    t = F.col(text_col)
    lines = F.expr(f"filter(split({text_col}, '\\n'), x -> length(trim(x)) > 0)")
    norm = normalized(t)
    n_tok = token_count(t)
    n_lines = F.size(lines)
    return df.select(
        "*",
        F.when(n_lines > 0, 1.0 - F.size(F.array_distinct(lines)) / n_lines)
        .otherwise(F.lit(0.0))
        .alias("dup_line_frac"),
        F.when(
            n_tok > 0,
            (F.length(F.regexp_replace(norm, " ", "")) / n_tok),
        )
        .otherwise(F.lit(0.0))
        .alias("mean_word_len"),
        F.when(
            F.length(t) > 0,
            (F.length(t) - F.length(F.regexp_replace(t, r"[#%&$@*]", ""))) / F.length(t),
        )
        .otherwise(F.lit(0.0))
        .alias("symbol_ratio"),
        F.when(
            n_lines > 0,
            F.size(F.expr(f"filter(split({text_col}, '\\n'), x -> endswith(trim(x), '...'))"))
            / n_lines,
        )
        .otherwise(F.lit(0.0))
        .alias("ellipsis_line_frac"),
    )


# PII redaction patterns — chosen to parse identically under Java regex
# (Spark) and RE2 (DuckDB): no backreferences, no lookaround.
PII_PATTERNS: dict[str, str] = {
    # local@domain.tld
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # http(s)://host/path
    "URL": r"https?://[A-Za-z0-9./_%?=&#-]+",
    # phone-ish: optional +country, 3-4 digit groups separated by -/. /space
    "PHONE": r"\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{3,4}([-. ][0-9]{3,4})?",
    # 16-digit card-ish runs in groups of 4
    "CARD": r"[0-9]{4}[- ][0-9]{4}[- ][0-9]{4}[- ][0-9]{4}",
}


def redact_pii(text: Column, kinds: "list[str] | None" = None) -> Column:
    """Replace PII-shaped spans with ``<KIND>`` placeholders — the standard
    scrub stage of a training-data pipeline. Pure ``regexp_replace`` chain
    (JVM-side, streaming-safe); patterns are restricted to the common
    Java-regex/RE2 subset so a DuckDB oracle replays them exactly.
    Order matters (URL before EMAIL would still be safe, but CARD before
    PHONE keeps 4x4 digit groups from being half-eaten) — kinds apply in
    the order given, default EMAIL, URL, CARD, PHONE."""
    out = text
    for kind in kinds or ["EMAIL", "URL", "CARD", "PHONE"]:
        out = F.regexp_replace(out, PII_PATTERNS[kind], f"<{kind}>")
    return out


def quality_score(text: Column) -> Column:
    """Heuristic quality score in [0, 1]: penalises very short docs, low
    alphabetic ratio, and high punctuation density (public C4/Gopher-style
    filters, arithmetic kept integer/deterministic)."""
    length = F.length(text)
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    punct = F.length(F.regexp_replace(text, r"[^.!?,;:]", ""))
    words = token_count(text)
    alpha_ratio = alpha / F.greatest(length, F.lit(1))
    punct_ratio = punct / F.greatest(length, F.lit(1))
    len_component = F.least(words / F.lit(100.0), F.lit(1.0))
    score = (
        F.lit(0.4) * alpha_ratio
        + F.lit(0.4) * len_component
        + F.lit(0.2) * (F.lit(1.0) - F.least(punct_ratio * 10, F.lit(1.0)))
    )
    return F.round(score, 4)


def quality_micro(text_col: str = "text") -> Column:
    """:func:`quality_score` in exact integer micro-units ([0, 1e6] BIGINT):
    every term is true integer division (``div``) of integer counts, so
    cross-engine comparisons are bit-identical — use this (never
    ``round()`` of the double score) whenever the value feeds a compared
    aggregate or a deterministic ordering. Takes the column NAME (the
    expression inlines it into one codegen'd SQL expr)."""
    t = text_col
    stripped = f"regexp_replace({t}, '^\\\\s+|\\\\s+$', '')"
    words = (
        f"(CASE WHEN {stripped} = '' THEN 0 "
        f"ELSE size(split({stripped}, '\\\\s+')) END)"
    )
    return F.expr(
        f"(400000L * length(regexp_replace({t}, '[^A-Za-z]', ''))) "
        f"div greatest(length({t}), 1) "
        f"+ least(4000L * {words}, 400000L) "
        f"+ (200000L - least((2000000L * length(regexp_replace({t}, '[^.!?,;:]', ''))) "
        f"div greatest(length({t}), 1), 200000L))"
    )


def lang_id(text: Column) -> Column:
    """Stopword-marker language ID: count marker hits per language on the
    lowercased text, pick the argmax (ties -> lexicographic language order,
    no hits -> 'und'). Deterministic and SQL-expressible.

    Each marker count and the lowercasing are evaluated once per row: the
    padded lowercase text is bound once (the lambda of a one-element
    ``transform``), the per-language hit counts are built once as an array
    of (lang, hits) structs, and one ``aggregate`` folds that array to the
    argmax. Languages are folded in sorted order with a strict ``>``, so
    the first of tied languages wins, and the ('und', 0) seed survives a
    document with no hits (or a NULL text, whose counts are NULL)."""

    def argmax(lowered: Column) -> Column:
        hits = F.array(
            *[
                F.struct(
                    F.lit(lang).alias("lang"),
                    sum(
                        (F.size(F.split(lowered, marker, -1)) - 1 for marker in markers),
                        start=F.lit(0),
                    ).alias("hits"),
                )
                for lang, markers in sorted(LANG_MARKERS.items())
            ]
        )
        return F.aggregate(
            hits,
            F.struct(F.lit("und").alias("lang"), F.lit(0).alias("hits")),
            lambda best, x: F.when(x["hits"] > best["hits"], x).otherwise(best),
        )["lang"]

    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    return F.transform(F.array(padded), argmax)[0]


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """All per-document text metrics in one projection (single scan)."""
    t = F.col(text_col)
    return df.withColumns(
        {
            "n_tokens": token_count(t),
            "quality": quality_score(t),
            "lang_pred": lang_id(t),
            "fp": fingerprint(t),
        }
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    persist_tokens: bool = False,
) -> DataFrame:
    """Corpus-trained unigram language-model score per document — the
    cheap stand-in for perplexity-based quality filtering (the KenLM
    stage of public pipelines like CCNet, with the n-gram order dropped
    to 1 so the model is exactly computable in SQL): every token's
    probability is its corpus frequency, and a document scores the sum /
    mean of ln p(token).

    Returns (id, n_tokens, logprob_sum, avg_logprob); avg is NULL for
    empty documents. Unseen tokens cannot occur (the model is trained on
    the same corpus).

    Determinism: the per-document sum folds ln-values in token order
    (array fold, not a shuffle-order SUM), so a DuckDB oracle reproduces
    the doubles bit-for-bit.

    Scale: one explode (map-only), one vocab-count shuffle, one join on
    the token key (AQE broadcasts when the vocab is small), one doc-keyed
    regroup. No Python.
    """
    toks = F.split(normalized(F.col(text_col)), " ")
    base = df.select(id_col, toks.alias("__toks"))
    exploded = base.select(
        id_col, F.posexplode("__toks").alias("pos", "token")
    ).where(F.col("token") != "")
    if persist_tokens:
        # the token table feeds BOTH the vocab count and the scoring join.
        # Opt-in only: for THIS corpus shape recomputing the map-only
        # explode per branch measured FASTER than caching it (PERF.md) —
        # persist pays off only when normalization dominates (very long
        # documents, heavy regex). Callers must unpersist via the
        # ``_token_cache`` attribute once downstream materializes.
        from pyspark import StorageLevel

        exploded = exploded.persist(StorageLevel.MEMORY_AND_DISK)
    vocab = exploded.groupBy("token").agg(F.count(F.lit(1)).alias("__cnt"))
    totals = vocab.agg(F.sum("__cnt").alias("__total"))
    scored = (
        exploded.join(vocab, on="token")
        .join(F.broadcast(totals))
        .select(
            id_col,
            "pos",
            F.log(
                F.col("__cnt").cast("double") / F.col("__total").cast("double")
            ).alias("logp"),
        )
    )
    per_doc = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "logp"))),
                lambda s: s["logp"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("logprob_sum"),
    )
    out = (
        df.select(id_col)
        .join(per_doc, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("logprob_sum", F.lit(0.0)).alias("logprob_sum"),
            F.when(
                F.col("n_tokens") > 0,
                F.col("logprob_sum") / F.col("n_tokens").cast("double"),
            ).alias("avg_logprob"),
        )
    )
    if persist_tokens:
        # handle for the caller to unpersist once downstream materializes
        out._token_cache = exploded
    return out


def perplexity_buckets(
    df: DataFrame,
    n_buckets: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style perplexity bucketing (public technique: Wenzek et al.
    2020 split a corpus into head/middle/tail thirds by LM perplexity;
    the LM here is the corpus unigram model of :func:`unigram_logprob`,
    the exactly-SQL-computable stand-in for KenLM).

    Every non-empty document gets ``score_micro`` (avg ln-prob in
    fixed-point micro-nats — higher = more "natural" text), a global
    ``rank`` (1 = lowest score, i.e. most surprising), and
    ``bucket`` in 1..n_buckets via the integer formula
    ``1 + (rank-1)*n_buckets div n`` — bucket 1 is the worst-scoring
    (tail) slice, bucket n_buckets the best (head).

    Scale: the LM pass is one vocab shuffle + one doc regroup
    (:func:`unigram_logprob`); the global rank uses the range-exchange
    distributed ranking of ``operators.rank`` — NO single-partition
    window anywhere. The bucket arithmetic is pure integers, so a DuckDB
    oracle replays every assignment (the plain ``row_number()`` window
    is rank-identical to the distributed form for any total order).
    """
    from samza_spark.operators.rank import global_rank

    # persist_tokens measured SLOWER here (4.9s vs 2.9s at sf0.1): the
    # token explode is a map-only projection, cheaper to recompute per
    # branch than to materialize — see PERF.md round-5 third session
    lm = unigram_logprob(df, text_col=text_col, id_col=id_col)
    scored = (
        lm
        .filter(F.col("n_tokens") > 0)
        .select(
            id_col,
            "n_tokens",
            F.floor(F.col("avg_logprob") * 1_000_000).cast("long").alias(
                "score_micro"
            ),
        )
    )
    ranked = global_rank(
        scored, [F.col("score_micro").asc(), F.col(id_col).asc()], rank_col="rank"
    )
    # global_rank localCheckpoints the ranged rows eagerly, so the LM
    # subtree has fully evaluated by the time it returns — drop the token
    # cache (stashed on the scored lineage by unigram_logprob) so the
    # corpus-sized intermediate can't leak past this call
    n = ranked.count()
    cache = getattr(lm, "_token_cache", None)
    if cache is not None:
        cache.unpersist()
    return ranked.withColumn(
        "bucket",
        F.expr(
            f"cast(1 + ((rank - 1) * {int(n_buckets)}) div {max(int(n), 1)} as int)"
        ),
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Split each document into overlapping token-window chunks for
    training-sequence preparation: (id, chunk_idx, chunk_text, n_tokens).

    Chunk i covers whitespace tokens [i*stride, i*stride + chunk_size);
    a document of T tokens yields 1 chunk if T <= chunk_size, else
    1 + ceil((T - chunk_size) / stride), so every token is covered and
    consecutive chunks overlap by chunk_size - stride tokens (the standard
    sliding-window tokenizer shape, e.g. HuggingFace
    ``return_overflowing_tokens`` with ``stride``).

    Map-only at any scale: one explode of a per-row sequence, no shuffle,
    no Python. Empty/whitespace documents yield one empty chunk.
    """
    if stride <= 0 or chunk_size <= 0:
        raise ValueError("chunk_size and stride must be positive")
    stripped = F.regexp_replace(F.col(text_col), r"^\s+|\s+$", "")
    toks = F.when(stripped == "", F.array().cast("array<string>")).otherwise(
        F.split(stripped, r"\s+")
    )
    n_tok = F.size(toks)
    extra = F.greatest(n_tok - F.lit(chunk_size), F.lit(0))
    n_chunks = F.lit(1) + F.ceil(extra / F.lit(float(stride))).cast("int")
    chunk_toks = F.slice(
        F.col("__toks"), F.col("chunk_idx") * stride + 1, chunk_size
    )
    return (
        df.select(
            id_col,
            toks.alias("__toks"),
            F.explode(F.sequence(F.lit(0), n_chunks - F.lit(1))).alias(
                "chunk_idx"
            ),
        )
        .select(
            id_col,
            "chunk_idx",
            F.array_join(chunk_toks, " ").alias("chunk_text"),
            F.size(chunk_toks).cast("int").alias("n_tokens"),
        )
    )


def ngram_diversity(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Per-group n-gram diversity — the type/token ratio over word
    n-grams that corpus-quality audits track (a collapsing ratio flags
    templated or machine-generated slices; cf. the distinct-n-grams
    diversity metrics of public text-generation evaluation).

    Returns (group, n_ngrams, n_distinct, diversity_micro) where
    ``diversity_micro = n_distinct * 1_000_000 div n_ngrams`` — integer
    arithmetic, bit-reproducible.

    Scale: one map-only explode of per-row n-gram arrays, one
    (group, gram) distinct-aggregate shuffle with map-side partials. No
    Python, no driver state.
    """
    toks = F.filter(
        F.split(normalized(F.col(text_col)), " "), lambda x: x != ""
    )
    # sequence(1, 0) DESCENDS in Spark — guard short docs explicitly
    grams = F.expr(
        f"case when size(__t) >= {int(n)} then "
        f"transform(sequence(1, size(__t) - {int(n) - 1}), "
        f"i -> array_join(slice(__t, i, {int(n)}), ' ')) "
        f"else array() end"
    )
    g = (
        df.select(F.col(group_col).alias("grp"), toks.alias("__t"))
        .select("grp", F.explode(grams).alias("gram"))
    )
    return (
        g.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.countDistinct("gram").alias("n_distinct"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_ngrams",
            "n_distinct",
            F.expr("cast(n_distinct * 1000000 div n_ngrams as bigint)").alias(
                "diversity_micro"
            ),
        )
    )


def nb_lang_classifier(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained AND applied
    in one relational DAG (the public fastText/langid.py shape with the
    model reduced to add-one-smoothed unigram likelihoods so every double
    is SQL-replayable). Training data is the corpus itself with
    ``label_col`` as the supervision — the distributed analog of fitting
    the classifier on a labeled sample, then scoring the full corpus.

    Model: ``ln p(lang) = ln(docs_lang / docs_total)``;
    ``ln p(token|lang) = ln((cnt(lang,token)+1) / (tokens_lang + V))``
    (Laplace smoothing over the global vocab V). A document scores
    ``prior + sum_pos ln p(token|lang)`` per language, folded in token
    order; prediction is the (score DESC, lang ASC) argmax.

    Returns (id, label, pred, score, correct) — one row per document.

    Scale: one explode, one (lang, token) count shuffle, one token-keyed
    join (langs are a broadcast cross), one doc-keyed regroup. Compute is
    tokens x n_langs — n_langs is small and constant, so this is the same
    O(corpus) shape as ``unigram_logprob``. No Python in the plan.
    """
    toks = F.split(normalized(F.coalesce(F.col(text_col), F.lit(""))), " ")
    base = df.select(
        F.col(id_col).alias("__id"), F.col(label_col).alias("__lbl"), toks.alias("__toks")
    )
    exploded = base.select(
        "__id", "__lbl", F.posexplode("__toks").alias("pos", "token")
    ).where(F.col("token") != "")
    counts = exploded.groupBy("__lbl", "token").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    lang_tot = counts.groupBy("__lbl").agg(F.sum("__cnt").alias("__ltot"))
    vocab_n = counts.select("token").distinct().agg(
        F.count(F.lit(1)).alias("__v")
    )
    doc_tot = base.agg(F.count(F.lit(1)).alias("__docs"))
    priors = (
        base.groupBy("__lbl")
        .agg(F.count(F.lit(1)).alias("__dl"))
        .join(F.broadcast(doc_tot))
        .select(
            F.col("__lbl").alias("lang"),
            F.log(F.col("__dl").cast("double") / F.col("__docs").cast("double")).alias(
                "__prior"
            ),
        )
    )
    # per (doc, pos, candidate-lang) smoothed log-likelihood
    model = (
        lang_tot.join(F.broadcast(vocab_n))
        .select(F.col("__lbl").alias("lang"), "__ltot", "__v")
    )
    tok_lang = (
        exploded.select("__id", "pos", "token")
        .join(F.broadcast(model))
        .join(
            counts.select(F.col("__lbl").alias("lang"), "token", "__cnt"),
            on=["lang", "token"],
            how="left",
        )
        .select(
            "__id",
            "lang",
            "pos",
            F.log(
                (F.coalesce(F.col("__cnt"), F.lit(0)) + F.lit(1)).cast("double")
                / (F.col("__ltot") + F.col("__v")).cast("double")
            ).alias("logp"),
        )
    )
    folded = tok_lang.groupBy("__id", "lang").agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "logp"))),
                lambda s: s["logp"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("__ll")
    )
    scored = (
        base.select("__id", "__lbl")
        .join(priors)  # cross: every doc scores every language
        .join(folded, on=["__id", "lang"], how="left")
        .select(
            "__id",
            "__lbl",
            "lang",
            (F.col("__prior") + F.coalesce(F.col("__ll"), F.lit(0.0))).alias("score"),
        )
    )
    best = F.expr(
        "element_at(array_sort(collect_list(struct(-score as ns, lang, score))), 1)"
    )
    return (
        scored.groupBy("__id", "__lbl")
        .agg(best.alias("__b"))
        .select(
            F.col("__id").alias(id_col),
            F.col("__lbl").alias(label_col),
            F.col("__b.lang").alias("pred"),
            F.col("__b.score").alias("score"),
            (F.col("__b.lang") == F.col("__lbl")).alias("correct"),
        )
    )


def bigram_logprob(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-trained bigram language-model score per document — the
    order-2 step from :func:`unigram_logprob` toward the KenLM-style
    perplexity filtering of public pipelines (CCNet). The first token
    scores its unigram probability; each later token scores
    ``ln(count(prev, cur) / count(prev as bigram context))``. Trained on
    the scored corpus itself, so unseen n-grams cannot occur.

    Scores are **fixed-point micro-nats**: each per-token ln is floored
    to an integer number of 1e-6 nats before summing. JVM ``Math.log``
    and C ``ln`` may disagree in the last ulp for identical arguments, so
    a cross-engine oracle cannot compare raw double sums; integer
    micro-nat sums are exact, shuffle-order-free (no ordered fold
    needed — plain map-side-partial SUM), and 1e-6 nats is far below any
    filtering threshold anyone sets on an LM score.

    Returns ``(id, n_tokens, logprob_micro, avg_logprob)`` —
    ``logprob_micro`` the exact BIGINT micro-nat sum, ``avg_logprob``
    the derived double (one division from identical integers).

    Scale: bigrams are built from the token array map-side (no self-join
    on position), then one (prev, cur) count shuffle, one context-count
    shuffle over the already-aggregated bigram table, one join keyed by
    the bigram, one doc-keyed integer-sum regroup. Same O(corpus tokens)
    shape as the unigram model, with cheaper (unordered) aggregation.
    """
    toks = F.filter(
        F.split(normalized(F.coalesce(F.col(text_col), F.lit(""))), " "),
        lambda x: x != "",
    )
    base = df.select(F.col(id_col).alias("__id"), toks.alias("__toks"))
    # (id, pos, prev, cur) rows straight off the array — map-only
    bi = base.select(
        "__id",
        F.explode(
            # guard: Spark sequence(1, 0) DESCENDS — gate on size
            F.expr(
                "transform("
                "if(size(__toks) >= 2, sequence(1, size(__toks) - 1), array()), "
                "i -> struct(i AS pos, __toks[i - 1] AS prev, __toks[i] AS cur))"
            )
        ).alias("g"),
    ).select("__id", "g.pos", "g.prev", "g.cur")
    bi_counts = bi.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("__bc"))
    ctx_counts = bi_counts.groupBy("prev").agg(F.sum("__bc").alias("__pc"))
    uni = base.select(F.explode("__toks").alias("token")).groupBy("token").agg(
        F.count(F.lit(1)).alias("__uc")
    )
    uni_total = uni.agg(F.sum("__uc").alias("__utot"))

    def micro(p_num, p_den):
        return F.floor(
            F.log(p_num.cast("double") / p_den.cast("double")) * F.lit(1000000.0)
        ).cast("long")

    first = (
        base.filter(F.size("__toks") > 0)
        .select("__id", F.expr("__toks[0]").alias("token"))
        .join(uni, on="token")
        .join(F.broadcast(uni_total))
        .select("__id", micro(F.col("__uc"), F.col("__utot")).alias("__m0"))
    )
    rest = (
        bi.join(bi_counts, on=["prev", "cur"])
        .join(ctx_counts, on="prev")
        .select("__id", micro(F.col("__bc"), F.col("__pc")).alias("__m"))
        .groupBy("__id")
        .agg(F.sum("__m").alias("__mr"))
    )
    total = (
        F.coalesce("__m0", F.lit(0)).cast("long")
        + F.coalesce("__mr", F.lit(0)).cast("long")
    )
    return (
        base.select("__id", F.size("__toks").cast("long").alias("n_tokens"))
        .join(first, on="__id", how="left")
        .join(rest, on="__id", how="left")
        .select(
            F.col("__id").alias(id_col),
            "n_tokens",
            total.alias("logprob_micro"),
            F.when(
                F.col("n_tokens") > 0,
                total.cast("double")
                / F.lit(1000000.0)
                / F.col("n_tokens").cast("double"),
            ).alias("avg_logprob"),
        )
    )


def dsir_importance(
    df: DataFrame,
    is_target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    smoothing: int = 1,
    hash_buckets: "int | None" = None,
) -> DataFrame:
    """Importance weights for Data Selection via Importance Resampling
    (DSIR — Xie et al. 2023, a public data-selection method: estimate a
    target-domain and a raw n-gram distribution, weight every raw
    example by p_target(x)/p_raw(x), then resample by weight). Rows
    where ``is_target`` is true define the target distribution; every
    other (raw) document gets a log importance weight

        sum over tokens of  ln p_t(tok) - ln p_r(tok)

    with Laplace add-``smoothing`` estimates over the shared (union)
    vocabulary, so both distributions are defined on every observed
    token. High-weight raw documents "look like" the target domain —
    compose the output with :func:`~samza_spark.operators.rank.
    global_rank` or a weight threshold for the selection step.

    ``hash_buckets`` switches tokens to DSIR's hashed features
    (md5-bucket of the token, cross-engine reproducible): fixes the
    feature-table size regardless of vocabulary — the knob that keeps
    the broadcast bounded at 100 TB. ``None`` uses raw unigrams.

    Scores are fixed-point micro-nats exactly like
    :func:`bigram_logprob`: each ln floored to 1e-6 nats before the
    integer sum — cross-engine exact and shuffle-order-free.

    Returns one row per raw document:
    ``(id, n_tokens, logweight_micro, avg_logweight)``.

    Scale: ONE token-explode groupBy builds both distributions in the
    same pass (vocab- or bucket-sized output); the per-feature log-ratio
    table is broadcastable; scoring is a map-side join plus one
    doc-keyed integer sum. O(corpus tokens), no per-document state.
    """
    toks = F.filter(
        F.split(normalized(F.coalesce(F.col(text_col), F.lit(""))), " "),
        lambda x: x != "",
    )
    base = df.select(
        F.col(id_col).alias("__id"), is_target.alias("__t"), toks.alias("__toks")
    )
    feature = (
        F.expr(
            f"cast(conv(substr(md5(token), 1, 8), 16, 10) as bigint) "
            f"% {int(hash_buckets)}"
        )
        if hash_buckets
        else F.col("token")
    )
    tok_rows = base.select(
        "__id", "__t", F.explode("__toks").alias("token")
    ).select("__id", "__t", feature.alias("__f"))
    vocab = tok_rows.groupBy("__f").agg(
        F.sum(F.when(F.col("__t"), F.lit(1)).otherwise(F.lit(0)))
        .cast("long")
        .alias("__tc"),
        F.sum(F.when(F.col("__t"), F.lit(0)).otherwise(F.lit(1)))
        .cast("long")
        .alias("__rc"),
    )
    totals = vocab.agg(
        F.sum("__tc").alias("__tt"),
        F.sum("__rc").alias("__rt"),
        F.count(F.lit(1)).alias("__v"),
    )
    s = int(smoothing)

    def micro(num, den):
        return F.floor(
            F.log(num.cast("double") / den.cast("double")) * F.lit(1000000.0)
        ).cast("long")

    ratios = vocab.join(F.broadcast(totals)).select(
        "__f",
        (
            micro(F.col("__tc") + F.lit(s), F.col("__tt") + F.lit(s) * F.col("__v"))
            - micro(F.col("__rc") + F.lit(s), F.col("__rt") + F.lit(s) * F.col("__v"))
        ).alias("__d"),
    )
    scored = (
        tok_rows.filter(~F.col("__t"))
        .join(ratios, on="__f")
        .groupBy("__id")
        .agg(F.sum("__d").alias("__w"))
    )
    total = F.coalesce("__w", F.lit(0)).cast("long")
    return (
        base.filter(~F.col("__t"))
        .select("__id", F.size("__toks").cast("long").alias("n_tokens"))
        .join(scored, on="__id", how="left")
        .select(
            F.col("__id").alias(id_col),
            "n_tokens",
            total.alias("logweight_micro"),
            F.when(
                F.col("n_tokens") > 0,
                total.cast("double")
                / F.lit(1000000.0)
                / F.col("n_tokens").cast("double"),
            ).alias("avg_logweight"),
        )
    )



def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Collocation mining: rank adjacent word pairs by pointwise mutual
    information over the corpus co-occurrence table — the classic
    phrase-detection pass (word2vec's phrase pass, Gensim Phrases) that
    finds "new york"-style units whose joint frequency beats chance.

    PMI = ln( c_ab * N / (c_a* * c_*b) ) with marginals taken from the
    bigram table itself. ln is monotone, so ranking by the RATIO equals
    ranking by PMI — and the ratio is emitted as exact integer ppm,
    ``(c_ab * N * 1e6) div (c_a* * c_*b)``, computed in DECIMAL(38,0)
    (the product is bounded by N² * 1e6, inside 38 digits up to
    N ≈ 1e15 bigrams; DuckDB mirrors it in HUGEINT). No float anywhere,
    so top-k order and values hash identically cross-engine.

    Plan: bigrams come straight off each document's token array
    (map-side transform — no position self-join), ONE corpus-scale
    shuffle aggregates (prev, cur) counts; both marginals reduce the
    already-aggregated bigram table (vocab-sized); the ppm join keys on
    single tokens against vocab-sized marginal tables, and the final
    top-k is TakeOrderedAndProject. Holds at any corpus size.
    """
    toks = F.filter(
        F.split(normalized(F.coalesce(F.col(text_col), F.lit(""))), " "),
        lambda x: x != "",
    )
    bi = df.select(toks.alias("__toks")).select(
        F.explode(
            F.expr(
                "transform("
                "if(size(__toks) >= 2, sequence(1, size(__toks) - 1), array()), "
                "i -> struct(__toks[i - 1] AS prev, __toks[i] AS cur))"
            )
        ).alias("g")
    ).select("g.prev", "g.cur")
    bi_counts = bi.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c_ab"))
    prev_marg = bi_counts.groupBy("prev").agg(F.sum("c_ab").alias("c_a"))
    cur_marg = bi_counts.groupBy("cur").agg(F.sum("c_ab").alias("c_b"))
    total = bi_counts.agg(F.sum("c_ab").alias("__n"))
    scored = (
        bi_counts.filter(F.col("c_ab") >= F.lit(int(min_count)))
        .join(prev_marg, on="prev")
        .join(cur_marg, on="cur")
        .join(F.broadcast(total))
        .select(
            "prev",
            "cur",
            "c_ab",
            "c_a",
            "c_b",
            F.expr(
                "CAST((CAST(c_ab AS DECIMAL(38,0)) * __n * 1000000) "
                "div (CAST(c_a AS DECIMAL(38,0)) * c_b) AS BIGINT)"
            ).alias("pmi_ppm"),
        )
    )
    return scored.orderBy(
        F.desc("pmi_ppm"), F.asc("prev"), F.asc("cur")
    ).limit(int(top_k))


def pii_report(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-source PII exposure report: for each group, how many documents
    contain each PII pattern family (:data:`PII_PATTERNS` — the same
    regexes :func:`redact_pii` scrubs with, so the report predicts
    exactly what redaction will touch) plus exact-ppm document rates.
    The governance dashboard run BEFORE deciding a source needs
    scrubbing or exclusion.

    One scan, one combinable groupBy: each pattern is a map-side
    ``rlike`` flag summed per group. Patterns stay in the common
    Java-regex/RE2 subset so a DuckDB oracle replays them byte-for-byte.
    """
    flags = [
        F.sum(F.col(text_col).rlike(pat).cast("long")).alias(f"n_{kind.lower()}")
        for kind, pat in PII_PATTERNS.items()
    ]
    agged = df.groupBy(F.col(group_col)).agg(
        F.count(F.lit(1)).alias("n_docs"), *flags
    )
    rates = [
        F.expr(f"(n_{k.lower()} * 1000000) div n_docs").alias(
            f"{k.lower()}_ppm"
        )
        for k in PII_PATTERNS
    ]
    return agged.select(
        group_col,
        "n_docs",
        *[F.col(f"n_{k.lower()}") for k in PII_PATTERNS],
        *rates,
    )


def doc_structure(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Per-source document-structure profile: line, markdown-header,
    bullet, and code-fence counts plus the ppm of documents containing
    any code fence — the prose-vs-code-vs-listicle router every
    curation pipeline runs before choosing filters (code wants different
    quality rules than prose).

    Map-side line splitting with JVM array filters (no Python), one
    combinable groupBy. Line predicates use ``ltrim`` so indented
    markdown still counts.
    """
    lines = F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
    n_lines = F.size(lines)
    headers = F.size(F.filter(lines, lambda x: F.ltrim(x).startswith("#")))
    bullets = F.size(
        F.filter(
            lines,
            lambda x: F.ltrim(x).startswith("- ") | F.ltrim(x).startswith("* "),
        )
    )
    fences = F.size(F.filter(lines, lambda x: F.ltrim(x).startswith("```")))
    per_doc = df.select(
        F.col(group_col),
        n_lines.alias("__l"),
        headers.alias("__h"),
        bullets.alias("__b"),
        fences.alias("__f"),
    )
    return (
        per_doc.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__l").cast("long").alias("n_lines"),
            F.sum("__h").cast("long").alias("n_headers"),
            F.sum("__b").cast("long").alias("n_bullets"),
            F.sum("__f").cast("long").alias("n_fences"),
            F.sum((F.col("__f") > 0).cast("long")).alias("docs_with_code"),
        )
        .select(
            group_col,
            "n_docs",
            "n_lines",
            "n_headers",
            "n_bullets",
            "n_fences",
            "docs_with_code",
            F.expr("(docs_with_code * 1000000) div n_docs").alias("code_ppm"),
        )
    )


def concordance(
    df: DataFrame,
    term: str,
    context: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 100,
) -> DataFrame:
    """KWIC (keyword-in-context) concordance: every occurrence of
    ``term`` with ``context`` tokens of left/right context — the corpus
    linguist's (and the prompt-engineer's) primary exploration view, and
    the spot-check tool for blocklist/PII rule authoring ("show me how
    this word is actually used").

    Positions come from ``posexplode`` over the token array (map-side,
    no join back to text); contexts are array slices of the SAME row's
    token list, so nothing re-scans the corpus. Deterministic top_k by
    (doc, position) caps the output (TakeOrderedAndProject).
    """
    toks = F.filter(
        F.split(normalized(F.coalesce(F.col(text_col), F.lit(""))), " "),
        lambda x: x != "",
    )
    base = df.select(F.col(id_col), toks.alias("__toks"))
    hits = base.select(
        id_col,
        "__toks",
        F.posexplode("__toks").alias("pos", "tok"),
    ).filter(F.col("tok") == F.lit(term))
    c = int(context)
    return (
        hits.select(
            id_col,
            F.col("pos").cast("long").alias("pos"),
            F.array_join(
                F.expr(
                    f"slice(__toks, greatest(pos - {c} + 1, 1), "
                    f"least({c}, pos))"
                ),
                " ",
            ).alias("left_ctx"),
            F.array_join(
                F.expr(f"slice(__toks, pos + 2, {c})"), " "
            ).alias("right_ctx"),
        )
        .orderBy(F.asc(id_col), F.asc("pos"))
        .limit(int(top_k))
    )


def repetition_loops(
    df: DataFrame,
    n: int = 4,
    min_repeats: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Degenerate-loop detector — the generation-quality filter a
    synthetic-data pipeline runs before admitting model outputs: a
    document whose single most frequent word ``n``-gram occurs
    ``min_repeats``+ times is looping (the classic repetition failure
    mode); natural text almost never repeats a 4-gram verbatim that
    often.

    Output per doc: ``n_grams`` (total n-gram instances), ``max_repeat``
    (count of the most repeated n-gram), ``top_gram``, and ``looping``.

    Plan: MAP-ONLY, zero shuffle. The per-doc mode is found by sorting
    the doc's own gram array and folding a run-length max over adjacent
    equals — per-row work bounded by the doc's word count. The obvious
    explode -> groupBy(doc, gram) -> groupBy(doc) alternative shuffles
    the exploded table (≈ word-count × corpus rows) twice; at corpus
    scale that is tens of times the input volume through the wire for a
    statistic each row can compute locally. Tie-break matches
    ``max_by(gram, struct(count, gram))``: highest count, then
    lexicographically greatest gram. Short docs (< n words) emit zero
    grams and are never flagged.
    """
    words = F.split(
        F.regexp_replace(F.regexp_replace(F.lower(text_col), r"\s+", " "), r"^ | $", ""),
        " ",
    )
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # run-length fold over the sorted gram array: (prev, run, best, top)
    fold = (
        "aggregate(array_sort(__grams), "
        "struct(cast(null as string) as prev, 0L as run, 0L as best, "
        "cast(null as string) as top), "
        "(a, g) -> named_struct("
        "'prev', g, "
        "'run', IF(a.prev <=> g, a.run + 1L, 1L), "
        "'best', IF(IF(a.prev <=> g, a.run + 1L, 1L) >= a.best, "
        "IF(a.prev <=> g, a.run + 1L, 1L), a.best), "
        "'top', IF(IF(a.prev <=> g, a.run + 1L, 1L) >= a.best, g, a.top)), "
        "a -> struct(a.best, a.top))"
    )
    return (
        df.select(F.col(id_col), grams.alias("__grams"))
        .select(
            id_col,
            F.size("__grams").cast("long").alias("n_grams"),
            F.expr(fold).alias("__m"),
        )
        .select(
            id_col,
            "n_grams",
            F.col("__m.best").alias("max_repeat"),
            F.col("__m.top").alias("top_gram"),
            (F.col("__m.best") >= min_repeats).alias("looping"),
        )
    )


def span_corruption(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mask_pct: int = 15,
) -> DataFrame:
    """T5-style span corruption (Raffel et al. 2020, public): mask a
    deterministic ~``mask_pct``% of whitespace tokens, collapse each
    consecutive masked run into one ``<extra_id_K>`` sentinel in the
    input, and emit the masked runs (sentinel-prefixed) as the target —
    the seq2seq denoising objective's data prep.

    Token selection is content-free and reproducible: token ``i`` of doc
    ``d`` is masked iff ``md5(d || ':' || i)``'s leading 32 bits mod 100
    fall under ``mask_pct`` — both engines compute the identical mask.

    Scale posture: the whole operator is ONE map-only per-row fold
    (``aggregate`` over the token array — zero Exchange, no explode, no
    window); a 100 TB corpus corrupts at scan speed with no shuffle at
    all.

    Reference parity: per-message stateless transformation
    (MessageStream.map, samza-api MessageStream.java:87-99); the fold is
    what a per-message StreamTask would do in-process.

    Returns ``(id, n_tokens, n_masked, n_spans, input_text,
    target_text)``.
    """
    toks = F.expr(
        f"CASE WHEN trim(regexp_replace(lower({text_col}), '\\\\s+', ' ')) = '' "
        f"THEN array() "
        f"ELSE split(trim(regexp_replace(lower({text_col}), '\\\\s+', ' ')), ' ') END"
    )
    d = df.select(F.col(id_col).alias("id"), toks.alias("__toks"))
    zipped = (
        f"transform(__toks, (t, i) -> struct(t AS tok, "
        f"(cast(conv(substring(md5(concat(cast(id AS string), ':', "
        f"cast(i AS string))), 1, 8), 16, 10) AS bigint) % 100) < {mask_pct} AS m))"
    )
    fold = (
        f"aggregate({zipped}, "
        "struct(false AS prev, 0 AS k, '' AS inp, '' AS tgt, 0 AS nm), "
        "(acc, s) -> struct("
        "s.m AS prev, "
        "acc.k + (CASE WHEN s.m AND NOT acc.prev THEN 1 ELSE 0 END) AS k, "
        "CASE WHEN s.m AND acc.prev THEN acc.inp "
        "WHEN s.m THEN concat(acc.inp, CASE WHEN acc.inp = '' THEN '' ELSE ' ' END, "
        "'<extra_id_', cast(acc.k AS string), '>') "
        "ELSE concat(acc.inp, CASE WHEN acc.inp = '' THEN '' ELSE ' ' END, s.tok) "
        "END AS inp, "
        "CASE WHEN s.m AND acc.prev THEN concat(acc.tgt, ' ', s.tok) "
        "WHEN s.m THEN concat(acc.tgt, CASE WHEN acc.tgt = '' THEN '' ELSE ' ' END, "
        "'<extra_id_', cast(acc.k AS string), '> ', s.tok) "
        "ELSE acc.tgt END AS tgt, "
        "acc.nm + (CASE WHEN s.m THEN 1 ELSE 0 END) AS nm), "
        "acc -> acc)"
    )
    return d.select(
        "id",
        F.expr("size(__toks)").cast("long").alias("n_tokens"),
        F.expr(fold).alias("__f"),
    ).select(
        "id",
        "n_tokens",
        F.col("__f.nm").cast("long").alias("n_masked"),
        F.col("__f.k").cast("long").alias("n_spans"),
        F.col("__f.inp").alias("input_text"),
        F.col("__f.tgt").alias("target_text"),
    )


# Mojibake digraph markers: the classic UTF-8-decoded-as-Latin-1 artifacts.
_MOJIBAKE_MARKERS = ("Ã", "â€", "Â")


def mojibake_report(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source encoding-health audit: counts of Unicode replacement
    chars (U+FFFD), stray C0 control chars (excluding tab/newline/CR),
    classic UTF-8-as-Latin-1 mojibake digraphs, NBSPs, and the non-ASCII
    character share — the corpus-ingest QA gate that catches a broken
    decode step before it poisons training data.

    All counts are exact integers from character arithmetic
    (``length - length(replace(...))`` and regexp strip-counts); ratios
    are integer ppm — bit-identical cross-engine. ONE aggregation keyed
    by ``source`` (map-side partials absorb the corpus).
    """
    t = F.col(text_col)
    repl = F.length(t) - F.length(F.regexp_replace(t, "�", ""))
    ctrl = F.length(
        F.regexp_replace(t, r"[^\x00-\x08\x0B\x0C\x0E-\x1F]", "")
    )
    moji = None
    for mk in _MOJIBAKE_MARKERS:
        hits = (F.length(t) - F.length(F.regexp_replace(t, mk, ""))) / F.lit(len(mk))
        hits = hits.cast("long")
        moji = hits if moji is None else moji + hits
    nbsp = F.length(t) - F.length(F.regexp_replace(t, " ", ""))
    non_ascii = F.length(F.regexp_replace(t, r"[\x00-\x7F]", ""))
    agg = df.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.length(t)).cast("long").alias("total_chars"),
        F.sum(repl).cast("long").alias("replacement_chars"),
        F.sum(ctrl).cast("long").alias("control_chars"),
        F.sum(moji).cast("long").alias("mojibake_hits"),
        F.sum(nbsp).cast("long").alias("nbsp_chars"),
        F.sum(non_ascii).cast("long").alias("non_ascii_chars"),
    )
    bad = (
        F.col("replacement_chars")
        + F.col("control_chars")
        + F.col("mojibake_hits")
        + F.col("nbsp_chars")
    )
    return agg.select(
        "source",
        "n_docs",
        "total_chars",
        "replacement_chars",
        "control_chars",
        "mojibake_hits",
        "nbsp_chars",
        "non_ascii_chars",
        F.expr(
            "(1000000L * (replacement_chars + control_chars + mojibake_hits"
            " + nbsp_chars)) div greatest(total_chars, 1L)"
        ).alias("bad_ppm"),
        F.expr(
            "(1000000L * non_ascii_chars) div greatest(total_chars, 1L)"
        ).alias("non_ascii_ppm"),
    )


# RAKE stopword list (kept tiny and fixed: the split pattern is part of
# the operator's contract and must spell identically in the oracle SQL).
RAKE_STOPWORDS = (
    "a an the of and or to in is are was be for on with as by at it "
    "this that from"
).split()


def rake_keyphrases(
    df: DataFrame,
    text_col: str = "text",
    max_words: int = 4,
    top_k: int = 100,
) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free word runs; a word scores degree*1000 div
    freq (degree = summed lengths of phrases containing it) and a
    phrase scores the sum of its words' scores — all integer, so the
    ranking crosses engines exactly.

    Plan: normalize + stopword-split per document (row-local regex,
    pushed-down scan), ONE explode to phrase occurrences, one explode to
    (phrase, word) for the corpus word-stat aggregate, one broadcastable
    join back (vocabulary-sized stats), and a TakeOrderedAndProject
    top-k — no single-partition window, no Python.

    Returns ``(phrase, n_occ, score)``, ties broken by phrase text.
    """
    stop_re = "\\\\b(" + "|".join(RAKE_STOPWORDS) + ")\\\\b"
    norm = f"regexp_replace(lower({text_col}), '[^a-z]+', ' ')"
    marked = f"regexp_replace({norm}, '{stop_re}', '|')"
    phrases = (
        df.select(F.expr(f"explode(split({marked}, '[|]'))").alias("raw"))
        .select(F.expr("trim(regexp_replace(raw, ' +', ' '))").alias("phrase"))
        .filter(
            (F.col("phrase") != "")
            & (F.size(F.split("phrase", " ")) <= max_words)
        )
    )
    occ = phrases.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_occ"))
    words = occ.select(
        "phrase",
        "n_occ",
        F.size(F.split("phrase", " ")).alias("plen"),
        F.explode(F.split("phrase", " ")).alias("w"),
    )
    word_stats = words.groupBy("w").agg(
        F.sum(F.col("n_occ") * F.col("plen")).alias("degree"),
        F.sum("n_occ").alias("freq"),
    )
    scored = (
        words.join(F.broadcast(word_stats), "w")
        .groupBy("phrase", "n_occ")
        .agg(F.sum(F.expr("(degree * 1000) div freq")).alias("score"))
    )
    return scored.orderBy(
        F.col("score").desc(), F.col("n_occ").desc(), F.col("phrase")
    ).limit(top_k)


def kneser_ney_stats(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 200,
) -> DataFrame:
    """Kneser-Ney bigram LM sufficient statistics (Kneser & Ney 1995;
    Chen & Goodman 1999) — the count tables a KenLM-style estimator
    needs, in exact integers with the D = 0.75 discount carried as the
    rational 3/4:

    - ``c_total``   total bigram count with the word as left context
    - ``n_right``   distinct continuations N1+(w ·)
    - ``n_left``    distinct left contexts N1+(· w)
    - ``lambda_ppm``  backoff mass (3 * n_right * 1e6) div (4 * c_total)
    - ``pcont_ppm``   continuation prob (n_left * 1e6) div |bigram types|

    Plan: ONE explode from per-document token arrays to bigram rows (an
    in-row transform over adjacent positions — no positional self-join),
    then three combinable aggregates over the bigram table; the output
    is vocabulary-sized. Top-k words by left-context volume via
    TakeOrderedAndProject.
    """
    toks = df.select(
        F.expr(
            f"split(trim(regexp_replace(lower({text_col}), '[^a-z]+', ' ')), ' ')"
        ).alias("a")
    ).filter(F.size("a") >= 2)
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(a) - 2), "
                "i -> struct(a[i] as w1, a[i + 1] as w2))"
            )
        ).alias("b")
    ).select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    bg = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    t_types = bg.agg(F.count(F.lit(1)).alias("t"))
    left = bg.groupBy("w1").agg(
        F.sum("c").alias("c_total"), F.count(F.lit(1)).alias("n_right")
    )
    right = bg.groupBy("w2").agg(F.count(F.lit(1)).alias("n_left"))
    out = (
        left.join(right, left.w1 == right.w2, "left")
        .crossJoin(F.broadcast(t_types))
        .select(
            F.col("w1").alias("word"),
            F.col("c_total").cast("long").alias("c_total"),
            F.col("n_right").cast("long").alias("n_right"),
            F.coalesce(F.col("n_left"), F.lit(0)).cast("long").alias("n_left"),
            F.expr("(3 * n_right * 1000000) div (4 * c_total)").alias(
                "lambda_ppm"
            ),
            F.expr("(coalesce(n_left, 0) * 1000000) div t").alias("pcont_ppm"),
        )
    )
    return out.orderBy(F.col("c_total").desc(), F.col("word")).limit(top_k)


# ---------------------------------------------------------------------------
# URL canonicalization (crawl-dedup keying)
# ---------------------------------------------------------------------------

# ad/analytics query params that never identify content (public
# convention: the UTM spec + the major click-id params)
TRACKING_PARAMS = (
    "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
    "gclid", "fbclid", "msclkid", "mc_cid", "mc_eid", "ref", "ref_src",
)


def url_normalize(url_col: str) -> Column:
    """Canonical URL for crawl-level dedup keying — the first dedup an
    LLM crawl pipeline runs (the same page arrives as http/HTTPS, with
    tracking params, fragments, default ports, +/- trailing slash).
    Takes the column NAME and inlines one codegen'd SQL expression
    (``parse_url`` splits the pieces; the query string is split /
    filtered / sorted / rejoined with array ops — no Python in the hot
    path). Normalizations:

    * scheme and host lowercased; a leading ``www.`` dropped
    * explicit default ports (:80/:443) and fragments dropped
      (``parse_url`` never returns the fragment)
    * tracking params (:data:`TRACKING_PARAMS`) removed, the REST of the
      query sorted by ``key=value`` so param order never splits a key
    * empty path -> ``/``; one trailing slash trimmed off non-root paths

    Deterministic string output — usable directly as a groupBy/dedup key
    (one shuffle on the canonical form, the exact-dedup shape)."""
    u = url_col
    tracked = ", ".join(f"'{p}'" for p in TRACKING_PARAMS)
    scheme = f"lower(regexp_extract({u}, '^([A-Za-z][A-Za-z0-9+.-]*):', 1))"
    # parse_url HOST drops the port entirely; take it from AUTHORITY so a
    # NON-default port survives (a :8080 origin is a different server)
    host = (
        f"regexp_replace(lower(parse_url({u}, 'HOST')), '^www\\.', '')"
    )
    port = (
        f"regexp_replace(coalesce(regexp_extract(parse_url({u}, 'AUTHORITY'), "
        "':([0-9]+)$', 1), ''), '^(80|443)$', '')"
    )
    hostport = (
        f"concat({host}, case when {port} = '' then '' "
        f"else concat(':', {port}) end)"
    )
    path0 = f"coalesce(parse_url({u}, 'PATH'), '')"
    path = (
        f"case when {path0} = '' then '/' "
        f"else regexp_replace({path0}, '(.)/$', '$1') end"
    )
    q0 = f"coalesce(parse_url({u}, 'QUERY'), '')"
    kept = (
        f"array_join(array_sort(filter(split({q0}, '&'), "
        f"p -> p != '' and not array_contains(array({tracked}), "
        "lower(split_part(p, '=', 1))))), '&')"
    )
    return F.expr(
        f"concat({scheme}, '://', {hostport}, {path}, "
        f"case when length({kept}) > 0 then concat('?', {kept}) else '' end)"
    )


def compression_ratio(
    df: DataFrame,
    text_col: str = "text",
    id_cols: "tuple[str, ...]" = ("doc_id",),
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compression ratio — the classic cheap
    repetition/quality signal for crawl filtering (highly repetitive or
    templated text compresses far below natural prose; pure noise does
    not compress at all). Emits ``raw_len`` (utf-8 bytes), ``comp_len``
    (zlib level ``level``) and ``ratio_ppm = comp_len * 1e6 div
    raw_len`` as integers.

    Arrow-batched ``mapInPandas`` kernel — zlib is CPU-bound C called
    once per document on whole byte strings, so the per-row Python
    dispatch cost is amortized to nothing next to the deflate itself;
    the operator is embarrassingly parallel (map-only, no shuffle), so
    it scales linearly with executors at any corpus size. No SQL oracle
    (zlib is not expressible in DuckDB) — correctness is pinned by
    pytest against the same zlib from the test process plus ordering
    invariants (repetitive << prose << incompressible).

    Reference parity: per-message enrichment map (MessageStream.map,
    samza-api OperatorSpecs) carrying an opaque CPU kernel.
    """
    import pandas as pd  # noqa: F401 — mapInPandas contract

    ids = list(id_cols)
    src = df.select(*ids, F.col(text_col).alias("__text"))
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in src.schema.fields
        if f.name != "__text"
    )
    out_schema += ", raw_len bigint, comp_len bigint, ratio_ppm bigint"

    lvl = int(level)

    def _kernel(batches):
        import zlib

        for pdf in batches:
            raw = pdf["__text"].fillna("").str.encode("utf-8")
            raw_len = raw.str.len().astype("int64")
            comp_len = raw.map(lambda b: len(zlib.compress(b, lvl))).astype(
                "int64"
            )
            out = pdf[ids].copy()
            out["raw_len"] = raw_len
            out["comp_len"] = comp_len
            out["ratio_ppm"] = [
                (c * 1_000_000) // r if r > 0 else 0
                for c, r in zip(comp_len, raw_len)
            ]
            yield out

    return src.mapInPandas(_kernel, schema=out_schema)


def feature_hashing(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 64,
    salt: str = "fh",
) -> DataFrame:
    """Signed hashing-trick vectorization (Weinberger et al. 2009 — the
    fixed-width sparse text featurizer that needs NO vocabulary pass,
    which is what makes it the 100 TB-safe baseline: one map, one
    groupBy, zero global state). Tokens are lowercased alnum runs; each
    token lands in ``md5(salt|token) % n_buckets`` with a +/-1 sign from
    the next md5 hex nibble's parity, and the per-(doc, bucket) signed
    counts are summed. md5 keeps the whole transform replayable in
    ANSI SQL (the registry's cross-engine hash idiom, sampling.py:22).

    Emits ``(id_col, bucket, weight)`` sparse rows — at most
    ``n_buckets`` per document. ONE shuffle on (doc, bucket); the
    explode is map-side.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
        ).alias("tok"),
    ).filter(F.length("tok") > 0)
    h = f"md5(concat('{salt}', '|', tok))"
    hashed = toks.select(
        F.col(id_col),
        F.expr(
            f"cast(conv(substr({h}, 1, 8), 16, 10) as bigint) % {int(n_buckets)}"
        ).alias("bucket"),
        F.expr(
            f"case when cast(conv(substr({h}, 9, 1), 16, 10) as int) % 2 = 0 "
            "then 1L else -1L end"
        ).alias("sign"),
    )
    return (
        hashed.groupBy(id_col, "bucket")
        .agg(F.sum("sign").cast("long").alias("weight"))
    )


def nfc_audit(
    df: DataFrame,
    text_col: str = "text",
    id_cols: "tuple[str, ...]" = ("doc_id",),
) -> DataFrame:
    """Unicode NFC normalization audit — the i18n hygiene pass a crawl
    pipeline runs BEFORE hashing/dedup (the same text in composed vs
    decomposed form hashes differently, silently splitting duplicate
    clusters): per document, codepoint length before and after NFC and
    whether normalization changes the string at all. Arrow-batched
    mapInPandas around ``unicodedata`` (Spark has no NFC builtin);
    map-only, no shuffle. The oracle replays with DuckDB's
    nfc_normalize — both implement the same stable Unicode algorithm.
    """
    ids = list(id_cols)
    src = df.select(*ids, F.col(text_col).alias("__t"))
    prefix = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in src.schema.fields
        if f.name != "__t"
    )
    schema = f"{prefix}, raw_len_cp bigint, nfc_len_cp bigint, changed boolean"

    def _kernel(batches):
        import unicodedata

        for pdf in batches:
            t = pdf["__t"].fillna("")
            out = pdf[ids].copy()
            nfc = t.map(lambda s: unicodedata.normalize("NFC", s))
            out["raw_len_cp"] = t.str.len().astype("int64")
            out["nfc_len_cp"] = nfc.str.len().astype("int64")
            out["changed"] = (nfc != t).astype(bool)
            yield out

    return src.mapInPandas(_kernel, schema=schema)


def oov_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 1000,
) -> DataFrame:
    """Out-of-vocabulary audit against the corpus's own top-``k``
    vocabulary: build the ``k`` most frequent normalized whitespace
    tokens (ties broken token ASC so the boundary is deterministic),
    then report per document how many of its token OCCURRENCES fall
    outside that vocabulary — the pre-tokenizer-sizing audit that tells
    you what coverage a ``k``-entry vocab/merge table would actually buy
    on this corpus (the classic coverage-vs-size curve point; run it at
    several ``k`` for the curve).

    Returns ``(id, n_tokens, oov_tokens, oov_ppm)`` for EVERY input row
    (empty/whitespace docs report 0/0/0).

    Scale shape (100 TB): token counting is one explode + one
    token-keyed aggregate with map-side partials; the top-``k`` cut uses
    :func:`samza_spark.operators.rank.global_rank` (range exchange +
    per-partition windows — no single-partition sort); the selected
    vocab is ``k`` rows and joins back by BROADCAST, so the second pass
    over token occurrences is map-side; the per-doc rollup is one
    id-keyed aggregate. No driver collect, nothing corpus-sized ever
    sits on one task. All outputs exact integers (``oov_ppm`` is
    fixed-point ``div``), so a DuckDB oracle hash-matches.
    """
    from samza_spark.operators.rank import global_rank

    nt = normalized(F.col(text_col))
    toks = F.when(nt == "", F.array().cast("array<string>")).otherwise(
        F.split(nt, " ")
    )
    occ = df.select(
        F.col(id_col).alias("__id"), F.explode(toks).alias("__tok")
    )
    counts = occ.groupBy("__tok").agg(
        F.count(F.lit(1)).cast("long").alias("__cnt")
    )
    vocab = (
        global_rank(
            counts,
            [F.col("__cnt").desc(), F.col("__tok").asc()],
            rank_col="__r",
        )
        .filter(F.col("__r") <= int(k))
        .select(F.col("__tok"), F.lit(True).alias("__in_vocab"))
    )
    per_doc = (
        occ.join(F.broadcast(vocab), on="__tok", how="left")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.col("__in_vocab").isNull().cast("long"))
            .cast("long")
            .alias("oov_tokens"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, df[id_col] == per_doc["__id"], "left")
        .select(
            F.col(id_col),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("oov_tokens", F.lit(0)).cast("long").alias(
                "oov_tokens"
            ),
            F.expr(
                "case when coalesce(n_tokens, 0) = 0 then 0L "
                "else oov_tokens * 1000000 div n_tokens end"
            ).alias("oov_ppm"),
        )
    )
