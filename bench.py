"""Benchmark driver: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints one
JSON line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Each batch sample writes every column of every row of a query to the noop
sink (``timed_action``). The metric is the sum of per-query MEDIANS over
$SPARK_GRAFT_BENCH_REPEATS (default 3) runs each — a single contended run
cannot inflate the artifact (round-2 recorded a phantom 77% regression from
exactly that). The true elapsed time is reported separately as
``wall_clock_sec``, and the host load average at start/end (``load_avg``)
makes a contended run self-identifying. Per-query seconds let the judge
compare against BASELINE.md workloads (#1 stateless passthrough ≈
`passthrough`/`filter`; #3/#4 stateful windowed count ≈
`tumbling_window`/`session_window`).

The functions above :func:`main` — calibration, idle gate, session and
timed sample — are the measurement harness; ``tools/isolate_time.py``
times named queries through the same functions.
"""

from __future__ import annotations

import gc
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)

# Headline queries: parity core + windows + joins + pipeline ops.
HEADLINE = [
    "passthrough",
    "filter",
    "merge",
    "stream_table_join",
    "multiway_join_revenue",
    "interval_join",
    "asof_join",
    "groupby_count",
    "tumbling_window",
    "session_window",
    "tpch_q1",
    "topk",
    "analytic_window",
    "dedup_exact_groups",
    "pipeline_clean",
    "text_metrics",
    "minhash_pairs",
    "cosine_topk",
    "quantized_rerank",
    # round 3-4 corpus-pipeline additions (per-query medians are the
    # comparable unit round-over-round; the suite total grows with
    # coverage)
    "dup_spans",
    "source_caps",
    "incremental_dedup",
    "bigram_logprob",
    "nb_classifier",
    "bpe_tokenize",
    "semantic_dedup",
    "bm25_search",
    "funnel_steps",
    "range_join",
    "mixture_plan",
    "sessionize",
    # round-5 additions
    "similarity_join",
    "tfidf_topk",
    "decontam_spans",
    "segment_dedup_first",
    "changelog_compact",
    "snapshot_diff",
    "split_leakage",
    "heavy_hitters",
    "embedding_covariance",
    "tpch_q3",
    "tpch_q6",
    "corpus_report",
    # round-5 third-session additions
    "weighted_sample",
    "perplexity_buckets",
    "pagerank",
    "kmeans_assign",
    "ngram_diversity",
    "tpch_q5",
    "containment_pairs",
    "length_outliers",
    "tpch_q10",
    "triangle_count",
    "skew_report",
    "stratified_topk_sample",
    "trailing_agg",
    "pivot_counts",
    "graph_components",
    "gap_fill",
    "session_stats",
    "shard_manifest",
    "ewma",
    "user_similarity",
    "hybrid_search",
    "distribution_drift",
    "classifier_confusion",
    "source_signatures",
    "graph_components_star",
    "pagerank_weighted",
    "pagerank_personalized",
    "stratified_weighted_sample",
    "hits",
    "grouping_sets",
    "edit_distance",
    "source_overlap",
    # round-5 TPC-H completion (all 22 shapes now covered; q1/q3/q5/q6/q10
    # were already above — the rest of the set follows)
    "tpch_q2",
    "tpch_q4",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q11",
    "tpch_q12",
    "tpch_q13",
    "tpch_q14",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q18",
    "tpch_q19",
    "tpch_q20",
    "tpch_q21",
    "tpch_q22",
    # round-5 session-2 additions
    "jl_project",
    "phrase_search",
    "entity_clusters",
    # round-6 additions
    "pq_topk",
    "kcore",
    "n_hop_reach",
    "scd2_pit",
    "temperature_mixture",
    "robust_stats",
    "dedup_keep_best",
    "merge_upsert",
    "rank_funcs",
    "ivfpq_topk",
    "ngram_novelty",
    "quality_calibration",
    "dup_matrix",
    "salted_join",
    "window_distinct",
    "quality_report",
    "twap",
    "zorder",
    "matview_merge",
    "trending",
    "session_funnel",
    "set_ops_all",
    "event_transitions",
    "vocab_coverage",
    "dup_cluster_sizes",
    "fk_integrity",
    "padding_waste",
    "assoc_lift",
    "tvd_drift",
    "staleness_report",
    "ts_pattern_search",
    "latency_percentiles",
    # round-5 continuation (this session)
    "ohlc_bars",
    "seasonal_anomaly",
    "pmi_collocations",
    "quantile_normalize",
    "k_anonymity",
    "seq_patterns",
    "changepoint_cusum",
    "periodicity",
    "greedy_coverage",
    "leakage_safe_split",
    "json_props_stats",
    "leadlag_xcorr",
    "rolling_active_users",
    "join_fanout_audit",
    "last_touch_attribution",
    "benford_audit",
    "weighted_median",
    "fd_audit",
    "conversion_delay_ecdf",
    "ab_test_report",
    "pii_report",
    "table_profile",
    "nearest_event_join",
    "knn_label_noise",
    "running_balance",
    "revenue_reconciliation",
    "skyline_2d",
    "skew_gini",
    "cohort_ltv",
    "temporal_reachability",
    "doc_structure",
    "slo_burn_alerts",
    "rfm_segments",
    "standing_queries",
    "category_entropy",
    "peak_concurrency",
    "merkle_manifest",
    "funnel_exclusion",
    "churn_analysis",
    "activity_streaks",
    "matryoshka_eval",
    "csv_roundtrip",
    "jsonl_roundtrip",
    "codebook_utilization",
    "diff_in_diff",
    "winsorize_stats",
    "interval_audit",
    "labeler_agreement",
    "concordance",
    "latency_log2_histogram",
    "path_deviation",
    "curation_pipeline",
    "mmr_select",
    "trend_slopes",
    "burstiness",
    "abc_classification",
    "concentration_hhi",
    "schema_evolution_roundtrip",
    "fair_allocation",
    # round-5 session-5 additions
    "retrieval_eval",
    "ks_drift",
    "chi2_independence",
    # round 6: preference/curriculum/fusion + dialogue + packing + sketches
    "preference_pairs",
    "curriculum_order",
    "signal_fusion",
    "dialogue_turns",
    "embargo_split",
    "hll_distinct",
    "packed_sequences",
    "packing_report",
    "sft_export",
    "balanced_shards",
    "repetition_loops",
    # round-6 session-3: relational sketches, linkage, stream audits
    "countmin_freq",
    "record_linkage",
    "disorder_audit",
    "encoding_profile",
    "cuped_readout",
    "hypertable_rollup",
    "join_size_estimate",
    "kmv_distinct",
    "zone_map_stats",
    "lift_chart",
    # round-6 session-4: survival/spatial/bootstrap/linkage/text/graph
    "kaplan_meier",
    "nearest_hub",
    "poisson_bootstrap",
    "compaction_plan",
    "golden_record",
    "rake_keyphrases",
    "kmv_jaccard",
    "dp_histogram",
    "kneser_ney",
    "markov_eval",
    "fifo_allocation",
    "qini_curve",
    "clustering_coeff",
    "community_modularity",
    "typo_pairs",
    "interval_merge",
    "pr_curve",
    "dbscan_clusters",
    "emd_drift",
    "window_funnel",
    "count_sketch_f2",
    "mann_whitney",
    "mcnemar",
    # round-7: formats, view maintenance, sketch CBO, privacy, conformal
    "tfrecord_roundtrip",
    "wet_roundtrip",
    "join_order_advice",
    "join_view_refresh",
    "hist_quantiles",
    "l_diversity",
    "t_closeness",
    "conformal_threshold",
    # round-8: SQL surface (recursion/QUALIFY/UNPIVOT), tabular-ML prep,
    # causal/off-policy stats, estimator calibration
    "recursive_chain",
    "qualify_topk",
    "unpivot_metrics",
    "target_encoding",
    "feature_hashing",
    "compression_ratio",
    "isotonic_calibration",
    "range_partition_plan",
    "ips_offpolicy",
    "rank_aggregation",
    "length_bias_audit",
    "decision_stump",
    "cem_att",
    "minhash_eval",
    "distinct_on_latest",
    "bloom_fpp_audit",
    "frame_sample_plan",
    "cube_counts",
    "json_shred",
    "rebalance_audit",
    "watermark_plan",
    "xi_correlation",
    "position_attribution",
    "nfc_audit",
    "soft_dedup_weights",
    "qte_report",
    "tail_attribution",
    "audience_overlap",
    # round-9: adversarial SQL-surface conformance
    "qualify_nested",
    "qualify_grouped",
    "distinct_on_expr",
    "distinct_on_ordered_topk",
    "recursive_edges_reach",
    "recursive_reach_rollup",
    "unpivot_nulls",
    "cube_lattice_filter",
    "interval_join_left",
    "luhn_audit",
    "simpson_audit",
    "binary_near_dup",
    "lateral_topk",
    "rate_limit_replay",
    "jaccard_prefix_join",
    "deletion_audit",
    "bitmap_intersections",
    "null_semantics_not_in",
    "canary_null_ordering",
    "expectations_report",
    "expectations_routing",
    "simhash_eval",
    "oov_audit",
]


# Every timed batch sample writes every column of every row to the noop
# sink: ``.count()`` lets Catalyst prune whole subtrees (58 of 292 HEADLINE
# plans shrink under it), so only a noop write measures the work a result
# needs. The artifact carries this stamp and is compared only against an
# artifact with the same one.
TIMED_ACTION = "noop"


class QueryTimeout(Exception):
    """Raised by the SIGALRM handler of :func:`capped`. It derives from
    ``Exception`` so that py4j, when it interrupts a JVM call, closes that
    connection; the caller then sees a bare ``Py4JError`` instead."""


def cpu_calib_ms(samples: int = 3) -> float:
    """Single-thread CPU calibration: the best of ``samples`` runs of a fixed
    pure-Python loop, whose wall time moves 1:1 with hypervisor throttling
    and steal. Stamped on every artifact so that a result is compared only
    against a like host."""
    best = float("inf")
    for _ in range(samples):
        t0 = time.perf_counter()
        s = 0
        for i in range(5_000_000):
            s += i
        best = min(best, time.perf_counter() - t0)
    return round(best * 1000, 1)


def idle_gate() -> tuple[float, tuple, bool]:
    """Wait up to $SPARK_GRAFT_BENCH_IDLE_WAIT seconds (default 900) for an
    idle host, then measure anyway. Returns (seconds waited, load average
    at the end of the wait, whether the gate timed out); a timed-out gate is
    stamped ``idle_gate_timeout`` so a warm-box run cannot pass as clean.

    A loaded host inflates every sample uniformly (rounds 2 and 4 recorded
    phantom regressions at load_avg > 3). load1 AND load5 must be below
    $SPARK_GRAFT_BENCH_IDLE_LOAD (default 1.5): a burst that just ended
    leaves load1 low but the machine still disturbed (a uniform ~1.6x
    inflation measured right after a heavy run). load15 must be below twice
    that: a run that squeaked under the gate at load5 1.49 / load15 2.58
    reported streaming rows up to 2x below a settled re-run 25 min later.
    load15 needs ~10 min to decay from a burst, hence the wait budget."""
    idle_load = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_LOAD", "1.5"))
    idle_wait = float(os.environ.get("SPARK_GRAFT_BENCH_IDLE_WAIT", "900"))
    limits = (idle_load, idle_load, 2 * idle_load)

    def busy(la):
        return any(x > lim for x, lim in zip(la, limits))

    waited = 0.0
    la = os.getloadavg()
    while busy(la) and waited < idle_wait:
        print(
            f"# load_avg {la[0]:.2f}/{la[1]:.2f}/{la[2]:.2f} > "
            f"{limits[0]}/{limits[1]}/{limits[2]}; waiting for idle"
            f" ({waited:.0f}/{idle_wait:.0f}s)",
            file=sys.stderr,
        )
        time.sleep(10)
        waited += 10
        la = os.getloadavg()
    timed_out = busy(la)
    if timed_out:
        print(
            f"# WARNING idle gate TIMED OUT after {waited:.0f}s — measuring on "
            f"a warm box (load_avg {la[0]:.2f}/{la[1]:.2f}/{la[2]:.2f}); treat "
            "regressions in this artifact as suspect",
            file=sys.stderr,
        )
    return waited, la, timed_out


def bench_session(cpus: int, app_name: str = "samza_spark_bench", extra=None):
    """The measuring session: local[cpus], one shuffle partition per core
    and a $SPARK_GRAFT_BENCH_MEM heap (default 8g). The stock 1g is tight
    across a 300+-query session on 32 threads (a GCLocker-adjacent heap OOM
    on an iterative graph op, 176 queries into an otherwise green run);
    on an idle box the heap does not move timings."""
    from samza_spark import SessionConfig, get_session

    spark = get_session(
        SessionConfig(
            app_name=app_name,
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra={
                "spark.driver.memory": os.environ.get("SPARK_GRAFT_BENCH_MEM", "8g"),
                **(extra or {}),
            },
        )
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def capped(fn, cap: int):
    """Run ``fn()`` under a SIGALRM cap of ``cap`` seconds (0 for none), so
    one pathological hang costs one sample rather than the whole artifact.
    Returns (seconds, timed out, fn's result or None); the previous SIGALRM
    handler is restored either way."""
    fired = []

    def _raise(_sig, _frm):
        fired.append(True)
        raise QueryTimeout()

    result = None
    old = signal.signal(signal.SIGALRM, _raise)
    t0 = time.perf_counter()
    signal.alarm(max(cap, 0))
    try:
        result = fn()
    except Exception:
        # py4j swallows the interrupt of a JVM call and raises its own
        # error, so whether the cap fired is read from the handler
        if not fired:
            raise
    finally:
        signal.alarm(0)
        signal.signal(signal.SIGALRM, old)
    return time.perf_counter() - t0, bool(fired), result


def timed_sample(spark, name: str, sf_dir: str):
    """One timed sample of query ``name``: the DataFrame is built and every
    column of every row written to the noop sink, under :func:`capped` with
    $SPARK_GRAFT_BENCH_QUERY_TIMEOUT seconds (default 180). A capped
    sample's jobs are cancelled and it is recorded at the cap. Returns
    (seconds, timed out, the DataFrame or None).

    Every sample starts with an empty DataFrame cache: operators that
    persist intermediates register them in the CacheManager, which matches
    by analysed plan, so a repeat of the query would re-read the previous
    sample's cache. localCheckpoint blocks (CC / pagerank / LPA lineage
    cuts) are released only when the driver garbage-collects their Python
    references; without a driver gc per sample they pile up in the block
    manager across a suite (minhash_pairs measured 34.9 s in-suite against
    13.5 s isolated on the same idle host)."""
    from samza_spark.queries import QUERIES

    cap = int(os.environ.get("SPARK_GRAFT_BENCH_QUERY_TIMEOUT", "180"))
    spark.catalog.clearCache()
    gc.collect()

    def run():
        df = QUERIES[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return df

    secs, timed_out, df = capped(run, cap)
    if timed_out:
        spark.sparkContext.cancelAllJobs()
        print(f"# {name}: TIMED OUT at {cap}s", file=sys.stderr)
    return secs, timed_out, df


def _prev_artifact(repo_dir: str, sf, cpus: int):
    """The newest ``BENCH_r*.json`` artifact of the same ``sf``,
    ``cpus`` and :data:`TIMED_ACTION` as (file name, its stdout line), or
    (None, None). Another scale, core count or timed action measures
    different work, so nothing is compared against it."""
    for p in sorted(glob.glob(os.path.join(repo_dir, "BENCH_r*.json")))[::-1]:
        try:
            with open(p) as fh:
                art = json.load(fh)
            tail = art.get("tail", "")
            i = tail.rfind('{"metric"')
            obj = json.loads(tail[i:]) if i >= 0 else None
        except (OSError, ValueError):
            continue
        if (
            obj and obj.get("cpu_calib_ms") and obj.get("streaming")
            and art.get("cpus") == cpus and art.get("sf") == sf
            # artifacts from before the stamp were timed with .count()
            and obj.get("timed_action", "count") == TIMED_ACTION
        ):
            return os.path.basename(p), obj
    return None, None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
    bench_t0 = time.perf_counter()

    # Wall-clock budget (seconds; 0 disables): the r11 8-core scaling run
    # was killed by the caller's timeout (rc 124, no artifact at all) while
    # re-sampling dozens of spread-flagged rows — at low core counts every
    # sample is slower AND spread is wider, so the open-ended resample
    # phase can exceed any external window. A bench that self-limits
    # always emits its JSON line: past the soft deadline it stops taking
    # OPTIONAL samples (extra passes beyond the first, spread resamples,
    # extra streaming reps) but still runs every query/row at least once —
    # no row is ever dropped, and the truncation is stamped in the
    # artifact (budget_*) so a shortened run can't masquerade as a full
    # one. Medians over fewer samples are the same estimator, just wider.
    budget_sec = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC", "3300"))
    soft_deadline = bench_t0 + 0.85 * budget_sec if budget_sec > 0 else None
    budget_stats = {"passes_skipped": 0, "resamples_skipped": 0,
                    "reps_skipped": 0}

    def past_soft_deadline() -> bool:
        return soft_deadline is not None and time.perf_counter() > soft_deadline

    def budgeted_reps(n: int) -> int:
        """Samples to take for one streaming/KV row: ``n``, or one past
        the soft deadline, with every skipped sample counted."""
        if n > 1 and past_soft_deadline():
            budget_stats["reps_skipped"] += n - 1
            return 1
        return n

    waited, load_start, idle_gate_timeout = idle_gate()
    # calibration is sampled at the START and END of the suite: one
    # start-of-run sample mispredicts a box whose load changes mid-suite
    # (BENCH_r10 gated clean, then ended at load 8.35 with the slowest
    # calib on record)
    calib_start_ms = cpu_calib_ms()

    from samza_spark.catalog import normalize_event_ts

    spark = bench_session(cpus)

    from samza_spark.queries import QUERIES

    # warm the JVM + file listing + Python worker pool once (excluded from
    # timing — one-time process startup, the analog of JVM/codegen warm-up)
    QUERIES["passthrough"](spark, sf_dir).count()
    import pandas as pd  # noqa: F401
    from pyspark.sql import functions as F

    _warm = F.pandas_udf(lambda s: s, "long")  # no type hints: this module
    # uses postponed annotations, which the UDF hint-inference can't resolve
    spark.range(cpus * 4).repartition(cpus).select(F.sum(_warm(F.col("id")))).collect()
    # warm the interpreted higher-order-function path + Arrow array serde
    # (first HOF use in a session costs seconds — NOTES.md; 64 synthetic
    # rows, unrelated to the measured data)
    from samza_spark.pipeline import dedup as _dedup

    _warm_docs = spark.createDataFrame(
        [(i, f"warm doc {i} body text sample tokens") for i in range(64)],
        "doc_id long, text string",
    )
    _warm_pairs = _dedup.minhash_lsh_candidates(_warm_docs, num_perm=8, bands=4)
    # ...and the jaccard-verify HOF path (array_intersect/array_union folds
    # pay their own first-use interpreter init, separate from the band UDF)
    _dedup.jaccard_verify(_warm_docs, _warm_pairs, threshold=0.0).count()

    # repeats are interleaved round-robin (suite pass 1, pass 2, ...), not
    # consecutive per query: a transient contention burst then lands on at
    # most one of each query's samples, which the median discards —
    # consecutive repeats let a ~30s burst own all three samples of one
    # query (observed: minhash_pairs 7.6s recorded vs 3.5s isolated)
    all_samples: dict[str, list] = {name: [] for name in HEADLINE}
    timeouts: dict[str, int] = {}

    def sample(name):
        secs, timed_out, _ = timed_sample(spark, name, sf_dir)
        all_samples[name].append(secs)
        if timed_out:
            timeouts[name] = timeouts.get(name, 0) + 1

    for pass_i in range(repeats):
        for name in HEADLINE:
            # budget: passes beyond the first are optional once the soft
            # deadline has passed — every query already has >=1 sample
            if pass_i > 0 and past_soft_deadline():
                budget_stats["passes_skipped"] += 1
                continue
            sample(name)
    # a query whose samples spread more than 2x its median caught a
    # contention burst in >1 pass — take extra samples so the median
    # reflects steady state, not the burst
    resamples = int(os.environ.get("SPARK_GRAFT_BENCH_RESAMPLE", "2"))
    # at low core counts every sample is slower and spread is wider — the
    # r11 8-core run burned its whole external window resampling dozens of
    # flagged rows; one extra sample per flagged row bounds the phase
    if cpus < 16:
        resamples = min(resamples, 1)
    for name in HEADLINE:
        samples = all_samples[name]
        med = statistics.median(samples)
        if med > 0 and (max(samples) - min(samples)) > 2 * med:
            if past_soft_deadline():
                budget_stats["resamples_skipped"] += 1
                continue
            print(
                f"# {name}: spread {max(samples) - min(samples):.3f}s > 2x median"
                f" {med:.3f}s — taking {resamples} extra sample(s)",
                file=sys.stderr,
            )
            for _ in range(resamples):
                sample(name)
    per_query: dict[str, float] = {}
    for name in HEADLINE:
        samples = all_samples[name]
        per_query[name] = round(statistics.median(samples), 3)
        print(
            f"# {name}: median {per_query[name]:.3f}s of "
            f"{[round(s, 3) for s in samples]}",
            file=sys.stderr,
        )

    # Streaming workloads mirroring BASELINE.md #1 (read->write passthrough
    # throughput) and #3/#4 (stateful windowed count): Structured Streaming
    # file sources, AvailableNow trigger (bounded replay of the input), noop
    # sink — the Spark analog of the reference's
    # kafka-read-write-performance and stateful-window jobs.
    events_raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_events = events_raw.count()
    schema = events_raw.schema
    streaming = {}

    def run_sustained(name, start_query, msgs, reps=repeats, state_partitions=None):
        """Median seconds of ``reps`` runs of a streaming query to its end,
        recorded as ``per_query[name]``. Stateful micro-batches pay
        per-partition state-store init, so their state partition count
        (fixed when the query starts) is sized to the workload, not the CPU
        count. Median-of-reps like the batch queries: the first run in a
        session pays one-time sink/WAL/codegen init (~2.4s vs 1.3s warm
        measured at sf0.1), and a single sample is contention-exposed."""
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions or cpus))
        samples = []
        try:
            for _ in range(budgeted_reps(reps)):
                t0 = time.perf_counter()
                start_query().awaitTermination()
                samples.append(time.perf_counter() - t0)
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", str(cpus))
        secs = round(statistics.median(samples), 3)
        per_query[name] = secs
        print(
            f"# {name}: median {secs:.3f}s of {[round(s, 3) for s in samples]}"
            f" ({msgs} msgs)",
            file=sys.stderr,
        )
        return secs

    def to_noop(df, mode="append"):
        return (
            df.writeStream.format("noop")
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )

    def events_stream():
        # glob form: the file stream source requires a directory/glob path
        return normalize_event_ts(
            spark.readStream.schema(schema).parquet(f"{sf_dir}/events.parque*")
        )

    secs = run_sustained(
        "stream_passthrough",
        lambda: to_noop(
            events_stream()
            .filter(F.col("event_type") != "")
            .select("event_id", "user_id", "event_type")
        ),
        n_events,
    )
    streaming["stream_passthrough_msgs_per_sec"] = round(n_events / secs)
    secs = run_sustained(
        "stream_window_count",
        lambda: to_noop(
            events_stream().groupBy("event_type", F.window("ts", "1 hour")).count(),
            "complete",
        ),
        n_events,
        state_partitions=8,
    )
    streaming["stream_window_count_msgs_per_sec"] = round(n_events / secs)

    # Sustained replay at the reference workload size (BASELINE.md #1 runs
    # 1M messages through one container): replicate events to ~1M rows
    # across 10 files in one write job (setup untimed), then stream them
    # through a multi-batch AvailableNow passthrough.
    replay_dir = tempfile.mkdtemp(prefix="bench_replay_")
    replay_files = 10
    try:
        replicas = max(1, 1_000_000 // max(n_events, 1))
        (
            events_raw.crossJoin(spark.range(replicas).withColumnRenamed("id", "__rep"))
            .withColumn("event_id", F.col("event_id") + F.col("__rep") * 10_000_000)
            .select(*schema.fieldNames())
            .repartition(replay_files)
            .write.mode("overwrite")
            .parquet(replay_dir)
        )
        n_replay = replicas * n_events

        def replay(batches):
            """The replay as a stream of about ``batches`` micro-batches."""
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", max(1, replay_files // batches))
                .parquet(replay_dir)
            )

        def passthrough(df):
            return df.filter(F.col("event_type") != "").select(
                "event_id", "user_id", "event_type"
            )

        secs = run_sustained(
            "stream_sustained_1m", lambda: to_noop(passthrough(replay(5))), n_replay
        )
        streaming["stream_sustained_msgs_per_sec"] = round(n_replay / secs)
        streaming["stream_sustained_messages"] = n_replay

        # throughput-tuned variant: same workload, bigger triggers (2
        # batches instead of ~5). The reference's bench puts no batch-size
        # constraint on its container either — this is the configuration a
        # throughput-focused user runs; the conservative multi-batch number
        # above is kept for round-over-round comparability.
        secs = run_sustained(
            "stream_sustained_1m_tuned",
            lambda: to_noop(passthrough(replay(2))),
            n_replay,
        )
        streaming["stream_sustained_tuned_msgs_per_sec"] = round(n_replay / secs)

        # the stateful counterpart (BASELINE.md #3/#4: windowed counts with
        # durable state) over the same 1M-message replay
        secs = run_sustained(
            "stream_sustained_window_1m",
            lambda: to_noop(
                replay(5)
                .transform(normalize_event_ts)
                .withWatermark("ts", "1 hour")
                .groupBy("event_type", F.window("ts", "1 hour"))
                .count(),
                "update",
            ),
            n_replay,
            state_partitions=8,
        )
        streaming["stream_sustained_window_msgs_per_sec"] = round(n_replay / secs)

        # sustained stream-stream TTL join over the same replay — the
        # reference's PartialJoinOperatorImpl workload shape (equi-join,
        # both sides buffered with a TTL, emit on match; /root/reference
        # samza-core/.../operators/impl/PartialJoinOperatorImpl.java:73-96)
        # expressed as a watermarked interval join: each side holds ~TTL
        # of state, every left row meets exactly its right twin (1:1,
        # the ad click/impression-join benchmark shape). Throughput
        # counts BOTH consumed sides, like the reference's consumed-msgs
        # metric. 8 state partitions measured best (PERF.md, "Round 8 —
        # TTL-join breakdown"): state-store commitTimeMs dominates
        # this workload and grows super-linearly with the partition count
        # (7s task-time at 8 parts vs 86s at 16 vs 167s at 32 for the
        # same 1M-row state) — the old parts=16 setting was leaving ~3x
        # on the table (130k -> 376-394k msg/s warm).
        def join_side(prefix):
            return (
                replay(2)
                .transform(normalize_event_ts)
                .select(
                    F.col("event_id").alias(f"{prefix}_id"),
                    F.col("user_id").alias(f"{prefix}_user"),
                    F.col("ts").alias(f"{prefix}_ts"),
                )
                .withWatermark(f"{prefix}_ts", "30 minutes")
            )

        secs = run_sustained(
            "stream_sustained_join_1m",
            lambda: to_noop(
                join_side("l").join(
                    join_side("r"),
                    (F.col("l_id") == F.col("r_id"))
                    & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 10 MINUTES"))
                    & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 10 MINUTES")),
                    "inner",
                )
            ),
            2 * n_replay,
            # 3 samples so the median is the middle run: the first run
            # pays one-time state-store/codegen init (r8 profile measured
            # cold 130k vs warm 390k msg/s on identical config) and a
            # median-of-2 averages that cold start into the artifact
            reps=min(3, repeats),
            state_partitions=8,
        )
        streaming["stream_sustained_join_msgs_per_sec"] = round(2 * n_replay / secs)
        streaming["stream_sustained_join_messages"] = 2 * n_replay

        # sustained exact streaming dedup over the same replay — the
        # stateful family with per-key state but no windows/aggregation
        # (dropDuplicatesWithinWatermark: ~1M distinct keys of state,
        # watermark-bounded; the pipeline.dedup.streaming_dedup path).
        # 8 state partitions for the same commit-cost reason as the TTL
        # join (r8 profile: warm 564k msg/s at 8 parts vs 456k at 16).
        secs = run_sustained(
            "stream_sustained_dedup_1m",
            lambda: to_noop(
                replay(2)
                .transform(normalize_event_ts)
                .withWatermark("ts", "30 minutes")
                .dropDuplicatesWithinWatermark(["event_id"])
                .select("event_id", "user_id", "event_type")
            ),
            n_replay,
            # 3 reps: median = warm middle run, same rationale as the join
            reps=min(3, repeats),
            state_partitions=8,
        )
        streaming["stream_sustained_dedup_msgs_per_sec"] = round(n_replay / secs)

        # sustained DURABLE write through the transactional log producer
        # (sources.log_datasource.log_sink): read -> route-by-key ->
        # exactly-once append onto the partitioned log. The noop rows
        # above measure consume-side throughput; this is the full
        # BASELINE.md #1 read->write shape with a real fsync'd sink.
        from samza_spark.sources.log_datasource import log_sink

        _rep_seq = [0]
        sink_root = tempfile.mkdtemp(prefix="bench_logsink_")

        def start_log_sink():
            _rep_seq[0] += 1
            dst = os.path.join(sink_root, str(_rep_seq[0]))
            return (
                replay(2)
                .select(
                    F.col("event_id").cast("string").alias("key"),
                    F.col("event_type").alias("value"),
                    (F.col("event_id") % 100000).alias("timestamp_ms"),
                )
                .writeStream.foreachBatch(
                    log_sink(f"{dst}/log", n_partitions=cpus)
                )
                .trigger(availableNow=True)
                .start()
            )

        try:
            secs = run_sustained("stream_sustained_log_sink_1m", start_log_sink, n_replay)
        finally:
            shutil.rmtree(sink_root, ignore_errors=True)
        streaming["stream_sustained_log_sink_msgs_per_sec"] = round(
            n_replay / secs
        )

        # many-input-stream fan-in — BASELINE.md's container-scalability
        # workload (1,000 input streams on one container): N independent
        # file streams unioned into one query; throughput counts all
        # consumed messages. N=64 keeps single-JVM planning sane while
        # exercising the same per-stream bookkeeping scaling.
        n_streams = int(os.environ.get("SPARK_GRAFT_BENCH_STREAMS", "64"))
        fan_dir = tempfile.mkdtemp(prefix="bench_fanin_")
        try:
            events_raw.withColumn(
                "shard", F.pmod(F.col("event_id"), F.lit(n_streams))
            ).write.partitionBy("shard").mode("overwrite").parquet(fan_dir)

            def fan_in_query():
                streams = [
                    spark.readStream.schema(schema).parquet(f"{fan_dir}/shard={i}")
                    for i in range(n_streams)
                ]
                u = streams[0]
                for s in streams[1:]:
                    u = u.unionByName(s)
                return to_noop(u.select("event_id", "user_id", "event_type"))

            secs = run_sustained("stream_fan_in_64", fan_in_query, n_events)
            streaming["stream_fan_in_streams"] = n_streams
            streaming["stream_fan_in_msgs_per_sec"] = round(n_events / secs)

            # scale-safe fan-in shape (VERDICT r5 next #5): the SAME
            # messages consumed as ONE source over the partitioned
            # directory — the samza_log manifest design. Parallelism is
            # unchanged (one file split per shard) but the driver pays a
            # single source's per-trigger bookkeeping instead of N× ~80ms;
            # this is the shape a 1,000-stream container maps to at scale.
            from pyspark.sql import types as _T

            shard_schema = _T.StructType(
                list(schema.fields) + [_T.StructField("shard", _T.IntegerType())]
            )

            def fan_in_one_source_query():
                return to_noop(
                    spark.readStream.schema(shard_schema)
                    .option("basePath", fan_dir)
                    .parquet(f"{fan_dir}/shard=*")
                    .select("event_id", "user_id", "event_type")
                )

            secs = run_sustained(
                "stream_fan_in_partitioned", fan_in_one_source_query, n_events
            )
            streaming["stream_fan_in_partitioned_msgs_per_sec"] = round(
                n_events / secs
            )
        finally:
            shutil.rmtree(fan_dir, ignore_errors=True)
    finally:
        shutil.rmtree(replay_dir, ignore_errors=True)

    # KV-store micro-bench — BASELINE.md #3/#5 analog
    # (TestKeyValuePerformance.scala:164-227: 1M messages of ~256 B
    # through the store write path; batch put+delete cycles). The
    # engine's store is the DurableLocalTable parquet changelog; writes
    # here are full durable upserts (changelog append + state update),
    # the same path .properties stores and sendTo(table) use.
    from samza_spark.tables.local import DurableLocalTable

    kv_root = tempfile.mkdtemp(prefix="bench_kv_")
    try:
        n_kv = int(os.environ.get("SPARK_GRAFT_BENCH_KV_MSGS", "1000000"))
        payload = spark.range(n_kv).select(
            F.col("id").alias("k"),
            F.concat(F.lit("v" * 248), F.col("id").cast("string")).alias("v"),
        )
        payload = payload.localCheckpoint()  # time the store, not the generator
        # median of `repeats` fresh-store runs: the FIRST durable write
        # of a session measured ~4x the settled cost (codegen/JIT + cold
        # write path: 2.36s vs 0.49s on an idle host; PERF.md, "Round 9 —
        # kv_store_write 748k→585k attributed") — a single sample lands
        # anywhere in that band depending on what ran before it.
        kv_samples = []
        for i in range(budgeted_reps(max(repeats, 2))):
            t0 = time.perf_counter()
            table = DurableLocalTable.open(
                spark, f"{kv_root}/store1_{i}", key_cols=["k"],
                schema="k long, v string",
            )
            table.merge_batch(payload, mode="upsert")
            kv_samples.append(time.perf_counter() - t0)
        secs = round(statistics.median(kv_samples), 3)
        per_query["kv_store_write_1m"] = secs
        streaming["kv_store_write_msgs_per_sec"] = round(n_kv / secs)
        print(
            f"# kv_store_write_1m: median {secs:.3f}s of "
            f"{[round(s, 3) for s in kv_samples]} "
            f"({n_kv} x ~256B durable upserts)",
            file=sys.stderr,
        )

        # put+delete cycles (#5 'all-with-deletes'): alternating batch
        # upsert and delete of the same keys against the durable store
        cycles = int(os.environ.get("SPARK_GRAFT_BENCH_KV_CYCLES", "5"))
        cyc_rows = spark.range(1000).select(
            F.col("id").alias("k"), F.lit("x" * 256).alias("v")
        )
        cyc_rows = cyc_rows.localCheckpoint()
        table2 = DurableLocalTable.open(
            spark, f"{kv_root}/store2", key_cols=["k"],
            schema="k long, v string",
        )
        t0 = time.perf_counter()
        for _ in range(cycles):
            table2.merge_batch(cyc_rows, mode="upsert")
            table2.merge_batch(cyc_rows.select("k"), mode="delete")
        secs = round(time.perf_counter() - t0, 3)
        per_query["kv_store_put_delete_cycles"] = secs
        streaming["kv_store_put_delete_ops_per_sec"] = round(
            cycles * 2000 / secs
        )
        print(
            f"# kv_store_put_delete_cycles: {secs:.3f}s ({cycles} cycles x 1000 put+delete)",
            file=sys.stderr,
        )
    finally:
        shutil.rmtree(kv_root, ignore_errors=True)

    total = round(sum(per_query.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # end-of-suite calibration sample + drift stamp: cpu_calib_ms (the
    # cross-round comparison key) is the BEST of the two sample points —
    # closest to the host's true speed — and a start/end drift >= 15%
    # flags the whole artifact as contention-suspect (the box changed
    # under the suite; per-row deltas are then machine state until a
    # settled re-run says otherwise).
    # Sample the end calibration AFTER the Spark JVM is gone, over a
    # recovery window: the probe exists to detect EXTERNAL contention,
    # but fired right at suite end it reads the host's post-all-core
    # turbo state, not its speed (measured this round on a fresh-boot,
    # zero-tenant box: start 184-203 ms idle-gated, end 280-299 ms
    # seconds after spark.stop() — a 38-63% self-induced false flag;
    # single-thread turbo on this host needs tens of seconds to recover
    # from sustained 32-thread load). The probe now takes the MIN over
    # up to 60 s of 5 s-spaced samples, stopping early once it reads
    # within 15% of the start sample. A genuinely contended host stays
    # slow across the whole window, so real drift still flags; turbo
    # recovery does not. Query timing is untouched.
    spark.stop()
    time.sleep(3)
    calib_end_ms = cpu_calib_ms()
    for _ in range(12):
        if calib_end_ms <= calib_start_ms * 1.15:
            break
        time.sleep(5)
        calib_end_ms = min(calib_end_ms, cpu_calib_ms(1))
    calib_drift_pct = round(
        100.0
        * abs(calib_end_ms - calib_start_ms)
        / min(calib_start_ms, calib_end_ms),
        1,
    )
    meta = {
        "timed_action": TIMED_ACTION,
        "cpu_calib_ms": min(calib_start_ms, calib_end_ms),
        "cpu_calib_start_ms": calib_start_ms,
        "cpu_calib_end_ms": calib_end_ms,
        "calib_drift_pct": calib_drift_pct,
        "calib_drift_flag": calib_drift_pct >= 15.0,
        "repeats": repeats,
        "budget_truncated": any(v > 0 for v in budget_stats.values()),
        "waited_for_idle_sec": round(waited, 1),
        "idle_gate_timeout": idle_gate_timeout,
        "wall_clock_sec": round(time.perf_counter() - bench_t0, 3),
        "load_avg": {
            "start": [round(x, 2) for x in load_start],
            "end": [round(x, 2) for x in os.getloadavg()],
        },
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }

    # calib-normalized comparison against the newest prior artifact of
    # the same sf, cpus and timed action (VERDICT r7 next #3): for each
    # shared streaming rate, the prior median scaled by calib_prev/calib_now
    # is this host's EXPECTATION; only deviations from THAT are genuine
    # deltas. Full table goes to BENCH_FULL_sf*_c*.json; stdout carries ratio +
    # >=15% flags only.
    prev_name, prev = _prev_artifact(ROOT, meta["sf"], cpus)
    norm_full = None
    if prev:
        # >1 means this host is faster than the prior artifact's host
        ratio = prev["cpu_calib_ms"] / meta["cpu_calib_ms"]
        rows = {}
        for k, v in streaming.items():
            pv = prev["streaming"].get(k)
            if not k.endswith("_per_sec") or not pv:
                continue
            expected = pv * ratio
            rows[k] = {
                "prev": pv,
                "expected": int(expected),
                "actual": v,
                "delta_pct": round(100.0 * (v - expected) / expected, 1),
            }
        # batch rows too (r10 verdict missing #2: minhash_pairs went +64%
        # normalized with no flag because only *_per_sec rows were
        # compared). Seconds scale INVERSELY with host speed, so the
        # expectation divides by the ratio; positive delta = slower than
        # this host predicts = regression-suspect.
        batch_rows = {}
        for k, v in per_query.items():
            pv = (prev.get("queries") or {}).get(k)
            if not pv:
                continue
            expected = pv / ratio
            batch_rows[k] = {
                "prev": pv,
                "expected": round(expected, 3),
                "actual": v,
                "delta_pct": round(100.0 * (v - expected) / expected, 1),
            }
        norm_full = {
            "vs": prev_name,
            "calib_ratio": round(ratio, 3),
            "rows": rows,
            "batch_rows": batch_rows,
        }
        flagged = sorted(
            (
                (k, r["delta_pct"])
                for src in (rows, batch_rows)
                for k, r in src.items()
                if abs(r["delta_pct"]) >= 15.0
            ),
            key=lambda kv: -abs(kv[1]),
        )[:5]  # stdout stays under a ~2 KB tail
        meta["calib_norm"] = {
            "vs": prev_name,
            "calib_ratio": round(ratio, 3),
            "flags": dict(flagged),
        }

    # Full per-query record -> a FILE; the final stdout line stays compact.
    # A consumer that keeps only a ~2,000-char stdout tail would truncate
    # a 300-entry "queries" dict on stdout
    # (BENCH_r06 recorded "parsed": null for exactly this reason —
    # VERDICT r6 next #3). The BENCH_FULL file carries every batch median,
    # the budget and the timed-out samples; stdout carries the
    # BASELINE.md-comparable headline subset + suite summary stats. The
    # default name carries the artifact's sf and cpus, so a smoke run never
    # overwrites a committed record of another scale.
    full_path = os.environ.get(
        "SPARK_GRAFT_BENCH_FULL_PATH",
        os.path.join(ROOT, f"BENCH_FULL_sf{meta['sf']}_c{cpus}.json"),
    )
    with open(full_path, "w") as fh:
        json.dump(
            {
                "metric": "headline_suite_median_sum",
                "value": total,
                "unit": "sec",
                "queries": per_query,
                "streaming": streaming,
                "calib_normalized": norm_full,
                "budget_sec": budget_sec,
                "budget_stats": budget_stats,
                "timeouts": timeouts,
                **meta,
            },
            fh,
            indent=1,
        )
        fh.write("\n")

    # the BASELINE.md-mapped core (workload #1 ≈ passthrough/filter,
    # #3/#4 ≈ windows, joins, flagship pipeline + heaviest batch shape)
    core = [
        "passthrough", "filter", "tumbling_window", "session_window",
        "stream_table_join", "multiway_join_revenue", "interval_join",
        "tpch_q1", "dedup_exact_groups", "minhash_pairs", "cosine_topk",
        "bm25_search", "curation_pipeline", "dbscan_clusters",
    ]
    batch_medians = sorted(per_query[n] for n in HEADLINE)
    suite = {
        "n_queries": len(per_query),
        "batch_median_sum": round(sum(batch_medians), 3),
        "batch_p50": round(batch_medians[len(batch_medians) // 2], 3),
        "batch_p90": round(batch_medians[(len(batch_medians) * 9) // 10], 3),
        "batch_max": round(batch_medians[-1], 3),
        "batch_max_query": max(HEADLINE, key=lambda n: per_query[n]),
        "timeouts": sum(timeouts.values()),
    }
    print(
        json.dumps(
            {
                "metric": "headline_suite_median_sum",
                "value": total,
                "unit": "sec",
                "queries": {n: per_query[n] for n in core if n in per_query},
                "streaming": streaming,
                "suite": suite,
                **meta,
            },
            separators=(",", ":"),
        )
    )


if __name__ == "__main__":
    main()
