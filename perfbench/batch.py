"""The batch_curation workload: ``samza_spark.queries.q_curation_pipeline``
timed to a ``noop`` write.

The query calls its stages (text_profile -> quality/length filter ->
exact_dedup -> minhash_dedup -> cap_per_source -> assign_split) through their
modules, so while a chain runs :func:`stage_hooks` swaps each stage function
for a wrapper that sets the Spark job group ``<group>:<stage>`` (the eager jobs
a stage launches while the plan is built are attributed to it) and records the
stage's build time. The filter is an inline lazy ``DataFrame.filter`` and
launches no jobs, so it is not a stage of its own here.
"""

from __future__ import annotations

import hashlib
import os
import sys
import time
from contextlib import contextmanager

from perfbench import gen, measure
from perfbench.env import CORES, session
from perfbench.measure import Tracer, median
from samza_spark import queries
from samza_spark.pipeline import dedup, governance, sampling, text

CORPUS_DOCS = 6_000
SLICE_DOCS = 200  # the oracle's all-pairs Jaccard is quadratic in documents
MIN_REPS = 2  # a third chain made the runs too long for the time budget
STAGES = {
    "text_profile": text,
    "exact_dedup": dedup,
    "minhash_dedup": dedup,
    "cap_per_source": governance,
    "assign_split": sampling,
}
# q_curation_pipeline's literals, recomputed by the full-corpus gate
MAX_PER_SOURCE = 15
SPLIT_SALT, SPLIT_BANDS = "split0", ((98, "train"), (99, "val"), (100, "test"))


@contextmanager
def stage_hooks(spark, tracer: Tracer, group: str, build_ms: dict, outputs: dict):
    """While open, every function of :data:`STAGES` runs under job group
    ``<group>:<stage>`` in a ``pipeline.<stage>`` span; its build time (eager
    jobs included) is added to ``build_ms[stage]`` and the DataFrame it
    returns is kept in ``outputs[stage]``."""
    sc = spark.sparkContext
    originals = {name: getattr(mod, name) for name, mod in STAGES.items()}

    def wrap(name, fn):
        def stage(*args, **kwargs):
            sc.setJobGroup(f"{group}:{name}", name)
            with tracer.span(f"pipeline.{name}", "pipeline", trace_id=group) as sp:
                out = fn(*args, **kwargs)
            build_ms[name] = build_ms.get(name, 0.0) + sp.seconds * 1000
            outputs[name] = out
            return out
        return stage

    for name, mod in STAGES.items():
        setattr(mod, name, wrap(name, originals[name]))
    try:
        yield
    finally:
        for name, mod in STAGES.items():
            setattr(mod, name, originals[name])


def run_once(spark, sf_dir, tracer, group, build_ms, outputs):
    """One timed chain: call to finished ``noop`` write. Returns
    (job seconds, action seconds, the curated DataFrame)."""
    sc = spark.sparkContext
    t0 = time.time()
    with tracer.span("pipeline.curation", "pipeline", trace_id=group):
        sc.setJobGroup(f"{group}:load", "load")
        with stage_hooks(spark, tracer, group, build_ms, outputs):
            df = queries.q_curation_pipeline(spark, sf_dir)
        sc.setJobGroup(f"{group}:action", "action")
        with tracer.span("pipeline.action", "pipeline", trace_id=group) as act:
            df.write.format("noop").mode("overwrite").save()
    sc.setJobGroup("perfbench", "other")
    return time.time() - t0, act.seconds, df


def oracle_rows(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')")
    rel = con.sql(queries.ORACLES["curation_pipeline"])
    return [c.lower() for c in rel.columns], rel.fetchall()


def split_of(doc_id: int) -> str:
    bucket = int(hashlib.md5(f"{SPLIT_SALT}|{doc_id}".encode()).hexdigest()[:8], 16) % 100
    return next(name for bound, name in SPLIT_BANDS if bucket < bound)


def expected_curated(deduped) -> list[tuple]:
    """The chain's last two stages recomputed from the rows ``minhash_dedup``
    kept: at most :data:`MAX_PER_SOURCE` per source, highest quality first and
    ties by doc_id, then the md5 split. Rows as the query selects them."""
    by_src: dict[str, list] = {}
    for r in deduped:
        by_src.setdefault(r.source, []).append(r)
    return [
        (r.doc_id, r.source, r.lang, r.n_tokens, r.quality, split_of(r.doc_id))
        for rows in by_src.values()
        for r in sorted(rows, key=lambda r: (-r.quality, r.doc_id))[:MAX_PER_SOURCE]
    ]


def full_corpus_problems(deduped, curated) -> list[str]:
    """The curated rows equal :func:`expected_curated`, every row that reached
    the cap passed the quality/length filter, and the cap bound (some source
    kept more than :data:`MAX_PER_SOURCE` documents before it)."""
    problems = []
    if any(r.quality < 0.65 or r.n_tokens < 20 for r in deduped):
        problems.append("a row past the filter violates quality >= 0.65, n_tokens >= 20")
    per_src: dict[str, int] = {}
    for r in deduped:
        per_src[r.source] = per_src.get(r.source, 0) + 1
    if not per_src or max(per_src.values()) <= MAX_PER_SOURCE:
        problems.append("the per-source cap never binds, so the gate does not test it")
    want, got = sorted(expected_curated(deduped)), sorted(tuple(r) for r in curated)
    if want != got:
        diff = sorted(set(want) ^ set(got))[:3]
        problems.append(f"curated rows differ from the recomputed cap and split "
                        f"({len(got)} vs {len(want)} rows), e.g. {diff}")
    return problems


def run(a, work, tracer: Tracer):
    from tools.check_correctness import table_hash

    corpus, sliced = os.path.join(work, "corpus"), os.path.join(work, "slice")
    os.makedirs(corpus)
    os.makedirs(sliced)
    docs = gen.documents(a.seed, CORPUS_DOCS)
    gen.write_documents(os.path.join(corpus, "documents.parquet"), docs)
    gen.write_documents(os.path.join(sliced, "documents.parquet"),
                        {k: v[:SLICE_DOCS] for k, v in docs.items()})

    t_setup = time.time()
    with tracer.span("session.get_session", "session") as sess:
        spark = session(work, CORES)
    # warm-up: one untimed chain over the corpus pays the cold start (JIT, workers)
    run_once(spark, corpus, Tracer(False), "warm", {}, {})
    setup_s = time.time() - t_setup

    first_job = measure.next_job_id(spark)
    reps, build_ms, outputs, t_measure = [], {}, {}, time.time()
    # the traced run times one chain, so its spans and Spark totals are one chain's
    while not reps or (not a.trace and (len(reps) < MIN_REPS
                                        or time.time() - t_measure < a.seconds)):
        *rep, curated = run_once(spark, corpus, tracer, f"rep{len(reps)}", build_ms, outputs)
        reps.append(tuple(rep))
    print("reps (job s, action s)", [tuple(round(x, 3) for x in r) for r in reps],
          file=sys.stderr)
    e2e = end_to_end(reps, setup_s)
    layers = trace_metrics(spark, tracer, first_job, reps, build_ms, sess.seconds) if a.trace else {}

    # correctness gates, outside the timed section: the query on the slice
    # equals the DuckDB oracle; on the full corpus, the last timed chain's
    # output equals its cap and split recomputed from minhash_dedup's rows
    t_gate = time.time()
    spark.sparkContext.setJobGroup("gate", "gate")
    slice_df = queries.q_curation_pipeline(spark, sliced)
    slice_cols, slice_rows = slice_df.columns, [tuple(r) for r in slice_df.collect()]
    slice_problems = []
    ocols, orows = oracle_rows(sliced)
    if (len(slice_rows), table_hash(slice_rows, [c.lower() for c in slice_cols])) != (
            len(orows), table_hash(orows, ocols)):
        slice_problems.append(
            f"slice differs from the DuckDB oracle ({len(slice_rows)} vs {len(orows)} rows)")
    # cached, so the curated rows (a fresh plan over it) reuse it
    d2 = outputs["minhash_dedup"].cache()
    deduped = d2.select("doc_id", "source", "lang", "n_tokens", "quality").collect()
    full_problems = full_corpus_problems(deduped, curated.select("*").collect())
    d2.unpersist()
    print(f"full corpus: {len(deduped)} rows past minhash_dedup; gates took "
          f"{time.time() - t_gate:.1f}s", file=sys.stderr)
    for p in slice_problems + full_problems:
        print("GATE", p, file=sys.stderr)
    # operations: every timed chain, and the two gates
    attempted = len(reps) + 2
    failed = int(bool(slice_problems)) + int(bool(full_problems))

    spark.stop()
    return not failed, attempted, failed, e2e, layers


def end_to_end(reps: list[tuple[float, float]], setup_s: float) -> dict[str, float]:
    """From (chain seconds, noop-write seconds) per timed chain:
    ``batch_job_s`` is the whole chain, plan build and its eager jobs
    included; ``replay_eps`` is documents per second of the final write
    alone."""
    return {
        "replay_eps": median([CORPUS_DOCS / act for _, act in reps]),
        "batch_job_s": median([job for job, _ in reps]),
        "setup_s": setup_s,
    }


def trace_metrics(spark, tracer, first_job, reps, build_ms, session_s) -> dict:
    """Per-layer numbers of the traced run's single chain; Spark work is split
    by the job group of the stage that launched it."""
    totals, jobs, stages = measure.spark_totals(spark, first_job)
    measure.attach_jobs(tracer, jobs)
    run_ms = {s["stageId"]: s["executorRunTime"] for s in stages}
    m = dict(totals)
    m["session.start_ms"] = session_s * 1000
    ((_, action_s),) = reps
    m["pipeline.action_ms"] = action_s * 1000
    for name in list(STAGES) + ["action"]:
        mine = [j for j in jobs if j["jobGroup"].split(":")[1] == name]
        key = f"pipeline.{name}." if name != "action" else "pipeline.action_"
        m[key + "jobs"] = float(len(mine))
        ms = sum(run_ms.get(s, 0) for j in mine for s in j["stageIds"])
        m[key + ("executor_run_ms" if name != "action" else "run_ms")] = float(ms)
        if name != "action":
            m[key + "build_ms"] = build_ms[name]
    return m
