"""The stateful_replay workload: closed-loop drains of a pre-generated log."""

from __future__ import annotations

import glob
import os
import sys
import time
from datetime import datetime

from perfbench import gen, measure, stream
from perfbench.env import CORES, session
from perfbench.measure import Tracer, median

EVENTS = 60_000
MAX_PER_TRIGGER = 10_000  # per partition; ignored on a fresh query's first trigger at HEAD
COUNT_TRIGGER = 20
T0_MS = 1_700_000_000_000
DRAIN_TIMEOUT_S = 120.0
MIN_DRAINS = 2  # a third drain made the runs too long for the time budget

PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"]


def _phase(p: dict, name: str) -> float:
    return float(p["durationMs"].get(name, 0))


def drain(spark, log_dir: str, table_dir: str, dim, n: int, tracer: Tracer) -> dict:
    """Start the job on a fresh checkpoint and table, wait until every window
    is closed and merged, stop. ``drain_s`` runs from ``start()`` to the end of
    the merge of the last result."""
    table = stream.open_table(spark, stream.fresh_dir(table_dir), tracer)
    t_start = time.time()
    with tracer.span("operators.build_and_start", "operators") as build:
        q = stream.start_job(spark, log_dir, table, dim, COUNT_TRIGGER, MAX_PER_TRIGGER,
                             tracer)
    try:
        last = stream.wait_closed(q, n, DRAIN_TIMEOUT_S)
    finally:
        q.stop()
    progs = [p for p in q.recentProgress if p["batchId"] <= last["batchId"]]
    end = table.merges[last["batchId"]][1]
    return {"table": table, "progs": progs, "drain_s": end - t_start,
            "build_s": build.seconds}


def run(a, work, tracer: Tracer):

    log_dir = os.path.join(work, "log")
    gen.write_log(log_dir, gen.events(a.seed, EVENTS, T0_MS))

    t_setup = time.time()
    with tracer.span("session.get_session", "session") as sess:
        spark = session(work, CORES)
    dim = stream.dim_table(spark)
    # warm-up: one untimed drain pays the cold start (Python workers, JIT)
    drain(spark, log_dir, os.path.join(work, "warm"), dim, EVENTS, Tracer(False))
    setup_s = time.time() - t_setup

    first_job = measure.next_job_id(spark)
    drains, failed, t_measure = [], 0, time.time()
    # the traced run drains once, so its spans and Spark totals are one drain's
    while not drains or (not a.trace and (len(drains) < MIN_DRAINS
                                          or time.time() - t_measure < a.seconds)):
        try:
            drains.append(drain(spark, log_dir, os.path.join(work, f"table-{len(drains)}"),
                                dim, EVENTS, tracer))
        except (RuntimeError, TimeoutError) as e:  # a micro-batch raised, or a drain hung
            print("FAILED drain:", e, file=sys.stderr)
            failed += 1
            if failed > 2:
                raise
    for d in drains:
        print(f"drain {d['drain_s']:.3f}s: triggers (ms)",
              [p["durationMs"]["triggerExecution"] for p in d["progs"]], "merges (s)",
              [round(e - b, 3) for b, e in d["table"].merges], file=sys.stderr)
    e2e = end_to_end(
        [(d["drain_s"], _phase(d["progs"][-1], "triggerExecution") / 1000) for d in drains],
        setup_s)
    layers = trace_metrics(spark, tracer, drains, first_job, sess.seconds) if a.trace else {}

    # correctness gate, outside the timed section: every drain read the whole
    # log; the last drain's restored table matches the reference
    ref = stream.reference(stream.read_log(log_dir))
    rows = stream.restore_rows(spark, drains[-1]["table"]._path)
    problems = stream.check_table(rows, ref)
    for d in drains:
        if sum(p["numInputRows"] for p in d["progs"]) != EVENTS:
            problems.append("input rows != generated events")
    for p in problems:
        print("GATE", p, file=sys.stderr)
    # operations: every micro-batch of the measured drains (a failed drain
    # counts once), and the gate
    attempted = sum(len(d["progs"]) for d in drains) + failed + 1
    failed += int(bool(problems))
    spark.stop()
    if a.trace:
        layers["streaming.panes_emitted"] = float(len(rows))
        layers["baseline.local1_replay_eps"] = local1_baseline(work, log_dir)
    return not problems, attempted, failed, e2e, layers


def end_to_end(drains: list[tuple[float, float]], setup_s: float) -> dict[str, float]:
    """From (drain seconds, seconds of the closing micro-batch) per drain:
    ``replay_eps`` is events over the drain; ``batch_job_s`` is the micro-batch
    with no input that closes every window and merges the final panes, the
    per-trigger cost of state sweep and table merge (the drain also holds
    start-up and the micro-batch that reads the backlog)."""
    return {
        "replay_eps": median([EVENTS / drain_s for drain_s, _ in drains]),
        "batch_job_s": median([close_s for _, close_s in drains]),
        "setup_s": setup_s,
    }


def local1_baseline(work: str, log_dir: str) -> float:
    """replay_eps of one drain of the same backlog on a local[1] session in
    the already warm JVM."""
    spark = session(work, 1)
    try:
        dim = stream.dim_table(spark)
        d = drain(spark, log_dir, os.path.join(work, "l1-table"), dim, EVENTS, Tracer(False))
        return EVENTS / d["drain_s"]
    finally:
        spark.stop()


# -- traced run ------------------------------------------------------------------


def trigger_spans(tracer: Tracer, progs: list[dict]) -> None:
    """Micro-batch spans from progress: the trigger with its phases laid out in
    execution order. The bench-recorded merge of batch i becomes a child of
    batch i's addBatch."""
    merges = {s.trace_id: i for i, s in enumerate(tracer.spans) if s.name == "tables.merge_batch"}
    for p in progs:
        t0 = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        tid = f"batch-{p['batchId']}"
        root = tracer.add("microbatch.trigger", "microbatch", t0,
                          t0 + _phase(p, "triggerExecution") / 1000, trace_id=tid)
        t = t0
        for ph in PHASES:
            d = _phase(p, ph) / 1000
            idx = tracer.add(f"microbatch.{ph}", "microbatch", t, t + d, root, tid)
            if ph == "addBatch" and tid in merges:
                tracer.spans[merges[tid]].parent = idx
            t += d


def progress_metrics(progs: list[dict]) -> dict[str, float]:
    ops = [p["stateOperators"][0] for p in progs if p["stateOperators"]]
    return {
        "sources.latest_offset_ms": median([_phase(p, "latestOffset") for p in progs]),
        "sources.input_rows": float(sum(p["numInputRows"] for p in progs)),
        "sources.first_batch_rows": float(progs[0]["numInputRows"]),
        "microbatch.count": float(len(progs)),
        "microbatch.trigger_ms_p50": median([_phase(p, "triggerExecution") for p in progs]),
        "microbatch.planning_ms_p50": median([_phase(p, "queryPlanning") for p in progs]),
        "microbatch.commit_ms_p50": median(
            [_phase(p, "walCommit") + _phase(p, "commitOffsets") for p in progs]),
        "streaming.state_rows": float(max(o["numRowsTotal"] for o in ops)),
        "streaming.state_bytes": float(max(o["memoryUsedBytes"] for o in ops)),
        "streaming.state_commit_ms": float(sum(o["commitTimeMs"] for o in ops)),
        "streaming.rows_dropped_late": float(
            sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)),
    }


def trace_metrics(spark, tracer, drains, first_job, session_s) -> dict:
    """Per-layer numbers of the traced run's single drain."""
    (last,) = drains
    trigger_spans(tracer, last["progs"])
    m = progress_metrics(last["progs"])
    totals, jobs, stages = measure.spark_totals(spark, first_job)
    measure.attach_jobs(tracer, jobs)
    m.update(totals)
    # the map-side stage reads samza_log (and decodes and joins); the stages
    # that read the shuffle run the stateful operator and the table writes
    scan = sum(s["executorRunTime"] for s in stages
               if s["shuffleWriteBytes"] > 0 and s["shuffleReadBytes"] == 0)
    m["sources.scan_task_ms_per_1k"] = 1000.0 * scan / EVENTS
    m["streaming.state_op_task_ms"] = float(sum(
        s["executorRunTime"] for s in stages if s["shuffleReadBytes"] > 0))
    merges = [(e - s) * 1000 for s, e in last["table"].merges]
    m.update({
        "tables.merge_calls": float(len(merges)),
        "tables.merge_ms_p50": median(merges),
        "tables.merge_ms_max": max(merges),
        "tables.compactions": float(last["table"].compactions),
        "tables.changelog_bytes": float(sum(
            os.path.getsize(f) for f in
            glob.glob(os.path.join(last["table"]._path, "changelog", "*.parquet")))),
        "operators.build_ms": last["build_s"] * 1000,
        "session.start_ms": session_s * 1000,
    })
    return m
