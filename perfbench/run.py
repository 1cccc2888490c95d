"""Benchmark entry point.

    python3 perfbench/run.py --workload stateful_replay --seed 1 --seconds 10 --trace 0

Workloads (rationale in BENCHMARK.json, traffic dimensions and the layer map in
perfbench/layers.json):

* ``stateful_replay`` — closed-loop drains of a pre-generated partitioned
  ``samza_log`` through decode -> join_table -> triggered window ->
  DurableLocalTable: sources, micro-batches, state and table merges.
* ``batch_curation`` — the ``curation_pipeline`` chain over a generated
  corpus, timed to a ``noop`` write. Only the ``pipeline`` layer works.

The last stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). The traced run also writes its spans to
``.perfbench_work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import batch, measure, replay  # noqa: E402
from perfbench.env import prepare_env, stop_processes  # noqa: E402
from perfbench.measure import MemSampler, Tracer  # noqa: E402

WORKLOADS = ["stateful_replay", "batch_curation"]
END_TO_END = ["replay_eps", "batch_job_s", "setup_s", "peak_mem_mb"]
SELF_TIME_LAYERS = ["session", "operators", "sources", "microbatch", "tables",
                    "pipeline", "spark"]
# per-layer metrics by layer; a workload reports 0 for a layer it bypasses
PER_LAYER = {
    "sources": ["sources.latest_offset_ms", "sources.scan_task_ms_per_1k",
                "sources.input_rows", "sources.first_batch_rows"],
    "microbatch": ["microbatch.count", "microbatch.trigger_ms_p50",
                   "microbatch.planning_ms_p50", "microbatch.commit_ms_p50"],
    "streaming": ["streaming.state_rows", "streaming.state_bytes",
                  "streaming.state_commit_ms", "streaming.state_op_task_ms",
                  "streaming.rows_dropped_late", "streaming.panes_emitted"],
    "tables": ["tables.merge_calls", "tables.merge_ms_p50", "tables.merge_ms_max",
               "tables.compactions", "tables.changelog_bytes"],
    "operators": ["operators.build_ms"],
    "session": ["session.start_ms"],
    "pipeline": [f"pipeline.{st}.{m}" for st in batch.STAGES
                 for m in ("build_ms", "jobs", "executor_run_ms")]
    + ["pipeline.action_ms", "pipeline.action_jobs", "pipeline.action_run_ms"],
    "spark": ["spark.jobs", "spark.tasks", "spark.executor_run_ms",
              "spark.executor_cpu_ms", "spark.gc_ms", "spark.shuffle_read_bytes",
              "spark.shuffle_write_bytes", "spark.spill_bytes"],
    "trace": [f"trace.{layer}_self_ms" for layer in SELF_TIME_LAYERS]
    + ["trace.spans"] + [f"traced.{m}" for m in END_TO_END],
    "baseline": ["baseline.local1_replay_eps"],
}
LAYERS_USED = {
    "stateful_replay": {"sources", "microbatch", "streaming", "tables", "operators",
                        "session", "spark", "trace", "baseline"},
    "batch_curation": {"pipeline", "session", "spark", "trace"},
}


def parse(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def unit(metric: str) -> str:
    for suffix, u in (("_eps", "events/s"), ("_ms_per_1k", "ms/1k"), ("_ms", "ms"),
                      ("_s", "s"), ("_mb", "MB"), ("_bytes", "bytes")):
        if metric.endswith(suffix) or f"{suffix}_" in metric:
            return u
    return "count"


def per_layer(workload: str, got: dict, e2e: dict, tracer: Tracer) -> dict:
    """Every per-layer metric: the workload's own, the traced run's
    end-to-end values and span self times, and 0 for bypassed layers."""
    got = dict(got)
    got.update({f"traced.{k}": v for k, v in e2e.items()})
    got.update({f"trace.{k}_self_ms": v for k, v in measure.layer_self_ms(tracer.spans).items()
                if k in SELF_TIME_LAYERS})
    got["trace.spans"] = float(len(tracer.spans))
    out = {}
    for layer, names in PER_LAYER.items():
        for name in names:
            if layer in LAYERS_USED[workload] and not name.endswith("_self_ms"):
                out[name] = float(got[name])  # KeyError: a metric went missing
            else:
                out[name] = float(got.get(name, 0.0))
    return out


def main(argv) -> int:
    a = parse(argv)
    # a SIGTERM unwinds like an error, so the finally below still stops Spark
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    tracer = Tracer(bool(a.trace))
    try:
        run = batch.run if a.workload == "batch_curation" else replay.run
        with MemSampler() as mem:
            correct, attempted, failed, e2e, layers = run(a, work, tracer)
        e2e["peak_mem_mb"] = mem.peak_mb
        metrics = per_layer(a.workload, layers, e2e, tracer) if a.trace else e2e
        if a.trace:
            spans = os.path.join(ROOT, ".perfbench_work", f"trace-{a.workload}-{a.seed}.json")
            tracer.dump(spans)
            print(f"spans written to {spans}", file=sys.stderr)
    finally:
        stop_processes()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
