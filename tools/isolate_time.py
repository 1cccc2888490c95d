#!/usr/bin/env python3
"""Isolated per-query timing and execution shape, through bench.py's
measurement harness.

Each named query gets one untimed warm-up sample, then N samples of
``bench.timed_sample`` (clearCache + driver gc, the SIGALRM cap, every
column of every row written to the noop sink — guide §1.4); the median is
reported. The last sample's execution shape comes with it: Spark jobs,
stages, tasks and shuffle read/write bytes (from the Spark UI), and the
ArrowEvalPython / BatchEvalPython / Exchange node counts of its physical
plan. The shape does not move with host speed, so it is before/after
evidence on a box whose timing drifts.

The host check is bench.py's: wait for an idle box up to
$SPARK_GRAFT_BENCH_IDLE_WAIT seconds (0 measures at once), then stamp
``idle_gate_timeout``; the JSON also carries ``cpu_calib_ms`` and the
start/end load averages, so a result is compared only against a like host.
A scaling slope is this tool run once per scale with $SPARK_GRAFT_SF_DIR
pointed at each (``tools/gen_scale_data.py`` makes sf0.5 and sf1).

Usage: python tools/isolate_time.py name [name ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS,
     SPARK_GRAFT_BENCH_REPEATS (default 5), SPARK_GRAFT_EXTRA_CONF="k=v;k=v"
     to inject extra Spark confs for conf-level A/B experiments (recorded in
     the JSON), and bench.py's SPARK_GRAFT_BENCH_IDLE_WAIT,
     SPARK_GRAFT_BENCH_MEM and SPARK_GRAFT_BENCH_QUERY_TIMEOUT.
"""

from __future__ import annotations

import io
import json
import os
import re
import statistics
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import bench  # noqa: E402
from perfbench.measure import next_job_id, spark_totals  # noqa: E402

PLAN_NODES = {
    "plan_arrow_eval_python": "ArrowEvalPython",
    "plan_batch_eval_python": "BatchEvalPython",
    "plan_exchanges": "Exchange",
}


def _settled_totals(spark, first_job: int):
    """``spark_totals`` once the UI has recorded the end of every job from
    ``first_job`` on (for at most 5 s): the status listener runs behind the
    driver."""
    deadline = time.monotonic() + 5.0
    while True:
        totals, jobs, stages = spark_totals(spark, first_job)
        if time.monotonic() > deadline or all(j["status"] != "RUNNING" for j in jobs):
            return totals, stages
        time.sleep(0.1)


def time_query(spark, name: str, sf_dir: str, repeats: int) -> dict:
    """Median and samples of ``repeats`` timed samples of query ``name``
    after one untimed warm-up, with the last sample's execution shape."""
    bench.timed_sample(spark, name, sf_dir)
    samples, timeouts = [], 0
    for _ in range(max(repeats, 1)):
        first_job = next_job_id(spark)
        secs, timed_out, df = bench.timed_sample(spark, name, sf_dir)
        samples.append(secs)
        timeouts += timed_out
    totals, stages = _settled_totals(spark, first_job)
    out = {
        "median_sec": round(statistics.median(samples), 3),
        "samples": [round(s, 3) for s in samples],
        "timeouts": timeouts,
        "jobs": int(totals["spark.jobs"]),
        "stages": len(stages),
        "tasks": int(totals["spark.tasks"]),
        "shuffle_read_bytes": int(totals["spark.shuffle_read_bytes"]),
        "shuffle_write_bytes": int(totals["spark.shuffle_write_bytes"]),
    }
    if df is not None:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        for key, op in PLAN_NODES.items():
            out[key] = len(re.findall(rf"^\(\d+\) {op}", buf.getvalue(), re.M))
    return out


def main() -> int:
    names = sys.argv[1:]
    if not names:
        print("usage: isolate_time.py name [name ...]", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "5"))
    waited, load_start, gate_timeout = bench.idle_gate()
    extra_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    extra = {}
    for kv in filter(None, extra_conf.split(";")):
        k, _, v = kv.partition("=")
        extra[k.strip()] = v.strip()
    spark = bench.bench_session(cpus, "isolate_time", extra)

    from samza_spark.queries import QUERIES

    # session warm-up (JVM, file listing, Python worker pool) — untimed
    QUERIES["passthrough"](spark, sf_dir).count()
    results = {}
    for name in names:
        results[name] = time_query(spark, name, sf_dir, repeats)
        print(f"# {name}: {results[name]}", file=sys.stderr)
    spark.stop()
    print(json.dumps({
        "sf_dir": sf_dir, "cpus": cpus, "timed_action": bench.TIMED_ACTION,
        "extra_conf": extra_conf, "repeats": repeats, "results": results,
        "cpu_calib_ms": bench.cpu_calib_ms(),
        "waited_for_idle_sec": waited, "idle_gate_timeout": gate_timeout,
        "load_avg_start": [round(x, 2) for x in load_start],
        "load_avg_end": [round(x, 2) for x in os.getloadavg()],
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
