#!/usr/bin/env python3
"""Isolated per-query timing with the noop sink (guide §1.4).

Times ONLY the computation of named queries — every column of every row
is computed and discarded via ``format("noop")`` — with bench.py's
hygiene (idle-gate check, clearCache + driver gc per sample, median of N
fresh samples, one untimed warm-up pass). Used for before/after evidence
of single-operator optimizations and settled re-runs of bench rows;
bench.py's ``.count()`` timing stays the cross-round comparable
artifact. The JSON carries the start/end load averages and bench.py's
single-thread ``cpu_calib_ms`` stamp, so a result is compared only
against a like host.

Usage: python tools/isolate_time.py name [name ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS,
     SPARK_GRAFT_BENCH_REPEATS (default 5), SPARK_GRAFT_IDLE_SKIP=1 to
     skip the idle assertion (contended A/B where both sides share the
     same contention), SPARK_GRAFT_EXTRA_CONF="k=v;k=v" to inject extra
     Spark confs for conf-level A/B experiments (recorded in the JSON).
"""

from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

sys.path.insert(0, ".")


def _cpu_calib_ms() -> float:
    """bench.py's single-thread calibration: a fixed pure-Python loop."""
    t0 = time.perf_counter()
    s = 0
    for i in range(5_000_000):
        s += i
    return round((time.perf_counter() - t0) * 1000, 1)


def main() -> int:
    names = sys.argv[1:]
    if not names:
        print("usage: isolate_time.py name [name ...]", file=sys.stderr)
        return 2
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "5"))
    la = os.getloadavg()
    if not os.environ.get("SPARK_GRAFT_IDLE_SKIP"):
        if la[0] > 1.5 or la[1] > 1.5:
            print(
                f"ERROR box not idle: load {la[0]:.2f}/{la[1]:.2f} — "
                "isolated numbers on a warm box prove nothing "
                "(SPARK_GRAFT_IDLE_SKIP=1 to override)",
                file=sys.stderr,
            )
            return 3

    from samza_spark import SessionConfig, get_session

    extra = {"spark.driver.memory": os.environ.get(
        "SPARK_GRAFT_BENCH_MEM", "8g")}
    extra_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for kv in filter(None, extra_conf.split(";")):
        k, _, v = kv.partition("=")
        extra[k.strip()] = v.strip()
    spark = get_session(
        SessionConfig(
            app_name="isolate_time",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra=extra,
        )
    )
    spark.sparkContext.setLogLevel("ERROR")

    from samza_spark.queries import QUERIES

    # session warm-up (JVM, file listing, Python worker pool) — untimed
    QUERIES["passthrough"](spark, sf_dir).count()

    results = {}
    for name in names:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"isolate: {name} (warm-up)")
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples = []
        for i in range(repeats):
            spark.catalog.clearCache()
            gc.collect()
            spark.sparkContext.setJobDescription(f"isolate: {name} [{i}]")
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        results[name] = {
            "median_sec": round(statistics.median(samples), 3),
            "samples": [round(s, 3) for s in samples],
        }
        print(f"# {name}: {results[name]}", file=sys.stderr)
    print(json.dumps({
        "sf_dir": sf_dir, "cpus": cpus, "noop_sink": True,
        "extra_conf": extra_conf, "repeats": repeats, "results": results,
        "cpu_calib_ms": min(_cpu_calib_ms() for _ in range(3)),
        "load_avg_start": [round(x, 2) for x in la],
        "load_avg_end": [round(x, 2) for x in os.getloadavg()],
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
