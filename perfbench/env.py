"""The Spark session every workload runs on, and the files it may write."""

from __future__ import annotations

import os
import signal
import sys
import time

from samza_spark import SessionConfig, get_session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 3  # local[k], k = nproc - 1 on the 4-core reference host
HEAP = "1g"  # -Xms = -Xmx
NO_PERF_FILE = "-XX:+PerfDisableSharedMem"


def prepare_env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside the
    work directory, and let workers import the engine from the checkout."""
    for sub in ("tmp", "local", "warehouse", "ckpt"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    # HotSpot writes its perf counters under /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = NO_PERF_FILE


def session(work: str, cores: int):
    spark = get_session(SessionConfig(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra={
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} {NO_PERF_FILE} -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.checkpointLocation": os.path.join(work, "ckpt"),
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "10000",
        },
    ))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(root: int) -> list[int]:
    from perfbench.measure import _processes

    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in _processes().items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def _alive(pid: int) -> bool:
    """A process that has not ended: it exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def stop_processes(timeout_s: float = 30.0) -> None:
    """Stop Spark, the JVM it runs in and every process this one started (the
    Python workers the JVM forks included), and wait until each has ended.
    Safe to call whether or not a session was ever started."""
    from pyspark import SparkContext

    tree = _descendants(os.getpid())
    if SparkContext._active_spark_context is not None:
        try:
            SparkContext._active_spark_context.stop()
        except Exception:  # a broken context: the JVM is killed below anyway
            pass
        tree = sorted(set(tree) | set(_descendants(os.getpid())))
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
        except OSError:
            pass
        try:
            proc.wait(timeout=timeout_s / 2)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in tree:
            if _alive(pid):
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        while any(_alive(pid) for pid in tree) and time.monotonic() < deadline:
            _reap()
            time.sleep(0.05)
        if not any(_alive(pid) for pid in tree):
            break
        deadline = time.monotonic() + timeout_s
    _reap()


def _reap() -> None:
    """Collect the exit status of any child of this process that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
