"""The measurement harness bench.py shares with tools/isolate_time.py: the
like-artifact match, the SIGALRM cap, the idle gate, and every measuring
script importing cleanly without a Spark session."""

import ast
import importlib
import importlib.util
import json
import signal
import sys
import time
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import bench  # noqa: E402

SCRIPTS = [ROOT / "bench.py"] + sorted((ROOT / "tools").glob("*.py"))
PROJECT = ("samza_spark", "perfbench", "bench", "tools")


def _artifact(path, sf, cpus, timed_action=None):
    line = {"metric": "headline_suite_median_sum", "cpu_calib_ms": 200.0,
            "streaming": {"stream_passthrough_msgs_per_sec": 1000}}
    if timed_action:
        line["timed_action"] = timed_action
    path.write_text(json.dumps({"cpus": cpus, "sf": sf,
                                "tail": "# log\n" + json.dumps(line)}))


def test_prev_artifact_matches_sf_cpus_and_timed_action(tmp_path):
    _artifact(tmp_path / "BENCH_r01.json", 0.1, 4, "noop")
    _artifact(tmp_path / "BENCH_r02.json", 0.1, 4)  # count-timed, newer
    _artifact(tmp_path / "BENCH_r03.json", 0.1, 8, "noop")
    _artifact(tmp_path / "BENCH_r04.json", 0.01, 4, "noop")
    _artifact(tmp_path / "BENCH_r05.json", 0.1, 4, "count")
    name, line = bench._prev_artifact(str(tmp_path), 0.1, 4)
    assert name == "BENCH_r01.json" and line["timed_action"] == "noop"
    assert bench._prev_artifact(str(tmp_path), 1.0, 4) == (None, None)
    (tmp_path / "BENCH_r01.json").unlink()
    assert bench._prev_artifact(str(tmp_path), 0.1, 4) == (None, None)


def test_count_timed_repo_artifacts_never_match():
    for p in ROOT.glob("BENCH_r*.json"):
        art = json.loads(p.read_text())
        assert bench._prev_artifact(str(ROOT), art.get("sf"), art.get("cpus")) == (None, None)


def test_capped_records_a_sleep_past_the_cap_and_restores_the_handler():
    def handler(_sig, _frm):
        pass

    previous = signal.signal(signal.SIGALRM, handler)
    try:
        secs, timed_out, result = bench.capped(lambda: time.sleep(3) or "done", 1)
        assert timed_out and result is None and 0.9 < secs < 2.5
        assert signal.getsignal(signal.SIGALRM) is handler
        assert bench.capped(lambda: "done", 1)[1:] == (False, "done")
        assert signal.getsignal(signal.SIGALRM) is handler
    finally:
        signal.signal(signal.SIGALRM, previous)


def test_idle_gate_with_zero_wait_stamps_a_timeout_at_once(monkeypatch):
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (9.0, 9.0, 9.0))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_IDLE_WAIT", "0")
    t0 = time.perf_counter()
    waited, load, timed_out = bench.idle_gate()
    assert time.perf_counter() - t0 < 0.5
    assert (waited, load, timed_out) == (0.0, (9.0, 9.0, 9.0), True)


def test_idle_gate_on_an_idle_host_does_not_wait(monkeypatch):
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.1, 0.2, 0.3))
    assert bench.idle_gate() == (0.0, (0.1, 0.2, 0.3), False)


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.relative_to(ROOT).as_posix())
def test_measuring_script_imports_and_its_engine_names_resolve(path):
    """Each script imports as a module without starting Spark, and every
    engine name it imports anywhere in its body (inside main() too) exists,
    so a script left behind by a deletion fails here, not on its next run."""
    from pyspark import SparkContext

    active = SparkContext._active_spark_context
    spec = importlib.util.spec_from_file_location(f"_script_{path.stem}", path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
    assert SparkContext._active_spark_context is active
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] in PROJECT:
                    importlib.import_module(alias.name)
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module.split(".")[0] in PROJECT
        ):
            mod = importlib.import_module(node.module)
            for alias in node.names:
                if not hasattr(mod, alias.name):
                    importlib.import_module(f"{node.module}.{alias.name}")


def test_isolate_time_reports_timing_and_exec_shape(spark, sf_dir):
    spec = importlib.util.spec_from_file_location(
        "_isolate_time", ROOT / "tools" / "isolate_time.py")
    isolate_time = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(isolate_time)
    out = isolate_time.time_query(spark, "passthrough", sf_dir, 1)
    assert out["median_sec"] > 0 and len(out["samples"]) == 1
    assert out["timeouts"] == 0
    assert out["jobs"] >= 1 and out["stages"] >= 1 and out["tasks"] >= 1
    assert out["shuffle_read_bytes"] >= 0 and out["shuffle_write_bytes"] >= 0
    assert out["plan_arrow_eval_python"] == out["plan_batch_eval_python"] == 0


def test_timed_sample_caps_a_query_stuck_in_a_jvm_call(spark, sf_dir, monkeypatch):
    """The cap fires while the driver waits on the JVM; py4j turns that into
    its own error, and the sample is still recorded at the cap and the
    session stays usable."""
    from samza_spark.queries import QUERIES

    def stuck(it):
        import time as _time

        for pdf in it:
            _time.sleep(4)
            yield pdf

    monkeypatch.setitem(
        QUERIES, "_stuck",
        lambda s, _sf: s.range(1, numPartitions=1).mapInPandas(stuck, "id long"))
    monkeypatch.setenv("SPARK_GRAFT_BENCH_QUERY_TIMEOUT", "1")
    secs, timed_out, df = bench.timed_sample(spark, "_stuck", sf_dir)
    assert timed_out and df is None and 0.9 < secs < 3.5
    assert spark.range(3).count() == 3
