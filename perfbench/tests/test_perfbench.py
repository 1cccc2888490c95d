"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import batch, gen, replay, run, stream  # noqa: E402
from perfbench.measure import Span, Tracer, layer_self_ms, median, self_times  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# -- inputs ------------------------------------------------------------------------


def _log_bytes(tmp_path, name, seed):
    d = tmp_path / name
    gen.write_log(str(d), gen.events(seed, 5_000, replay.T0_MS))
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_same_seed_gives_byte_identical_log(tmp_path):
    assert _log_bytes(tmp_path, "a", 7) == _log_bytes(tmp_path, "b", 7)


def test_different_seed_gives_different_log(tmp_path):
    assert _log_bytes(tmp_path, "a", 7) != _log_bytes(tmp_path, "b", 8)


def test_same_seed_gives_identical_corpus(tmp_path):
    a, b, c = (gen.documents(s, 300) for s in (5, 5, 6))
    gen.write_documents(str(tmp_path / "a.parquet"), a)
    gen.write_documents(str(tmp_path / "b.parquet"), b)
    assert (tmp_path / "a.parquet").read_bytes() == (tmp_path / "b.parquet").read_bytes()
    assert a["text"] != c["text"]


def test_corpus_prefix_is_the_smaller_corpus():
    big, small = gen.documents(3, 400), gen.documents(3, 150)
    assert big["text"][:150] == small["text"]


def test_event_shares_and_late_windows_are_unique():
    ev = gen.events(1, 100_000, replay.T0_MS)
    assert abs((ev["kind"] == 1).mean() - gen.OOO_SHARE) < 0.01
    assert abs((ev["kind"] == 2).mean() - gen.LATE_SHARE) < 0.002
    late_windows = ev["ts"][ev["kind"] == 2] // gen.WINDOW_MS
    assert len(set(late_windows.tolist())) == len(late_windows)
    assert late_windows.max() < (replay.T0_MS - gen.OOO_MAX_MS) // gen.WINDOW_MS
    assert np.all(ev["part"] == ev["rank"] % gen.PARTITIONS)


# -- correctness gate ------------------------------------------------------------


def _pane(key, ws_ms, seq, final, n, amount):
    from datetime import datetime
    from types import SimpleNamespace

    return SimpleNamespace(key=key, window_start=datetime.fromtimestamp(ws_ms / 1000),
                           pane_seq=seq, is_final=final, n=n, amount=amount)


def test_reference_sums_each_window_of_the_log():
    recs = [{"key": "k0001", "ts": 1_000, "v": 3}, {"key": "k0001", "ts": 1_099, "v": 4},
            {"key": "k0001", "ts": 1_100, "v": 5}, {"key": "k0002", "ts": 1_000, "v": 1}]
    w1, w2 = gen.key_weight(1), gen.key_weight(2)
    assert stream.reference(recs) == {
        ("k0001", 1_000): (2, 7.0 * w1), ("k0001", 1_100): (1, 5.0 * w1),
        ("k0002", 1_000): (1, 1.0 * w2)}


def test_check_table_accepts_the_reference_and_reports_each_defect():
    ref = {("k0001", 1_000): (3, 30.0), ("k0002", 1_000): (1, 5.0)}
    good = [_pane("k0001", 1_000, 0, False, 2, 20.0), _pane("k0001", 1_000, 1, True, 3, 30.0),
            _pane("k0002", 1_000, 0, True, 1, 5.0)]
    assert stream.check_table(good, ref) == []
    assert stream.check_table(good[1:], ref)  # pane 0 missing
    assert stream.check_table(good[:1] + good[2:], ref)  # no final pane
    wrong = good[:1] + [_pane("k0001", 1_000, 1, True, 3, 31.0)] + good[2:]
    assert stream.check_table(wrong, ref)
    assert stream.check_table(good + [_pane("k0003", 1_000, 0, True, 1, 1.0)], ref)


def test_timed_table_counts_compactions(monkeypatch):
    """A merge that compacts leaves the mutation counter at 0, whatever it
    writes to ``changelog/`` after compacting."""
    from samza_spark.tables.local import DurableLocalTable

    def merge(self, updates, mode="upsert"):  # compacts every compact_every-th merge
        self._mutations_since_compact = (self._mutations_since_compact + 1) % self.compact_every

    monkeypatch.setattr(DurableLocalTable, "merge_batch", merge)
    t = stream.TimedTable.__new__(stream.TimedTable)
    t.compact_every, t._mutations_since_compact = 3, 0
    t.tracer, t.merges, t.compactions = Tracer(False), [], 0
    for _ in range(7):
        t.merge_batch(None)
    assert (t.compactions, len(t.merges)) == (2, 7)


def _row(doc_id, source, quality, n_tokens=30, lang="en"):
    from types import SimpleNamespace

    return SimpleNamespace(doc_id=doc_id, source=source, lang=lang, n_tokens=n_tokens,
                           quality=quality)


def test_split_of_matches_the_oracle_bucket():
    # DuckDB: ('0x' || substr(md5('split0|' || doc_id), 1, 8))::BIGINT % 100
    import hashlib

    for doc_id in range(300):
        b = int(hashlib.md5(f"split0|{doc_id}".encode()).hexdigest()[:8], 16) % 100
        assert batch.split_of(doc_id) == ("train" if b < 98 else "val" if b < 99 else "test")
    assert {batch.split_of(i) for i in range(2000)} == {"train", "val", "test"}


def test_full_corpus_gate_recomputes_cap_and_split():
    cap = batch.MAX_PER_SOURCE
    deduped = [_row(i, "a", 0.7 + (i % 7) / 100) for i in range(cap + 10)]
    deduped += [_row(100 + i, "b", 0.9) for i in range(3)]
    want = batch.expected_curated(deduped)
    assert len(want) == cap + 3
    kept_a = [r for r in deduped if r.source == "a"]
    top = sorted(kept_a, key=lambda r: (-r.quality, r.doc_id))[:cap]
    assert {w[0] for w in want if w[1] == "a"} == {r.doc_id for r in top}
    assert batch.full_corpus_problems(deduped, want) == []
    # keeping the wrong document of a capped source is caught
    dropped = next(r for r in kept_a if r.doc_id not in {t.doc_id for t in top})
    wrong = [w for w in want if w[0] != top[-1].doc_id] + [
        (dropped.doc_id, "a", "en", 30, dropped.quality, batch.split_of(dropped.doc_id))]
    assert batch.full_corpus_problems(deduped, wrong)
    # so is a wrong split
    flip = [w[:5] + ("test" if w[5] != "test" else "train",) if i == 0 else w
            for i, w in enumerate(want)]
    assert batch.full_corpus_problems(deduped, flip)
    # and a corpus on which the cap never binds does not pass as a test of it
    small = deduped[-3:]
    assert batch.full_corpus_problems(small, batch.expected_curated(small))


def test_stage_hooks_wrap_and_restore_the_stage_functions():
    from types import SimpleNamespace

    from samza_spark.pipeline import dedup, text

    groups = []
    spark = SimpleNamespace(sparkContext=SimpleNamespace(
        setJobGroup=lambda g, d: groups.append(g)))
    originals = {n: getattr(m, n) for n, m in batch.STAGES.items()}
    tracer, build_ms, outputs = Tracer(True), {}, {}
    with batch.stage_hooks(spark, tracer, "rep0", build_ms, outputs):
        assert all(getattr(m, n) is not originals[n] for n, m in batch.STAGES.items())
        # the query reaches the wrapper through the module attribute
        with pytest.raises(Exception):
            text.text_profile(None)
        assert dedup.exact_dedup.__name__ == "stage"
    assert {n: getattr(m, n) for n, m in batch.STAGES.items()} == originals
    assert groups == ["rep0:text_profile"]
    assert [s.name for s in tracer.spans] == ["pipeline.text_profile"]


# -- spans ---------------------------------------------------------------------------


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("root", "a", 0.0, 10.0),
        Span("c1", "b", 1.0, 4.0, parent=0),
        Span("c2", "b", 3.0, 6.0, parent=0),  # overlaps c1: 1..6 covered once
        Span("c3", "c", 8.0, 12.0, parent=0),  # clipped to the parent at 10
        Span("g", "c", 1.5, 2.0, parent=1),
    ]
    assert self_times(spans) == pytest.approx([3.0, 2.5, 3.0, 4.0, 0.5])
    assert layer_self_ms(spans) == pytest.approx({"a": 3000, "b": 5500, "c": 4500})


def test_tracer_nests_spans_and_disabled_tracer_records_nothing():
    t = Tracer(True)
    with t.span("outer", "x"):
        with t.span("inner", "y"):
            pass
    assert [s.parent for s in t.spans] == [None, 0]
    off = Tracer(False)
    with off.span("outer", "x") as sp:
        pass
    assert off.spans == [] and sp.seconds >= 0


def test_memory_tree_counts_a_spawning_jvm_once():
    from perfbench.measure import counted

    procs = {1: (0, "python3"), 2: (1, "java"), 3: (2, "java"), 4: (2, "python3"),
             5: (4, "python3"), 6: (3, "python3"), 9: (0, "java")}
    # 3 is the JVM's child before exec; its own children still count
    assert counted(procs, 1) == [1, 2, 4, 5, 6]


def test_median():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 2, 3]) == 2.5
    with pytest.raises(ValueError):
        median([])


# -- metrics -------------------------------------------------------------------------


def test_benchmark_json_is_well_formed():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["paths"] == ["perfbench"] and b["command"][1].startswith("perfbench/")
    assert [w["name"] for w in b["workloads"]] == run.WORKLOADS
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    for m in b["end_to_end"] + b["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"]), m
        assert m["better"] in ("higher", "lower") and m["unit"] == run.unit(m["name"])
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert [m["name"] for m in b["end_to_end"]] == run.END_TO_END
    assert [m["name"] for m in b["per_layer"]] == [n for ns in run.PER_LAYER.values() for n in ns]
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in b["workloads"])


def test_layer_map_covers_every_streaming_and_batch_layer():
    with open(os.path.join(ROOT, "perfbench", "layers.json")) as f:
        layers = json.load(f)["layers"]
    assert set(layers) == set(run.PER_LAYER) - {"trace", "baseline"}
    for name, layer in layers.items():
        for w in run.WORKLOADS:
            assert (w in layer["moves"]) == (name in run.LAYERS_USED[w]), (name, w)
            assert (w in layer["zero_on"]) == (name not in run.LAYERS_USED[w]), (name, w)


def test_layers_json_traffic_is_the_code_constants():
    from perfbench import env

    with open(os.path.join(ROOT, "perfbench", "layers.json")) as f:
        doc = json.load(f)
    r, b = doc["traffic"]["stateful_replay"], doc["traffic"]["batch_curation"]
    assert (doc["cores"], doc["jvm_heap"]) == (env.CORES, env.HEAP)
    assert r["events"] == replay.EVENTS and r["partitions"] == gen.PARTITIONS
    assert (r["keys"], r["key_zipf_exponent"]) == (gen.N_KEYS, gen.KEY_ZIPF_S)
    assert (r["event_step_ms"], r["window_ms"]) == (gen.EVENT_STEP_MS, gen.WINDOW_MS)
    assert (r["out_of_order_share"], r["out_of_order_max_ms"], r["late_share"]) == (
        gen.OOO_SHARE, gen.OOO_MAX_MS, gen.LATE_SHARE)
    assert (r["count_trigger"], r["max_records_per_trigger_per_partition"]) == (
        replay.COUNT_TRIGGER, replay.MAX_PER_TRIGGER)
    assert r["compact_every"] == stream.COMPACT_EVERY
    assert (b["documents"], b["oracle_slice_documents"]) == (batch.CORPUS_DOCS, batch.SLICE_DOCS)
    assert (b["vocabulary_words"], b["vocabulary_zipf_exponent"]) == (
        gen.VOCAB_WORDS, gen.VOCAB_ZIPF_S)
    assert b["max_per_source"] == batch.MAX_PER_SOURCE


def _changed(before: dict, after: dict) -> set:
    return {k for k in before if before[k] != after[k]}


def test_replay_metrics_are_not_derived_from_one_another():
    base = replay.end_to_end([(10.0, 4.0), (11.0, 4.5)], 30.0)
    assert _changed(base, replay.end_to_end([(12.0, 4.0), (13.0, 4.5)], 30.0)) == {"replay_eps"}
    assert _changed(base, replay.end_to_end([(10.0, 5.0), (11.0, 5.5)], 30.0)) == {"batch_job_s"}
    assert _changed(base, replay.end_to_end([(10.0, 4.0), (11.0, 4.5)], 31.0)) == {"setup_s"}


def test_batch_metrics_are_not_derived_from_one_another():
    base = batch.end_to_end([(6.0, 2.0), (6.5, 2.2)], 40.0)
    # a slower plan build with the same final write moves batch_job_s only
    assert _changed(base, batch.end_to_end([(7.0, 2.0), (7.5, 2.2)], 40.0)) == {"batch_job_s"}
    assert _changed(base, batch.end_to_end([(6.0, 2.5), (6.5, 2.7)], 40.0)) == {"replay_eps"}


def test_per_layer_zeroes_bypassed_layers_and_refuses_missing_metrics():
    own = {n: 1.0 for n in run.PER_LAYER["pipeline"] + run.PER_LAYER["spark"]}
    own["session.start_ms"] = 1.0
    e2e = {"replay_eps": 1.0, "batch_job_s": 1.0, "setup_s": 1.0, "peak_mem_mb": 1.0}
    out = run.per_layer("batch_curation", own, e2e, Tracer(True))
    assert list(out) == [n for ns in run.PER_LAYER.values() for n in ns]
    assert out["tables.merge_calls"] == 0.0 and out["pipeline.action_ms"] == 1.0
    del own["spark.jobs"]
    with pytest.raises(KeyError):
        run.per_layer("batch_curation", own, e2e, Tracer(True))


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the run
    exits non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "stateful_replay",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout.strip() == ""


def test_stop_processes_ends_children_and_grandchildren():
    """Everything the run started (here a child and the grandchild it forks,
    as the JVM forks Python workers) has ended when stop_processes returns."""
    script = (
        "import subprocess, sys, time\n"
        f"sys.path.insert(0, {ROOT!r})\n"
        "from perfbench.env import _descendants, _alive, stop_processes\n"
        "import os\n"
        "sleep = [sys.executable, '-c', 'import subprocess, sys, time; "
        "subprocess.Popen([sys.executable, \"-c\", \"import time; time.sleep(60)\"]); "
        "time.sleep(60)']\n"
        "subprocess.Popen(sleep)\n"
        "deadline = time.time() + 20\n"
        "while len(_descendants(os.getpid())) < 2 and time.time() < deadline:\n"
        "    time.sleep(0.05)\n"
        "tree = _descendants(os.getpid())\n"
        "stop_processes(timeout_s=10)\n"
        "print(len(tree), sum(map(_alive, tree)))\n"
    )
    p = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True,
                       timeout=60)
    assert p.stdout.split() == ["2", "0"], p.stderr
