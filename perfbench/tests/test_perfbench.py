"""The benchmark's own tests: input determinism, the percentile rule,
span and event-log folding, the metric list against BENCHMARK.json,
and a tiny-size smoke run of each workload.

Run from the repo root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import eventlog, gen, harness  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import batch_pipeline, online_serving  # noqa: E402

BP = batch_pipeline.SIZES["tiny"]
OS = online_serving.SIZES["tiny"]


def _ipc(table) -> bytes:
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().to_pybytes()


def _inputs(seed: int) -> list[bytes]:
    tables = [
        *gen.pit_inputs(seed, BP["pit"]).values(),
        gen.refresh_base(seed, BP["refresh"]),
        gen.refresh_batch(seed, 3, BP["refresh"]),
        *gen.corpus(seed, BP["corpus"]).values(),
        gen.serving_features(seed, OS),
        gen.flight_table(seed, OS),
    ]
    arrays = [
        gen.clustered_vectors(seed, 10, OS["ivf_vectors"], OS["dim"]).tobytes(),
        gen.request_kinds(seed, 1000, online_serving.MIX).tobytes(),
        gen.request_entities(seed, 1000, OS).tobytes(),
    ]
    return [_ipc(t) for t in tables] + arrays


def test_same_seed_gives_identical_inputs():
    assert _inputs(7) == _inputs(7)


def test_other_seed_gives_other_inputs():
    a, b = _inputs(7), _inputs(8)
    assert all(x != y for x, y in zip(a, b))


def test_refresh_batches_are_key_unique_and_mix_updates():
    sz = BP["refresh"]
    seen = set(range(sz["base_entities"]))
    for i in range(5):
        ids = gen.refresh_batch(1, i, sz).column("entity_id").to_pylist()
        assert len(ids) == len(set(ids)) == sz["batch_rows"]
        upd = sum(1 for e in ids if e in seen)
        assert upd == round(sz["batch_rows"] * sz["update_share"])
        seen.update(ids)


@pytest.mark.parametrize(
    "n, p, beyond",
    [(1000, 99.0, 10), (999, 90.0, 99), (200, 90.0, 20), (19, 50.0, 9), (5000, 99.0, 50)],
)
def test_tail_reports_highest_percentile_with_ten_beyond(n, p, beyond):
    values = list(range(1, n + 1))
    got_p, got_v, got_n = harness.tail(values)
    assert (got_p, got_n) == (p, n)
    assert got_v == harness.percentile(values, p)
    assert sum(1 for v in values if v > got_v) == beyond


def test_percentile_is_nearest_rank():
    assert harness.percentile([5, 1, 3, 2, 4], 50) == 3
    assert harness.percentile(list(range(1, 101)), 99) == 99
    assert harness.median([4, 1, 3, 2]) == 2.5


def test_block_rate_is_robust_to_one_stalled_block():
    times = [0.01] * 300
    times[150] = 1.0  # one stall inside the second block of 100
    assert harness.block_rate(times, 100) == pytest.approx(100.0)
    assert harness.block_rate([0.5], 1) == pytest.approx(2.0)
    assert harness.block_rate([0.5, 0.5], 100) == pytest.approx(2.0)


def test_kind_gmean_weighs_every_kind_equally():
    samples = {"fast": [0.001] * 98 + [9.0, 9.0], "slow": [0.1, 0.1], "other": [5.0]}
    g, n = harness.kind_gmean(samples, ("fast", "slow", "missing"))
    assert g == pytest.approx(0.01) and n == 102
    samples["slow"] = [1.0, 1.0]  # x10 on one of two kinds: x10 ** (1/2)
    assert harness.kind_gmean(samples, ("fast", "slow"))[0] == pytest.approx(0.01 * 10**0.5)


def test_self_time_subtracts_union_of_children():
    spans = [
        (1, None, "a", 0.0, 10.0),
        (2, 1, "b", 1.0, 4.0),
        (3, 1, "c", 3.0, 6.0),  # overlaps b: union 1..6 counts once
        (4, 2, "d", 1.5, 2.0),
    ]
    st = harness.self_times(spans)
    assert st[1] == pytest.approx(5.0)
    assert st[2] == pytest.approx(2.5)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_recorder_keeps_spans_only_when_tracing():
    for trace in (False, True):
        rec = harness.Recorder(trace, "r")
        with rec.span("outer"):
            with rec.span("inner"):
                pass
        assert set(rec.samples) == {"outer", "inner"}
        assert len(rec.spans) == (2 if trace else 0)
    inner, outer = rec.spans
    assert inner[1] == outer[0] and outer[1] is None


def test_muted_spans_record_nothing():
    rec = harness.Recorder(True, "r")
    with rec.span("outer"), rec.muted():
        with rec.span("inner"):
            pass
    with rec.span("after"):
        pass
    assert set(rec.samples) == {"outer", "after"} and len(rec.spans) == 2


def test_recorder_nests_spans_per_thread_under_contention():
    import threading

    rec = harness.Recorder(True, "r")
    n_threads, n_spans = 8, 300

    def work(k):
        for _ in range(n_spans):
            with rec.span(f"outer{k}"):
                with rec.span(f"inner{k}"):
                    pass

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(k,)) for k in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    by_id = {s[0]: s for s in rec.spans}
    assert len(by_id) == len(rec.spans) == 2 * n_threads * n_spans
    for sid, parent, name, *_ in rec.spans:
        if name.startswith("inner"):
            assert by_id[parent][2] == "outer" + name[len("inner"):]
        else:
            assert parent is None
    assert sum(len(v) for v in rec.samples.values()) == 2 * n_threads * n_spans


def test_eventlog_fold_attributes_tasks_by_stage_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "r:1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "r:1"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {"spark.jobGroup.id": "r:2"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "JVM GC Time": 500, "Result Size": 1_000_000,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 3_000_000}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 1_000_000_000, "JVM GC Time": 0, "Result Size": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 9, "Task Metrics": {"Executor CPU Time": 7}},
    ]
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    folded = eventlog.fold_dir(str(tmp_path))
    assert folded["r:1"] == {
        "jobs": 1.0, "executor_cpu_s": 2.0, "gc_s": 0.5, "shuffle_mb": 3.0, "result_mb": 1.0,
    }
    assert folded["r:2"]["executor_cpu_s"] == 1.0 and folded["r:2"]["jobs"] == 0.0


def test_metric_lists_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    from perfbench.run import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def _run(workload: str, trace: int) -> tuple[subprocess.CompletedProcess, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    return proc, json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload, trace, declared",
    [("batch_pipeline", 1, PER_LAYER), ("online_serving", 0, END_TO_END)],
)
def test_tiny_smoke_run_passes_checks_and_prints_every_metric(workload, trace, declared):
    proc, out = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared
    assert all(isinstance(v["value"], float) for v in out["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    """Outside a checkout (only the benchmark's own files) the command
    exits non-zero and prints no result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "online_serving", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180, env=env,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
