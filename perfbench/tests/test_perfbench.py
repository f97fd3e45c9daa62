"""Tests of the benchmark itself: input determinism, the metric names
``BENCHMARK.json`` promises, and a tiny run of every workload with its
correctness gates.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, run, workloads  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(_same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_generator_is_deterministic(tmp_path):
    for d in ("a", "b"):
        gen.write_events(str(tmp_path / d), 7, events=2_000, users=60, days=10)
        gen.write_documents(str(tmp_path / d), 7, 200)
    gen.write_events(str(tmp_path / "c"), 8, events=2_000, users=60, days=10)
    gen.write_documents(str(tmp_path / "c"), 8, 200)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not filecmp.cmp(tmp_path / "a/window/events.parquet", tmp_path / "c/window/events.parquet", shallow=False)
    assert not filecmp.cmp(tmp_path / "a/corpus/documents.parquet", tmp_path / "c/corpus/documents.parquet", shallow=False)


def test_generator_shapes(tmp_path):
    import pyarrow.parquet as pq

    info = gen.write_events(str(tmp_path), 3, events=3_000, users=80, days=12)
    whole = pq.read_table(info["window"] + "/events.parquet")
    days = [pq.read_table(p) for p in info["day_files"]]
    assert whole.schema.equals(gen.EVENTS_SCHEMA) and whole.num_rows == 3_000
    assert sum(t.num_rows for t in days) == 3_000 and len(days) == 12
    # the amount of work does not depend on the seed: each day holds the
    # same number of events, and every seed has the same activity profile
    assert max(t.num_rows for t in days) - min(t.num_rows for t in days) <= 1
    profiles = [sorted(gen.events_table(s, 3_000, 80, 12).column("user_id").value_counts().field(1).to_pylist()) for s in (3, 4)]
    assert profiles[0] == profiles[1]
    docs, planted = gen.documents_table(3, 500)
    assert docs.num_rows == 500 and planted.num_rows == 100
    assert docs.column("doc_id").to_pylist() == list(range(500))


def test_benchmark_json_matches_the_emitted_metrics():
    spec = _spec()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower" and setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def _run(workload: str, trace: int, cwd: str = ROOT, extra=("--scale", "tiny")):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace), *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


# a per-layer metric each traced workload must fill
LAYER_OF = {
    "batch_attribution": "journeys.exec_s",
    "daily_incremental": "incremental.batch_s",
    "dedup_corpus": "dedup.signature_s",
}


@pytest.mark.parametrize(
    "workload,trace",
    [("batch_attribution", 1), ("daily_incremental", 1), ("dedup_corpus", 1), ("batch_attribution", 0)],
)
def test_tiny_run_passes_its_gates_and_emits_every_metric(workload, trace):
    proc = _run(workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    spec = _spec()
    names = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == names
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    if trace:
        assert os.path.isfile(os.path.join(ROOT, ".perfbench_out", f"trace-{workload}-seed5.json"))
        assert result["metrics"]["spark.jobs"]["value"] > 0
        assert result["metrics"][LAYER_OF[workload]]["value"] > 0
        assert result["metrics"]["trace.overhead_frac"]["value"] > -1.0
    else:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    left = os.listdir(os.path.join(ROOT, ".perfbench_run"))
    assert not [d for d in left if d.startswith(f"{workload}-seed5-")]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("batch_attribution", 0, cwd=str(tmp_path), extra=())
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
