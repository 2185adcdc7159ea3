"""Smoke tests of the benchmark harness on tiny inputs.

    python -m pytest perfbench/tests -q -p no:cacheprovider

The end-to-end cases start Spark (about half a minute each on 4 cores).
"""

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import reference  # noqa: E402
import tracing  # noqa: E402


def test_reference_pagerank_matches_golden_graph():
    # FIXTURES.md section 3
    src = np.array([0, 0, 2, 1, 3])
    dst = np.array([1, 2, 0, 2, 2])
    ranks, _ = reference.pagerank(src, dst, 4, tolerance=1e-7)
    expected = [0.37252685132844066, 0.19582391181458728,
                0.3941492368569718, 0.037500000000000006]
    np.testing.assert_allclose(ranks, expected, rtol=1e-5)


def test_reference_components_and_lpa():
    # FIXTURES.md section 5: components {0,1,3,4} and {2,5,6,7}
    src = np.array([0, 1, 1, 2, 2, 3, 3, 5, 6])
    dst = np.array([3, 0, 4, 5, 7, 1, 4, 6, 2])
    assert reference.components(src, dst, 8).tolist() == [0, 0, 2, 0, 0, 2, 2, 2]
    # two triangles: every vote ties, so each settles on its smallest id
    tri_src = np.array([0, 1, 2, 3, 4, 5])
    tri_dst = np.array([1, 2, 0, 4, 5, 3])
    lab = reference.label_propagation(tri_src, tri_dst, 6)
    assert lab.tolist() == [0, 0, 0, 3, 3, 3]
    assert reference.canonical_partition(np.array([7, 7, 2, 9, 2])).tolist() \
        == [0, 0, 2, 3, 2]


def test_event_log_summary(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "pagerank#0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Shuffle Write Metrics": {"Shuffle Bytes Written": 40},
                          "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1400,
         "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "pagerank#0"}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2000},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events))
    summary = tracing.event_log_summary(str(tmp_path))
    assert summary == {"pagerank#0": {"shuffle_write_bytes": 40,
                                      "spill_bytes": 6, "spark_busy_s": 1.0}}


def test_run_fails_without_the_package(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "transcript_driver",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.mark.parametrize("workload,trace", [("transcript_driver", 0),
                                            ("transcript_checkpointed", 1)])
def test_tiny_run_prints_every_metric(workload, trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--convs", "300"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= 3
    wanted = spec["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    # the run's temporary root (spill, checkpoints, event log) is gone
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp"))
