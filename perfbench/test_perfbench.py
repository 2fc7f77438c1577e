"""Self-tests of the benchmark: its checks catch a corrupted output, its
event-log rollup and span arithmetic are right, and the smoke mode runs end
to end and prints the result line the contract asks for.

    python3 -m pytest perfbench/test_perfbench.py -q

The last test starts Spark (about a minute); the others do not.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from spans import covered_s, rollup  # noqa: E402
from tables import generate_tables  # noqa: E402
from workloads import canon, check_alignment, layer_names  # noqa: E402

ALIGN = [("a/x#class/Foo", "b/y#class/Foo", 1.0),
         ("a/x#function/load", "b/y#function/loads", 0.9),
         ("a/z#class/Bar", "b/w#class/Bars", 0.75)]
GOLD = {("a/x#class/Foo", "b/y#class/Foo"), ("a/z#class/Bar", "b/w#class/Bars")}


def test_clean_alignment_passes_and_repeats():
    fails, digest, score = check_alignment(ALIGN, 0.6, GOLD, None)
    assert fails == [] and 0 < score < 1
    fails, again, _ = check_alignment(list(reversed(ALIGN)), 0.6, GOLD, digest)
    assert fails == [] and again == digest


def test_corrupted_alignment_row_fails_the_check():
    _, digest, _ = check_alignment(ALIGN, 0.6, GOLD, None)
    # one row's target rewritten to another row's target: not 1-1, and the
    # digest no longer matches the clean pass
    bad = [ALIGN[0], (ALIGN[1][0], ALIGN[0][1], ALIGN[1][2]), ALIGN[2]]
    fails, _, _ = check_alignment(bad, 0.6, GOLD, digest)
    assert [f.split(":")[0] for f in fails] == ["one_to_one", "digest"]
    # one sim nudged below the threshold
    bad = [ALIGN[0], ALIGN[1], (*ALIGN[2][:2], 0.5)]
    fails, _, _ = check_alignment(bad, 0.6, GOLD, digest)
    assert [f.split(":")[0] for f in fails] == ["sim_range", "digest"]


def test_corrupted_query_result_fails_the_check():
    got = pd.DataFrame({"k": [3, 1, 2], "v": [0.5, 0.25, 0.125], "s": list("cab")})
    assert canon(got) == canon(got.iloc[::-1])  # order-insensitive
    bad = got.copy()
    bad.loc[1, "v"] = 0.2500001
    assert canon(bad) != canon(got)
    assert canon(got.iloc[:2]) != canon(got)


def test_tables_repeat_per_seed():
    a, b, c = generate_tables(7), generate_tables(7), generate_tables(8)
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert not a["documents"].equals(c["documents"])


def test_covered_s_merges_and_clips():
    iv = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert covered_s(iv, 0.0, 10.0) == 3.0 + 1.0 + 1.0
    assert covered_s(iv, 2.5, 5.5) == 0.5 + 0.5


def test_rollup_attributes_tasks_to_job_groups(tmp_path):
    def task(stage, run_ms, py_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Accumulables": [
                    {"Name": "time to run Python workers", "Update": str(py_ms)}]},
                "Task Metrics": {"Executor Run Time": run_ms,
                                 "Executor CPU Time": run_ms * 10**6,
                                 "Disk Bytes Spilled": 0,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "stage.a"}},
        task(0, 200, 50), task(1, 300, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        # stage 1 is reused (skipped) by job 1: it stays with its first job
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2500,
         "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "stage.b"}},
        task(2, 100, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3000},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    g = rollup(str(tmp_path))
    assert g["stage.a"]["jobs"] == 1 and g["stage.a"]["tasks"] == 2
    assert g["stage.a"]["run_s"] == 0.5 and g["stage.a"]["py_run_s"] == 0.05
    assert g["stage.a"]["intervals"] == [(1.0, 2.0)]
    assert g["stage.b"]["tasks"] == 1 and g["stage.b"]["shuffle_bytes"] == 100


def test_smoke_run_prints_the_contract_line():
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "kg_build",
         "--seed", "3", "--seconds", "1", "--trace", "1", "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert list(res["metrics"]) == layer_names()
    assert res["metrics"]["stage.scored_pairs.wall_s"]["value"] > 0
