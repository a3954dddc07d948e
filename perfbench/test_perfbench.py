"""Tests for the benchmark's own helpers, its declared metrics, and a
toy-size smoke run of every workload.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402
from spans import eventlog_stats, tree_cpu_s  # noqa: E402
from stats import digest, pair_scores, percentile, ratio, self_time, speed_probe, tail_percentile  # noqa: E402


def test_percentile_nearest_rank():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 50) == 3
    assert percentile(xs, 0) == 1
    assert percentile(xs, 100) == 5
    assert percentile(xs, 79) == 4
    with pytest.raises(ValueError):
        percentile([], 50)


def test_tail_percentile_leaves_ten_samples_beyond():
    assert tail_percentile(10) is None
    assert tail_percentile(11) == 9
    assert tail_percentile(20) == 50
    assert tail_percentile(100) == 90
    for n in (11, 20, 37, 100, 1000):
        p = tail_percentile(n)
        xs = list(range(n))
        assert sum(x > percentile(xs, p) for x in xs) >= 10


def test_ratio_zero_base():
    assert ratio(3, 4) == 0.75
    assert ratio(3, 0) == 0.0


def test_speed_probe_grows_with_work():
    assert 0 < min(speed_probe(1_000) for _ in range(3)) < min(speed_probe(200_000) for _ in range(3))


def test_pair_scores():
    truth = ["a", "a", "b", "b", "c"]
    assert pair_scores([1, 1, 2, 2, 3], truth) == (1.0, 1.0)
    # one true pair split apart: recall 1/2, nothing wrongly merged
    assert pair_scores([1, 9, 2, 2, 3], truth) == (0.5, 1.0)
    # everything merged: all 2 true pairs found among 10 predicted
    assert pair_scores([0] * 5, truth) == (1.0, 0.2)
    # no true and no predicted pairs score 1.0
    assert pair_scores([1, 2], ["x", "y"]) == (1.0, 1.0)
    with pytest.raises(ValueError):
        pair_scores([1], ["a", "b"])


def test_digest_is_order_insensitive_and_content_sensitive():
    rid = np.array([3, 1, 2])
    cid = np.array([1, 1, 2])
    flag = np.array([False, True, True])
    d = digest([rid, cid, flag])
    perm = [2, 0, 1]
    assert digest([rid[perm], cid[perm], flag[perm]]) == d
    assert digest([rid, cid, ~flag]) != d


def test_self_time_subtracts_covered_union():
    parent = {"start": 0.0, "end": 10.0}
    kids = [
        {"start": 1.0, "end": 4.0},
        {"start": 3.0, "end": 5.0},  # overlaps the first
        {"start": 8.0, "end": 12.0},  # runs past the parent's end
    ]
    assert self_time(parent, kids) == pytest.approx(10 - 4 - 2)
    assert self_time(parent, []) == 10.0


def test_cite_truth_matches_planted_work_tags():
    """The rid -> work map agrees with the work id the generator writes into
    each record's AN (RIS) / SI (PubMed) tag, which the matcher never reads."""
    from biblib_spark.corpus import SLOTS_PER_WORK, n_variants, payload_text
    from workloads import RECORD_IDX_BITS, RECORDS_PER_PAYLOAD, cite_truth

    seed = 11
    for p in range(40):
        text = payload_text(p, RECORDS_PER_PAYLOAD, seed)
        tagged = [int(w) for w in re.findall(r"^(?:AN|SI)  - WORK-(\d+)$", text, re.M)]
        truth = cite_truth(p, seed, n_variants, SLOTS_PER_WORK)
        assert sorted(truth) == [(p << RECORD_IDX_BITS) + i for i in range(len(tagged))]
        assert [truth[r] for r in sorted(truth)] == tagged


def test_eventlog_stats_attributes_tasks_to_job_groups(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1500, "Failed": False},
         "Task Metrics": {"Executor Run Time": 300, "Executor Deserialize Time": 50,
                          "Result Serialization Time": 0, "JVM GC Time": 20,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 77}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 0, "Finish Time": 100, "Failed": True}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Info": {"Launch Time": 0, "Finish Time": 10, "Speculative": True}},
    ]
    (tmp_path / "eventlog_v2_x").mkdir()
    (tmp_path / "eventlog_v2_x" / "events_1_x").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (tmp_path / "eventlog_v2_x" / "appstatus_x").write_text("")
    g = eventlog_stats(str(tmp_path))
    assert g["g1"]["jobs"] == 1
    assert g["g1"]["tasks"] == 2
    assert g["g1"]["task_failures"] == 1
    assert g["g1"]["shuffle_write_bytes"] == 77
    assert g["g1"]["gc_s"] == pytest.approx(0.02)
    assert g["g1"]["scheduler_delay_s"] == pytest.approx(0.15 + 0.1)
    assert g[""]["task_failures"] == 1


def test_tree_cpu_counts_reaped_children():
    cpu0, jit0 = tree_cpu_s(os.getpid())
    spin = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass"
    subprocess.run([sys.executable, "-c", spin], check=True)
    cpu1, jit1 = tree_cpu_s(os.getpid())
    assert cpu1 - cpu0 >= 0.25
    assert jit0 == jit1 == 0  # no JVM in this tree


def test_benchmark_json_declares_what_run_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER_UNITS
    assert {w["name"] for w in bench["workloads"]} == set(run.SIZES)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())


def test_missing_library_exits_nonzero_without_result(tmp_path):
    os.makedirs(tmp_path / "perfbench")
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            with open(os.path.join(HERE, f)) as src:
                (tmp_path / "perfbench" / f).write_text(src.read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cite_flagship", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_smoke_every_workload_untraced_and_traced():
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900,
    )
    results = [json.loads(line) for line in proc.stdout.splitlines()]
    assert proc.returncode == 0, results
    assert {(r["workload"], r["trace"]) for r in results} == {(w, t) for w in run.SIZES for t in (0, 1)}
    for r in results:
        units = run.LAYER_UNITS if r["trace"] else run.E2E_UNITS
        assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
        assert {k: v["unit"] for k, v in r["metrics"].items()} == units
