"""Self-test of the benchmark. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The last test runs the benchmark end to end once (about a minute).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import child  # noqa: E402
import gen  # noqa: E402
import probe  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def test_inputs_depend_only_on_the_seed(tmp_path):
    a = gen.write(gen.tables(7), str(tmp_path / "a"))
    b = gen.write(gen.tables(7), str(tmp_path / "b"))
    c = gen.write(gen.tables(8), str(tmp_path / "c"))
    assert a == b != c
    u = gen.udf_frames(7)["frame"]
    assert len(u) == gen.UDF_ROWS and u["few"].nunique() == gen.FEW_GROUPS


def test_generated_prices_are_whole_cents():
    t = gen.tables(3)
    for table, col in (("lineitem", "l_extendedprice"), ("events", "value")):
        cents = t[table][col] * 100
        assert (cents - cents.round()).abs().max() < 1e-6
    assert t["events"]["ts"].is_monotonic_increasing and t["events"]["ts"].is_unique


def test_planted_near_duplicates_keep_jaccard_at_least_0_7():
    """Every document pair at word-3-gram Jaccard >= 0.5 (the dedup
    queries' threshold) is at 0.7 or above, where MinHash-LSH recall is
    exact (dedup_minhash_lsh's registry entry)."""
    from collections import Counter
    from itertools import combinations

    docs = gen.tables(4)["documents"]["text"].str.split()
    sh = [{" ".join(t[i:i + 3]) for i in range(len(t) - 2)} for t in docs]
    index: dict[str, list[int]] = {}
    for d, s in enumerate(sh):
        for g in s:
            index.setdefault(g, []).append(d)
    inter = Counter(p for ds in index.values() for p in combinations(ds, 2))
    j = [i / (len(sh[a]) + len(sh[b]) - i) for (a, b), i in inter.items()]
    near = [x for x in j if x >= 0.5]
    assert near and min(near) >= 0.7


def test_warmup_settles_once_cpu_per_pass_stops_falling():
    assert not child.settled([9.0, 7.6, 6.4])
    assert child.settled([9.0, 6.4, 6.2])
    assert not child.settled([5.0])


def test_a_failing_check_of_any_kind_names_the_operation(tmp_path):
    r = child.Run(argparse.Namespace(work=str(tmp_path)))

    def missing_column(pdf):
        pdf["nope"]

    ops = [workloads.Op("keyerror", "engine", None, missing_column),
           workloads.Op("diff", "engine", None, lambda pdf: workloads._close([1.0], [2.0], "x")),
           workloads.Op("fine", "engine", None, lambda pdf: None)]
    r.check([(op, pd.DataFrame({"a": [1]})) for op in ops])
    assert r.failed == 2 and set(r.failures) == {"keyerror", "diff"}
    assert "KeyError" in r.failures["keyerror"]


@pytest.mark.parametrize("text,value", [
    ("1.7 s", 1.7), ("555 ms", 0.555), ("2.0 MiB", 2.0), ("1024.0 KiB", 1.0),
    ("100,000", 100000.0), ("0.0 B", 0.0),
    ("total (min, med, max (stageId: taskId))\n961 ms (233 ms, 241 ms, 253 ms (stage 0.0: task 2))", 0.961),
])
def test_sql_metric_parsing(text, value):
    assert probe.parse_metric(text) == pytest.approx(value)


def test_proc_readers_see_this_process():
    assert os.getpid() in probe.tree(os.getppid())
    assert probe.tree_cpu_s(os.getpid()) > 0
    assert probe.jit_cpu(os.getpid()) == {}  # no JVM in this tree
    assert probe.jit_cpu_s({1: 5, 2: 7}, {2: 9, 3: 4}) == pytest.approx(6 / probe._TICK)
    assert probe.tree_rss_mb(os.getpid()) > 1
    before = probe.host_cpu()
    sum(i * i for i in range(200_000))
    busy, steal = probe.host_shares(before, probe.host_cpu())
    assert 0 <= steal <= busy <= 1


def _span(op, load, build, plan, exec_, jobs):
    return {"op": op, "kind": "engine", "load_s": load, "build_s": build, "plan_s": plan,
            "exec_s": exec_, "op_s": build + plan + exec_, "build_jobs": jobs,
            "build_job_s": 0.1, "optimize_s": 0.01, "physical_s": 0.01,
            "exec": dict.fromkeys(("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
                                   "gc_s", "shuffle_read_mb", "shuffle_write_mb",
                                   "spill_mb"), 1),
            "py": dict.fromkeys(("py.run_s", "py.boot_s", "py.init_s", "py.sent_mb",
                                 "py.recv_mb", "py.rows"), 0.0)}


def _pass(wall, traced):
    p = {"wall_s": wall, "cpu_s": 2 * wall, "driver_cpu_s": 0.1, "busy_frac": 0.5,
         "steal_frac": 0.01, "traced": traced, "spans": [_span("q", 0.1, 0.5, 0.0, 0.5, 3)]}
    if traced:
        p["spans"][0]["plan_s"] = 0.05
    return p


def test_summary_medians_and_layer_accounting():
    # one of four operations failed in 2 of its 20 executions: the share
    # counts the operation once
    rec = {"setup_s": 20.0, "attempted": 80, "failed": 2, "trace": 1,
           "ops": ["q", "r", "s", "t"], "failures": {"r": "rowcount 1 != 2"},
           "session_start_s": 5.0, "first_pass_s": 9.0, "warmup": [_pass(3.0, False)],
           "timed": [_pass(1.05, True), _pass(1.0, False), _pass(1.2, False), _pass(1.05, True)]}
    e2e, extra = run._summary(rec, peak_rss=100.0)
    assert e2e["pass_s"] == pytest.approx(1.1)  # untraced passes only
    assert e2e["ok_frac"] == pytest.approx(0.75) and extra["fail_frac"] == pytest.approx(0.25)
    assert extra["build.jobs_per_pass"] == [3, 3]
    assert extra["accounted_frac"] == pytest.approx(1.0)
    layers = extra["layers"]
    assert layers["build_s"][0] == pytest.approx(0.4)  # load reported apart
    assert layers["trace.overhead_s"][0] == pytest.approx(-0.05)
    assert set(run.END_TO_END) == set(e2e)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    assert all(layers[m["name"]][1] == m["unit"] for m in spec["per_layer"])


def test_refuses_to_run_without_the_library(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "windows",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0 and p.stdout == ""


def test_end_to_end_run_prints_checked_metrics():
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "windows",
                        "--seed", "5", "--seconds", "1", "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert set(out["metrics"]) == set(run.END_TO_END)
    assert all(m["value"] > 0 for m in out["metrics"].values())
