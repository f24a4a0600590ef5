"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke tests start Spark once per (workload, trace) pair at a tiny
input scale and take a few minutes in all.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import time

import pytest

from perfbench import compare, inputs, job, run, tracing

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
TINY = 0.005


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("workload", inputs.WORKLOADS)
def test_inputs_are_a_function_of_the_seed(tmp_path, workload):
    a, b, c = (str(tmp_path / d) for d in "abc")
    inputs.generate(workload, 7, TINY, a)
    inputs.generate(workload, 7, TINY, b)
    inputs.generate(workload, 8, TINY, c)
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b)) == sorted(os.listdir(c))
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert mismatch == [] and errors == []
    _, mismatch, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    assert set(mismatch) == set(names)


def test_metric_names_and_units_match_benchmark_json():
    bench = _benchmark()
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
    assert [w["name"] for w in bench["workloads"]] == list(inputs.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", inputs.WORKLOADS)
def test_smoke_run(tmp_path, workload, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", str(TINY), "--out", str(tmp_path)],
        cwd=ROOT, capture_output=True, text=True, timeout=240,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert sorted(result) == ["attempted", "correct", "failed", "metrics"]
    assert result["correct"] and result["failed"] == 0, out.stdout
    assert result["attempted"] >= 1 + job.WORKLOADS[workload].min_jobs
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in result["metrics"].values())
    if trace:
        spans = [f for f in os.listdir(tmp_path) if f.endswith(".spans.jsonl")]
        assert len(spans) == 1
        with open(tmp_path / spans[0]) as f:
            names = {json.loads(line)["name"] for line in f}
        assert {"job", "action"} <= names
        if workload == "kg_web":
            assert {"plans.pipeline.run_pipeline", "plans.catalog.write",
                    "plans.catalog.read", "operators.linking.build_indexes"} <= names
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_benchmark_refuses_a_checkout_without_the_package(tmp_path):
    """Only BENCHMARK.json and perfbench/: exit non-zero, print no result."""
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "kg_web",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert out.returncode != 0 and out.stdout == ""


def test_self_time_subtracts_the_union_of_children():
    span = {"start": 0.0, "end": 10.0}
    kids = [{"start": 1.0, "end": 4.0}, {"start": 3.0, "end": 5.0},
            {"start": 9.0, "end": 12.0}]
    assert tracing.self_time(span, kids) == pytest.approx(10 - 4 - 1)


def test_tracer_pool_thread_spans_attach_to_the_program_call():
    from concurrent.futures import ThreadPoolExecutor

    tr = tracing.Tracer()
    tr.enabled = True
    tr.job_id = 0
    with tr.span("job"), tr.span("call") as call:
        with ThreadPoolExecutor(2) as pool:
            f = pool.submit(tr.wrap(lambda: 1, "stage"))
            assert f.result() == 1
    stage = [s for s in tr.spans if s["name"] == "stage"]
    assert stage[0]["parent"] == call


def test_sql_metric_totals_parse():
    assert tracing._metric_total("5,496") == 5496
    assert tracing._metric_total(
        "total (min, med, max (stageId: taskId))\n403.0 KiB (19.2 KiB, 58.5 KiB,"
        " 84.9 KiB (stage 7.0: task 11))"
    ) == pytest.approx(403.0 * 1024)
    assert tracing._metric_total(
        "total (min, med, max (stageId: taskId))\n10.0 s (257 ms, 1.9 s, 2.3 s"
        " (stage 7.0: task 10))"
    ) == pytest.approx(10.0)


@pytest.mark.parametrize(
    "parent,change,expect",
    [
        # change wins 10/10 and the median gap exceeds the parent IQR
        ([100 + i % 3 for i in range(10)], [120 + i % 3 for i in range(10)], "gain"),
        # wins 8/10 only
        ([100.0] * 10, [101.0] * 8 + [99.0] * 2, "no change"),
        # 20% slower with a 10% bound
        ([100 + i % 2 for i in range(10)], [80 + i % 2 for i in range(10)],
         "regression"),
        # spreads of 40% against a 10% bound, runs overlapping
        ([60, 140] * 5, [70, 150] * 5, "unresolved"),
    ],
)
def test_compare_verdicts(parent, change, expect):
    assert compare.verdict(parent, change, "higher", 0.1, False)["verdict"] == expect


def test_compare_needs_ten_pairs_and_voids_gains_with_more_failures():
    assert compare.verdict([1.0] * 9, [2.0] * 9, "higher", 0.1, False)[
        "verdict"].startswith("too few pairs")
    assert compare.verdict(
        [100 + i % 3 for i in range(10)], [120 + i % 3 for i in range(10)],
        "higher", 0.1, True,
    )["verdict"] == "no change"
    # lower-is-better: a 20% drop is a gain, with its base reported
    row = compare.verdict([10.0 + i % 2 for i in range(10)],
                          [8.0 + i % 2 for i in range(10)], "lower", 0.25, False)
    assert row["verdict"] == "gain" and row["parent_median"] == pytest.approx(10.5)


def test_linking_comparison_tolerates_float_ties_only():
    import pandas as pd

    def triples(rows):
        return pd.DataFrame(
            [("u", "HAS_X", f"e{c}", c, r, 0, 4, "span", s)
             for r, (c, s) in enumerate(rows)],
            columns=["subj", "pred", "obj", "code", "rank", "start", "end", "span",
                     "score"],
        )

    # the oracle ranks every code; k = 3 are kept
    untied = triples([("a", 0.9), ("b", 0.5), ("c", 0.5 - 1e-8), ("d", 0.3),
                      ("e", 0.3 - 1e-8)])
    tied = triples([("a", 0.9), ("b", 0.5), ("c", 0.3), ("d", 0.3 - 1e-8),
                    ("e", 0.1)])
    check = job.mismatched_mentions
    assert check(untied.iloc[:3], untied) == 0
    # codes tied within 1e-6 may come in either order
    assert check(triples([("a", 0.9), ("c", 0.5), ("b", 0.5)]), untied) == 0
    # a different code at the cut-off: fine only where it ties past the cut
    assert check(triples([("a", 0.9), ("b", 0.5), ("d", 0.3)]), tied) == 0
    assert check(triples([("a", 0.9), ("b", 0.5), ("e", 0.3)]), tied) == 1
    assert check(triples([("a", 0.9), ("b", 0.5), ("d", 0.5)]), untied) == 1
    # the right code with the wrong entity, a wrong score, a missing rank
    wrong_obj = triples([("a", 0.9), ("b", 0.5), ("d", 0.3)])
    wrong_obj.loc[2, "obj"] = "ex"
    assert check(wrong_obj, tied) == 1
    assert check(triples([("a", 0.9), ("b", 0.5), ("c", 0.4)]), tied) == 1
    assert check(untied.iloc[:2], untied) == 1
    # the checks read only the kept rows and the ties past the cut-off
    assert list(job.cutoff_ties(tied)["code"]) == ["a", "b", "c", "d"]
    assert list(job.cutoff_ties(untied)["code"]) == ["a", "b", "c"]


def test_stop_group_ends_the_whole_tree():
    # a child that leaves the job's process group, as PySpark's daemon does
    code = ("import os, subprocess, sys, time; "
            "subprocess.Popen([sys.executable, '-c', "
            "'import os, time; os.setpgid(0, 0); time.sleep(60)']); time.sleep(60)")
    proc = subprocess.Popen([sys.executable, "-c", code], start_new_session=True)
    deadline = time.time() + 10
    while not run.descendants(proc.pid) and time.time() < deadline:
        time.sleep(0.05)
    tree = run.descendants(proc.pid)
    assert tree
    run._stop_group(proc)
    assert proc.poll() is not None
    assert not any(run._alive(p) for p in tree)
