"""Compare two sets of benchmark runs, parent vs change.

Run ``MIN_PAIRS`` pairs (each side is a checkout holding perfbench/; pair
i runs both sides on seed ``FIRST_SEED + i`` for BENCHMARK.json's
run_seconds, alternating which side goes first)::

    python3 perfbench/compare.py run --parent ../parent --change . \\
        --workload kg_web --workload corpus_curate --out cmp/

Report on run records already made (``cmp/parent/*.json`` and
``cmp/change/*.json``, as ``run`` writes them)::

    python3 perfbench/compare.py report cmp/

The verdict per workload and end-to-end metric:

- ``gain``: at least 10 pairs, the change wins at least 9/10 of them
  (ties count for neither side), and the medians differ by more than
  the parent's interquartile range; void when the change failed more
  operations than the parent;
- ``regression``: the change's median is worse than the parent's by
  more than the metric's bound from BENCHMARK.json;
- ``unresolved``: the spread (interquartile range over median) of
  either side exceeds the bound, unless every change run reads better
  than every parent run;
- ``no change``: none of the above.

Every ratio is printed with its base, the parent median.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_PAIRS = 10
WIN_SHARE = 0.9
FIRST_SEED = 1000


def load_records(directory: str) -> dict[tuple[str, int], dict]:
    """(workload, seed) -> the untraced run record."""
    out = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            rec = json.load(f)
        if rec.get("trace") == 0 and rec.get("metrics"):
            out[(rec["workload"], rec["seed"])] = rec
    return out


def _iqr(values: list[float]) -> tuple[float, float, float]:
    q = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return q[0], statistics.median(values), q[2]


def verdict(parent: list[float], change: list[float], better: str,
            bound: float, change_failed_more: bool) -> dict:
    """Verdict for one metric on one workload over paired runs."""
    sign = 1.0 if better == "higher" else -1.0
    p25, pmed, p75 = _iqr(parent)
    c25, cmed, c75 = _iqr(change)
    pairs = len(parent)
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    spread = max((p75 - p25) / abs(pmed), (c75 - c25) / abs(cmed))
    worse_by = -sign * (cmed - pmed) / abs(pmed)
    all_better = min(sign * c for c in change) > max(sign * p for p in parent)
    gain = (
        pairs >= MIN_PAIRS
        and wins >= WIN_SHARE * pairs
        and sign * (cmed - pmed) > (p75 - p25)
        and not change_failed_more
    )
    if pairs < MIN_PAIRS:
        result = f"too few pairs ({pairs} < {MIN_PAIRS})"
    elif spread > bound and not all_better:
        result = "unresolved"
    elif gain:
        result = "gain"
    elif worse_by > bound:
        result = "regression"
    else:
        result = "no change"
    return {
        "verdict": result,
        "pairs": pairs,
        "change_wins": wins,
        "parent_median": pmed,
        "parent_p25": p25,
        "parent_p75": p75,
        "change_median": cmed,
        "change_p25": c25,
        "change_p75": c75,
        "ratio": cmed / pmed,
        "spread": spread,
        "bound": bound,
    }


def report(directory: str, benchmark: dict) -> list[dict]:
    parent = load_records(os.path.join(directory, "parent"))
    change = load_records(os.path.join(directory, "change"))
    rows = []
    for workload in [w["name"] for w in benchmark["workloads"]]:
        seeds = sorted(s for (w, s) in parent if w == workload
                       and (w, s) in change)
        if not seeds:
            continue
        p_recs = [parent[(workload, s)] for s in seeds]
        c_recs = [change[(workload, s)] for s in seeds]
        failed_more = (sum(r["failed"] for r in c_recs)
                       > sum(r["failed"] for r in p_recs))
        for m in benchmark["end_to_end"]:
            name = m["name"]
            row = verdict(
                [r["metrics"][name]["value"] for r in p_recs],
                [r["metrics"][name]["value"] for r in c_recs],
                m["better"], m["bound"], failed_more,
            )
            rows.append({"workload": workload, "metric": name,
                         "unit": m["unit"], **row})
    return rows


def print_rows(rows: list[dict]) -> None:
    print(f"{'workload':<16} {'metric':<12} {'verdict':<11} {'wins':>6} "
          f"{'parent median [p25, p75]':>32} {'change median':>14} "
          f"{'change/parent':>14} {'spread':>7} {'bound':>6}")
    for r in rows:
        print(
            f"{r['workload']:<16} {r['metric']:<12} {r['verdict']:<11} "
            f"{r['change_wins']:>3}/{r['pairs']:<2} "
            f"{r['parent_median']:>12.4g} [{r['parent_p25']:.4g}, "
            f"{r['parent_p75']:.4g}] {r['unit']:<4} {r['change_median']:>10.4g} "
            f"{r['ratio']:>8.3f} of {r['parent_median']:.4g} "
            f"{r['spread']:>6.3f} {r['bound']:>6.2f}"
        )


def run_pairs(args, seconds: int) -> None:
    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    for i in range(MIN_PAIRS):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for workload in args.workload:
            for side in order:
                cmd = [
                    sys.executable, "perfbench/run.py", "--workload", workload,
                    "--seed", str(FIRST_SEED + i),
                    "--seconds", str(seconds), "--trace", "0",
                    "--out", os.path.abspath(os.path.join(args.out, side)),
                ]
                print(f"pair {i} {side}: {' '.join(cmd)}", file=sys.stderr)
                subprocess.run(cmd, cwd=sides[side], check=False,
                               stdout=subprocess.DEVNULL)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="parent vs change comparison")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="run alternating pairs, then report")
    r.add_argument("--parent", required=True, help="parent checkout")
    r.add_argument("--change", required=True, help="change checkout")
    r.add_argument("--workload", action="append", required=True)
    r.add_argument("--out", required=True)
    rep = sub.add_parser("report", help="report on existing run records")
    rep.add_argument("out")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        benchmark = json.load(f)
    if args.cmd == "run":
        run_pairs(args, benchmark["run_seconds"])
    rows = report(args.out, benchmark)
    print_rows(rows)
    with open(os.path.join(args.out, "compare.json"), "w") as f:
        json.dump(rows, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
