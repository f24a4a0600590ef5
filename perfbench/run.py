"""The benchmark command.

    python3 perfbench/run.py --workload kg_web --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed, runs one job process
(``perfbench/job.py``) on ``local[nproc]``, checks its outputs and prints
every metric by name and unit; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones. The full record
(quartiles, checks, machine stamp) goes to ``.perfbench_results/``.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
RESULTS = os.path.join(ROOT, ".perfbench_results")
# a run must end within 180 s; the job gets what generation leaves of this
RUN_LIMIT_S = 172

END_TO_END = {"docs_per_s": "1/s", "setup_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.executor_run_s": "s",
    "session.executor_cpu_s": "s",
    "session.stages": "count",
    "session.tasks": "count",
    "session.shuffle_write_mb": "MB",
    "session.shuffle_read_mb": "MB",
    "session.spill_mb": "MB",
    "session.task_skew": "ratio",
    "session.parallel_efficiency": "ratio",
    "sources.input_mb": "MB",
    "sources.pages": "count",
    "functions.html_extract.s": "s",
    "functions.html_extract.null_rows": "count",
    "functions.matcher.find_mentions_s": "s",
    "functions.matcher.mentions_per_page": "count",
    "functions.tokenization.words_with_offsets_s": "s",
    "functions.embedder.encode_s": "s",
    "functions.embedder.texts": "count",
    "functions.embedder.cache_hit_ratio": "ratio",
    "functions.term_index.search_s": "s",
    "functions.term_index.queries": "count",
    "functions.term_index.terms": "count",
    "operators.linking.distinct_span_ratio": "ratio",
    "operators.linking.build_indexes_s": "s",
    "operators.linking.index_bytes": "B",
    "operators.linking.udf_stage_s": "s",
    "operators.linking.python_run_s": "s",
    "operators.linking.arrow_sent_mb": "MB",
    "operators.linking.arrow_received_mb": "MB",
    "operators.ner.mentions_rows": "count",
    "operators.triples.build_entities_s": "s",
    "operators.triples.triples_rows": "count",
    "operators.triples.edges_rows": "count",
    "plans.pipeline.plan_s": "s",
    "plans.pipeline.action_s": "s",
    "plans.catalog.docs_per_s": "1/s",
    "plans.catalog.write_s": "s",
    "plans.catalog.write_s.entities": "s",
    "plans.catalog.write_s.code2entity": "s",
    "plans.catalog.write_s.mentions": "s",
    "plans.catalog.write_s.linked": "s",
    "plans.catalog.write_s.triples": "s",
    "plans.catalog.write_s.edges": "s",
    "plans.catalog.snapshots": "count",
    "plans.catalog.bytes_written": "B",
    "plans.catalog.read_s": "s",
    "plans.catalog.resumed_stages": "count",
    "plans.catalog.resume_s": "s",
    "plans.corpus_pipeline.plan_s": "s",
    "plans.corpus_pipeline.kept_rows": "count",
    "operators.dedup.exact_s": "s",
    "operators.dedup.minhash_s": "s",
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.dup_pair_ratio": "ratio",
    "functions.text_analysis.annotate_s": "s",
    "trace.docs_per_s": "1/s",
    "trace.untraced_docs_per_s": "1/s",
    "trace.overhead_ratio": "ratio",
}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(p25, median, p75) as statistics.quantiles gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q = statistics.quantiles(values, n=4)
    return q[0], q[1], q[2]


def machine_stamp() -> dict:
    """nproc, memory, versions, commit and the idle-probe ratio (recorded,
    not used as a gate)."""
    from tools.idle_probe import _load_best, burn_rate

    rate = burn_rate(samples=1)
    best = _load_best()
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "python": platform.python_version(),
        "commit": commit,
        "idle_probe_ratio": min(rate / best, 1.0) if best else 1.0,
        "idle_probe_burn_rate": rate,
    }


def descendants(pid: int) -> list[int]:
    """Every process below ``pid`` in the /proc parent tree."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill what is left of the job: its process group (JVM) and every
    descendant (PySpark's worker daemon moves to a group of its own),
    then wait until all of them have ended."""
    pids = descendants(proc.pid)
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    proc.wait()
    deadline = time.time() + 15
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)


def run_job(spec: dict, spec_path: str, timeout: float) -> int:
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(spec["cores"]),
        SPARK_LOCAL_DIRS=os.path.join(spec["work"], "spark-local"),
        TMPDIR=os.path.join(spec["work"], "tmp"),
        PYSPARK_PYTHON=sys.executable,
        # fixed str hashing: dict/set orders inside the program repeat
        PYTHONHASHSEED="0",
        # driver heap for session.get_spark, sized for these inputs: with
        # its 8g default, G1's heap sizing wandered and the JVM's peak RSS
        # ranged 0.96-1.77 GiB over identical 4-vCPU runs
        NLDS_DRIVER_MEM="2g",
    )
    os.makedirs(env["TMPDIR"], exist_ok=True)
    spec["t_spawn"] = time.time()
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    # the job's stdout goes to stderr: this process's last stdout line
    # must be the result
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.job", spec_path],
        cwd=ROOT, env=env, stdout=sys.stderr, start_new_session=True,
    )
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: job exceeded {timeout:.0f} s", file=sys.stderr)
        return -1
    finally:
        _stop_group(proc)


def report(args, job: dict | None, rc: int, stamp: dict, manifest: dict) -> dict:
    attempted = max(job["attempted"], 1) if job else 1
    failed = job["failed"] if job else 1
    if job and rc != 0:
        failed = max(failed, 1)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "stamp": stamp,
        "attempted": attempted,
        "failed": failed,
        "error_rate": failed / attempted,
        "failures": job["failures"] if job else [f"job exited with {rc}"],
        "correct": failed == 0 and rc == 0,
    }
    if not job or "docs_per_s" not in job:
        record["metrics"] = {}
        return record
    stamp["spark"] = job.get("spark_version")
    p25, med, p75 = quartiles(job["docs_per_s"])
    record["docs_per_s"] = {"median": med, "p25": p25, "p75": p75,
                            "runs": len(job["docs_per_s"]),
                            "values": job["docs_per_s"]}
    for key in ("checks_s", "checkpointed_s", "resume_s",
                "setup_rss_by_process_mb", "peak_rss_by_process_mb"):
        if key in job:
            record[key] = job[key]
    if args.trace:
        layers = dict(job["layers"])
        layers["sources.input_mb"] = manifest["input_bytes"] / 2**20
        layers["sources.pages"] = manifest["n_docs"]
        # layers the workload does not exercise read 0
        values = {name: float(layers.get(name, 0.0)) for name in PER_LAYER}
        units = PER_LAYER
    else:
        values = {
            "docs_per_s": record["docs_per_s"]["median"],
            "setup_s": job["setup_s"],
            "peak_rss_mb": job["peak_rss_mb"],
        }
        units = END_TO_END
    record["metrics"] = {
        name: {"value": values[name], "unit": units[name]} for name in units
    }
    return record


def print_report(record: dict) -> None:
    print(
        f"perfbench {record['workload']} seed={record['seed']} "
        f"trace={record['trace']} nproc={record['stamp']['nproc']} "
        f"idle_probe_ratio={record['stamp']['idle_probe_ratio']:.3f}"
    )
    for name, m in record["metrics"].items():
        line = f"  {name:<45} {m['value']:>14.4f} {m['unit']}"
        if name == "docs_per_s":
            d = record["docs_per_s"]
            line += (f"   median of {d['runs']} jobs, "
                     f"p25 {d['p25']:.1f}, p75 {d['p75']:.1f}")
        print(line)
    for key, what in (("checkpointed_s", "the checkpointed check run"),
                      ("resume_s", "its resume rerun")):
        if key in record:
            print(f"  {key:<45} {record[key]:>14.4f} s   {what}")
    print(f"  {'error_rate':<45} {record['error_rate']:>14.4f} ratio   "
          f"{record['failed']} failed of {record['attempted']} attempted")
    for failure in record["failures"]:
        print(f"  FAILED {failure}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke tests use a tiny one)")
    ap.add_argument("--out", default=RESULTS, help="directory for run records")
    args = ap.parse_args(argv)
    t_start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "ner_linking_demo_spark")):
        print("perfbench: no ner_linking_demo_spark package next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs

    if args.workload not in inputs.WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(inputs.WORKLOADS)}")

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(WORK_ROOT, f"{tag}-{os.getpid()}")
    # SIGTERM unwinds through the finally below, removing the work root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        manifest = inputs.generate(
            args.workload, args.seed, args.scale, os.path.join(work, "inputs")
        )
        stamp = machine_stamp()
        os.makedirs(args.out, exist_ok=True)
        stem = os.path.join(args.out, f"{tag}-{time.strftime('%Y%m%dT%H%M%S')}")
        spec = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "cores": stamp["nproc"],
            "inputs": os.path.join(work, "inputs"),
            "manifest": manifest,
            "work": work,
            "result_path": os.path.join(work, "result.json"),
            "spans_path": stem + ".spans.jsonl",
        }
        rc = run_job(
            spec, os.path.join(work, "spec.json"),
            RUN_LIMIT_S - (time.time() - t_start),
        )
        job = None
        if os.path.exists(spec["result_path"]):
            with open(spec["result_path"]) as f:
                job = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)  # only when no other run is using it
        except OSError:
            pass
    record = report(args, job, rc, stamp, manifest)
    with open(stem + ".json", "w") as f:
        json.dump(record, f, indent=1)
    print_report(record)
    print(json.dumps({
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": record["metrics"],
    }))
    return 0 if job and "docs_per_s" in job else 1


if __name__ == "__main__":
    sys.exit(main())
