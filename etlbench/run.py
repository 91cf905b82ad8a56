#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 etlbench/run.py --workload cdc_merge --seed 1 --seconds 10 --trace 0
    python3 etlbench/run.py --workload cdc_merge --seed 1 --seconds 10 --trace 1
    python3 etlbench/run.py --self-test

Builds the engine and the benchmark from source (see build.py), runs the
workload in a fresh JVM inside one scratch root under the repository
(deleted on exit, also after a failure), prints every metric by name with
its unit and the correctness verdict, writes the full result to
`--out` (default `.bench_results/`), and prints as its last line one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the
`end_to_end` metrics of BENCHMARK.json untraced, the `per_layer` ones
traced. Exits non-zero when the result is wrong or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.dont_write_bytecode = True
sys.path.insert(0, BENCH_DIR)
import build  # noqa: E402

WORKLOADS = ("bulk_load", "cdc_merge", "serve_reads")
SCRATCH_PARENT = os.path.join(ROOT, ".bench_scratch")
RUN_LIMIT_S = 175
# what Spark creates in the working directory when not pointed elsewhere
LEAK_NAMES = ("spark-warehouse", "metastore_db", "derby.log")


def fail(msg, code=2):
    print(f"run: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_bytes(path, skip=()):
    total = 0
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if os.path.join(d, x) not in skip]
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def metric_names():
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    return ([m["name"] for m in spec["end_to_end"]], [m["name"] for m in spec["per_layer"]])


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=os.path.join(ROOT, ".bench_results"),
                    help="directory for the full result of each run")
    ap.add_argument("--self-test", action="store_true", help="check the benchmark's own arithmetic")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    started = time.time()
    try:
        b = build.build()
    except build.BuildError as e:
        fail(str(e))

    os.makedirs(SCRATCH_PARENT, exist_ok=True)
    # a run killed before its cleanup leaves its root behind: remove it, and
    # report it, since stale tables skew commit-heavy ops
    stale = os.listdir(SCRATCH_PARENT)
    for d in stale:
        shutil.rmtree(os.path.join(SCRATCH_PARENT, d), ignore_errors=True)
    scratch = os.path.join(SCRATCH_PARENT, f"run-{os.getpid()}-{int(started)}")
    results_dir = os.path.abspath(a.out)
    skip = {os.path.dirname(b.out), results_dir, os.path.join(ROOT, ".git")}
    disk_before = tree_bytes(ROOT, skip)
    leaks_before = {p for p in (os.path.join(ROOT, n) for n in LEAK_NAMES) if os.path.exists(p)}
    os.makedirs(scratch)

    try:
        if a.self_test:
            proc = subprocess.run(b.java("graftbench.SelfTest", [], scratch),
                                  timeout=RUN_LIMIT_S)
            sys.exit(proc.returncode)
        e2e_names, layer_names = metric_names()
        result_file = os.path.join(scratch, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--scratch", os.path.join(scratch, "run"),
                "--result", result_file]
        budget = RUN_LIMIT_S - 10
        try:
            proc = subprocess.run(b.java("graftbench.Main", args, scratch),
                                  stdout=sys.stderr, timeout=budget)
        except subprocess.TimeoutExpired:
            fail(f"workload did not finish within {budget:.0f} s", 4)
        if proc.returncode != 0 or not os.path.isfile(result_file):
            fail(f"workload exited with code {proc.returncode}", 3)
        with open(result_file) as fh:
            result = json.load(fh)
        spans_src = result_file + ".spans.jsonl"
        os.makedirs(results_dir, exist_ok=True)
        stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        if os.path.isfile(spans_src):
            shutil.copyfile(spans_src, os.path.join(results_dir, stem + ".spans.jsonl"))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    # the checkout's size is recorded; what the run itself may leave behind
    # (its scratch root, Spark's default warehouse and metastore) must be gone
    disk_after = tree_bytes(ROOT, skip)
    left = tree_bytes(SCRATCH_PARENT) + sum(
        tree_bytes(p) + (os.path.getsize(p) if os.path.isfile(p) else 0)
        for p in (os.path.join(ROOT, n) for n in LEAK_NAMES) if p not in leaks_before)
    result["meta"].update({"git_commit": git_commit(), "source_hash": b.stamp,
                           "stale_scratch_roots_removed": len(stale),
                           "disk_bytes_before": disk_before, "disk_bytes_after": disk_after,
                           "bytes_left_behind": left})
    if left:
        result["correct"] = False
        result["errors"].append(f"the run left {left} bytes behind in the checkout")

    wanted = layer_names if a.trace else e2e_names
    missing = [n for n in wanted if n not in result["metrics"]]
    if missing:
        fail(f"result lacks metrics {missing}", 3)

    if a.trace:
        base = os.path.join(results_dir, f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.isfile(base):
            with open(base) as fh:
                untraced = json.load(fh)["metrics"]
            result["trace_overhead"] = {
                k: result["metrics"][k]["value"] / untraced[k]["value"] - 1
                for k in ("cycle_s_p50", "lookup_s_p50", "scan_s_p50", "tick_s_p50")
                if untraced.get(k, {}).get("value")}
    with open(os.path.join(results_dir, stem + ".json"), "w") as fh:
        json.dump(result, fh, indent=1, sort_keys=True)

    listed = e2e_names + layer_names
    for name in listed + sorted(set(result["metrics"]) - set(listed)):
        if name not in result["metrics"]:
            continue
        m = result["metrics"][name]
        tail = result["tails"].get(name)
        extra = f"  (p{tail['percentile']} of {tail['samples']})" if tail else ""
        print(f"{name:28s} {m['value']:.6g} {m['unit']}{extra}")
    for k, v in result.get("trace_overhead", {}).items():
        print(f"trace overhead on {k:12s} {v:+.1%}")
    c = result["canaries"]
    print("canaries: cpu loop {:.1f} -> {:.1f} ms, write+fsync {:.2f} -> {:.2f} ms".format(
        c["start"]["cpu_loop_ms"], c["end"]["cpu_loop_ms"],
        c["start"]["write_fsync_ms"], c["end"]["write_fsync_ms"]))
    for err in result["errors"]:
        print(f"error: {err}")
    print(f"correct: {str(result['correct']).lower()} "
          f"({result['failed']} of {result['attempted']} ops failed)")
    print(json.dumps({
        "correct": result["correct"], "attempted": result["attempted"], "failed": result["failed"],
        "metrics": {n: result["metrics"][n] for n in wanted}}))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
