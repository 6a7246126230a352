#!/usr/bin/env python3
"""Self-test of the benchmark on the smallest input.

    python3 perfbench/smoke.py [workload ...]

Runs `run.py --smoke` (input at sf0.001, one set-up, one timed sample per
op) for each workload, untraced and traced, and checks that:
  - the run exits 0 and its last line is the result object, correct, with
    no failed op;
  - every metric BENCHMARK.json names is printed with its unit, and no
    other: end-to-end metrics untraced, per-layer metrics traced;
  - traced spans nest: each job and stage lies inside its parent, every
    traced sample has a job under it, and no self time is negative;
  - the run leaves no file behind outside the build directory.
Defaults to every workload run.py knows. Exits 1 on the first failure.
"""
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

BUILD = os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def tree():
    """Every file in the checkout outside .git and the build directory."""
    out = set()
    for d, dirs, files in os.walk(ROOT):
        rel = os.path.relpath(d, ROOT)
        if rel == ".":
            dirs[:] = [x for x in dirs if x not in (".git", BUILD)]
        out.update(os.path.join(rel, f) for f in files)
    return out


def check(cond, msg):
    if not cond:
        print(f"FAIL {msg}")
        sys.exit(1)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = sys.argv[1:] or list(run.WORKLOADS)
    for w in workloads:
        for trace in (0, 1):
            before = tree()
            cmd = spec["command"] + ["--workload", w, "--seed", "1", "--seconds", "1",
                                     "--trace", str(trace), "--smoke"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            tag = f"{w} trace={trace}"
            check(p.returncode == 0, f"{tag}: exit {p.returncode}\n{p.stderr[-3000:]}")
            lines = p.stdout.strip().splitlines()
            res, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{tag}: result keys {sorted(res)}")
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{tag}: not correct: {json.dumps(report)[:3000]}")
            want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == want, f"{tag}: metrics differ: missing {sorted(set(want) - set(got))}, "
                  f"extra {sorted(set(got) - set(want))}, units "
                  f"{[k for k in want if k in got and got[k] != want[k]]}")
            check(all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                  f"{tag}: a metric value is not a number")
            if trace:
                with open(os.path.join(ROOT, report["trace_file"])) as f:
                    spans = json.load(f)
                samples = {s["sample"] for s in spans if s["name"] == "sample"}
                _, violations = run.self_times(spans, samples)
                check(not violations, f"{tag}: spans do not nest: {violations[:5]}")
                executed = {s["sample"] for s in spans if s["name"] == "execute"}
                with_jobs = {s["sample"] for s in spans if s["name"] == "job"}
                check(executed and executed <= with_jobs,
                      f"{tag}: executions without jobs: {sorted(executed - with_jobs)[:5]}")
            left = tree() - before
            check(not left, f"{tag}: files left behind: {sorted(left)[:10]}")
            print(f"ok {tag}: {len(res['metrics'])} metrics, {res['attempted']} samples")
    print("smoke ok")


if __name__ == "__main__":
    main()
