#!/usr/bin/env python3
"""Engine benchmark: one workload run, metrics as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The first run builds the
engine and the benchmark harness from source with the Scala compiler that
ships in the Spark jars, generates the input tables and computes the DuckDB
oracle's answers; later runs reuse all three from the build directory
(`$CARGO_TARGET_DIR`, default `.bench_build`). Everything a run writes stays
under that directory.

`--trace 0` prints the end-to-end metrics, `--trace 1` the per-layer ones.
`--smoke` runs the same protocol on the smallest input with one set-up and
one timed pass (see smoke.py). See README.md for the workloads and metrics.
"""
import argparse
import fcntl
import hashlib
import importlib.util
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALA_VERSION = "2.13.17"
WORKLOADS = ("tpch_prepared", "tpch_adhoc", "pipeline_mix")
BENCH_SF, SMOKE_SF = 0.01, 0.001
SETUP_REPS = 3
JVM_TIMEOUT_S = 160
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(path):
        fail(f"{path} not found")
    with open(path) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        fail("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def scalac(jars_dir, classpath, out, srcs):
    compiler = ":".join(f"{jars_dir}/scala-{m}-{SCALA_VERSION}.jar"
                        for m in ("compiler", "library", "reflect"))
    os.makedirs(out)
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
                    "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
                    "-d", out] + srcs, check=True, stdout=sys.stderr)


def build(build_dir):
    """Compile engine and harness once per source tree; return classpath."""
    engine_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench_src = sources(os.path.join(HERE, "src"))
    if not engine_src:
        fail(f"no engine sources under {ROOT}/src/main/scala")
    jars_dir = spark_jars()
    key = digest(engine_src + bench_src, SCALA_VERSION)
    final = os.path.join(build_dir, "classes", key)
    engine, bench = os.path.join(final, "engine"), os.path.join(final, "bench")
    cp = f"{engine}:{bench}:{jars_dir}/*"
    if os.path.isdir(final):
        return cp, key
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.time()
    jars = ":".join(sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir)
                           if j.endswith(".jar")))
    scalac(jars_dir, jars, os.path.join(tmp, "engine"), engine_src)
    scalac(jars_dir, f"{tmp}/engine:{jars}", os.path.join(tmp, "bench"), bench_src)
    os.rename(tmp, final)
    log(f"built engine + harness in {time.time() - t0:.0f} s")
    return cp, key


def prepare_data(build_dir, sf):
    gen = os.path.join(HERE, "gen_data.py")
    out = os.path.join(build_dir, "data", f"sf{sf}-{digest([gen])}")
    if not os.path.isdir(out):
        spec = importlib.util.spec_from_file_location("gen_data", gen)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        mod.generate(sf, out + ".tmp")
        os.rename(out + ".tmp", out)
    return out


def load_selfcheck():
    path = os.path.join(ROOT, "tools", "selfcheck.py")
    if not os.path.isfile(path):
        fail(f"oracle comparison {path} not found")
    spec = importlib.util.spec_from_file_location("selfcheck", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Oracle:
    """DuckDB answers for the oracle SQL, memoized per (data, SQL) pair."""

    def __init__(self, build_dir, data_dir, selfcheck):
        self.data_dir, self.selfcheck = data_dir, selfcheck
        self.cache = os.path.join(build_dir, "oracle", os.path.basename(data_dir))
        os.makedirs(self.cache, exist_ok=True)
        self.con = None

    def answer(self, op, sql):
        import pandas as pd
        path = os.path.join(self.cache, f"{op}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)
        if self.con is None:
            import duckdb
            self.con = duckdb.connect()
            for t in self.selfcheck.TABLES:
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                 f"read_parquet('{self.data_dir}/{t}.parquet')")
        df = self.con.execute(sql).fetchdf()
        df.to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
        return df

    def check(self, op, sql, result_dir):
        """None when the engine's rows match DuckDB's, else the mismatch."""
        import glob
        import pandas as pd
        files = sorted(glob.glob(os.path.join(result_dir, "*.parquet")))
        if not files:
            return "no result written"
        spark_df = pd.concat([pd.read_parquet(f) for f in files])
        return self.selfcheck.compare(spark_df, self.answer(op, sql), 1e-9)


def java_cmd(cp, main, args, tmp):
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens + [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, main] + args)


def jvm_env(tmp):
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "_JAVA_OPTIONS",
                        "JAVA_TOOL_OPTIONS")}
    env["TMPDIR"] = tmp
    return env


def warm_oracle(build_dir, cp, oracle):
    """Compute every workload's oracle answers once per build."""
    tmp = os.path.join(build_dir, "tmp-oracle")
    os.makedirs(tmp, exist_ok=True)
    path = os.path.join(tmp, "oracle_sql.json")
    subprocess.run(java_cmd(cp, "perfbench.OracleSql", [path], tmp),
                   env=jvm_env(tmp), check=True, stdout=sys.stderr,
                   timeout=JVM_TIMEOUT_S)
    with open(path) as f:
        for op, sql in json.load(f).items():
            oracle.answer(op, sql)
    shutil.rmtree(tmp)


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q):
    """q-th percentile (q in 1..99), linear between closest ranks."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def per_op(samples, f):
    """Sum over ops of the median over each op's samples of f(sample)."""
    by = {}
    for s in samples:
        by.setdefault(s["op"], []).append(f(s))
    return sum(median(v) for v in by.values())


def phase_ms(s, name):
    return s["phases_ms"].get(name, 0.0)


def counter(s, key, phases=None):
    return sum(c[key] for p, c in s["counters"].items() if phases is None or p in phases)


def self_times(spans, sample_ids):
    """Per (sample, span name): the span's duration minus the part of it
    that its children's intervals cover. Also returns nesting violations:
    a child that starts or ends outside its parent by more than the
    listener clock's 1 ms resolution."""
    spans = [s for s in spans if s["sample"] in sample_ids]
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out, violations = {}, []
    for s in spans:
        p = by_id.get(s["parent"]) if s["parent"] else None
        if s["parent"] and p is None and s["name"] in ("job", "stage"):
            violations.append(f"{s['id']}: parent {s['parent']} missing")
        if p and (s["start_ms"] < p["start_ms"] - 1.0 or s["end_ms"] > p["end_ms"] + 1.0):
            violations.append(f"{s['id']} [{s['start_ms']:.1f}, {s['end_ms']:.1f}] outside "
                              f"{p['id']} [{p['start_ms']:.1f}, {p['end_ms']:.1f}]")
        lo, hi = s["start_ms"], max(s["start_ms"], s["end_ms"])
        covered, cur = 0.0, lo
        for a, b in sorted((max(lo, k["start_ms"]), min(hi, k["end_ms"]))
                           for k in kids.get(s["id"], [])):
            a = max(a, cur)
            if b > a:
                covered += b - a
                cur = b
        self_ms = (hi - lo) - covered
        if self_ms < 0:
            violations.append(f"{s['id']}: negative self time {self_ms}")
        key = (s["sample"], s["name"])
        out[key] = out.get(key, 0.0) + self_ms
    return out, violations


def end_to_end(rec):
    ok = [s for s in rec["timed"] if s["ok"]]
    lat = [s["wall_ms"] for s in ok]
    return {
        "setup_s": (median([r["total_s"] for r in rec["setup"]]), "s"),
        "first_pass_s": (sum(s["wall_ms"] for s in rec["first_pass"]) / 1e3, "s"),
        "suite_s": (per_op(ok, lambda s: s["wall_ms"]) / 1e3, "s"),
        "latency_p50_ms": (percentile(lat, 50) if lat else 0.0, "ms"),
    }


def per_layer(rec, spans, cpus):
    tr = [s for s in rec["traced"] if s["ok"]]
    # prepared workloads build and plan once, before anything is timed
    built = [s for s in rec["prepare"] if s["ok"]] or tr
    mb = 1e6
    selfs, violations = self_times(spans, {s["sample"] for s in tr + built})

    def L(f, samples=tr):
        return per_op(samples, f)

    def plan(key):
        return lambda s: (s["plan"] or {}).get(key, 0.0)

    def self_ms(name, samples=tr):
        return L(lambda s: selfs.get((s["sample"], name), 0.0), samples)

    scan_rows = L(plan("scan_rows"))
    untraced = [s for s in rec["timed"] if s["ok"]]
    setups = rec["setup"]
    m = {
        "session.start_ms": (median([r["session_ms"] for r in setups]), "ms"),
        "catalog.register_ms": (median([r["register_ms"] for r in setups]), "ms"),
        "catalog.jobs": (median([r["jobs"] or 0 for r in setups]), "count"),
        "catalog.cache_mb": (median([r["cache_mb"] for r in setups]), "MB"),
        "registry.construct_ms": (L(lambda s: phase_ms(s, "construct"), built), "ms"),
        "registry.construct_jobs": (L(lambda s: counter(s, "jobs", {"construct"}), built), "count"),
        "registry.pinned_mb": (L(lambda s: s["pinned_bytes"] / mb, built), "MB"),
        "registry.driver_result_mb": (L(lambda s: counter(s, "result_bytes", {"construct"}) / mb,
                                        built), "MB"),
        "catalyst.plan_ms": (L(lambda s: phase_ms(s, "plan"), built), "ms"),
        "catalyst.plan_nodes": (L(plan("nodes")), "count"),
        "catalyst.codegen_stages": (L(plan("codegen_stages")), "count"),
        "catalyst.exchanges": (L(plan("exchanges")), "count"),
        "scheduler.jobs": (L(lambda s: counter(s, "jobs")), "count"),
        "scheduler.stages": (L(lambda s: counter(s, "stages")), "count"),
        "scheduler.tasks": (L(lambda s: counter(s, "tasks")), "count"),
        "scheduler.idle_core_ms": (L(lambda s: cpus * phase_ms(s, "execute")
                                     - counter(s, "run_ms", {"execute"})), "ms"),
        "executor.run_ms": (L(lambda s: counter(s, "run_ms")), "ms"),
        "executor.cpu_ms": (L(lambda s: counter(s, "cpu_ns") / 1e6), "ms"),
        "executor.gc_ms": (L(lambda s: counter(s, "gc_ms")), "ms"),
        "executor.spill_mb": (L(lambda s: counter(s, "spill_bytes") / mb), "MB"),
        "executor.peak_mem_mb": (max([c["peak_task_mem_bytes"] for s in tr
                                      for c in s["counters"].values()] or [0]) / mb, "MB"),
        "shuffle.write_mb": (L(lambda s: counter(s, "shuffle_write_bytes") / mb), "MB"),
        "shuffle.read_mb": (L(lambda s: counter(s, "shuffle_read_bytes") / mb), "MB"),
        "shuffle.write_ms": (L(lambda s: counter(s, "shuffle_write_ns") / 1e6), "ms"),
        "shuffle.fetch_wait_ms": (L(lambda s: counter(s, "fetch_wait_ms")), "ms"),
        "scan.input_mb": (L(lambda s: counter(s, "input_bytes") / mb), "MB"),
        "scan.rows_read": (scan_rows, "count"),
        "scan.filter_pass_ratio": (L(plan("filter_pass_rows")) / scan_rows if scan_rows else 1.0,
                                   "ratio"),
        "write.output_mb": (L(lambda s: counter(s, "output_bytes") / mb), "MB"),
        "write.files": (L(lambda s: counter(s, "write_files")), "count"),
        "write.task_ms": (L(lambda s: counter(s, "write_task_ms")), "ms"),
        "op.wscg_ms": (L(plan("wscg_ms")), "ms"),
        "op.agg_build_ms": (L(plan("agg_build_ms")), "ms"),
        "op.sort_ms": (L(plan("sort_ms")), "ms"),
        "op.broadcast_build_ms": (L(plan("broadcast_build_ms")), "ms"),
        "op.peak_mem_mb": (L(lambda s: plan("peak_mem_bytes")(s) / mb), "MB"),
        "jvm.gc_ms": (rec["jvm"]["timed_gc_ms"], "ms"),
        "jvm.peak_rss_mb": (rec["jvm"]["peak_rss_mb"], "MB"),
        "self.sample_ms": (self_ms("sample"), "ms"),
        "self.construct_ms": (self_ms("construct", built), "ms"),
        "self.plan_ms": (self_ms("plan", built), "ms"),
        "self.execute_ms": (self_ms("execute"), "ms"),
        "self.job_ms": (self_ms("job"), "ms"),
        "self.stage_ms": (self_ms("stage"), "ms"),
        "trace.overhead_s": ((L(lambda s: s["wall_ms"]) - per_op(untraced, lambda s: s["wall_ms"]))
                             / 1e3, "s"),
    }
    return m, violations


# ---------------------------------------------------------------- main

def git_head():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None  # not a git checkout; do not let git search parent dirs
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_ticks():
    """(steal, total) jiffies over all cpus, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v[:8])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="smallest input, one set-up, one timed pass")
    a = ap.parse_args()
    t_start = time.time()
    load_before = loadavg()

    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    selfcheck = load_selfcheck()
    sf = SMOKE_SF if a.smoke else BENCH_SF
    with open(os.path.join(build_dir, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp, source_key = build(build_dir)
        data = prepare_data(build_dir, sf)
        oracle = Oracle(build_dir, data, selfcheck)
        marker = os.path.join(oracle.cache, f"warm-{source_key}")
        if not os.path.exists(marker):
            warm_oracle(build_dir, cp, oracle)
            open(marker, "w").close()

    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--out", run_dir,
            "--setup-reps", "1" if a.smoke else str(SETUP_REPS),
            "--passes", "1" if a.smoke else "0"]
    try:
        t_jvm, ticks = time.time(), cpu_ticks()
        with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
            r = subprocess.run(java_cmd(cp, "perfbench.Main", args, tmp), env=jvm_env(tmp),
                               stdout=jlog, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S,
                               cwd=run_dir)
        jvm_wall = time.time() - t_jvm
        steal = [b - a for a, b in zip(ticks, cpu_ticks())]
        if r.returncode != 0:
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"benchmark JVM exited with {r.returncode}", 1)
        with open(os.path.join(run_dir, "record.json")) as f:
            rec = json.load(f)
        spans = []
        if a.trace:
            with open(os.path.join(run_dir, "spans.json")) as f:
                spans = json.load(f)
            trace_dir = os.path.join(build_dir, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_file = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
            shutil.copyfile(os.path.join(run_dir, "spans.json"), trace_file)

        # oracle gate: each op's first-pass rows against DuckDB's answer
        mismatches = {}
        for op, sql in sorted(rec["oracle_sql"].items()):
            if not any(s["op"] == op and s["ok"] for s in rec["first_pass"]):
                continue  # no rows: already counted as a failed sample
            err = oracle.check(op, sql, os.path.join(run_dir, "results", op))
            if err:
                mismatches[op] = err
        unchecked = sorted(set(rec["ops"]) - set(rec["oracle_sql"]))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    samples = [s for s in rec["prepare"] if not s["ok"]] + rec["first_pass"] + \
        rec["warmup"] + rec["timed"] + rec["traced"]
    attempted = len(samples)
    failed = sum(1 for s in samples if not s["ok"]) + len(mismatches)
    cpus = rec["stamp"]["cpus"]
    if a.trace:
        metrics, violations = per_layer(rec, spans, cpus)
    else:
        metrics, violations = end_to_end(rec), []
    ok_timed = [s for s in rec["timed"] if s["ok"]]
    report = {
        "workload": a.workload, "trace": a.trace, "smoke": a.smoke,
        "stamp": dict(rec["stamp"], sf=sf, git_head=git_head(), source_key=source_key,
                      loadavg_before=load_before, loadavg_after=loadavg(),
                      cpu_steal_share=steal[0] / steal[1] if steal[1] else 0.0),
        "error_rate": failed / attempted if attempted else 1.0,
        "setup_reps": rec["setup"],
        "timed_samples": len(ok_timed), "timed_wall_s": rec["timed_wall_s"],
        # too few samples lie beyond it for a bound: information only
        "latency_p90_ms": percentile([s["wall_ms"] for s in ok_timed], 90) if ok_timed else None,
        "traced_samples": len(rec["traced"]),
        "per_op_median_ms": {op: median([s["wall_ms"] for s in ok_timed if s["op"] == op])
                             for op in rec["ops"]},
        "errors": {s["op"]: s["error"] for s in samples if not s["ok"]},
        "oracle_mismatches": mismatches, "oracle_unchecked": unchecked,
        "mismatched_job_groups": rec["mismatched_job_groups"],
        "span_violations": violations[:20],
        "steps_s": dict(rec["steps_s"], jvm=jvm_wall, total=time.time() - t_start),
    }
    if a.trace:
        report["trace_file"] = os.path.relpath(trace_file, ROOT)
    print(json.dumps({"report": report}))
    correct = failed == 0 and not violations and rec["mismatched_job_groups"] == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
