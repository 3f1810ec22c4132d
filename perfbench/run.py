#!/usr/bin/env python3
"""Benchmark of the Spark engine, from outside, through its public API.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads:
  transform_bulk   Engine.transform to NDJSON on a building-heavy landing set
  transform_probe  Engine.transform to NDJSON on a toponym-dense landing set
  catalogue        a seeded draw of QueryCatalog.all over perfbench/data/sf0.01

Each run builds the program and the harness from source (once per source
state; the classpath is cached in .bench_build/), generates its inputs
from the seed, starts one JVM on local[N] (N = min(4, nproc)) and drives
it with one client in a closed loop for about --seconds (at least three
operations; see perfbench/README.md). It checks every output: transform records
against the generator's exact counts, catalogue row counts against
DuckDB running each entry's oracle SQL. The last line of stdout is the
result; the line before it repeats the metrics under the names of the
benchmark's design notes, with the run's stamp.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen_landing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data", "sf0.01")
ORACLE_CACHE = os.path.join(HERE, "oracle_counts.json")
WORKLOADS = ("transform_bulk", "transform_probe", "catalogue")
XMX = "2g"
BUDGET_S = 170  # a run must end within 180 s
BUILD_BUDGET_S = 840  # the first run in a checkout builds
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
]

UNITS = {"setup_s": "s", "wall_s": "s", "features_per_s": "1/s", "query_p50_s": "s",
         "query_p90_s": "s", "cpu_s": "s", "peak_rss_mb": "MB", "failed_frac": "fraction",
         "wall_ref_s": "s", "features_per_ref_s": "1/s", "cpu_ref_s": "s", "probe_s": "s"}
# The host speed the *_ref metrics are given at: the host probe's time
# (HostProbe in Main.scala) on a quiet 4-vCPU x86-64 virtual machine.
PROBE_REF_S = 0.05
# The metrics the benchmark definition lists; the stamp line has the rest.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _definition = json.load(_f)
END_TO_END = [m["name"] for m in _definition["end_to_end"]]
PER_LAYER = {m["name"]: m["unit"] for m in _definition["per_layer"]}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Everything the build reads: both builds' definitions and sources."""
    for build_dir in (ROOT, HERE):
        for f in ("build.sbt", "project/build.properties", "project/plugins.sbt"):
            if os.path.exists(os.path.join(build_dir, f)):
                yield os.path.join(build_dir, f)
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                yield os.path.join(d, f)


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def git_sha():
    """HEAD with -dirty, or the source hash where there is no git."""
    try:
        def git(*a):
            return subprocess.run(["git", *a], cwd=ROOT, capture_output=True, text=True,
                                  timeout=10, check=True).stdout.strip()
        if os.path.realpath(git("rev-parse", "--show-toplevel")) != os.path.realpath(ROOT):
            raise OSError("not a checkout of its own")
        sha = git("rev-parse", "HEAD")
        dirty = git("status", "--porcelain", "--", "src", "perfbench")
        return sha + ("-dirty" if dirty else "")
    except (OSError, subprocess.SubprocessError):
        return "nogit-" + source_hash()


def run_group(cmd, deadline, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole
    group and wait for it. Returns the exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def build(deadline):
    """Compile program and harness once per source state; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"program sources not found under {ROOT}/src/main/scala")
    stamp = source_hash()
    cp_file = os.path.join(BUILD, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            built = json.load(f)
        if built["sources"] == stamp:
            return built["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env.setdefault("SBT_OPTS", " ".join(opts))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"], deadline, cwd=HERE, env=env,
                           stdout=out, stderr=subprocess.STDOUT)
        except OSError as e:
            fail(f"cannot run sbt: {e}")
    if rc is None:
        fail(f"build timed out; see {log}")
    with open(log) as f:
        lines = [l for l in f.read().splitlines() if ".jar" in l and os.pathsep in l]
    if rc != 0 or not lines:
        fail(f"build failed; see {log}")
    with open(cp_file, "w") as f:
        json.dump({"sources": stamp, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip()


def prepare_transform(workload, seed, work):
    kind = workload.split("_", 1)[1]
    info = gen_landing.generate(kind, seed, os.path.join(work, "input"))
    # The set-up's warm-up input: small and seeded apart from the measured set.
    gen_landing.generate(kind, seed * 1009 + 17, os.path.join(work, "warm"), scale=0.03)
    return info


def run_jvm(cp, args, work, deadline):
    result = os.path.join(work, "result.json")
    # Only the heap's ceiling is set, so resident memory follows what the
    # program touches. The JIT stops at C1: C2 keeps compiling Spark's
    # planner for minutes, so per-operation times drift down all through
    # a run and follow the host's load; with C1 they are flat from the
    # first operation on. A transform in its own JVM runs mostly C1 code.
    cmd = ["java", f"-Xmx{XMX}", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1", *ADD_OPENS,
           f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--data", DATA, "--cores", str(cores()), "--result", result]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        rc = run_group(cmd, deadline, cwd=work, stdout=out, stderr=subprocess.STDOUT)
    if rc is None:
        fail("benchmark JVM exceeded the time budget")
    if rc != 0 or not os.path.exists(result):
        with open(log) as f:
            tail = f.read()[-3000:]
        fail(f"benchmark JVM failed (exit {rc}):\n{tail}")
    with open(result) as f:
        return json.load(f)


def cores():
    return max(1, min(4, os.cpu_count() or 1))


def check_transform(ops, truth):
    """An operation fails on an exception or on any record count that
    differs from the generator's."""
    failed = 0
    for op in ops:
        got = {k: v for k, v in op["counts"].items() if v}
        want = {k: v for k, v in truth.items() if v}
        if op["error"] is None and got != want:
            op["error"] = f"record counts {got} != expected {want}"
        failed += op["error"] is not None
    return failed


def oracle_counts(sqls):
    """Row counts of the oracle SQL over DATA, cached by SQL text."""
    cache = {}
    if os.path.exists(ORACLE_CACHE):
        with open(ORACLE_CACHE) as f:
            cache = json.load(f)
    local = os.path.join(BUILD, "oracle_counts.json")
    if os.path.exists(local):
        with open(local) as f:
            cache.update(json.load(f))
    key = {name: hashlib.sha256(sql.encode()).hexdigest()[:20] for name, sql in sqls.items()}
    missing = {name for name in sqls if key[name] not in cache}
    if missing:
        import duckdb
        con = duckdb.connect()
        for f in sorted(os.listdir(DATA)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(DATA, f)}'")
        new = {}
        for name in sorted(missing):
            new[key[name]] = con.execute(f"SELECT count(*) FROM ({sqls[name]})").fetchone()[0]
        cache.update(new)
        os.makedirs(BUILD, exist_ok=True)
        with open(local, "w") as f:
            json.dump(dict(sorted(cache.items())), f, indent=0)
    return {name: cache[key[name]] for name in sqls}


def check_catalogue(ops, sqls):
    """An entry fails on an exception or on a row count that differs
    from DuckDB's. Entries without oracle SQL must only not throw."""
    want = oracle_counts({op["name"]: sqls[op["name"]] for op in ops if op["name"] in sqls})
    failed = 0
    for op in ops:
        if op["error"] is None and op["name"] in want and op["rows"] != want[op["name"]]:
            op["error"] = f"rows {op['rows']} != oracle {want[op['name']]}"
        failed += op["error"] is not None
    return failed


def quantile(xs, q):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build(t_start + BUILD_BUDGET_S)
    deadline = time.time() + BUDGET_S
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.workload == "catalogue":
            if not os.path.isdir(DATA):
                fail(f"catalogue data not found at {DATA}")
            inputs = {"data": os.path.relpath(DATA, ROOT)}
        else:
            inputs = prepare_transform(args.workload, args.seed, work)
        res = run_jvm(cp, args, work, deadline)
        ops = res["ops"]
        if args.workload == "catalogue":
            failed = check_catalogue(ops, res["oracle_sql"])
        else:
            failed = check_transform(ops, inputs.pop("counts"))
        trace_file = None
        if args.trace:
            trace_dir = os.path.join(BUILD, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_file = os.path.join(trace_dir, f"{args.workload}-{args.seed}.json")
            with open(trace_file, "w") as f:
                json.dump({k: res[k] for k in ("spans", "counters", "layers", "ops")}, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # Failed operations count only in attempted/failed; with none left,
    # the per-operation metrics are absent rather than 0.
    ok = [op for op in ops if op["error"] is None]
    e2e = {"setup_s": res["setup_s"]}
    if args.workload == "catalogue" and ok:
        walls = [op["wallS"] for op in ok]
        e2e.update(wall_s=statistics.median(walls), query_p50_s=statistics.median(walls),
                   query_p90_s=quantile(walls, 0.9),
                   cpu_s=statistics.median([op["cpuS"] for op in ok]))
    elif ok:
        # The first transform is the first to see the full-size input
        # (its files, plans and code paths), so the medians leave it out;
        # it stays on the stamp line (op_wall_s).
        settled = ok[1:] or ok
        e2e["wall_s"] = statistics.median([op["wallS"] for op in settled])
        e2e["features_per_s"] = inputs["features"] / e2e["wall_s"]
        e2e["cpu_s"] = statistics.median([op["cpuS"] for op in settled])
        if not args.trace:  # the traced loop runs no probe
            # The same at a fixed host speed: scaled by PROBE_REF_S over
            # the median probe time of the same operations.
            e2e["probe_s"] = statistics.median([op["probeS"] for op in settled])
            e2e["wall_ref_s"] = e2e["wall_s"] * PROBE_REF_S / e2e["probe_s"]
            e2e["features_per_ref_s"] = inputs["features"] / e2e["wall_ref_s"]
            e2e["cpu_ref_s"] = e2e["cpu_s"] * PROBE_REF_S / e2e["probe_s"]
    if args.workload == "catalogue":
        inputs["entries"] = [op["name"] for op in ops]
    e2e["peak_rss_mb"] = res["peak_rss_mb"]
    stamp = dict(res["stamp"], git=git_sha(), nproc=os.cpu_count(), xmx=XMX,
                 workload=args.workload, seed=args.seed, seconds=args.seconds,
                 operations=len(ops), op_wall_s=[round(op["wallS"], 3) for op in ops],
                 op_probe_s=[round(op["probeS"], 4) for op in ops],
                 inputs=dict(res["stamp"]["inputs"], **inputs),
                 trace_file=trace_file and os.path.relpath(trace_file, ROOT))
    if failed:
        stamp["failures"] = sorted({f"{op['name']}: {op['error']}" for op in ops if op["error"]})[:20]
    info = dict(e2e, failed_frac=failed / len(ops))
    print(json.dumps({"stamp": stamp,
                      "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in info.items()}}))
    if args.trace:
        # A layer the workload does not exercise reports 0.
        metrics = {k: {"value": res["layers"].get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END if k in e2e}
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
