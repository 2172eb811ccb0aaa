#!/usr/bin/env python3
"""Benchmark of the weather engine: build, run one workload, check, report.

    python3 perfbench/run.py --workload daily_deep --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke          # every workload, tiny, traced too

Run from the repository root. The first run builds the engine's main
sources together with the harness in perfbench/ (sbt, offline); later runs
reuse the build while the sources are unchanged. Each run generates its
inputs from --seed, sets up, runs the workload as a closed loop for
--seconds, checks the outputs and prints one JSON line last on stdout:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 the per-layer metrics.

A full record of the run (host stamp, metrics, per-operation details and,
when traced, every span) goes to perfbench/results/. compare.py compares
two such records and refuses records from different hosts.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("daily_deep", "backfill", "query_mix")
# query_mix table sizes, as a multiple of the engine's sf0.01 test tables
QUERY_SCALE = 0.1
SMOKE_QUERY_SCALE = 0.05
JAVA_OPTS = [
    "-Xmx4g", "-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [arg for mod in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for arg in ("--add-opens", f"{mod}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, relative to the repository root."""
    files = [os.path.join("perfbench", "build.sbt"),
             os.path.join("perfbench", "project", "build.properties")]
    for top in (os.path.join("src", "main", "scala"),
                os.path.join("perfbench", "src")):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run a child in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def build(src_digest):
    """Compile the engine and harness; return the runtime classpath."""
    stamp = os.path.join(HERE, "target", "perfbench-build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got.get("digest") == src_digest:
            return got["classpath"]
    log("building engine + harness (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as out:
        code = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"-Dsbt.global.base={os.path.join(HERE, '.sbt-global')}",
             "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            timeout=840, cwd=HERE, env=env, stdout=out, stderr=sys.stderr)
    with open(cp_file) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    if code != 0 or not lines:
        raise SystemExit("build failed")
    classpath = lines[-1]
    if "target" not in classpath or ".jar" not in classpath:
        raise SystemExit(f"build printed no classpath: {classpath[:200]}")
    with open(stamp, "w") as fh:
        json.dump({"digest": src_digest, "classpath": classpath}, fh)
    return classpath


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except OSError:
        return None


def generate_query_data(dest, seed, scale, reps):
    """Write the query tables `reps` times; return the median seconds."""
    import querydata
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        querydata.write(dest, seed, scale)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def run_jvm(classpath, work, tasks, args, setup_extra_s, deadline):
    out = os.path.join(work, "jvm_result.json")
    local, tmp = os.path.join(work, "local"), os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local,
               SPARK_GRAFT_LOCAL_DIR_POLICY="env")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + JAVA_OPTS + [
        f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main",
        "--tasks", ",".join(f"{w}:{t}" for w, t in tasks),
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--workdir", work, "--query-data", os.path.join(work, "qdata"),
        "--setup-extra-s", repr(setup_extra_s),
        "--smoke", "1" if args.smoke else "0",
        "--wrong-expectation", "1" if args.wrong_expectation else "0",
        "--out", out]
    log("launching harness")
    code = run_group(cmd, timeout=max(10.0, deadline - time.monotonic()),
                     cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr)
    log("harness exited")
    if code != 0 or not os.path.exists(out):
        raise SystemExit(f"harness exited with code {code}")
    with open(out) as fh:
        return json.load(fh)


def check_queries(task, work, wrong_expectation):
    """Compare each query's row count with the DuckDB oracle's; return the
    number of mismatching queries."""
    import querydata
    with open(os.path.join(work, "oracle_sql.json")) as fh:
        sql = json.load(fh)
    want = querydata.oracle_counts(os.path.join(work, "qdata"), sql)
    bad = 0
    for name, n in sorted(want.items()):
        if wrong_expectation:
            n += 1
        got = task["details"].get(f"rows.{name}")
        if got != n:
            log(f"check failed: {name} returned {got} rows, oracle {n}")
            bad += 1
    return bad


def main():
    # a terminated run must still stop its children (see run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="every workload at tiny sizes, untraced and traced")
    p.add_argument("--wrong-expectation", action="store_true",
                   help="check against a deliberately wrong expectation")
    args = p.parse_args()
    start = time.monotonic()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("engine sources not found next to perfbench/; run from a checkout")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.smoke:
        tasks = [(w, t) for w in WORKLOADS for t in (0, 1)]
        args.seconds = args.seconds or 1.0
    elif args.workload:
        tasks = [(args.workload, args.trace)]
        args.seconds = args.seconds or float(spec["run_seconds"])
    else:
        p.error("--workload or --smoke is required")

    src_digest = digest()
    classpath = build(src_digest)
    start = time.monotonic()  # the run's own 180 s budget starts after the build
    work = os.path.join(HERE, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sys.path.insert(0, HERE)
    try:
        setup_extra = 0.0
        if any(w == "query_mix" for w, _ in tasks):
            setup_extra = generate_query_data(
                os.path.join(work, "qdata"), args.seed,
                SMOKE_QUERY_SCALE if args.smoke else QUERY_SCALE, 3)
        res = run_jvm(classpath, work, tasks, args, setup_extra, start + 170)
        for task in res["tasks"]:
            if task["workload"] == "query_mix":
                bad = check_queries(task, work, args.wrong_expectation)
                task["failed"] = min(task["attempted"], task["failed"] + bad)
                task["correct"] = task["correct"] and bad == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    host = dict(res["host"], git_commit=git_commit(), source_digest=src_digest)
    host["local_dir"] = host["local_dir"].replace(work, "<run dir>")
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    for task in res["tasks"]:
        name = (f"{task['workload']}-seed{args.seed}-trace{task['trace']}"
                + ("-smoke" if args.smoke else ""))
        with open(os.path.join(HERE, "results", name + ".json"), "w") as fh:
            json.dump(dict(task, host=host, seed=args.seed,
                           seconds=args.seconds), fh, indent=1)

    if args.smoke:
        summary = {f"{t['workload']}:{t['trace']}": {
            "correct": t["correct"], "attempted": t["attempted"],
            "failed": t["failed"], "metrics": t["metrics"]}
            for t in res["tasks"]}
        print(json.dumps(summary))
        return 0

    (task,) = res["tasks"]
    specs = spec["per_layer" if args.trace else "end_to_end"]
    if set(task["metrics"]) != {m["name"] for m in specs}:
        log(f"metric names differ from BENCHMARK.json: {sorted(task['metrics'])}")
        return 1
    metrics = {m["name"]: {"value": task["metrics"][m["name"]], "unit": m["unit"]}
               for m in specs}
    print(json.dumps({"correct": task["correct"], "attempted": task["attempted"],
                      "failed": task["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
