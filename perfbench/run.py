#!/usr/bin/env python3
"""Benchmark runner for the engine: one run of one workload.

Usage (from the root of an engine checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: telemetry_mix, store_lifecycle (see BENCHMARK.json and
perfbench/README.md).

What one run does:
  1. Builds the engine and the harness with sbt, once per source
     fingerprint, and caches the runtime classpath under .bench_build/.
  2. Writes the fixed fixture tables once (gen_tables.py).
  3. Starts one JVM for the workload, with the engine's JVM flags, a
     private java.io.tmpdir and Spark local dir under a fresh run
     directory, which is deleted afterwards.
  4. Compares every query result digest with expected_digests.json.
  5. Prints a detail line, then the result as the last line:
     {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
     With --trace 0 the metrics are the end-to-end metrics, with
     --trace 1 the per-layer metrics; names and units come from
     BENCHMARK.json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_tables  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["telemetry_mix", "store_lifecycle"]
RUN_LIMIT_S = 170

# The engine's JVM flags (build.sbt javaOptions) plus a pinned timezone.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Dspark.sql.legacy.parquet.nanosAsLong=true",
    "-Duser.timezone=UTC",
    "-Xmx3g",
    "-XX:-UsePerfData",  # no hsperfdata file outside the run directory
]

_child = None


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def stop_child(*_):
    """Stops the running JVM or sbt (and its process group) and waits."""
    global _child
    if _child is not None and _child.poll() is None:
        try:
            os.killpg(_child.pid, signal.SIGTERM)
            _child.wait(timeout=10)
        except (ProcessLookupError, subprocess.TimeoutExpired):
            try:
                os.killpg(_child.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            _child.wait()
    _child = None


def run_child(cmd, cwd, env, log_path, timeout):
    global _child
    with open(log_path, "w") as log:
        _child = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                                  stderr=subprocess.STDOUT,
                                  start_new_session=True)
        try:
            code = _child.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            stop_child()
            return None
    _child = None
    return code


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


# ---- build ---------------------------------------------------------------

def fingerprint():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
             "perfbench/project", "perfbench/src"]
    for r in roots:
        p = os.path.join(ROOT, r)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(p)
            if "target" not in os.path.relpath(d, p).split(os.sep)
            and "project/project" not in d
            for f in fs if f.endswith((".scala", ".sbt", ".properties")))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.isfile(repos):
        opts += (" -Dsbt.override.build.repos=true"
                 f" -Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = opts.strip()
    return env


def classpath():
    """Compiles the engine and the harness if the sources changed, and
    returns the runtime classpath (resolved once, outside any timing)."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.json")
    fp = fingerprint()
    try:
        with open(stamp) as f:
            cached = json.load(f)
        if cached["fingerprint"] == fp and all(
                os.path.exists(p) for p in cached["classpath"].split(os.pathsep)):
            return cached["classpath"]
    except (OSError, ValueError, KeyError):
        pass
    log = os.path.join(BUILD, "build.log")
    code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"],
                     os.path.join(ROOT, "perfbench"), sbt_env(), log, 850)
    lines = [ln.strip() for ln in open(log, errors="replace")]
    cp = [ln for ln in lines if ln.endswith(".jar") and os.pathsep in ln]
    if code != 0 or not cp:
        die(f"build failed (sbt exit {code}):\n{tail(log)}", 1)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp[-1]}, f)
    return cp[-1]


# ---- fixtures ------------------------------------------------------------

def fixtures():
    """The fixed fixture tables and their content hash."""
    with open(os.path.join(HERE, "gen_tables.py"), "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:16]
    d = os.path.join(BUILD, "fixtures", tag)
    if not os.path.isfile(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen_tables.write(d)
        open(os.path.join(d, "DONE"), "w").close()
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        if name.endswith(".parquet"):
            with open(os.path.join(d, name), "rb") as f:
                h.update(name.encode() + hashlib.sha256(f.read()).digest())
    return d, h.hexdigest()


# ---- one run -------------------------------------------------------------

def jvm(cp, workload, seed, seconds, trace, data, timeout, extra=()):
    """Runs perfbench.Main in a fresh run directory; returns its result."""
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "work"):
        os.makedirs(os.path.join(run_dir, sub))
    out = os.path.join(run_dir, "result.json")
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log = os.path.join(BUILD, "logs", f"{workload}.log")
    cores = len(os.sched_getaffinity(0))
    cmd = ["java"] + JVM_FLAGS + [
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dspark.local.dir={run_dir}/spark-local",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        f"-Dderby.system.home={run_dir}",
        "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--data", data, "--run-dir", f"{run_dir}/work", "--out", out,
        "--cores", str(cores)] + list(extra)
    if trace:
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        cmd += ["--trace-out", os.path.join(traces, f"{workload}-seed{seed}.json")]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = f"{run_dir}/spark-local"
    try:
        code = run_child(cmd, run_dir, env, log, timeout)
        if code != 0:
            die(f"{workload} JVM {'timed out' if code is None else f'exit {code}'}"
                f":\n{tail(log)}", 1)
        if not extra:
            results = os.path.join(BUILD, "results")
            os.makedirs(results, exist_ok=True)
            kept = os.path.join(results, f"{workload}-seed{seed}-trace{trace}.json")
            shutil.copyfile(out, kept)
            with open(out) as f:
                return json.load(f)
        return None
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def check_digests(result, fixture_hash):
    """Counts every query execution whose digest is not the expected one."""
    with open(os.path.join(HERE, "expected_digests.json")) as f:
        expected = json.load(f)
    bad = []
    n = 0
    for q, ds in result["digests"].items():
        for d in ds:
            n += 1
            want = expected["queries"].get(q)
            if expected["fixture_sha256"] != fixture_hash:
                bad.append(f"{q}: fixture tables differ from the digested ones")
            elif d != want:
                bad.append(f"{q}: digest {d} != expected {want}")
    return n, bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("run this from the root of an engine checkout "
            "(build.sbt and src/main/scala not found)")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    signal.signal(signal.SIGTERM, lambda *a: (stop_child(), sys.exit(143)))

    cp = classpath()
    data, fixture_hash = fixtures()
    t0 = time.monotonic()
    res = jvm(cp, args.workload, args.seed, args.seconds, args.trace, data,
              RUN_LIMIT_S)

    attempted, failed = res["attempted"], res["failed"]
    errors = list(res["errors"])
    if args.workload == "telemetry_mix":
        # digest executions were already counted as attempted ops
        _, bad = check_digests(res, fixture_hash)
        failed += len(bad)
        errors += bad[:20]
    spec = bench["per_layer"] if args.trace else bench["end_to_end"]
    source = res["layers"] if args.trace else res["metrics"]
    metrics = {}
    for m in spec:
        v = source.get(m["name"])
        if v is None and args.trace:
            v = 0.0  # a layer this workload does not call
        if v is None or not math.isfinite(v):
            die(f"metric {m['name']} was not measured", 1)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "passes": res["passes"], "samples": res["samples"],
        "setups_s": res["setups_s"], "pass_wall_s": res["pass_wall_s"],
        "phases_s": res["phases_s"],
        "run_s": round(time.monotonic() - t0, 3), "op_ms": res["op_ms"],
        "errors": errors}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    finally:
        stop_child()
