#!/usr/bin/env python3
"""Benchmark entry point: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine and the
harness with sbt (the engine from this checkout's own sources); later runs
reuse the build while no source file is newer than it. Each run starts one
JVM for the workload under the tier-1 heap rule (half of physical memory,
clamped to 2-8 GB) with `local[N]`, N = cores. Inputs are generated from
the seed inside `perfbench/.work/`, which is emptied at the start of every
run. The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Workloads: scene_ndvi, lakehouse_cdc, query_mix (see BENCHMARK.json) and
scene_full (the Landsat-sized scene; run on demand, see NOTES.md).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
BUILD_LOG = os.path.join(HERE, "target", "build.log")
RUN_LIMIT_S = 170          # a run ends within this, build excluded
BUILD_LIMIT_S = 700        # first run: build + run stay under 900 s
QUERY_SF = 0.01            # scale factor of the generated analytics tables

E2E_UNITS = {"setup_s": "s", "op_s": "s"}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compiles engine + harness unless the classpath file is up to date."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("run.py: the engine's sources (build.sbt, src/main/scala) are "
                 "not next to the benchmark; nothing to measure")
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return
    log("building engine and harness with sbt")
    t0 = time.time()
    os.makedirs(os.path.dirname(BUILD_LOG), exist_ok=True)
    with open(BUILD_LOG, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    if p.returncode != 0 or not os.path.isfile(CLASSPATH):
        sys.exit(f"run.py: build failed (see {BUILD_LOG})")
    log(f"build took {time.time() - t0:.1f} s")


def heap_gb():
    """The tier-1 heap rule: MemTotal / 2, clamped to 2..8 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return min(8, max(2, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(args, work, gen_seconds, deadline):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{heap_gb()}g", "-XX:+ExitOnOutOfMemoryError",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--cores", str(cores()),
              "--gen-seconds", repr(gen_seconds)])
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    return code


def failure_result(work, why):
    """A JVM that died (OutOfMemoryError exit, crash, run timeout) still
    reports: every finished operation as recorded, plus one failed one."""
    done = []
    progress = os.path.join(work, "ops.jsonl")
    if os.path.isfile(progress):
        with open(progress) as f:
            done = [json.loads(l) for l in f if l.strip()]
    failed = 1 + sum(1 for o in done if not o["ok"])
    return {"attempted": len(done) + 1, "failed": failed, "metrics": {},
            "errors": [why], "op_counts": {}, "failed_by_op": {}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["scene_ndvi", "scene_full", "lakehouse_cdc", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    build()
    start = time.time()
    shutil.rmtree(WORK, ignore_errors=True)
    work = os.path.join(WORK, "run")
    os.makedirs(work)

    gen_seconds = 0.0
    if args.workload == "query_mix":
        t0 = time.time()
        subprocess.run([sys.executable, os.path.join(HERE, "gen_tables.py"),
                        os.path.join(work, "tables"), str(args.seed), str(QUERY_SF)],
                       check=True)
        gen_seconds = time.time() - t0

    code = run_jvm(args, work, gen_seconds, start + RUN_LIMIT_S)
    result_file = os.path.join(work, "result.json")
    if code == 0 and os.path.isfile(result_file):
        with open(result_file) as f:
            res = json.load(f)
    else:
        why = "run timeout" if code == "timeout" else f"JVM exit code {code}"
        log(f"{why}; see {os.path.join(work, 'jvm.log')}")
        res = failure_result(work, why)

    if args.workload == "query_mix" and code == 0:
        import oracle
        bad = oracle.check(os.path.join(work, "tables"), os.path.join(work, "check"))
        for name in bad:
            n = res["op_counts"].get(name, 0)
            res["failed"] += n - res["failed_by_op"].get(name, 0)
        res["oracle_mismatches"] = sorted(bad)

    for e in res.get("errors", []):
        log(f"error: {e}")
    metrics = res["metrics"]
    if not args.trace and res["failed"] == 0:
        missing = set(E2E_UNITS) - set(metrics)
        assert not missing, f"missing metrics {missing}"
    out = {"correct": res["failed"] == 0 and res["attempted"] > 0,
           "attempted": int(res["attempted"]), "failed": int(res["failed"]),
           "metrics": metrics}
    # keep the small artefacts of the last run, drop the inputs
    for name in ("tables", "scene", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    for name in os.listdir(work):
        if name.startswith(("out-", "warm", "lake", "check")):
            shutil.rmtree(os.path.join(work, name), ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
