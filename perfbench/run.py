"""Run one workload of the graft benchmark and print its result.

    python3 perfbench/run.py --workload series_dataset --seed 1 --seconds 12 --trace 0

Run from the root of a graft checkout. The first run builds the program and
the harness from source (sbt, offline) into `perfbench/target` and records
the classpath under `.bench_build/`; later runs reuse it until a source file
changes. Each run generates its inputs from `--seed`, runs the timed JVM
(`graft.perfbench.Main`) on a fixed `local[N]` master and heap, checks the
outputs with checkers written apart from the program, and prints a record
line followed by the result as the last line of stdout:

    {"correct": true, "attempted": 12, "failed": 0, "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1` the
per-layer ones (and a span file is written under `.bench_build/traces/`).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CORES = min(4, os.cpu_count() or 1)
HEAP = "2g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

E2E_UNITS = {"wall_s": "s", "setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB",
             "shuffle_mb": "MB", "written_mb": "MB"}

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build compiles, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program with the harness; returns the runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Cli.scala")):
        fail("no graft sources under src/main/scala: run from a graft checkout")
    os.makedirs(BUILD, exist_ok=True)
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 1)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [ln for ln in lines if "target" in ln and ".jar" in ln and
          ln.count(os.pathsep) > 10 and not ln.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); see {log}", 1)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def run_jvm(classpath, workload, seconds, trace, inputs, work, out, trace_file,
            deadline):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap, not pre-touched: resident memory grows with the heap
    # pages the program actually uses
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--workload", workload, "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cores", str(CORES),
            "--inputs", inputs, "--work", os.path.join(work, "jvm"),
            "--out", out, "--trace-file", trace_file]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env)
        try:
            rc = proc.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log) as f:
            lines = f.read().splitlines()
        causes = [ln for ln in lines if "Exception" in ln or "Caused by" in ln or "graft." in ln]
        sys.stderr.write("\n".join(causes[:20] + lines[-20:]) + "\n")
        fail(f"benchmark JVM failed ({rc})", 1)
    with open(out) as f:
        return json.load(f)


def main():
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classpath = build()
    started = time.time()
    work = os.path.join(BUILD, f"run-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        inputs = os.path.join(work, "inputs")
        checksum = gen.generate(a.workload, a.seed, inputs)
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        trace_file = os.path.join(traces, f"{a.workload}-seed{a.seed}.json")
        res = run_jvm(classpath, a.workload, a.seconds, a.trace == 1, inputs,
                      work, os.path.join(work, "result.json"), trace_file,
                      started + RUN_LIMIT_S)
        checks = check.run(a.workload, inputs, res)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    record, result = summarize(a, checksum, res, checks)
    if a.trace:
        record["trace_file"] = os.path.relpath(trace_file, ROOT)
    print(json.dumps(record))
    print(json.dumps(result))


def summarize(a, checksum, res, checks):
    """The run record and the result line from the JVM's measurements and
    the checks; every check is one operation, as is every timed journey."""
    failed = sum(1 for c in checks if not c["ok"])
    record = {"workload": a.workload, "seed": a.seed, "inputs_sha256": checksum,
              "master": res["master"], "max_heap_mb": res["max_heap_mb"],
              "session_s": res["session_s"], "journey_walls": res["journey_walls"],
              "journey_jobs": res["journey_jobs"],
              "checks": checks}
    if a.trace:
        metrics = {k: {"value": v, "unit": check.layer_unit(k)}
                   for k, v in sorted(res["per_layer"].items())}
    else:
        metrics = {k: {"value": res["end_to_end"][k], "unit": u}
                   for k, u in E2E_UNITS.items()}
    return record, {"correct": failed == 0,
                    "attempted": len(res["journey_walls"]) + len(checks),
                    "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    main()
