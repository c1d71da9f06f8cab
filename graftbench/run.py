#!/usr/bin/env python3
"""graft benchmark: runs one workload against graft's public API and prints
one JSON result line.

    python3 graftbench/run.py --workload <live_mixed|corpus_suite>
        --seed <n> --seconds <s> --trace <0|1>

The first run builds the benchmark (graft's sources plus graftbench/src)
with sbt, offline, against the installed Spark jars, and caches the
classpath under graftbench/.build. Each run works in its own directory
under graftbench/.run, which it removes when it ends. See README.md.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(REPO, "src", "main", "scala")
BUILD_DIR = os.path.join(HERE, ".build")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "classpath.txt")
WORKLOADS = ("live_mixed", "corpus_suite")
# per-layer metrics of the layers a workload never calls: they read 0 on it
# (no calls, no time, no Spark jobs), so every run reports the whole list
NOT_CALLED = {
    "live_mixed": ("operators.", "corpus_s"),
    "corpus_suite": ("client.", "backend.", "worker.", "api.", "gen.", "live.",
                     "pickup_", "console_", "enqueue_call_"),
}
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    paths = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for root in (GRAFT_SRC, os.path.join(HERE, "src")):
        paths += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return max(os.path.getmtime(p) for p in paths)


def build():
    """Compiles with sbt unless the cached classpath is newer than every source."""
    if not os.path.isdir(GRAFT_SRC):
        fail(f"graft sources not found at {GRAFT_SRC}")
    if (os.path.exists(CLASSPATH_FILE)
            and os.path.getmtime(CLASSPATH_FILE) >= newest_source_mtime()):
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        # the Spark install whose bin/ on the PATH sits beside a jars/ dir
        homes = [os.path.dirname(d) for d in env.get("PATH", "").split(os.pathsep)
                 if os.path.exists(os.path.join(d, "spark-submit"))
                 and os.path.isdir(os.path.join(os.path.dirname(d), "jars"))]
        if not homes:
            fail("set SPARK_HOME or put a Spark install's bin/ on the PATH")
        env["SPARK_HOME"] = homes[0]
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
        timeout=840)
    lines = [l.strip() for l in proc.stdout.splitlines()
             if "classes" in l and os.pathsep in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(lines[-1] + "\n")
    return lines[-1]


def run_jvm(cp, args, run_dir, setup_t0):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx4g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--t0-ms", str(int(setup_t0 * 1000)),
            "--data", os.path.join(run_dir, "data"), "--out", os.path.join(run_dir, "out")]
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{args.workload} did not finish within {JVM_TIMEOUT_S} s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    with open(log_path) as f:
        sys.stderr.writelines(l for l in f if l.startswith("graftbench "))
    result = [l for l in out.splitlines() if l.startswith("GRAFTBENCH_RESULT ")]
    if proc.returncode != 0 or not result:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"{args.workload} exited with {proc.returncode} and no result")
    return json.loads(result[-1][len("GRAFTBENCH_RESULT "):])


def report(args, got):
    """The metrics BENCHMARK.json lists for this kind of run, each in its unit."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        listed = json.load(f)["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in listed:
        name, unit = m["name"], m["unit"]
        if name in got:
            if got[name]["unit"] != unit or got[name]["value"] is None:
                fail(f"{name} reads {got[name]}, not a number in {unit}")
            metrics[name] = got[name]
        elif args.trace and name.startswith(NOT_CALLED[args.workload]):
            metrics[name] = {"value": 0.0, "unit": unit}
        else:
            fail(f"{args.workload} did not report {name}")
    return metrics


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    setup_t0 = time.time()
    run_dir = os.path.join(HERE, ".run", f"{os.getpid()}-{int(T0 * 1000)}")
    os.makedirs(run_dir)
    try:
        if args.workload == "corpus_suite":
            import gen_data
            os.makedirs(os.path.join(run_dir, "data"))
            gen_data.main(os.path.join(run_dir, "data"), args.seed)
        res = run_jvm(cp, args, run_dir, setup_t0)
        checks = res["checks"]
        if args.workload == "corpus_suite":
            import oracle
            checks += oracle.compare(os.path.join(run_dir, "data"), os.path.join(run_dir, "out"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    bad = [c for c in checks if not c["ok"]]
    for c in bad:
        print(f"graftbench: check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    metrics = report(args, res["metrics"])
    print(json.dumps({"correct": not bad, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
