#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--cores <n>] [--smoke] [--plant-loss]

Builds the program and the harness from source (perfbench/build.sbt compiles
../src/main together with perfbench/src) when the sources changed since the
last build, then runs perfbench.Main in a fresh JVM. The last line of stdout
is the JSON result; the exit code is nonzero when an output check fails or
the program cannot be built. `--trace 1` first makes an untraced run with the
same seed, then the traced run, and reports the tracing overhead between the
two as `bench.trace_overhead_pct`.
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
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    """SPARK_HOME, or the installation that holds spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        log("no Spark installation: set SPARK_HOME")
        sys.exit(2)
    return home


def source_stamp():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
        return
    log("building the program and the harness (sbt compile)")
    t = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, timeout=840,
                       env=dict(os.environ, SPARK_HOME=spark_home()))
    if r.returncode != 0:
        log("build failed")
        sys.exit(3)
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t:.1f} s")


def run_jvm(args, trace, timeout):
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Xss4m", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(trace), "--cores", str(args.cores), "--work", work,
              "--out", os.path.join(HERE, "out")]
           + (["--smoke"] if args.smoke else []) + (["--plant-loss"] if args.plant_loss else []))
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log(f"run exceeded {timeout} s")
        sys.exit(4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            result = None
    return p.returncode, lines[:-1] if result else lines, result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--plant-loss", action="store_true")
    args = ap.parse_args()

    if not os.path.isdir(PROGRAM_SRC):
        log(f"no program sources at {os.path.relpath(PROGRAM_SRC, ROOT)}; nothing to benchmark")
        sys.exit(2)
    build()

    base = None
    budget = 175.0
    if args.trace:
        t = time.time()
        code, lines, base = run_jvm(args, 0, budget)
        for l in lines:
            print(l)
        if code != 0 or base is None:
            log("untraced reference run failed")
            if base is not None:
                print(json.dumps(base))
            sys.exit(code or 5)
        budget -= time.time() - t
    code, lines, result = run_jvm(args, args.trace, budget)
    for l in lines:
        print(l)
    if result is None:
        log("the run printed no result")
        sys.exit(code or 5)
    if args.trace:
        traced = result["metrics"]["bench.traced_batch_p50_ms"]["value"]
        untraced = base["metrics"]["batch_p50_ms"]["value"]
        result["metrics"]["bench.trace_overhead_pct"] = {
            "value": 100.0 * (traced - untraced) / untraced, "unit": "%"}
    print(json.dumps(result), flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
