#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine together with
the benchmark runner (`sbt`, in this directory); later runs reuse the build
while the sources are unchanged. Each run then

1. generates the inputs from the seed (`gen.py`),
2. computes the expected answers with DuckDB (`oracle.py`),
3. starts one JVM (`graft.perfbench.Main`) on `local[<cores>]` that sets up
   the workload three times, runs timed passes for `--seconds`, checks
   every op's output and prints one JSON object:
   `{"correct", "attempted", "failed", "metrics"}`.

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1` they
are the per-layer ones and the run's spans go to `.work/traces/`. Each op's
latency and verdict, and the time of each setup repetition, go to the run's
log in `.work/logs/`.
Everything the run writes stays under `perfbench/.work` and
`perfbench/target`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import gen
import oracle

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(BENCH, ".work")
BUILD = os.path.join(WORK, "build")
SPEC = os.path.join(BENCH, "workloads.json")
SETUP_BUDGET_S = 160  # inputs, answers, JVM start and setup; --seconds comes on top
REPS = 3  # setup repetitions; setup_s is their median
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = sorted(glob.glob(os.path.join(ENGINE, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    files += sorted(f for f in glob.glob(os.path.join(ROOT, "src", "main", "resources", "**"),
                                         recursive=True) if os.path.isfile(f))
    files += [os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    return files


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return home


def build():
    """Compiles engine + runner once per source state; returns the classpath."""
    stamp = hashlib.sha256()
    for f in sources():
        with open(f, "rb") as fh:
            stamp.update(f.encode() + b"\0" + fh.read())
    stamp = stamp.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            built = f.read() == stamp
        if built:
            with open(cp_file) as f:
                return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed", 1)
    cp = lines[-1].strip()
    subprocess.run(java(cp) + ["graft.perfbench.Main", "--dump-oracle",
                               os.path.join(BUILD, "oracle_sql.json")],
                   check=True, stdout=subprocess.DEVNULL, timeout=120)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java(cp, tmp=None):
    jhome = os.environ.get("JAVA_HOME")
    exe = os.path.join(jhome, "bin", "java") if jhome else "java"
    opts = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # C1 only: with C2 the JIT still used more CPU than the ops after three
    # setup repetitions, and op CPU fell pass after pass. Fixed compiler
    # threads: Cpu.scala subtracts their time (see there).
    opts += ["-Xmx3g", "-XX:TieredStopAtLevel=1",
             "-XX:-UseDynamicNumberOfCompilerThreads",
             "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
    if tmp:
        opts.append(f"-Djava.io.tmpdir={tmp}")
    return [exe] + opts + ["-cp", cp]


def inputs(seed, reps):
    """Seeded inputs, one identical copy per setup repetition."""
    base = os.path.join(WORK, "data", f"s{seed}")
    if not os.path.exists(os.path.join(base, "done")):
        shutil.rmtree(base, ignore_errors=True)
        gen.write(os.path.join(base, "rep0"), seed)
        open(os.path.join(base, "done"), "w").close()
    for r in range(1, reps):
        d = os.path.join(base, f"rep{r}")
        if not os.path.isdir(d):
            shutil.copytree(os.path.join(base, "rep0"), d)
    return base


def drive(cp, spec, workload, data, expected, seed, seconds, trace, reps, log, timeout):
    """Runs the runner JVM once; returns its result object. Spark's output
    goes to `log`; the runner's own failure lines are echoed to stderr."""
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.dirname(log), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = java(cp, tmp) + [
        "graft.perfbench.Main", "--spec", spec, "--workload", workload,
        "--data", data, "--expected", expected, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace),
        "--reps", str(reps), "--cores", str(cores),
        "--trace-out", os.path.join(WORK, "traces", f"{workload}-s{seed}.jsonl")]
    env = dict(os.environ, GRAFT_SCRATCH_ROOT=os.path.join(run_dir, "scratch"))
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                             stderr=err, text=True)
        try:
            out, _ = p.communicate(timeout=max(10, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded its time; log in {os.path.relpath(log, ROOT)}", 1)
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        with open(log) as f:
            sys.stderr.write(f.read()[-3000:])
        fail(f"runner exited with {p.returncode}", 1)
    with open(log) as f:
        sys.stderr.write("".join(l for l in f if l.startswith("[perfbench] FAILED")))
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ENGINE, "graft", "SparkEntry.scala")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE)}")
    with open(SPEC) as f:
        spec = json.load(f)
    if a.workload not in spec:
        fail(f"unknown workload {a.workload}; one of {', '.join(spec)}")
    keys = spec[a.workload]["keys"]

    cp = build()
    t0 = time.monotonic()
    with open(os.path.join(BUILD, "oracle_sql.json")) as f:
        sqls = json.load(f)
    data = inputs(a.seed, REPS)
    expected = os.path.join(WORK, "expected", f"{a.workload}-s{a.seed}")
    unchecked = oracle.make(os.path.join(data, "rep0"), expected, sqls, keys)
    if unchecked:
        fail(f"no output check for: {' '.join(unchecked)}")

    log = os.path.join(WORK, "logs", f"{a.workload}-s{a.seed}-t{a.trace}.log")
    result = drive(cp, SPEC, a.workload, data, expected, a.seed, a.seconds, a.trace,
                   REPS, log, SETUP_BUDGET_S + a.seconds - (time.monotonic() - t0))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
