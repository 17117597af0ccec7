#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. On first use (or when a source file
changed) it builds the program together with the benchmark code with sbt
(offline), then runs one workload in one JVM on local[nproc] and prints one
JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
Everything it writes stays under perfbench/ (target/ for the build,
work/ for run scratch and span files). See perfbench/README.md.
"""
import argparse
import glob
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
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "perfbench-build.json")
WORK = os.path.join(HERE, "work")
WORKLOADS = ("vote_stream", "batch_seats")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    return jars if jars and os.path.isdir(jars) else None


def cpu_times():
    """(steal, total) CPU time of the whole host from /proc/stat, or None."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return None


def source_hash(jars):
    h = hashlib.sha256(jars.encode())
    files = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "main", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(jars):
    """Compile with sbt unless the stamp matches the sources; returns the
    runtime classpath."""
    digest = source_hash(jars)
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("sources") == digest:
            return stamp["classpath"]
    env = dict(os.environ, GRAFT_SPARK_JARS=jars)
    env.setdefault("COURSIER_MODE", "offline")
    log("building (sbt compile)")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("sbt build failed")
    # `export` prints the bare classpath, which starts with our classes dir
    lines = [l for l in proc.stdout.splitlines() if l.startswith(TARGET)]
    if not lines:
        raise SystemExit("sbt printed no classpath")
    classpath = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"sources": digest, "classpath": classpath}, fh)
    log(f"built in {time.time() - t0:.0f} s")
    return classpath


def main():
    # a SIGTERM unwinds through the finally below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "SparkEntry.scala")):
        raise SystemExit("no graft sources next to perfbench/; run from a graft checkout")
    jars = spark_jars()
    if jars is None:
        raise SystemExit("no Spark installation found (SPARK_HOME or spark-submit on PATH)")
    classpath = build(jars)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    spans = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl")
    cmd = (["java"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           # C1 only: C2 keeps compiling through a short run's timed part,
           # takes a third of the CPU and is the largest source of spread.
           # C1 alone gets a 48 MB code cache, which the seats' generated
           # classes fill within a run; then the JIT stops and code runs
           # interpreted, so give it the tiered default size.
           + ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
              "-Xms2g", "-Xmx2g", "-Duser.timezone=UTC",
              f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              f"-Dderby.system.home={run_dir}",
              "-cp", classpath, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", run_dir, "--data", os.path.join(HERE, "data", "sf0.01"),
              "--digests", os.path.join(HERE, "digests.json"),
              "--out", out, "--spans", spans])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    cpu0 = cpu_times()
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    deadline = time.time() + JVM_TIMEOUT_S
    status, rusage = None, None
    try:
        while status is None:
            pid, st, ru = os.wait4(proc.pid, os.WNOHANG)
            if pid == proc.pid:
                status, rusage = st, ru
            elif time.time() > deadline:
                os.killpg(proc.pid, signal.SIGKILL)
                os.wait4(proc.pid, 0)
                raise SystemExit(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
            else:
                time.sleep(0.05)
        proc.returncode = os.waitstatus_to_exitcode(status)
        if proc.returncode != 0 or not os.path.exists(out):
            raise SystemExit(f"benchmark JVM exited with {proc.returncode}")
        with open(out) as fh:
            result = json.load(fh)
    finally:
        if proc.returncode is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    # Time the hypervisor gave to other guests while this one wanted to
    # run: the main cause of run-to-run spread on a shared host.
    cpu1 = cpu_times()
    steal = ((cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1])) if cpu0 and cpu1 else 0.0
    log(f"host steal {steal:.3f} of all CPU time during the run")
    if args.trace == "0":
        # ru_maxrss is in KiB on Linux
        result["metrics"]["peak_rss_mb"] = {"value": rusage.ru_maxrss / 1024.0, "unit": "MB"}
    else:
        result["metrics"]["host.steal_ratio"] = {"value": steal, "unit": "ratio"}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
