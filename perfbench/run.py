#!/usr/bin/env python3
"""Run one benchmark run of the lakehouse program and print its result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload surface --seed 1 --seconds 30 --trace 0

Builds the program and the harness from source on first use (sbt, offline),
then starts one fresh JVM that sets up, makes one timed pass over the
workload and checks its outputs. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
the per-layer ones, and the traced run also writes a span file.

Everything the run writes stays under .bench_build/ in the checkout.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
HARD_LIMIT_S = 170
# --add-opens the JVM needs to host Spark outside spark-submit (the same
# list the program's build passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for base in (ROOT / "src" / "main", ROOT / "project", BENCH / "harness"):
        for p in sorted(base.rglob("*")):
            if p.is_file() and "target" not in p.relative_to(base).parts:
                h.update(str(p.relative_to(ROOT)).encode())
                h.update(p.read_bytes())
    h.update((ROOT / "build.sbt").read_bytes())
    return h.hexdigest()


def sbt_env():
    """Offline sbt whose temporary files stay in the checkout."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opts = env.get("SBT_OPTS", "").split()
    opts += ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
             f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file() and not any("sbt.repository.config" in o for o in opts):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    if not any(o.startswith("-Xmx") for o in opts):
        opts.append("-Xmx2g")
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile program + harness once per source tree; return the classpath."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    stamp = sources_stamp()
    if cp_file.is_file() and stamp_file.is_file() \
            and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH / "harness", env=sbt_env(), stdout=out,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=840)
    lines = log.read_text().splitlines()
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (log: {log})")
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip()


def java_heap():
    """Half the memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration, ValueError):
        return "3g"
    return f"{max(2, min(4, kb // 2 // 1048576))}g"


def harness(classpath, work, log, timeout, *args):
    """Run perfbench.Harness in a fresh JVM whose files stay under `work`;
    its output goes to `log`. Returns the exit code."""
    (work / "cwd").mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = str(work / "tmp")
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # a fixed heap: peak RSS then does not depend on when the heap grew
    heap = java_heap()
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+UseParallelGC",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness", *args]
    with open(log, "w") as out:
        return subprocess.run(cmd, cwd=work / "cwd", env=env, stdout=out,
                              stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                              timeout=max(30, timeout)).returncode


def main():
    # on SIGTERM, unwind so subprocess.run kills and reaps its child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"no program sources next to {BENCH.name}/ (build.sbt, src/main)")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {args.workload}")

    classpath = build()
    started = time.monotonic()  # the time limit counts from here

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = BUILD / "work" / tag
    shutil.rmtree(work, ignore_errors=True)
    runs = BUILD / "runs"
    runs.mkdir(exist_ok=True)
    record = runs / f"{tag}.json"
    record.unlink(missing_ok=True)
    # the pass must end well inside the hard limit; ops past the budget
    # are not run and count as failed
    budget = max(args.seconds, HARD_LIMIT_S - 60)
    log = runs / f"{tag}.log"
    try:
        r = harness(classpath, work, log, HARD_LIMIT_S - (time.monotonic() - started),
                    "run", "--workload", args.workload, "--seed", str(args.seed),
                    "--trace", str(args.trace), "--data", str(BENCH / "data"),
                    "--work", str(work), "--expected",
                    str(BENCH / "expected" / f"{args.workload}.json"),
                    "--out", str(record), "--budget", f"{budget:.0f}",
                    "--spans", str(runs / f"{tag}.spans.jsonl"))
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {HARD_LIMIT_S} s (log: {log})")
    for line in log.read_text(errors="replace").splitlines():
        if line.startswith("[perfbench]"):
            print(line, file=sys.stderr)
    if r != 0 or not record.is_file():
        sys.stderr.write("\n".join(
            log.read_text(errors="replace").splitlines()[-30:]) + "\n")
        fail(f"harness exited with {r} (log: {log})")
    shutil.rmtree(work, ignore_errors=True)

    rec = json.loads(record.read_text())
    section, values = (("per_layer", rec["per_layer"]) if args.trace
                       else ("end_to_end", rec["end_to_end"]))
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in spec[section]}
    print(f"[perfbench] {args.workload} seed {args.seed}: "
          f"{rec['attempted']} ops, {rec['failed']} failed, "
          f"{rec['wrong_results']} wrong, failed_frac {rec['failed_frac']:.4f}, "
          f"{rec['op_samples']} latency samples (tail mean over the slowest "
          f"{rec['op_tail_samples']}); record {record}", file=sys.stderr)
    print(json.dumps({
        "correct": rec["wrong_results"] == 0 and not rec["lake_problems"],
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
