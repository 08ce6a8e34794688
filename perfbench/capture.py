#!/usr/bin/env python3
"""Re-derive the expected result digests in perfbench/expected/.

Usage (from the root of the repository):

    python3 perfbench/capture.py

For each query workload: dumps every query's result with graft.Verify over
perfbench/data, compares each dump with its DuckDB oracle through
tools/verify_local.py, and records the digest of every dump the oracle
matched. A query the oracle does not match gets no expected digest, so the
benchmark counts it as a wrong result until the program is fixed; such
queries are listed on stdout. Run it after the workloads' query lists or the
data change, never to make a wrong result pass.
"""
import json
import shutil
import subprocess
import sys

from run import BENCH, BUILD, ROOT, build, harness

WORKLOADS = ("surface", "llm_ops")


def main():
    classpath = build()
    for workload in WORKLOADS:
        work = BUILD / "capture" / workload
        dumps = work / "dumps"
        shutil.rmtree(work, ignore_errors=True)
        dumps.mkdir(parents=True)
        log = work / "harness.log"
        if harness(classpath, work, log, 1800, "dump", "--workload", workload,
                   "--data", str(BENCH / "data"), "--dumps", str(dumps)) != 0:
            sys.exit(f"dump failed, see {log}")
        r = subprocess.run([sys.executable, str(ROOT / "tools" / "verify_local.py"),
                            str(BENCH / "data"), str(dumps), "--no-spark"],
                           capture_output=True, text=True, check=True)
        verdicts = {}
        for line in r.stdout.splitlines():
            parts = line.split(None, 1)
            if len(parts) == 2 and (dumps / parts[0]).is_dir():
                verdicts[parts[0]] = parts[1].strip()
        matched = sorted(n for n, v in verdicts.items() if v == "OK")
        for n, v in sorted(verdicts.items()):
            if v != "OK":
                print(f"{workload}: {n}: {v}")
        out = BENCH / "expected" / f"{workload}.json"
        out.parent.mkdir(exist_ok=True)
        if harness(classpath, work, log, 1800, "capture", "--dumps", str(dumps),
                   "--only", ",".join(matched), "--out", str(out)) != 0:
            sys.exit(f"capture failed, see {log}")
        got = json.loads(out.read_text())
        print(f"{workload}: {len(got)} of {len(verdicts)} dumps oracle-matched "
              f"and recorded in {out.relative_to(ROOT)}")


if __name__ == "__main__":
    main()
