#!/usr/bin/env python3
"""Profile every query of the query workloads and check the benchmark's sample.

Usage (from the root of the repository):

    python3 perfbench/sample.py [--seed 1] [--surface 20] [--llm_ops 10]

For each query workload, runs one traced pass over every query of its packs
(a fresh JVM, cold operations, results materialized, as in a benchmark run)
and prints, for the packs, for the sample the harness runs, and for a fresh
stratified pick of the given size:

- latency quantiles and the sum of latencies,
- build share: time in the pack functions / latency,
- operations that persist, and persisted RDDs; builds that launch jobs,
- per injected rule, the operations on which it fired.

The stratified pick splits the queries, ranked by latency, into k strata of
consecutive ranks and takes from each the query nearest its median. Then
every injected rule that fires somewhere in the packs, persist(), and a
build that launches jobs must occur in the pick: where none of the picks
has one, the fastest query that has it replaces the pick of its stratum,
unless that pick is the only one with something else the pick needs. A pass takes 2 to 4 minutes per workload.
Copy a pick into `Harness.sample` only with the comparison it printed.
"""
import argparse
import json
import shutil
import statistics
import subprocess

from run import ADD_OPENS, BENCH, BUILD, build, harness

RULES = ("HammingJoinBlocking", "GlobalRankRewrite", "BandJoinBlocking",
         "PercentileRewrite", "ModeRewrite", "EditDistanceJoinBlocking",
         "SetSimilarityJoinBlocking", "CosineJoinBlocking")


def profile(classpath, workload, seed):
    """One traced pass over every query of the workload's packs."""
    work = BUILD / "sample" / workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out, log = work / "record.json", BUILD / "sample" / f"{workload}.log"
    rc = harness(classpath, work / "run", log, 1800, "run", "--workload", workload,
                 "--seed", str(seed), "--trace", "1", "--data", str(BENCH / "data"),
                 "--work", str(work / "run"), "--expected",
                 str(BENCH / "expected" / f"{workload}.json"), "--out", str(out),
                 "--budget", "1500", "--spans", str(work / "spans.jsonl"),
                 "--queries", "all")
    if rc != 0 or not out.is_file():
        raise SystemExit(f"profile of {workload} failed, see {log}")
    ops = json.loads(out.read_text())["ops"]
    failed = [o["name"] for o in ops if not o["ok"]]
    if failed:
        raise SystemExit(f"{workload}: failed in the profile: {failed}")
    return {o["name"]: o for o in ops}


def features(op):
    layers = op["layers"]
    fired = {r for r in RULES if layers.get(f"rule.{r}.effective", 0) > 0}
    if layers.get("cache.persists", 0) > 0:
        fired.add("persist")
    if layers.get("queries.build_jobs", 0) > 0:
        fired.add("eager build")
    return fired


def pick(ops, k):
    ranked = sorted(ops, key=lambda n: (ops[n]["secs"], n))
    bounds = [round(i * len(ranked) / k) for i in range(k + 1)]
    strata = [ranked[bounds[i]:bounds[i + 1]] for i in range(k)]
    picks = [s[(len(s) - 1) // 2] for s in strata]
    wanted = set().union(*(features(o) for o in ops.values()))
    for f in sorted(wanted):
        if any(f in features(ops[p]) for p in picks):
            continue
        # the fastest query with f whose stratum's pick no other need holds
        for n in (n for n in ranked if f in features(ops[n])):
            i = next(i for i, s in enumerate(strata) if n in s)
            kept = set(features(ops[n])).union(
                *(features(ops[p]) for j, p in enumerate(picks) if j != i))
            if features(ops[picks[i]]) <= kept:
                picks[i] = n
                break
        else:
            print(f"  (no stratum can take a query with {f})")
    return sorted(picks, key=ranked.index)


def describe(label, ops, names):
    lats = sorted(ops[n]["secs"] for n in names)
    q = statistics.quantiles(lats, n=10)
    quartiles = statistics.quantiles(lats, n=4)
    build = sum(ops[n]["build_ms"] for n in names) / 1e3
    persist_ops = [n for n in names if "persist" in features(ops[n])]
    persists = sum(ops[n]["layers"].get("cache.persists", 0) for n in names)
    print(f"  {label}: {len(names)} queries, sum {sum(lats):.1f} s, "
          f"mean {sum(lats) / len(lats):.3f} s")
    print(f"    latency p10 {q[0]:.3f}  p25 {quartiles[0]:.3f}  "
          f"p50 {statistics.median(lats):.3f}  p75 {quartiles[2]:.3f}  "
          f"p90 {q[8]:.3f}  max {lats[-1]:.3f}")
    eager = [n for n in names if "eager build" in features(ops[n])]
    print(f"    build share {build / sum(lats):.3f}; {len(persist_ops)} queries "
          f"persist ({len(persist_ops) / len(names):.3f}), {persists:.0f} RDDs; "
          f"{len(eager)} builds launch jobs ({len(eager) / len(names):.3f})")
    for r in RULES:
        on = [n for n in names if r in features(ops[n])]
        if on:
            print(f"    {r} fires on {len(on)}: {', '.join(on)}")
    silent = [r for r in RULES if not any(r in features(ops[n]) for n in names)]
    print(f"    rules that fire on none: {', '.join(silent) or '-'}")


def sample_of(classpath, workload):
    """The harness's current sample, in pack order."""
    r = subprocess.run(["java", *[f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS],
                        "-cp", classpath, "perfbench.Harness", "list",
                        "--workload", workload],
                       capture_output=True, text=True, check=True)
    return r.stdout.split()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--surface", type=int, default=20)
    ap.add_argument("--llm_ops", type=int, default=10)
    args = ap.parse_args()
    classpath = build()
    for workload in ("surface", "llm_ops"):
        ops = profile(classpath, workload, args.seed)
        print(f"{workload} (profile seed {args.seed}):")
        describe("packs", ops, list(ops))
        describe("sample", ops, sample_of(classpath, workload))
        picked = pick(ops, getattr(args, workload))
        describe("stratified pick", ops, picked)
        print(f"    pick: {', '.join(picked)}")


if __name__ == "__main__":
    main()
