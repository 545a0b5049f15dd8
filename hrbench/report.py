#!/usr/bin/env python3
"""Print per-layer self time and counts, per workload, from the trace files
that traced runs (`run.py --trace 1`) leave in hrbench/target/traces/, plus
each run's tracing overhead (traced pass_s minus untraced pass_s).

Usage: python3 hrbench/report.py [trace.jsonl ...]
       (no arguments: every file in hrbench/target/traces/)
"""
import glob
import json
import os
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def load(paths):
    runs = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                rec = json.loads(line)
                run = runs.setdefault(rec["run"], {"workload": rec["workload"],
                                                   "spans": []})
                if rec["type"] == "span":
                    run["spans"].append(rec)
                else:
                    run[rec["type"]] = rec
    return runs


def main(argv):
    paths = argv or sorted(glob.glob(os.path.join(HERE, "target", "traces",
                                                  "*.jsonl")))
    if not paths:
        raise SystemExit("report: no trace files; run run.py --trace 1 first")
    by_workload = {}
    for run_id, run in sorted(load(paths).items()):
        by_workload.setdefault(run["workload"], []).append((run_id, run))
    for workload, runs in sorted(by_workload.items()):
        print(f"== {workload} ({len(runs)} traced run(s))")
        for run_id, run in runs:
            m = run.get("metrics", {}).get("metrics", {})
            passes = max(1, sum(1 for s in run["spans"]
                                if s["layer"] == "bench"))
            print(f"-- run {run_id}: {passes} traced pass(es); tracing "
                  f"overhead {m.get('trace.overhead_s', 0):+.3f} s/pass "
                  f"(traced {m.get('trace.traced_pass_s', 0):.3f} s, "
                  f"untraced {m.get('trace.untraced_pass_s', 0):.3f} s)")
            print(f"   {'layer':10s} {'self ms/pass':>13s} {'spans/pass':>11s}")
            for layer, (us, n) in sorted(stats.layer_totals(run["spans"])
                                         .items(), key=lambda kv: -kv[1][0]):
                print(f"   {layer:10s} {us / 1000.0 / passes:13.1f} "
                      f"{n / passes:11.1f}")
            samples = run.get("counters", {}).get("samples_ms", {})
            if samples:
                print("   sampled stacks (ms/pass, first frame outside JDK and "
                      "Scala library):")
                for k, v in sorted(samples.items(), key=lambda kv: -kv[1]):
                    print(f"     {k:22s} {v / passes:10.1f}")
            counters = run.get("counters", {}).get("counters", {})
            if counters:
                print("   counters/pass: " + ", ".join(
                    f"{k}={v / passes:.1f}" for k, v in sorted(counters.items())))


if __name__ == "__main__":
    main(sys.argv[1:])
