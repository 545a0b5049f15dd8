#!/usr/bin/env python3
"""Benchmark runner: builds the program, generates one workload's inputs
from the seed, runs the workload in one fresh JVM, checks every answer and
prints the metrics as one JSON line (the last line of stdout).

Usage (from the repository root):
  python3 hrbench/run.py --workload <hr_etl|store_queries>
      --seed <n> --seconds <s> --trace <0|1> [--record]

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones and
also writes the run's spans and counters to hrbench/target/traces/.
--record rewrites corpus_expected.json from this run's answers (only after
the answers were confirmed against the DuckDB oracle, see confirm_oracle.py).
See README.md in this directory for every metric.
"""
import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("hr_etl", "store_queries")
CORPUS_EXPECTED = os.path.join(HERE, "corpus_expected.json")
# The corpus query list, each with the `graft.queries` inventory it belongs
# to: a tokenizer face (functions), the table-path IndexCompact op, an
# embedding kNN (functions, plans), a media codec dedup (multimodal) and an
# event-session query, run in seed-shuffled order.
CORPUS_QUERIES = {
    "q_doc_tokens": "text", "q_index_compact": "dedup",
    "q_knn_brute": "similarity", "q_media_png_dedup": "media",
    "q_events_sessions": "events"}
# Layers the stack sampler charges time to (graft.<layer> packages, the
# package's root objects as `graft`, everything else as `spark`).
SAMPLED_LAYERS = ("etl", "sources", "operators", "queries", "functions",
                  "plans", "multimodal", "graft", "spark")
# Fewest timed passes per run. The first timed pass of a fresh JVM still
# races the JIT: on a 4-core machine one store_queries pass read 7.6-11.7 s
# over six seeds, the median of two 9.9-11.0 s. hr_etl's single pass
# (10-14 s) already repeats within ~0.1, and a second would not fit the run
# budget.
MIN_PASSES = {"hr_etl": 1, "store_queries": 2}
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def generate(workload, seed, input_dir):
    """Write the inputs; return what the checker needs: per part ("hr",
    "store", "corpus") its expected answers, plus the input rows the pass
    consumes and the raw bytes its writes are measured against."""
    info = {}
    if workload == "hr_etl":
        import gen_hr
        info["hr"] = gen_hr.generate(seed, os.path.join(input_dir, "hr"))
    if workload == "store_queries":
        import gen_store
        d = os.path.join(input_dir, "store")
        data, plan = gen_store.generate(seed, d)
        with open(os.path.join(d, "plan.txt"), "w") as f:
            for s in plan:
                arg = s.get("data", s.get("at_op", s.get("from_op", "")))
                f.write(f"{s['op']} {arg}".strip() + "\n")
        info["store"] = {
            "plan": plan, "expected": gen_store.expected(data, plan),
            "input_rows": gen_store.submitted_rows(data, plan),
            "compact_rows": sum(len(data[s["data"]]) for s in plan
                                if s["op"] == "compact"),
            "input_bytes": sum(
                os.path.getsize(os.path.join(d, f"{s['data']}.csv"))
                for s in plan if "data" in s)}
    if workload == "store_queries":
        import gen_corpus
        c = gen_corpus.generate(os.path.join(input_dir, "corpus"))
        c["queries"] = list(CORPUS_QUERIES)
        random.Random(seed).shuffle(c["queries"])
        c["expected"] = {}
        if os.path.exists(CORPUS_EXPECTED):
            with open(CORPUS_EXPECTED) as f:
                c["expected"] = json.load(f)
        info["corpus"] = c
    parts = [info[k] for k in ("hr", "store", "corpus") if k in info]
    info["input_rows"] = sum(p["input_rows"] for p in parts)
    info["input_bytes"] = parts[0]["input_bytes"]
    return info


def run_jvm(args, work, input_dir, info):
    classes = build.build(quiet=True)
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}"]
           + [x for p in JVM_OPENS
              for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + build.classpath(), "hrbench.Main",
              "--workload", args.workload, "--input", input_dir,
              "--work", work, "--out", out, "--seconds", str(args.seconds),
              "--trace", str(args.trace),
              "--min-passes", str(MIN_PASSES[args.workload])])
    if "corpus" in info:
        cmd += ["--queries", ",".join(info["corpus"]["queries"])]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.run(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT)
    if p.returncode != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
        raise SystemExit(f"run: JVM exited with code {p.returncode}")
    with open(out) as f:
        return json.load(f)


def check_op(op, info, index):
    """True when the op did not throw and its answer is the expected one.
    `index` is the op's position in its pass."""
    if "error" in op:
        return False
    obs = op.get("obs", {})
    if "hr" in info:
        hr = info["hr"]
        exp = {"stage": lambda: obs["tables"] == 5,
               "build": lambda: [tuple(c) for c in obs["checks"]]
               == [tuple(c) for c in hr["checks"]],
               "validate": lambda: obs["dq_stats"] == hr["dq_stats"],
               "sink_parquet": lambda: obs["rows"] == hr["rows_out"],
               "sink_jdbc": lambda: obs["rows"] == hr["rows_out"],
               "report": lambda: obs["report"] == hr["report"]}
        return exp.get(op["op"], lambda: True)()
    store = info.get("store")
    if store and index < len(store["plan"]):
        exp = store["expected"][index]
        if "digest" in exp:
            return obs.get("digest") == exp["digest"]
        if "added" in exp:
            ch = obs.get("changes", {})
            return (ch.get("added", [0, 0, 0]) == exp["added"]
                    and ch.get("removed", [0, 0, 0]) == exp["removed"])
        return all(obs.get(k) == v for k, v in exp.items())
    want = info["corpus"]["expected"].get(op["op"])
    return want is not None and obs == want


def summarize(args, res, info):
    passes = res["passes"]
    attempted = failed = 0
    wrong = []
    for p in passes:
        for i, op in enumerate(p["ops"]):
            attempted += 1
            if not check_op(op, info, i):
                failed += 1
                wrong.append((p["phase"], op["op"], op.get("error")))
    for w in wrong[:10]:
        sys.stderr.write(f"run: wrong or failed op {w}\n")
    timed = [p for p in passes if p["phase"] == "timed"]
    traced = [p for p in passes if p["phase"] == "traced"]

    def pass_s(p):
        return sum(op["ms"] for op in p["ops"]) / 1000.0

    def ops_of(ps, kind=None):
        return [op for p in ps for op in p["ops"]
                if kind is None or op["kind"] == kind]

    psec = stats.median([pass_s(p) for p in timed])
    metrics = {}
    if args.trace == 0:
        # the store's bytes (recorded before its vacuum) when there is a
        # store, else what the pass left under its output roots
        written = [max([op.get("bytes_written", 0) for op in p["ops"]])
                   or p["extra"].get("bytes_written", 0) for p in timed]
        metrics = {
            "setup_s": (res["setup_s"], "s"),
            "pass_s": (psec, "s"),
            "rows_per_s": (info["input_rows"] / psec, "rows/s"),
            "write_amp": (stats.median(written) / info["input_bytes"],
                          "ratio"),
            "peak_heap_mb": (max(p["heap_mb"] for p in timed), "MB"),
        }
    else:
        metrics = per_layer(args, res, info, timed, traced, pass_s,
                            attempted, failed)
        # medians over few ops of mixed kinds (hr_etl has two reads a
        # pass): they did not repeat within a tenth, so they are taken
        # here, from the traced run's untraced passes
        for kind in ("commit", "read"):
            metrics[f"{kind}_p50_ms"] = (stats.median(
                [op["ms"] for op in ops_of(timed, kind)]), "ms")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()}}


def per_layer(args, res, info, timed, traced, pass_s, attempted, failed):
    n = max(1, len(traced))
    tr = res["trace"]
    m = {}

    def step_ms(name):
        return stats.median([op["ms"] for p in traced for op in p["ops"]
                             if op["op"] == name])

    for s in ("stage", "build", "validate", "sink_csv", "sink_parquet",
              "sink_jdbc", "indexes", "report"):
        m[f"etl.{s}_ms"] = (step_ms(s), "ms")
    # per traced pass, from what the program returned
    m["etl.rows_out"] = (stats.median(
        [sum(op["obs"]["rows"].values()) for p in traced for op in p["ops"]
         if op["op"] == "sink_parquet" and "obs" in op]), "count")
    m["etl.dq_violations"] = (stats.median(
        [sum(c[3] for c in op["obs"]["checks"]) for p in traced
         for op in p["ops"] if op["op"] == "build" and "obs" in op]), "count")

    commits = [op for p in traced for op in p["ops"]
               if op["kind"] == "commit"]
    store = "store" in info
    for s in ("init", "compact", "stage_deletes", "read_mor", "retract",
              "read", "read_at", "bin_pack", "diff", "vacuum"):
        m[f"store.{s}_ms"] = (step_ms(s) if store else 0.0, "ms")
    m["store.files_per_commit"] = (stats.median(
        [op.get("files", 0) for op in commits]) if store else 0, "count")
    m["store.bytes_per_commit"] = (stats.median(
        [op.get("bytes", 0) for op in commits]) if store else 0, "B")
    vac = [op for p in traced for op in p["ops"] if op["op"] == "vacuum"]
    m["store.live_files"] = (stats.median(
        [op.get("live_files", 0) for op in vac]), "count")
    m["store.manifest_bytes"] = (stats.median(
        [op.get("manifest_bytes", 0) for op in vac]), "B")
    admitted = sum(op["obs"]["admitted"] for p in traced for op in p["ops"]
                   if op["op"] == "compact" and "obs" in op)
    submitted = n * info["store"]["compact_rows"] if store else 0
    m["store.admit_ratio"] = (admitted / submitted if submitted else 0.0,
                              "ratio")

    # spans: the benchmark's own, plus engine intervals hung under them
    spans = list(tr.get("spans", []))
    next_id = 1 + max([s["id"] for s in spans] or [0])
    jobs = stats.attach(spans, tr.get("jobs", []), "spark", "job", next_id)
    phases = stats.attach(spans, tr.get("phases", []), "catalyst", "phase",
                          next_id + len(jobs))
    everything = spans + jobs + phases
    commit_ids = {s["id"] for s in spans if s["layer"] == "sources"
                  and s["name"] in ("init", "compact", "stage_deletes",
                                    "retract", "bin_pack")}
    m["store.jobs_per_commit"] = (
        sum(1 for j in jobs if j["parent"] in commit_ids) / len(commit_ids)
        if commit_ids else 0.0, "count")

    qspans = [s for s in spans if s["layer"] == "queries"]
    for name in sorted(set(CORPUS_QUERIES.values())):
        secs = sum((s["end_us"] - s["start_us"]) for s in qspans
                   if CORPUS_QUERIES.get(s["name"]) == name) / 1e6
        m[f"queries.{name}_s"] = (secs / n, "s")
    for part in ("build", "plan", "exec"):
        ms = sum(s["end_us"] - s["start_us"] for s in qspans
                 if s["name"] == part) / 1000.0
        m[f"queries.{part}_ms"] = (ms / n, "ms")

    for ph in ("analysis", "optimization", "planning"):
        ms = sum(p["end_us"] - p["start_us"] for p in tr.get("phases", [])
                 if p["phase"] == ph) / 1000.0
        m[f"catalyst.{ph}_ms"] = (ms / n, "ms")

    c = tr.get("counters", {})
    wall_s = sum(p["end_us"] - p["start_us"] for p in traced) / 1e6
    busy_s = c.get("task_run_ms", 0) / 1000.0
    job_us = stats.union_length([(j["start_us"], j["end_us"]) for j in jobs])
    mb = 1048576.0
    m.update({
        "spark.jobs": (c.get("jobs", 0) / n, "count"),
        "spark.tasks": (c.get("tasks", 0) / n, "count"),
        "spark.task_busy_s": (busy_s / n, "s"),
        "spark.core_util": (busy_s / (wall_s * res["cores"])
                            if wall_s else 0.0, "ratio"),
        "spark.driver_gap_s": ((wall_s - job_us / 1e6) / n, "s"),
        "spark.shuffle_write_mb": (c.get("shuffle_write_bytes", 0) / mb / n,
                                   "MB"),
        "spark.shuffle_read_mb": (c.get("shuffle_read_bytes", 0) / mb / n,
                                  "MB"),
        "spark.spill_mb": (c.get("spill_bytes", 0) / mb / n, "MB"),
        "spark.input_mb": (c.get("input_bytes", 0) / mb / n, "MB"),
        "spark.output_mb": (c.get("output_bytes", 0) / mb / n, "MB"),
        "spark.failed_tasks": (c.get("failed_tasks", 0) / n, "count"),
    })
    # a run has too few ops for a tail, but hundreds of tasks
    pct, val = stats.tail(tr.get("task_ms", []))
    m["spark.task_tail_ms"] = (val, "ms")
    m["spark.task_tail_pct"] = (pct, "%")

    totals = stats.layer_totals(everything)
    for layer in ("bench", "etl", "sources", "queries", "catalyst", "spark"):
        us, cnt = totals.get(layer, (0, 0))
        m[f"layer.{layer}.self_ms"] = (us / 1000.0 / n, "ms")
        m[f"layer.{layer}.spans"] = (cnt / n, "count")
    samples = tr.get("samples_ms", {})
    for where in ("task", "driver"):
        for layer in SAMPLED_LAYERS:
            m[f"sample.{where}.{layer}_ms"] = (
                samples.get(f"{where}.{layer}", 0) / n, "ms")

    untraced = stats.median([pass_s(p) for p in timed])
    traced_s = stats.median([pass_s(p) for p in traced])
    m["trace.untraced_pass_s"] = (untraced, "s")
    m["trace.traced_pass_s"] = (traced_s, "s")
    m["trace.overhead_s"] = (traced_s - untraced, "s")
    m["fail_ratio"] = (failed / attempted if attempted else 0.0, "ratio")
    write_trace(args, res, everything, m)
    return m


def write_trace(args, res, spans, metrics):
    """Spans (name, start, end, parent, run id) and counters of a traced
    run, one JSON object a line, for report.py."""
    d = os.path.join(HERE, "target", "traces")
    os.makedirs(d, exist_ok=True)
    run_id = f"{args.workload}-s{args.seed}-{int(time.time())}-{os.getpid()}"
    with open(os.path.join(d, f"{run_id}.jsonl"), "w") as f:
        for s in spans:
            f.write(json.dumps({"type": "span", "run": run_id,
                                "workload": args.workload, **s}) + "\n")
        f.write(json.dumps({"type": "counters", "run": run_id,
                            "workload": args.workload,
                            "counters": res["trace"].get("counters", {}),
                            "samples_ms": res["trace"].get("samples_ms", {})})
                + "\n")
        f.write(json.dumps({"type": "metrics", "run": run_id,
                            "workload": args.workload,
                            "metrics": {k: v[0] for k, v in metrics.items()}})
                + "\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    work = os.path.join(HERE, "target", "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    os.makedirs(input_dir)
    try:
        info = generate(args.workload, args.seed, input_dir)
        res = run_jvm(args, work, input_dir, info)
        if args.record and "corpus" in info:
            record(res)
        out = summarize(args, res, info)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


def record(res):
    """Pin each corpus query's answer from the warm pass."""
    got = {op["op"]: op["obs"] for op in res["passes"][0]["ops"]
           if op["op"].startswith("q_") and "obs" in op}
    with open(CORPUS_EXPECTED, "w") as f:
        json.dump(dict(sorted(got.items())), f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
