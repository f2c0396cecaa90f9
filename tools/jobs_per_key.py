#!/usr/bin/env python3
"""Per-key job table of a traced `queries` run.

Usage: jobs_per_key.py [<trace.jsonl> | --seed N]

Reads the spans a traced run writes (`python3 perfbench/run.py --workload
queries --seed N --seconds 6 --trace 1` leaves them in
`.bench_build/traces/queries-<N>.jsonl`) and prints one row per measured
key: wall, jobs, stages, executor CPU, planning ms (analysis, optimization
and physical planning summed) and the number of schema-shaped jobs. A job
belongs to the key whose span holds its start; a stage belongs to the job
whose span holds its start. A schema-shaped job is the one
`spark.read.parquet` runs to infer a schema: a single one-task stage that
reads no input rows, reads and writes no shuffle and spends at most 5 ms
of executor CPU. The last row sums the keys; its job count is the run's
`plans.jobs`.
"""
import json
import os
import sys

SCHEMA_CPU_NS = 5_000_000


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def within(span, ms):
    return span["start_ms"] <= ms <= span["end_ms"]


def schema_shaped(stages):
    return len(stages) == 1 and all(
        s["tasks"] == 1 and s["input_rows"] == 0 and s["shuffle_read_bytes"] == 0
        and s["shuffle_write_bytes"] == 0 and s["executor_cpu_ns"] <= SCHEMA_CPU_NS
        for s in stages)


def table(spans):
    def kind(k):
        return [s for s in spans if s.get("kind") == k]
    jobs, stages, plans = kind("job"), kind("stage"), kind("planning")
    keys = sorted((s for s in spans if s["name"].startswith("key ")),
                  key=lambda s: s["start_ms"])
    rows = []
    for k in keys:
        kj = [j for j in jobs if within(k, j["start_ms"])]
        ks = [s for s in stages if within(k, s["start_ms"])]
        schema = sum(schema_shaped([s for s in ks if within(j, s["start_ms"])]) for j in kj)
        rows.append({
            "key": k["name"][4:],
            "wall_ms": k["end_ms"] - k["start_ms"],
            "jobs": len(kj),
            "stages": len(ks),
            "cpu_ms": sum(s.get("executor_cpu_ns", 0) for s in ks) / 1e6,
            "plan_ms": sum(p["end_ms"] - p["start_ms"] for p in plans if within(k, p["start_ms"])),
            "schema_jobs": schema,
        })
    return rows


def main():
    args = sys.argv[1:]
    if len(args) == 2 and args[0] == "--seed":
        path = os.path.join(".bench_build", "traces", f"queries-{args[1]}.jsonl")
    elif len(args) == 1:
        path = args[0]
    else:
        sys.exit(__doc__)
    rows = table(load(path))
    cols = ("wall_ms", "jobs", "stages", "cpu_ms", "plan_ms", "schema_jobs")
    width = max([len(r["key"]) for r in rows] + [5])
    print(f"{'key':<{width}} " + " ".join(f"{c:>11}" for c in cols))
    for r in rows + [dict({"key": "total"}, **{c: sum(r[c] for r in rows) for c in cols})]:
        print(f"{r['key']:<{width}} " + " ".join(
            f"{r[c]:>11.0f}" if isinstance(r[c], float) else f"{r[c]:>11}" for c in cols))


if __name__ == "__main__":
    main()
