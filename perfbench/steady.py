#!/usr/bin/env python3
"""Whether the benchmark is steady: two sets of untraced runs per workload.

    python3 perfbench/steady.py [--runs N] [--first-seed S] [--out FILE] [--workloads a,b]

Run from the root of a checkout. Set A uses seeds S..S+N-1 (S is 1 by
default), set B the same plus 100; round i runs A's and B's i-th seed on every workload, the two
sets in alternating order, so that drift in machine speed falls on both.
For each end-to-end metric it prints each set's median and relative IQR
(IQR / median) and the relative difference of the two medians, and marks
the metrics whose spread or median difference exceeds the bound in
BENCHMARK.json (`setup_s`: only the median difference). Each run's result
is appended to FILE as one JSON line. Exits 1 when a run fails or a metric
exceeds its bound.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import stats  # noqa: E402


def run(bench, workload, seed):
    t0 = time.time()
    p = subprocess.run(
        ["python3", os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    return {"workload": workload, "seed": seed, "rc": p.returncode,
            "elapsed_s": time.time() - t0, "result": result,
            "failures": [x for x in lines if "check failures" in x],
            "stderr": p.stderr[-2000:] if p.returncode else ""}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default=os.path.join(".bench_build", "steady.jsonl"))
    ap.add_argument("--workloads", default="")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]]
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    runs = {(w, s): [] for w in workloads for s in "AB"}
    failed = False
    with open(args.out, "a") as fh:
        for i in range(args.runs):
            for w in workloads:
                for s in ("AB" if i % 2 == 0 else "BA"):
                    r = run(bench, w, args.first_seed + i + (100 if s == "B" else 0))
                    fh.write(json.dumps(r) + "\n")
                    fh.flush()
                    res = r["result"]
                    good = r["rc"] == 0 and res is not None and res["correct"]
                    failed |= not good
                    print(f"{w} set {s} seed {r['seed']}: exit {r['rc']}, "
                          f"{r['elapsed_s']:.1f} s, "
                          f"failed {res and res['failed']}/{res and res['attempted']}"
                          + ("" if good else " FAILED"), flush=True)
                    if good:
                        runs[(w, s)].append(res["metrics"])
    for w in workloads:
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            a, b = ([r[name]["value"] for r in runs[(w, s)]] for s in "AB")
            if len(a) < 2 or len(b) < 2:
                continue
            ma, mb = stats.median(a), stats.median(b)
            spread = max(stats.relative_iqr(a), stats.relative_iqr(b))
            over = abs(mb - ma) / ma > bound or (name != "setup_s" and spread > bound)
            failed |= over
            print(f"{w:12s} {name:18s} median A {ma:14.4f} B {mb:14.4f} "
                  f"diff {(mb - ma) / ma:+.4f} iqr/median A {stats.relative_iqr(a):.4f} "
                  f"B {stats.relative_iqr(b):.4f} bound {bound}" + (" OVER" if over else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
