#!/usr/bin/env python3
"""Benchmark of the paper's pipeline and the repository's query engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program from the
checkout's sources into `.bench_build/` (again whenever a source changes);
each workload then runs in fresh JVMs on `local[<cores>]`. The workloads,
their sizes and the metric → layer map are in `perfbench/workloads.json`;
the metric names, units and bounds in `BENCHMARK.json`.

Every output is checked. The run prints each metric with its unit and, as
its last line, one JSON object: {"correct", "attempted", "failed",
"metrics"}. With `--trace 0` the metrics are the end-to-end ones, measured
without listeners; with `--trace 1` the per-layer ones, from Spark's own
listeners, with the spans written to `.bench_build/traces/`. Every failed
check is counted in `failed`; the exit code is 0 only when every check
passes, apart from those of the `queries` keys that workloads.json lists as
known to fail.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import oracle  # noqa: E402
import stats  # noqa: E402
import tables  # noqa: E402

RUN_LIMIT_S = 170  # a run must end within 180 s; keep a margin
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


# ---- build ----

def _sources():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        if not os.path.exists(r):
            raise BenchError(f"missing {os.path.relpath(r, ROOT)}: not a checkout of the program")
        if os.path.isfile(r):
            yield r
            continue
        for d, _, files in sorted(os.walk(r)):
            for f in sorted(files):
                yield os.path.join(d, f)


def build():
    """Compile the program and the benchmark; returns the JVM classpath."""
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh, open(cp_file) as cf:
            same, cp = fh.read() == stamp, cf.read()
        if same and os.path.isdir(cp.split(os.pathsep)[0]):
            return cp
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM sbt starts keeps its temporary files inside the checkout
    env = dict(os.environ, COURSIER_MODE="offline",
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                "-Dsbt.server.autostart=false", "-Xmx2g"]).strip()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise BenchError(f"build failed (sbt exit {p.returncode})")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1]


# ---- one JVM ----

def cores():
    return len(os.sched_getaffinity(0))


def jvm(cp, work, deadline, **args):
    """Run perfbench.Main in a fresh JVM; returns its result and the
    `graft-*` temp directories it left behind."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
            "--work", work, "--out", out]
    for k, v in args.items():
        cmd += ["--" + k.replace("_", "-"), str(v)]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             env=env)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "killed at the time limit"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(out):
        os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
        kept = os.path.join(BUILD, "logs", f"{args['workload']}-{args['seed']}-{os.getpid()}.log")
        shutil.copy(log, kept)
        raise BenchError(f"{args['workload']} JVM failed (exit {rc}); log: {kept}")
    with open(out) as fh:
        res = json.load(fh)
    res["tmp_left"] = sum(1 for f in os.listdir(tmp) if f.startswith("graft-"))
    res["work"] = work
    return res


# ---- workloads ----

def check_pipe(c):
    """Whether a pipeline run's checks hold, and its failed records."""
    bad = abs(c["approved"] - c["approved_expected"]) + c["sample_bad"]
    bad += abs(c.get("dead_letters", 0) - c.get("poison_frames", 0))
    bad += c["approved"] - c.get("distinct_ids", c["approved"])
    usd_ok = abs(c["usd_sum"] - c["usd_sum_expected"]) <= 1e-9 * max(1.0, abs(c["usd_sum_expected"]))
    ok = bad == 0 and usd_ok
    return ok, (0 if ok else max(1, bad))


def plans_layers(lay):
    """The `plans` and `operators` layers of a traced JVM."""
    m = {}
    for phase in ("analysis", "optimization", "planning"):
        m[f"plans.{phase}_s"] = lay["phase_total"].get(phase, 0.0)
        per = [u.get(phase, 0.0) for u in lay["phase_by_unit"]]
        m[f"plans.{phase}_s_p50"] = stats.median(per) if per else 0.0
    for k in ("jobs", "stages", "tasks"):
        m[f"plans.{k}"] = lay[k]
    for k in ("executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "input_rows"):
        m[f"operators.{k}"] = lay[k]
    return m


def forks(ctx):
    """Fresh JVMs an untraced run spreads its measurements over: the speed
    of a JVM's compiled code differs from one JVM to the next by more than
    it drifts within one, so one JVM per run would make the run's figures
    swing with it. A traced run uses one JVM."""
    return 1 if ctx.trace else ctx.spec["forks"]


def pipe_batch(ctx):
    w = ctx.spec
    n = forks(ctx)
    runs = [ctx.jvm(frames=w["frames"],
                    passes=max(3, math.ceil(ctx.seconds / w["seconds_per_pass"] / n)),
                    warm_passes=w["warm_passes"], setups=w["setups"], cores=cores(),
                    tag=f"fork{i}" if i else "")
            for i in range(n)]
    res = runs[0]
    checked = [check_pipe(r["checks"]) for r in runs]
    ok, failed = all(c[0] for c in checked), sum(c[1] for c in checked)
    attempted = sum(r["records"] for r in runs)
    pass_s = [p for r in runs for p in r["pass_s"]]
    rps = w["frames"] / stats.median(pass_s)
    e2e = {
        "setup_s": stats.median([x for r in runs for x in r["setup_s"]]),
        "wall_s": sum(r["wall_s"] for r in runs),
        "throughput_per_s": rps,
        "latency_p50_ms": 1000 * stats.median(pass_s),
        "latency_tail_ms": 1000 * stats.percentile(pass_s, stats.tail_percentile(len(pass_s))),
    }
    layers = {}
    if ctx.trace:
        layers = {f"pipeline.{k}": v for k, v in res["probe"].items()}
        layers.update(plans_layers(res["layers"]))
        layers["jvm.peak_rss_mb"] = res["peak_rss_mb"]
        layers["trace.overhead_pct"] = 100 * (
            stats.median(res["pass_s"]) / stats.median(res["baseline_pass_s"]) - 1)
        one = ctx.jvm(frames=w["frames"], passes=1, warm_passes=1, setups=1, cores=1, trace=0,
                      tag="1core")
        one["ok"], one["failed"] = check_pipe(one["checks"])
        rps1 = one["records"] / stats.median(one["pass_s"])
        layers["pipeline.records_per_s_1core"] = rps1
        layers["pipeline.scaling_ratio"] = rps / rps1
        stream = stream_layers(ctx)
        layers.update(stream["layers"])
        for r in (one, stream):
            ok, failed, attempted = ok and r["ok"], failed + r["failed"], attempted + r["records"]
            ctx.leaks(r)
    for r in runs:
        ctx.leaks(r)
    return ctx.report(attempted, failed, ok, e2e, layers, [r["checks"] for r in runs])


def stream_layers(ctx):
    """The pipeline's streaming form, traced: the `streaming` layer and the
    dead-letter branch, in a JVM of its own."""
    w = ctx.spec_of("pipe_stream")
    res = ctx.jvm(workload="pipe_stream", rate=w["rate"], poison_ppm=w["poison_ppm"],
                  warmup=w["warmup_s"], warm_batches=w["warm_batches"], setups=1,
                  cores=cores(), tag="stream")
    res["ok"], res["failed"] = check_pipe(res["checks"])
    lay, c, lat = res["layers"], res["checks"], res["latency_ms"]
    layers = {
        "pipeline.dead_letters": c["dead_letters"],
        "pipeline.poison_frames": c["poison_frames"],
        "pipeline.generator_late_ms": stats.percentile(
            res["generator_late_ms"], stats.tail_percentile(len(res["generator_late_ms"]))),
        "streaming.latency_p50_ms": stats.median(lat),
        "streaming.latency_p90_ms": stats.percentile(lat, 90),
        "streaming.batches": lay["batches"],
    }
    for k, v in lay["batch_ms"].items():
        layers[f"streaming.{k}_ms_p50"] = stats.median(v) if v else 0.0
        layers[f"streaming.{k}_ms_p90"] = stats.percentile(v, 90) if v else 0.0
    res["layers"] = layers
    return res


def queries(ctx):
    w = ctx.spec
    data = ctx.tables(w["sf"])
    n = forks(ctx)
    # the forks run the keys in turn, each key once
    runs = [ctx.jvm(data=data, keys=",".join(w["keys"][i::n]), setups=w["setups"],
                    cores=cores(), tag=f"fork{i}" if i else "")
            for i in range(n)]
    res = runs[0]
    bad = {k: v for r in runs for k, v in ctx.check_keys(r, data).items()}
    # a failing key that workloads.json lists as known to fail is counted
    # in `failed` but leaves the run correct; any other failing key makes
    # it incorrect
    known = w["known_failing"]
    ok = not any(k not in known for k in bad)
    for k in known:
        print(f"queries known-failing {k}: " + (f"fails: {bad[k]}" if k in bad else "passes"))
    keys = [k for r in runs for k in r["keys"]]
    secs = [k["secs"] for k in keys]
    e2e = {
        "setup_s": stats.median([x for r in runs for x in r["setup_s"]]),
        "wall_s": sum(secs),
        "throughput_per_s": len(secs) / sum(secs),
        "latency_p50_ms": 1000 * stats.median(secs),
        "latency_tail_ms": 1000 * stats.percentile(secs, 90),
    }
    layers = {}
    if ctx.trace:
        layers = plans_layers(res["layers"])
        layers["jvm.peak_rss_mb"] = res["peak_rss_mb"]
        builds = [k for k in keys if k["memo_builds"] > 0]
        layers["FixtureMemo.builds"] = sum(k["memo_builds"] for k in keys)
        layers["FixtureMemo.build_key_s"] = sum(k["secs"] for k in builds)
        layers["trace.overhead_pct"] = 100 * (res["traced_wall_s"] / res["baseline_wall_s"] - 1)
    for r in runs:
        ctx.leaks(r)
    return ctx.report(len(secs), len(bad), ok, e2e, layers, {"failed_keys": bad})


WORKLOADS = {"pipe_batch": pipe_batch, "queries": queries}


class Context:
    def __init__(self, args, cp, spec, bench):
        self.workload, self.seed, self.seconds, self.trace = (
            args.workload, args.seed, args.seconds, args.trace)
        self.cp, self.all_specs, self.bench = cp, spec, bench
        self.spec = spec["workloads"][args.workload]
        self.deadline = time.time() + RUN_LIMIT_S
        self.work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
        self.active_after, self.tmp_left = 0, 0

    def spec_of(self, name):
        return self.all_specs["workloads"][name]

    def jvm(self, tag="", **kw):
        args = dict(workload=self.workload, seed=self.seed, seconds=self.seconds,
                    trace=self.trace)
        args.update(kw)
        work = os.path.join(self.work, tag or "main")
        res = jvm(self.cp, work, self.deadline, **args)
        if args["trace"]:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"), os.path.join(
                BUILD, "traces", f"{self.workload}-{self.seed}{'-' + tag if tag else ''}.jsonl"))
        return res

    def tables(self, sf):
        d = os.path.join(self.work, f"tables-sf{sf}")
        if not os.path.exists(d):
            tables.generate(d, sf, self.seed)
        return d

    def check_keys(self, res, data):
        """Keys that threw or whose result differs from the DuckDB oracle."""
        con = oracle.connect(data, os.path.join(res["work"], "duckdb-tmp"))
        bad = {}
        for k in res["keys"]:
            name = k["key"]
            why = k["error"] or oracle.check(
                con, os.path.join(res["work"], "results", name), res["oracle"].get(name))
            if why:
                bad[name] = why
        con.close()
        return bad

    def leaks(self, res):
        self.active_after = max(self.active_after, res["streams_active_after"])
        self.tmp_left += res["tmp_left"]

    def report(self, attempted, failed, ok, e2e, layers, details):
        if self.trace:
            layers["streaming.active_after"] = self.active_after
            layers["leaks.graft_tmp_dirs"] = self.tmp_left
            wanted = self.bench["per_layer"]
            # a layer the workload does not run reads 0
            metrics = {m["name"]: layers.get(m["name"], 0) for m in wanted}
        else:
            wanted = self.bench["end_to_end"]
            metrics = {m["name"]: e2e[m["name"]] for m in wanted}
        out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted}
        for m in wanted:
            print(f"{self.workload} {m['name']} = {metrics[m['name']]} {m['unit']}")
        print(f"{self.workload} failed_ratio = {failed / attempted} ({failed}/{attempted})")
        if failed:
            print(f"{self.workload} check failures: {json.dumps(details, default=str)[:4000]}")
        print(json.dumps({"correct": ok, "attempted": int(attempted), "failed": int(failed),
                          "metrics": out}))
        return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if args.workload not in WORKLOADS:
        raise BenchError(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}")
    cp = build()
    ctx = Context(args, cp, spec, bench)
    try:
        ok = WORKLOADS[args.workload](ctx)
    finally:
        shutil.rmtree(ctx.work, ignore_errors=True)
    return 0 if ok else 1


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    try:
        sys.exit(main())
    except BenchError as e:
        sys.stderr.write(f"perfbench: {e}\n")
        sys.exit(2)
