#!/usr/bin/env python3
"""graft benchmark: one workload per run, at local[nproc].

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload <ja_tokenize|pipeline_ops>
      --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine and the benchmark from source with sbt
(perfbench/build.sbt). Each run then starts the benchmark JVM, which sets up
a Spark session, runs the workload's queries with the cache cleared before
each one, and checks every result. Per-query records go to stdout as JSON
lines; then come one workload line, one summary line with every end-to-end
metric, and last the result line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with the times and rates
scaled to a reference host speed (see CALIB_REF_S); with --trace 1 they are
the per-layer ones (work counters, kernel rates, span self times).

A set-up is session build, Graft.register, the first dictionary load and a
warm-up query. setup_s is the time from starting the benchmark JVM to the
end of its set-up. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_work")
CLASSPATH = os.path.join(BENCH, "target", "runtime-classpath.txt")
SCALE = "0.1"
EXPECTED = os.path.join(BENCH, "expected", "sf0.1.tsv")
WORKLOADS = ("ja_tokenize", "pipeline_ops")
# Passes at the start of a run that warm the JVM up: class loading and JIT
# compilation. Metrics leave them out. Runner.MinPasses keeps measured
# passes after them.
WARMUP_PASSES = {"ja_tokenize": 5, "pipeline_ops": 1}
# The host's speed drifts by tens of percent over minutes, and it moves all
# of a run's times together, set-up included. Each query is preceded by a
# HostSpeed sample, a fixed CPU job that shares no code with the engine. The
# run's times are scaled by CALIB_REF_S / (its median sample), so they read
# as on a host where that job takes CALIB_REF_S (about a 4-core VM of this
# benchmark's shared host at its usual speed), and rates the other way.
# setup_s and peak_rss_mb are not scaled. The summary line gives every
# metric unscaled, and the workload line the median sample (host_calib_s).
CALIB_REF_S = 0.07
SCALED_TIMES = ("pass_s", "query_p50_s", "query_p75_s")
SCALED_RATES = ("ja_doc_chars_per_s", "ja_line_rows_per_s")
RUN_LIMIT_S = 170  # one run, after any build
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def testdata_dir():
    """The sf0.1 tables: GRAFT_BENCH_SF, else the directory TESTDATA.md lists."""
    if os.environ.get("GRAFT_BENCH_SF"):
        return os.environ["GRAFT_BENCH_SF"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(r"^\|\s*" + re.escape(SCALE) + r"\s*\|\s*`([^`]+)`", f.read(), re.M)
    except OSError:
        m = None
    if not m:
        fail(f"no sf{SCALE} directory in TESTDATA.md; set GRAFT_BENCH_SF")
    return m.group(1).rstrip("/")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- statistics ---------------------------------------------------------------

def percentile(values, p):
    """The p-th percentile by linear interpolation between the closest ranks
    (numpy's default): position (n - 1) * p / 100 in the sorted samples."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def above(values, threshold):
    return sum(1 for v in values if v > threshold)


# ---- records ------------------------------------------------------------------

def parse_records(lines):
    """JSON records from the JVM's stdout; other lines are ignored."""
    out = []
    for line in lines:
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            rec = json.loads(line)
        except ValueError:
            continue
        if isinstance(rec, dict) and "kind" in rec:
            out.append(rec)
    return out


def of_kind(records, kind):
    return [r for r in records if r.get("kind") == kind]


def one(records, kind):
    rs = of_kind(records, kind)
    if not rs:
        raise ValueError(f"no {kind} record")
    return rs[-1]


def median_wall(records):
    """Each query's median wall time over its successful runs: {name: seconds}."""
    walls = {}
    for q in records:
        if q["ok"]:
            walls.setdefault(q["query"], []).append(q["wall_s"])
    return {k: statistics.median(v) for k, v in walls.items()}


def end_to_end(records, workload, setup_s):
    """Every end-to-end metric from an untraced run's records, unscaled,
    and the run's host-speed scale. The first passes of a fresh JVM pay for
    class loading and JIT compilation, so every metric but setup_s leaves
    the warm-up passes out and takes medians or percentiles over the rest
    of the run."""
    warm = WARMUP_PASSES[workload]
    queries = of_kind(records, "query")
    checked = queries + of_kind(records, "first") + of_kind(records, "floor")
    failed = [q for q in checked if not q["ok"]]
    passes = [p["pass_s"] for p in of_kind(records, "pass")]
    measured = [p["pass_s"] for p in of_kind(records, "pass") if p["pass"] >= warm]
    calib = statistics.median(c for p in of_kind(records, "pass") if p["pass"] >= warm
                              for c in p["calib_s"])
    ja = median_wall([q for q in queries if q["pass"] >= warm])
    size = one(records, "corpus")
    walls = [q["wall_s"] for q in queries if q["ok"] and q["pass"] >= warm]
    p75 = percentile(walls, 75)
    metrics = {
        "setup_s": setup_s,
        "pass_s": statistics.median(measured),
        "query_p50_s": percentile(walls, 50),
        "query_p75_s": p75,
        "ja_doc_chars_per_s": size["docs"]["chars"] / ja["ja_docs_topk"] if "ja_docs_topk" in ja else 0.0,
        "ja_line_rows_per_s": size["lines"]["rows"] / ja["ja_lines_search"] if "ja_lines_search" in ja else 0.0,
        "fail_ratio": len(failed) / len(checked),
        "peak_rss_mb": one(records, "rss")["peak_rss_mb"],
    }
    runs = {}
    for q in queries:
        runs.setdefault(q["query"], []).append(q["wall_s"])
    spreads = [max(v) / min(v) for v in runs.values() if len(v) > 1 and min(v) > 0]
    quality = {
        "version_call_floor_s": min(r["version_call_floor_s"] for r in of_kind(records, "quality")),
        "pass_spread": max(passes) / min(passes),
        "query_rep_spread_median": statistics.median(spreads) if spreads else None,
        "host_calib_s": calib,
    }
    samples = {"n_queries": len(runs), "n_samples": len(walls), "n_above_p75": above(walls, p75),
               "n_passes": len(passes), "n_measured_passes": len(measured), "n_runs": len(queries)}
    return metrics, quality, samples, len(checked), failed, CALIB_REF_S / calib


def scaled(metrics, scale):
    """The metrics as on the reference host: times times `scale`, rates over it."""
    out = dict(metrics)
    for k in SCALED_TIMES:
        out[k] = metrics[k] * scale
    for k in SCALED_RATES:
        out[k] = metrics[k] / scale
    return out


PER_LAYER_COUNTERS = ("jobs", "stages", "tasks", "executor_cpu_s", "gc_s",
                      "shuffle_write_mb", "input_mb")


def per_layer(records, cpus):
    """Every per-layer metric from a traced run's records; sums are per pass."""
    traced = [q for q in of_kind(records, "query") if q["traced"]]
    traced_passes = [p["pass_s"] for p in of_kind(records, "pass") if p["traced"]]
    plain_passes = [p["pass_s"] for p in of_kind(records, "pass") if not p["traced"]]
    n = len(traced_passes)
    setup = of_kind(records, "setup")[0]
    m = {
        "graft.session_s": setup["session_s"],
        "graft.register_s": setup["register_s"],
        "ja.dict_load_s": setup["dict_load_s"],
    }
    layer = {k: v for k, v in one(records, "layer").items() if k != "kind"}
    m.update(layer)
    m["expr.interpreted_nodes"] = sum(q.get("interpreted_nodes", 0) for q in traced) / n
    m["operators.build_s"] = sum(q["build_s"] for q in traced) / n
    m["operators.build_jobs"] = sum(q.get("build_jobs", 0) for q in traced) / n
    m["operators.cached_left"] = sum(q["cached_left"] for q in traced) / n
    m["queries.exec_s"] = sum(q["exec_s"] for q in traced) / n
    for c in PER_LAYER_COUNTERS:
        m[f"queries.{c}"] = sum(q.get("counters", {}).get(c, 0) for q in traced) / n
    m["queries.cpu_util"] = m["queries.executor_cpu_s"] / (m["queries.exec_s"] * cpus)
    m["trace.overhead_s"] = statistics.median(traced_passes) - statistics.median(plain_passes)
    checked = of_kind(records, "query") + of_kind(records, "first")
    return m, len(checked), [q for q in checked if not q["ok"]]


# ---- processes ----------------------------------------------------------------

def sbt_env():
    """Offline sbt that resolves only from the repositories in
    ~/.sbt/repositories, as the engine's own build does."""
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    return env


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile the engine and the benchmark unless the build is current.
    Returns True if it did work."""
    sources = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    if not os.path.isdir(sources[0]):
        fail(f"no engine sources at {sources[0]}; run from the root of a full checkout")
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= max(
            newest_mtime(sources), os.path.getmtime(os.path.join(BENCH, "build.sbt"))):
        return False
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    return True


def java_cmd():
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap, so peak RSS does not follow the collector's resizing; the
    # throughput collector runs no concurrent GC threads next to the tasks
    return ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC", "-Xlog:all=warning:stderr", f"-Djava.io.tmpdir={tmp}",
            *opens, "-cp", cp, "perfbench.Main"]


def run_jvm(args, deadline, echo=False):
    """Run the benchmark JVM until it exits or `deadline` (perf_counter)
    passes; returns (records, seconds from start to its setup record).
    Per-query records are echoed to stdout when `echo`."""
    os.makedirs(WORK, exist_ok=True)
    log_path = os.path.join(WORK, "jvm-stderr.log")
    with open(log_path, "a") as log:
        t0 = time.perf_counter()
        p = subprocess.Popen(java_cmd() + args, cwd=ROOT, stdout=subprocess.PIPE,
                             stderr=log, text=True)
        watchdog = threading.Timer(max(1.0, deadline - t0), p.kill)
        watchdog.start()
        ready = None
        lines = []
        try:
            for line in p.stdout:
                lines.append(line)
                if ready is None and '"kind":"setup"' in line:
                    ready = time.perf_counter() - t0
                if echo and line.startswith('{"kind":"query"'):
                    sys.stdout.write(line)
            code = p.wait()
            with open(os.path.join(WORK, "last-run.jsonl"), "a") as f:
                f.writelines(x for x in lines if x.startswith("{"))
        finally:
            watchdog.cancel()
            if p.poll() is None:
                p.kill()
                p.wait()
    if time.perf_counter() >= deadline:
        fail("benchmark JVM ran past the time limit")
    if code != 0:
        fail(f"benchmark JVM exited with {code}; see {log_path}")
    if ready is None:
        fail("benchmark JVM printed no setup record")
    return parse_records(lines), ready


def load_spec():
    """Metric names and units, from BENCHMARK.json at the checkout root."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail(f"no {path}")
    with open(path) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def result_metrics(values, units):
    """The result line's metrics: exactly the names in `units`."""
    missing = sorted(set(units) - set(values))
    if missing:
        fail(f"metrics missing from this run: {missing}")
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}


def main(argv=None):
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    e2e_units, layer_units = load_spec()
    sf = testdata_dir()
    if not os.path.isdir(sf):
        fail(f"no test data at {sf}")
    if build():
        t_start = time.perf_counter()
    deadline = t_start + RUN_LIMIT_S
    cpus = os.cpu_count() or 1
    base = ["--workload", a.workload, "--seed", str(a.seed), "--sf", sf, "--work", WORK,
            "--expected", EXPECTED, "--cpus", str(cpus)]
    records = []
    log = os.path.join(WORK, "last-run.jsonl")
    if os.path.exists(log):
        os.remove(log)
    try:
        records, ready = run_jvm(["--mode", "run", "--trace", str(a.trace), "--seconds",
                                  str(a.seconds)] + base, deadline, echo=True)
    finally:
        for d in os.listdir(WORK) if os.path.isdir(WORK) else []:
            if d.startswith("ja-seed"):
                shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)

    head = {"workload": a.workload, "trace": a.trace, "cpus": cpus, "seed": a.seed}
    if a.trace:
        values, attempted, failed = per_layer(records, cpus)
        print(json.dumps({"kind": "workload", **head, "attempted": attempted,
                          "failed": len(failed), "errors": errors(failed)}))
        print(json.dumps({"kind": "summary", **head,
                          "metrics": {k: {"value": v, "unit": layer_units.get(k, "")}
                                      for k, v in values.items()}}))
        metrics = result_metrics(values, layer_units)
    else:
        values, quality, samples, attempted, failed, scale = end_to_end(records, a.workload, ready)
        corpus = of_kind(records, "corpus")
        print(json.dumps({"kind": "workload", **head, "attempted": attempted,
                          "failed": len(failed), "errors": errors(failed), "quality": quality,
                          "corpus": corpus[0] if corpus else None}))
        units = {**e2e_units, "fail_ratio": "ratio"}
        print(json.dumps({"kind": "summary", **head, **samples,
                          "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}}))
        metrics = result_metrics(scaled(values, scale), e2e_units)
    print(json.dumps({"correct": not failed, "attempted": attempted, "failed": len(failed),
                      "metrics": metrics}))


def errors(failed):
    return [f'{q["query"]}: {q["error"]}' for q in failed][:5]


if __name__ == "__main__":
    main()
