#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload mr_zipf --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. The run generates its inputs from
the seed, drives one `local[N]` JVM (N = the processors it sees) through the
harness in a closed loop, checks every output, prints each metric with
its unit, and ends with one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The full artifact (raw samples, host context, spans) is written under
perfbench/.runs/. Exit status is 0 only when every check passed.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

BUILD_DIR = os.path.join(HERE, ".build")
RUNS_DIR = os.path.join(HERE, ".runs")
SF_DIR = os.path.join(HERE, "data", "sf0.01")
JVM_TIMEOUT_S = 150
SBT_TIMEOUT_S = 840

# Each workload: its input, its queries (SparkEntry keys, plus the two
# MapReduce facade runs), the tables they read (warmed up in set-up) and
# the length of one timed pass on a 4-core host, which sizes the pass
# count from --seconds.
WORKLOADS = {
    "mr_zipf": {
        "data": "corpus",
        "queries": ["mr_facade_run", "mr_facade_combined", "mr_wordcount"],
        "tables": ["documents"],
        "pass_s": 2.5,
    },
    "relational_sf001": {
        "data": "sf",
        # one query per fifth of the 88 q* keys ranked by time at sf0.01
        # (the query at each quintile's midpoint rank); NOTES.md compares
        # the five with all 88
        "queries": ["q5_antijoin", "q79_union_by_name", "q23_lag_lead", "q45_pareto", "q10_star_join"],
        "tables": ["customer", "orders", "events", "lineitem", "nation", "region"],
        "pass_s": 4.5,
    },
    "streaming_sf001": {
        "data": "sf",
        "queries": ["st_sessionize_stream", "st_sessionize_final"],
        "tables": ["events"],
        "pass_s": 3.0,
    },
}
CORPUS_DOCS = 4_000

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_FLAGS = [
    # a fixed, pre-touched heap and young generation: the resident peak
    # then moves with native memory (code cache, metaspace, off-heap
    # buffers, RocksDB), not with the collector's resizing and promotion
    # timing
    "-Xms2g", "-Xmx2g", "-Xmn768m", "-XX:-UseAdaptiveSizePolicy", "-XX:+AlwaysPreTouch",
    "-XX:+UseParallelGC",
    "-XX:ReservedCodeCacheSize=512m",
    "-Duser.timezone=UTC",
    "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
]
# A run has 8-15 (query, pass) samples, so the tail is p90 everywhere.
TAIL_PERCENTILE = 90


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of everything the build compiles, so a changed source rebuilds."""
    h = hashlib.sha256()
    for base in ("build.sbt", "project/build.properties", "src", "perfbench/build.sbt",
                 "perfbench/project/build.properties", "perfbench/src"):
        p = os.path.join(ROOT, base)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(r, f) for r, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(digest):
    """Returns the harness classpath, building graft and the harness first
    when the sources (hashed as `digest`) changed since the last build."""
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"[perfbench] {need} not found: run from the root of a graft checkout")
    if not os.path.exists(os.path.join(SF_DIR, "lineitem.parquet")):
        raise SystemExit(f"[perfbench] missing input tables under {os.path.relpath(SF_DIR, ROOT)}")
    stamp = os.path.join(BUILD_DIR, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if got.get("source_hash") == digest:
            return got["classpath"]
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building graft and the harness with sbt (first run in this checkout)")
    t = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "printClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=SBT_TIMEOUT_S)
    cp = [ln[len("CLASSPATH="):] for ln in p.stdout.splitlines() if ln.startswith("CLASSPATH=")]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("[perfbench] build failed")
    log(f"built in {time.time() - t:.0f} s")
    with open(stamp, "w") as f:
        json.dump({"source_hash": digest, "classpath": cp[-1]}, f)
    return cp[-1]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def timed_passes(workload, seconds):
    """How many timed passes fill `seconds`. The count depends on the
    arguments only: letting host speed choose between two and three passes
    moved a run's medians by the warm-up left in the first pass."""
    return max(2, math.ceil(seconds / WORKLOADS[workload]["pass_s"]))


def run_harness(classpath, workload, data, out, seed, seconds, trace):
    cmd = ["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + JVM_FLAGS + [
        f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}", "-cp", classpath, "perfbench.Harness",
        "--workload", workload, "--data", data, "--out", out, "--seed", str(seed),
        "--passes", str(timed_passes(workload, seconds)), "--trace", "1" if trace else "0",
        "--queries", ",".join(WORKLOADS[workload]["queries"]),
        "--tables", ",".join(WORKLOADS[workload]["tables"])]
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    with open(os.path.join(out, "harness.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=out)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"[perfbench] harness did not finish within {JVM_TIMEOUT_S} s")
        finally:
            if p.poll() is None:  # timed out, or this process is being stopped
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(out, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"[perfbench] harness exited with {rc}")
    with open(os.path.join(out, "harness.json")) as f:
        return json.load(f)


def end_to_end(h, failed, attempted):
    samples = [ms for p in h["passes"] for _, ms in p["samples"]]
    return {
        "setup_s": h["setup"]["total_ms"] / 1000.0,
        "pass_s": statistics.median(p["ms"] for p in h["passes"]) / 1000.0,
        "query_p50_ms": stats.median(samples),
        "query_tail_ms": stats.percentile(samples, TAIL_PERCENTILE),
        "ok_ratio": 1.0 - stats.failed_ratio(failed, attempted),
        "rss_peak_mb": h["jvm"]["vm_hwm_kb"] / 1024.0,
    }, len(samples)


def per_layer(h, spans):
    """Per-layer metrics, averaged over the traced passes."""
    traced = [p for p in h["passes"] if p["traced"]]
    untraced = [p for p in h["passes"] if not p["traced"]]
    n = len(traced)

    def mean(key, scale=1.0):
        return sum(p["layers"].get(key, 0.0) for p in traced) / n * scale

    mb = 1.0 / (1024 * 1024)
    m = {
        "session.build_ms": h["setup"]["session_ms"],
        "tables.warmup_ms": h["setup"]["tables_ms"],
        "tables.read_mb": mean("tables.read_bytes", mb),
        "tables.read_rows": mean("tables.read_rows"),
        "catalyst.plan_ms": mean("catalyst.plan_ms"),
        "scheduler.jobs": mean("scheduler.jobs"),
        "scheduler.stages": mean("scheduler.stages"),
        "scheduler.tasks": mean("scheduler.tasks"),
        "executor.run_ms": mean("executor.run_ms"),
        "executor.cpu_ms": mean("executor.cpu_ns", 1e-6),
        "executor.result_mb": mean("executor.result_bytes", mb),
        "shuffle.write_mb": mean("shuffle.write_bytes", mb),
        "shuffle.read_mb": mean("shuffle.read_bytes", mb),
        "shuffle.records": mean("shuffle.records"),
        "shuffle.fetch_wait_ms": mean("shuffle.fetch_wait_ms"),
        "shuffle.spill_mb": mean("shuffle.spill_bytes", mb),
        "functions.djb2_ns_per_key": h["djb2_ns_per_key"],
        "shared.memo_builds": statistics.median(p["memo_builds"] for p in traced),
        "shared.memo_mb": statistics.median(p["memo_bytes"] for p in traced) * mb,
        "streaming.batches": mean("streaming.batches"),
        "streaming.trigger_ms": mean("streaming.trigger_ms"),
        "streaming.add_batch_ms": mean("streaming.add_batch_ms"),
        "streaming.wal_commit_ms": mean("streaming.wal_commit_ms"),
        "streaming.query_planning_ms": mean("streaming.query_planning_ms"),
        "streaming.state_commit_ms": mean("streaming.state_commit_ms"),
        "streaming.state_rows": mean("streaming.state_rows"),
        "streaming.state_mem_mb": mean("streaming.state_mem_bytes", mb),
        "sink.write_ms": mean("sink.write_ms"),
        "sink.mb": mean("sink.bytes", mb),
        "sink.files": mean("sink.files"),
        "jvm.gc_ms": mean("jvm.gc_ms"),
        "jvm.jit_ms": mean("jvm.jit_ms"),
        "jvm.setup_jit_ms": h["setup"]["jit_ms"],
        "jvm.codecache_mb": h["jvm"]["codecache_mb"],
        "trace.overhead_ms": statistics.median(p["ms"] for p in traced)
        - statistics.median(p["ms"] for p in untraced),
    }
    # span-derived: self time per layer, scheduler idle cores, driver gaps
    spans = stats.attach(spans)
    self_us = stats.self_times(spans)
    for layer in ("query", "operators", "result", "mapreduce", "catalyst", "scheduler", "executor"):
        m[f"{layer}.self_ms"] = self_us.get(layer, 0) / 1000.0 / n
    queries = [s for s in spans if s["name"] == "query"]
    jobs = [(s["start"], s["end"]) for s in spans if s["name"] == "scheduler.job"]
    job_us = sum(stats.union_length(stats.clipped(jobs, q["start"], q["end"])) for q in queries)
    wall_us = sum(q["end"] - q["start"] for q in queries)
    m["scheduler.driver_gap_ms"] = (wall_us - job_us) / 1000.0 / n
    m["scheduler.idle_core_ms"] = (h["cores"] * job_us / 1000.0) / n - mean("scheduler.task_wall_ms")
    m["operators.build_ms"] = sum(s["end"] - s["start"] for s in spans
                                  if s["name"] == "operators.build") / 1000.0 / n
    for name in ("mapreduce.run", "mapreduce.run_combined"):
        m[f"{name}_ms"] = sum(s["end"] - s["start"] for s in spans if s["name"] == name) / 1000.0 / n
    m["mapreduce.emitted_pairs"] = mean("mapreduce.emitted_pairs")
    combined = mean("mapreduce.combined_pairs")
    m["mapreduce.combine_ratio"] = combined / m["mapreduce.emitted_pairs"] if m["mapreduce.emitted_pairs"] else 0.0
    return m


def declared_metrics(trace):
    """(name, unit) of every metric BENCHMARK.json declares for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a stopped run unwinds through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    w = WORKLOADS[a.workload]

    digest = source_hash()
    classpath = build(digest)
    out = os.path.join(RUNS_DIR, f"{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    context = {"nproc": os.cpu_count(), "git_commit": git_commit(),
               "source_hash": digest, "loadavg_before": loadavg()}
    try:
        if w["data"] == "corpus":
            data = os.path.join(out, "corpus")
            t = time.time()
            corpus.generate(data, a.seed, CORPUS_DOCS)
            context["gen_s"] = time.time() - t
            context["input_fingerprint"] = corpus.fingerprint(data)
        else:
            data = SF_DIR
        h = run_harness(classpath, a.workload, data, out, a.seed, a.seconds, a.trace == 1)
        context["loadavg_after"] = loadavg()
        context["local_n"] = h["cores"]  # the JVM's processor count

        # ---- correctness ----
        failures = list(h["failures"])
        failed = len(failures)
        mismatches = oracle.check(data, h["oracle_sql"], h["fingerprints"])
        for q, why in mismatches.items():
            # every execution matched the run's reference, so all are wrong
            failed += h["executions"].get(q, 0)
            failures.append(f"{q}: oracle mismatch: {why}")
        for q in w["queries"]:
            fp = h["fingerprints"].get(q)
            if q not in h["oracle_sql"] and fp and fp["rows"].startswith("0:"):
                failed += h["executions"].get(q, 0)
                failures.append(f"{q}: empty result")
        failed = min(failed, h["attempted"])
        correct = not failures

        if a.trace:
            spans = []
            with open(os.path.join(out, "spans.json")) as f:
                for sid, parent, qid, name, start, end in json.load(f):
                    spans.append({"id": sid, "parent": parent, "qid": qid, "name": name,
                                  "start": start, "end": end})
            metrics = per_layer(h, spans)
            n_samples = None
        else:
            metrics, n_samples = end_to_end(h, failed, h["attempted"])
    finally:
        for junk in ("corpus", "tmp", "local", "sink", "warehouse"):
            shutil.rmtree(os.path.join(out, junk), ignore_errors=True)

    declared = declared_metrics(a.trace)
    if sorted(metrics) != sorted(n for n, _ in declared):
        raise SystemExit(f"[perfbench] measured metrics {sorted(metrics)} differ from BENCHMARK.json")
    result = {"correct": correct, "attempted": h["attempted"], "failed": failed,
              "metrics": {n: {"value": metrics[n], "unit": u} for n, u in declared}}
    artifact = dict(result, workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
                    failures=failures, failed_ratio=stats.failed_ratio(failed, h["attempted"]),
                    tail_percentile=TAIL_PERCENTILE, samples=n_samples, context=context, harness=h)
    with open(os.path.join(out, "result.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    for f in failures:
        print(f"FAILED {f}")
    for k, v in result["metrics"].items():
        print(f"{k:32s} {v['value']:14.4f} {v['unit']}")
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
