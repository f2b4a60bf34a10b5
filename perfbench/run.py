#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload chain|lanes --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the harness from
source with sbt (once per source state, cached under .bench_build/), runs one
workload in a fresh JVM (Spark local[4]), checks every output, and prints as
its last line one JSON object:

    {"correct": ..., "attempted": N, "failed": N, "metrics": {name: {"value", "unit"}}}

With --trace 0 the metrics are the end-to-end set; with --trace 1 the run
also repeats the measurement with the recorders on and prints the per-layer
set instead, and writes the span tree to .bench_build/out/.

Workloads (the why of each is also in BENCHMARK.json):
  chain      gRPC chain source → finality → route/cast → ClickHouse HTTP;
             closed-loop catch-up, then an open-loop tip at a fixed rate.
  lanes      the lanes of perfbench/lanes_manifest.json (a 1-in-40 sample of
             the SparkEntry.queries inventory) at sf0.01 into the noop sink,
             each lane checked, then timed in S/4 rounds.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data", "sf0.01")
MANIFEST = os.path.join(HERE, "lanes_manifest.json")
WORKLOADS = ("chain", "lanes")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs the module opens spark-submit
# would add (the same list as the program's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/main"]
    for top in tops:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "").split()
    want = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos) and not any(o.startswith("-Dsbt.repository.config") for o in opts):
        want += [f"-Dsbt.repository.config={repos}", "-Dsbt.override.build.repos=true"]
    if not any(o.startswith("-Xmx") for o in opts):
        want.append("-Xmx2g")
    env["SBT_OPTS"] = " ".join(opts + want)
    return env


def run_bounded(cmd, timeout, **kw):
    """Run a child in its own process group; on timeout kill the group and
    wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compile program + harness with sbt; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=HERE, env=sbt_env(), stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = next((ln.strip() for ln in reversed(lines)
               if ".jar" in ln and not ln.startswith("[")), None)
    if rc != 0 or not cp:
        fail(f"build failed (rc={rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java(cp, work, main_class, args):
    """The JVM command line of one harness run."""
    return (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
            # a fixed heap with a fixed young generation and a fixed marking
            # threshold: the young regions are a constant share of peak RSS,
            # and the rest moves with what the program promotes and keeps
            # (old generation, metaspace, threads, direct buffers) rather
            # than with the collector's adaptive sizing
            ["-Xms2g", "-Xmx2g", "-Xmn384m", "-XX:-G1UseAdaptiveIHOP",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-cp", cp, main_class] + args)


# ---------------------------------------------------------------- metrics

def e2e_metrics(workload, rec):
    """The end-to-end set of an untraced run, plus notes on its samples."""
    r = rec["result"]
    setup_s = rec["setup"]["session_s"] + stats.median(rec["setup"]["reps_s"])
    if workload == "chain":
        throughput = r["catchup_msgs"] / r["catchup_wall_s"]
        lat = r["tip_latency_ms"]
    else:
        walls = list(r["lane_wall_s"].values())
        throughput = len(walls) / sum(walls)
        lat = [w * 1000.0 for w in walls]
    p, t = stats.tail(lat)
    values = {"setup_s": setup_s, "peak_rss_mb": rec["peak_rss_mb"],
              "throughput_per_s": throughput, "p50_ms": stats.median(lat),
              "tail_ms": t}
    notes = {"latency_samples": len(lat), "tail_percentile": p}
    if workload == "chain":
        notes["pacing_wait_ms_p50"] = stats.median(r["tip_pacing_ms"])
    return values, notes


def per_layer_metrics(workload, rec):
    """The per-layer set, from the traced repeat of the measurement."""
    tr = rec["traced"]
    trace = tr.get("trace", {})
    c = tr.get("counters", {})
    jobs, tasks, plans = trace.get("jobs", []), trace.get("tasks", []), trace.get("plans", [])
    progress = [p for p in tr.get("progress", []) if p["rows"] > 0]
    fetches = tr.get("fetches", [])
    m = {}

    # sources
    m["sources.fetch_calls"] = c.get("fetch_calls", 0)
    m["sources.fetch_busy_s"] = sum(f[3] - f[2] for f in fetches) / 1000.0
    m["sources.fetch_failed"] = c.get("fetch_failed", 0)
    m["sources.calls_opened"] = c.get("calls_opened", 0)
    m["sources.fetches_per_msg"] = (c["served"] / c["committed_msgs"]
                                    if c.get("served") else 0.0)
    late = [f[2] - f[1] for f in fetches if f[1] is not None]
    m["sources.backlog_p95_ms"] = stats.percentile(late, 95) if late else 0.0
    m["sources.pacing_wait_ms_p50"] = stats.median(tr.get("tip_pacing_ms", []))

    # streaming
    def dur(k):
        return [p["duration_ms"].get(k, 0) for p in progress]
    m["streaming.batches"] = len(progress)
    m["streaming.trigger_ms_p50"] = stats.median(dur("triggerExecution"))
    m["streaming.add_batch_ms_p50"] = stats.median(dur("addBatch"))
    m["streaming.planning_ms_p50"] = stats.median(dur("queryPlanning"))
    m["streaming.wal_commit_ms_p50"] = stats.median(dur("walCommit"))
    m["streaming.commit_offsets_ms_p50"] = stats.median(dur("commitOffsets"))
    m["streaming.fixed_ms_per_batch"] = stats.median(
        [t - a for t, a in zip(dur("triggerExecution"), dur("addBatch"))])

    # state
    ops = [p["state"][0] for p in progress if p["state"]]
    m["state.rows_total"] = ops[-1]["rows_total"] if ops else 0
    m["state.memory_bytes"] = ops[-1]["memory_bytes"] if ops else 0
    m["state.commit_ms_p50"] = stats.median([o["commit_ms"] for o in ops])
    m["state.update_ms_p50"] = stats.median([o["update_ms"] for o in ops])
    m["state.blocks_released"] = c.get("blocks_released", 0)
    m["state.undos"] = c.get("undos", 0)

    # pipeline / cast: the routing collect of each batch
    stats.label_jobs(jobs, plans)
    batch_jobs = [j for j in jobs if j.get("batch", "") != "" and not j.get("lane")]
    m["pipeline.route_job_ms_p50"] = stats.median(
        [j["end"] - j["start"] for j in batch_jobs if j["layer"] == "pipeline"])
    m["pipeline.rows_out"] = tr.get("parity", {}).get("rows", 0)

    # sink
    m["sink.write_batch_ms_p50"] = stats.median(
        [w["end"] - w["start"] for w in tr.get("write_batches", [])])
    m["sink.jobs_per_batch"] = len(batch_jobs) / len(progress) if progress else 0.0
    inserts = [j for j in batch_jobs if j["func"] == "foreachPartition"]
    m["sink.insert_job_ms_p50"] = stats.median([j["end"] - j["start"] for j in inserts])
    insert_stages = {s["id"] for j in inserts for s in j["stages"]}
    m["sink.task_cpu_s"] = sum(t["cpu_ns"] for t in tasks if t["stage"] in insert_stages) / 1e9
    m["sink.insert_requests"] = c.get("insert_requests", 0)
    m["sink.rows_landed"] = c.get("rows_landed", 0)
    m["sink.bytes_sent"] = c.get("bytes_sent", 0)

    # queries: Spark's own counters over every job of the measurement
    stages = {}
    for j in jobs:
        for s in j["stages"]:
            stages[s["id"]] = s["tasks"]
    m["queries.planning_s"] = sum(
        sum(v for k, v in p["phases"].items() if k in ("analysis", "optimization", "planning"))
        for p in plans) / 1000.0
    m["queries.jobs"] = len(jobs)
    m["queries.stages"] = len(stages)
    m["queries.tasks"] = len(tasks)
    m["queries.task_run_s"] = sum(t["run_ms"] for t in tasks) / 1000.0
    m["queries.task_cpu_s"] = sum(t["cpu_ns"] for t in tasks) / 1e9
    m["queries.shuffle_read_mb"] = sum(t["shuffle_read"] for t in tasks) / 1e6
    m["queries.shuffle_write_mb"] = sum(t["shuffle_write"] for t in tasks) / 1e6
    m["queries.spill_mb"] = sum(t["spill"] for t in tasks) / 1e6
    m["queries.single_task_stages"] = sum(1 for n in stages.values() if n == 1)

    # the span tree: self time per layer, time with no task running, and
    # how much of each batch's trigger wall its child spans account for
    spans = stats.build_tree(tr)
    stage_job = {s["id"]: j for j in jobs for s in j["stages"]}
    tops = [s for s in spans if s["parent"] is None]
    non_task = 0.0
    for top in tops:
        ivs = [(max(t["start"], top["start"]), min(t["end"], top["end"])) for t in tasks
               if t["stage"] in stage_job
               and str(stage_job[t["stage"]].get("lane") or stage_job[t["stage"]]["batch"]) == top["group"]]
        non_task += (top["end"] - top["start"] - stats.union_length(ivs)) / 1000.0
    m["queries.non_task_s"] = non_task
    layer_self = stats.layer_self_seconds(spans)
    for layer in ("sources", "state", "streaming", "pipeline", "sink", "queries"):
        m[f"self.{layer}_s"] = layer_self.get(layer, 0.0)
    cov = stats.batch_coverage(spans)
    m["trace.batch_coverage_min"] = min(cov) if cov else 0.0
    m["trace.batch_coverage_p50"] = stats.median(cov)
    m["trace.spans"] = len(spans)
    untraced = rec["result"]["measured_wall_s"]
    m["trace.overhead_s"] = tr["measured_wall_s"] - untraced
    m["trace.overhead_ratio"] = m["trace.overhead_s"] / untraced if untraced else 0.0

    # single-threaded reference (chain only)
    ref = rec.get("reference_local1")
    if ref:
        one = ref["catchup_msgs"] / ref["catchup_wall_s"]
        four = rec["result"]["catchup_msgs"] / rec["result"]["catchup_wall_s"]
    else:
        one = four = 0.0
    m["reference.local1_throughput_per_s"] = one
    m["reference.scaling_x"] = four / one if one else 0.0
    return m, spans


def metric_units(kind):
    """Name → unit of the `end_to_end` or `per_layer` metrics, from the
    benchmark's own definition."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def parity_reports(rec):
    reps = [rec["result"]["parity"]]
    if rec.get("traced"):
        reps.append(rec["traced"]["parity"])
    if rec.get("reference_local1"):
        reps.append(rec["reference_local1"]["parity"])
    return reps


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program source at {os.path.join(ROOT, need)}; run from a full checkout")
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        fail(f"lane data missing under {DATA}")

    cp = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_dir = os.path.join(BUILD, "out")
    os.makedirs(out_dir, exist_ok=True)
    raw = os.path.join(out_dir, f"{tag}.raw.json")
    if os.path.exists(raw):
        os.remove(raw)

    cmd = java(cp, work, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--data", DATA,
        "--manifest", MANIFEST, "--out", raw])
    t0 = time.time()
    with open(os.path.join(out_dir, f"{tag}.log"), "w") as log:
        rc = run_bounded(cmd, JVM_TIMEOUT_S, cwd=ROOT, stdout=log,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    wall = time.time() - t0
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.isfile(raw):
        fail(f"harness exited with {rc} after {wall:.1f} s; see {out_dir}/{tag}.log")
    with open(raw) as f:
        rec = json.load(f)

    reports = parity_reports(rec)
    attempted = sum(r["attempted"] for r in reports)
    failed = sum(r["failed"] for r in reports)
    for r in reports:
        for d in r.get("details", []):
            print(f"check failed: {d}")
    inputs = rec["result"].get("inputs", {})
    print("inputs: " + json.dumps(inputs, sort_keys=True))

    if a.trace:
        values, spans = per_layer_metrics(a.workload, rec)
        units = metric_units("per_layer")
        span_file = os.path.join(out_dir, f"{tag}.spans.json")
        with open(span_file, "w") as f:
            json.dump(spans, f)
        print(f"spans: {len(spans)} written to {os.path.relpath(span_file, ROOT)}")
    else:
        values, notes = e2e_metrics(a.workload, rec)
        units = metric_units("end_to_end")
        print("samples: " + json.dumps(notes, sort_keys=True))
    metrics = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    for k, v in metrics.items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
