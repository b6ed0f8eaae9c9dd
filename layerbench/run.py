#!/usr/bin/env python3
"""Benchmark of the g1etlspark program: end-to-end and per-layer metrics.

Usage (from the repository root):

    python3 layerbench/run.py --workload registry_mix --seed 1 \\
        --seconds 15 --trace 0

On the first run in a checkout this builds the program and the harness
with sbt (offline) and generates the input tables; later runs reuse both
from `.bench_build/`. Each run starts one JVM (`layerbench.Main`) that
sets up one Spark session, drives one workload through the
program's public entry points for `--seconds`, checks the outputs after
the timed window and writes a raw record. This script turns the record
into metrics, prints each with its unit and the output-check verdict,
and prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the JVM also registers Spark listeners and the metrics are the per-layer
ones. `--write-pins` stores this run's output digests as the expected
values in `pins.json`. See README.md beside this file.
"""
import argparse
import hashlib
import json
import math
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PINS = os.path.join(HERE, "pins.json")

WORKLOADS = ("registry_mix", "etl_paths")
DATA_SF = 0.01
DATA_SEED = 42
JVM_HEAP = "3g"
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 840
TAIL_LADDER = (50, 75, 90, 95, 99, 99.9)

END_TO_END = {
    "setup_s": "s",
    "retained_heap_mb": "MB",
    "cold_s": "s",
    "warm_p50_ms": "ms",
    "warm_tail_ms": "ms",
}

PER_LAYER = {
    "setup.jvm_s": "s", "setup.session_s": "s", "setup.warmup_s": "s",
    "setup.inputs_s": "s",
    "queries.build_s": "s", "queries.eager_jobs": "count",
    "queries.self_s": "s",
    "shared_stage.builds": "count", "shared_stage.build_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "catalyst.plan_nodes": "count",
    "catalyst.executions": "count",
    "exec.job_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_cpu_s": "s",
    "exec.core_busy_frac": "fraction", "exec.task_skew": "ratio",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB", "exec.gc_s": "s", "exec.self_s": "s",
    "tables.input_mb": "MB", "tables.input_rows": "count",
    "import_job.files_s": "s", "import_job.store_s": "s",
    "import_job.payload_execs": "count", "import_job.driver_s": "s",
    "sinks.bytes_written_mb": "MB",
    "sinks.store_bytes_per_payload_byte": "ratio",
    "sinks.store_batches": "count", "sinks.files_written": "count",
    "sinks.self_s": "s",
    "service.request_ms": "ms",
    "service.spark_ms": "ms", "service.non_spark_ms": "ms",
    "service.jobs_per_req": "count", "service.health_p50_ms": "ms",
    "service.health_tail_ms": "ms", "service.health_over_limit_frac":
        "fraction", "service.health_wait_ms": "ms",
    "stream.drain_rows_per_s": "1/s",
    "stream.add_batch_ms": "ms", "stream.query_planning_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.trigger_ms": "ms",
    "stream.state_rows": "count", "stream.state_mb": "MB",
    "stream.backlog_rows": "count", "stream.generator_late_ms": "ms",
    "stream.lag_p50_ms": "ms", "stream.lag_tail_ms": "ms",
    "stream.timed_batches": "count",
    "stream.self_s": "s",
    "trace.attributed_frac": "fraction", "trace.spans": "count",
}

# Which layer a span's self time belongs to, by span name.
SPAN_LAYER = {
    "query": "queries", "queries.build": "queries", "eager_job": "queries",
    "shared_stage_job": "shared_stage",
    "exec": "exec", "job": "exec",
    "catalyst.analysis": "catalyst", "catalyst.optimization": "catalyst",
    "catalyst.planning": "catalyst",
    "import": "import_job", "import_job.files": "import_job",
    "import_job.store": "import_job",
    "service.start": "service", "service.request": "service",
    "service.health": "service",
    "stream.snapshot": "stream", "stream.open_loop": "stream",
    "stream.drain": "stream", "stream.trigger": "stream",
    "stream.batch": "stream", "sinks.write": "sinks",
}
LAYERS = ("queries", "shared_stage", "catalyst", "exec", "import_job",
          "sinks", "service", "stream")
# Spans measured on a thread other than the one doing the work they would
# contain; nothing is attributed to them by time window.
NOT_PARENTS = {"service.health"}
SLACK_MS = 2.0


def log(msg):
    print(msg, file=sys.stderr, flush=True)


# ---------------------------------------------------------------- statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile of TAIL_LADDER with at least ten samples
    beyond it, by nearest rank: (percentile, value, sample count). With
    fewer than 20 samples no percentile qualifies and the maximum is
    returned as percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return (100, 0.0, 0)
    best = (100, s[-1], n)
    for p in TAIL_LADDER:
        k = max(1, math.ceil(p / 100.0 * n))
        if n - k >= 10:
            best = (p, s[k - 1], n)
    return best


def union_ms(intervals):
    """Total length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Each span's duration minus the part of it its children cover.
    `spans` maps id -> dict(start, end, parent)."""
    kids = {}
    for sid, s in spans.items():
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for sid, s in spans.items():
        covered = union_ms([(max(c["start"], s["start"]),
                             min(c["end"], s["end"]))
                            for c in kids.get(sid, [])
                            if c["end"] > s["start"] and c["start"] < s["end"]])
        out[sid] = max(0.0, (s["end"] - s["start"]) - covered)
    return out


# ---------------------------------------------------------------- checks

def verdict(rec, pins):
    """(attempted, failed, wrong check names). A timed operation fails
    when it raised, returned the wrong status or its output digest
    differs from the pin; each output check made after the window counts
    as one more attempt; each stream row lost, duplicated or
    misclassified counts as a failed row."""
    want_pins = pins.get(rec["workload"], {})
    attempted, failed, wrong = 0, 0, []

    def matches(check):
        want = check.get("want")
        if want is None:
            want = want_pins.get(check["name"])
        return want is not None and check["got"] == want

    for op in rec.get("ops", []):
        attempted += 1
        check = op.get("check")
        bad = not op.get("ok", False)
        if check is not None and not matches(check):
            bad = True
            wrong.append(check["name"])
        failed += bad
    for check in rec.get("checks", []):
        attempted += 1
        if not matches(check):
            failed += 1
            wrong.append(check["name"])
    stream = rec.get("stream")
    if stream:
        attempted += stream["rows"]
        failed += stream["failed_rows"]
    return attempted, failed, sorted(set(wrong))


def collect_pins(rec):
    """Expected values for every pinned check of a run: each op check and
    each check without an inline `want`."""
    got = {}
    checks = [op["check"] for op in rec.get("ops", []) if op.get("check")]
    checks += [c for c in rec.get("checks", []) if c.get("want") is None]
    for c in checks:
        if got.setdefault(c["name"], c["got"]) != c["got"]:
            raise SystemExit(f"check {c['name']} varies within one run")
    return got


# ---------------------------------------------------------------- metrics

def stream_batch_lags(batches, timed_from):
    """One lag sample per committed micro-batch: the end of its commit
    minus the due time of its oldest row, the longest any of its rows
    waited. Rows of one batch share its commit, so they are not separate
    samples. Batches holding a row due before `timed_from` are left
    out."""
    return [b["commit"] - b["oldest_due"]
            for b in sorted(batches, key=lambda b: b["id"])
            if b["loop_rows"] > 0 and b["oldest_due"] >= timed_from]


def pass_ms(rec, phase):
    """Wall time of each pass of `phase`, by pass number: a registry pass
    is the sum of its queries' build and execute times, an import pass
    is one full batch import (files and store)."""
    kind = "query" if rec["workload"] == "registry_mix" else "import"
    passes = {}
    for o in rec["ops"]:
        if o["kind"] == kind and o["phase"] == phase:
            passes[o["pass"]] = passes.get(o["pass"], 0.0) + (
                o["end"] - o["start"])
    return [passes[k] for k in sorted(passes)]


def warm_latencies(rec):
    """The latency samples of the warm, steady-state operations: warm
    passes over the query list (registry_mix) or warm batch imports
    (etl_paths)."""
    return pass_ms(rec, "warm")


def cold_s(rec):
    return sum(pass_ms(rec, "cold")) / 1e3


def end_to_end(rec):
    lat = warm_latencies(rec)
    p, t, n = tail(lat)
    setup = rec["setup"]
    return {
        "setup_s": rec["jvm_s"] + setup["session_s"] + setup["warmup_s"],
        "retained_heap_mb": rec["retained_heap_mb"],
        "cold_s": cold_s(rec),
        "warm_p50_ms": median(lat),
        "warm_tail_ms": t,
    }, {"warm_samples": n, "warm_tail_percentile": p}


def build_spans(rec):
    """Harness spans plus spans derived from listener events: each Spark
    job, Catalyst phase and stream trigger becomes a span whose parent is
    the innermost span covering it in time (one client at a time, so a
    request's jobs are found by window, not by thread)."""
    spans = {s["id"]: dict(s) for s in rec.get("spans", [])}
    next_id = max(spans, default=0) + 1
    derived = []
    for j in rec.get("jobs", []):
        derived.append(("job", j["start"], j["end"], j))
    for e in rec.get("executions", []):
        for phase, t in e["phases"].items():
            if phase in ("analysis", "optimization", "planning"):
                derived.append(("catalyst." + phase, t["start"], t["end"], e))
    for p in rec.get("progress", []):
        d = p["duration_ms"].get("triggerExecution", 0)
        derived.append(("stream.trigger", p["start"], p["start"] + d, p))
    for name, s, e, src in derived:
        spans[next_id] = {"id": next_id, "name": name, "start": s,
                          "end": max(s, e), "parent": 0, "op": 0,
                          "derived": True, "src": src}
        next_id += 1

    # Parent of a derived span, and of a harness root span a derived
    # span contains (a stream batch inside its trigger): the innermost
    # covering span.
    order = sorted(spans.values(), key=lambda s: s["end"] - s["start"])
    for s in spans.values():
        if not (s.get("derived") or s["parent"] == 0):
            continue
        for p in order:
            if (p["id"] != s["id"] and p["name"] not in NOT_PARENTS
                    and (p["end"] - p["start"]) > (s["end"] - s["start"])
                    and p["start"] - SLACK_MS <= s["start"]
                    and s["end"] <= p["end"] + SLACK_MS
                    and (s.get("derived") or p.get("derived"))):
                s["parent"] = p["id"]
                break
    for s in spans.values():
        if s["name"] == "job":
            parent = spans.get(s["parent"], {}).get("name")
            if s["src"]["shared_stage"]:
                s["name"] = "shared_stage_job"
            elif parent == "queries.build":
                s["name"] = "eager_job"
    return spans


def covered_by(spans, outer, names):
    """Spans named in `names` that start inside span `outer`."""
    return [s for s in spans.values() if s["name"] in names
            and outer["start"] - SLACK_MS <= s["start"] <= outer["end"]]


def per_layer(rec, inputs_s):
    m = {k: 0.0 for k in PER_LAYER}
    m["setup.jvm_s"] = rec["jvm_s"]
    m["setup.session_s"] = rec["setup"]["session_s"]
    m["setup.warmup_s"] = rec["setup"]["warmup_s"]
    m["setup.inputs_s"] = inputs_s

    w0, w1 = rec["window"]
    spans = build_spans(rec)
    in_window = {k: s for k, s in spans.items()
                 if s["start"] >= w0 - SLACK_MS and s["end"] <= w1 + SLACK_MS}
    selfs = self_times(in_window)
    layer_self = {layer: 0.0 for layer in LAYERS}
    for sid, t in selfs.items():
        layer = SPAN_LAYER.get(in_window[sid]["name"])
        if layer:
            layer_self[layer] += t / 1e3
    window_ms = max(1e-9, w1 - w0)
    m["trace.attributed_frac"] = union_ms(
        [(s["start"], s["end"]) for s in in_window.values()
         if s["name"] in SPAN_LAYER]) / window_ms
    m["trace.spans"] = len(in_window)

    ops = [o for o in rec["ops"] if o["kind"] in ("query", "import", "request")]
    n_ops = max(1, len(ops) + len(rec.get("progress", [])))
    for layer in ("queries", "exec", "sinks", "stream"):
        m[layer + ".self_s"] = layer_self[layer] / n_ops

    jobs = [s for s in in_window.values()
            if s["name"] in ("job", "eager_job", "shared_stage_job")]
    stages = [s for s in rec.get("stages", [])
              if s["start"] is not None and w0 <= s["start"] <= w1]
    execs = [s for s in in_window.values() if s["name"] == "catalyst.planning"]

    # Analytics path: per query execution.
    queries = [o for o in rec["ops"] if o["kind"] == "query"]
    if queries:
        nq = len(queries)
        m["queries.build_s"] = sum(o["build_ms"] for o in queries) / 1e3 / nq
        m["queries.eager_jobs"] = sum(
            1 for s in jobs if s["name"] != "job"
            and spans.get(s["parent"], {}).get("name") == "queries.build") / nq
        m["shared_stage.builds"] = sum(
            o["shared_stage_builds"] for o in queries) / nq
        m["shared_stage.build_s"] = sum(
            s["end"] - s["start"] for s in jobs
            if s["name"] == "shared_stage_job") / 1e3 / nq

    # Catalyst, execution and scans: per operation.
    for phase in ("analysis", "optimization", "planning"):
        m["catalyst.%s_s" % phase] = sum(
            s["end"] - s["start"] for s in in_window.values()
            if s["name"] == "catalyst." + phase) / 1e3 / n_ops
    m["catalyst.executions"] = len(execs) / n_ops
    m["catalyst.plan_nodes"] = median([s["src"]["plan_nodes"] for s in execs])
    m["exec.job_s"] = union_ms([(s["start"], s["end"]) for s in jobs]) / 1e3 / n_ops
    m["exec.jobs"] = len(jobs) / n_ops
    m["exec.stages"] = len(stages) / n_ops
    m["exec.tasks"] = sum(s["tasks"] for s in stages) / n_ops
    m["exec.task_cpu_s"] = sum(s["cpu_ms"] for s in stages) / 1e3 / n_ops
    m["exec.core_busy_frac"] = (sum(s["run_ms"] for s in stages)
                                / (window_ms * rec["cpus"]))
    m["exec.task_skew"] = median([s["max_task_ms"] / (s["run_ms"] / s["tasks"])
                                  for s in stages
                                  if s["tasks"] >= 2 and s["run_ms"] > 0])
    mb = 1024.0 * 1024.0
    m["exec.shuffle_write_mb"] = sum(
        s["shuffle_write_bytes"] for s in stages) / mb / n_ops
    m["exec.shuffle_read_mb"] = sum(
        s["shuffle_read_bytes"] for s in stages) / mb / n_ops
    m["exec.spill_mb"] = sum(s["spill_bytes"] for s in stages) / mb / n_ops
    m["exec.gc_s"] = sum(s["gc_ms"] for s in stages) / 1e3 / n_ops
    m["tables.input_mb"] = sum(s["input_bytes"] for s in stages) / mb / n_ops
    m["tables.input_rows"] = sum(s["input_rows"] for s in stages) / n_ops
    m["sinks.bytes_written_mb"] = sum(s["output_bytes"] for s in stages) / mb

    # Batch import: medians over the warm imports.
    warm = [o for o in rec["ops"] if o["kind"] == "import"
            and o["phase"] == "warm"]
    if warm:
        roots = {s["op"]: s for s in spans.values() if s["name"] == "import"}
        execs, driver = [], []
        for op in warm:
            root = roots[op["op"]]
            execs.append(len(covered_by(spans, root, {"catalyst.planning"})))
            spark_ms = union_ms([(s["start"], s["end"]) for s in
                                 covered_by(spans, root, {"job"})])
            driver.append((op["end"] - op["start"] - spark_ms) / 1e3)
        m["import_job.files_s"] = median([o["files_ms"] for o in warm]) / 1e3
        m["import_job.store_s"] = median([o["store_ms"] for o in warm]) / 1e3
        m["import_job.payload_execs"] = median(execs)
        m["import_job.driver_s"] = median(driver)
        imp = rec["import"]
        m["sinks.files_written"] = imp["files"]
        m["sinks.store_bytes_per_payload_byte"] = (
            imp["store_disk_bytes"] / max(1, imp["file_bytes"]))

    # Service.
    reqs = [s for s in spans.values() if s["name"] == "service.request"]
    if reqs:
        spark_ms, jobs_n = [], []
        for r in reqs:
            js = covered_by(spans, r, {"job"})
            jobs_n.append(len(js))
            spark_ms.append(union_ms([(s["start"], s["end"]) for s in js]))
        lat = [r["end"] - r["start"] for r in reqs]
        m["service.request_ms"] = median(lat)
        m["service.spark_ms"] = median(spark_ms)
        m["service.non_spark_ms"] = median(
            [a - b for a, b in zip(lat, spark_ms)])
        m["service.jobs_per_req"] = median(jobs_n)
        m["sinks.store_batches"] = rec["service"]["store_batches"]
    health = [o for o in rec["ops"] if o["kind"] == "health"]
    if health:
        hl = [o["latency_ms"] for o in health]
        m["service.health_p50_ms"] = median(hl)
        m["service.health_tail_ms"] = tail(hl)[1]
        m["service.health_over_limit_frac"] = (
            sum(o["over_limit"] for o in health) / len(health))
        m["service.health_wait_ms"] = median([x - min(hl) for x in hl])

    # Stream.
    st = rec.get("stream")
    if st:
        m["stream.drain_rows_per_s"] = (
            st["drain_rows"] / max(1e-9, st["drain_ms"] / 1e3))
        m["stream.generator_late_ms"] = max(st["generator_late_ms"] or [0.0])
        lags = stream_batch_lags(st["batches"], st["timed_from"])
        m["stream.lag_p50_ms"] = median(lags)
        m["stream.lag_tail_ms"] = tail(lags)[1]
        m["stream.timed_batches"] = len(lags)
    prog = [p for p in rec.get("progress", []) if p["rows"] > 0]
    if prog:
        for key, name in (("addBatch", "add_batch_ms"),
                          ("queryPlanning", "query_planning_ms"),
                          ("walCommit", "wal_commit_ms"),
                          ("triggerExecution", "trigger_ms")):
            m["stream." + name] = median(
                [p["duration_ms"].get(key, 0) for p in prog])
        m["stream.state_rows"] = prog[-1]["state_rows"]
        m["stream.state_mb"] = prog[-1]["state_bytes"] / mb
        drain = min((s["start"] for s in spans.values()
                     if s["name"] == "stream.drain"), default=w1)
        m["stream.backlog_rows"] = max(
            [p["rows"] for p in prog if p["start"] < drain] or [0])
    return m


# ---------------------------------------------------------------- build/run

def source_digest():
    """Digest of every input of the build: program and harness sources
    and build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties", ".java"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def tmp_dir():
    d = os.path.join(BUILD, "tmp")
    os.makedirs(d, exist_ok=True)
    return d


def ensure_built(logf):
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp = os.path.join(BUILD, "build.stamp")
    digest = source_digest()
    if os.path.exists(launch) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == digest:
                return launch, digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    env["SBT_OPTS"] += " -XX:-UsePerfData -Djava.io.tmpdir=" + tmp_dir()
    log("building the program and the harness with sbt ...")
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                   cwd=HERE, stdout=logf, stderr=logf, env=env,
                   timeout=BUILD_LIMIT_S, check=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return launch, digest


def ensure_data():
    """Generate the input tables once per checkout; returns (dir, seconds
    the generation took)."""
    sys.path.insert(0, HERE)
    import gen_data
    d = os.path.join(BUILD, "data", "sf%s-seed%d" % (DATA_SF, DATA_SEED))
    done = os.path.join(d, "_generated_s")
    if not os.path.exists(done):
        t0 = time.monotonic()
        gen_data.generate(d, DATA_SF, DATA_SEED)
        with open(done, "w") as fh:
            fh.write(repr(time.monotonic() - t0))
    with open(done) as fh:
        return d, float(fh.read())


def run_jvm(launch, args, data, out, logf, limit_s):
    with open(launch) as fh:
        lines = fh.read().splitlines()
    opts = [o for o in lines[1:] if o and not o.startswith(("-Xms", "-Xmx"))]
    work = os.path.join(BUILD, "work", args.workload)
    os.makedirs(work, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    # Spark's block manager and the JVM's temporary files stay in the
    # checkout; -UsePerfData keeps the JVM out of the system temp dir.
    tmp = tmp_dir()
    cmd = (["java"] + opts + ["-Xms" + JVM_HEAP, "-Xmx" + JVM_HEAP,
                               "-XX:-UsePerfData",
                               "-Djava.io.tmpdir=" + tmp,
                               "-Dspark.local.dir=" + tmp,
                               "-cp", lines[0],
            "layerbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), str(cpus), data, work, out])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=logf)
    try:
        rc = proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("the JVM run exceeded %d s" % limit_s)
    if rc != 0 or not os.path.exists(out):
        raise SystemExit("the JVM run failed (exit %d); see %s" % (rc, logf.name))


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main(argv=None):
    t_start = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--write-pins", action="store_true")
    args = ap.parse_args(argv)

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log("the program's sources are not beside this benchmark: %s" % ROOT)
        return 2
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    out = os.path.join(BUILD, "runs", tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    with open(os.path.join(BUILD, "runs", tag + ".log"), "w") as logf:
        launch, digest = ensure_built(logf)
        data, inputs_s = ensure_data()
        limit = RUN_LIMIT_S - (time.monotonic() - t_start)
        if limit < 60:  # the build ran in this invocation
            limit = RUN_LIMIT_S
        run_jvm(launch, args, data, out, logf, limit)
    with open(out) as fh:
        rec = json.load(fh)

    pins = {}
    if os.path.exists(PINS):
        with open(PINS) as fh:
            pins = json.load(fh)
    if args.write_pins:
        pins[args.workload] = collect_pins(rec)
        with open(PINS, "w") as fh:
            json.dump(pins, fh, indent=1, sort_keys=True)
            fh.write("\n")
    attempted, failed, wrong = verdict(rec, pins)

    e2e, e2e_info = end_to_end(rec)
    host = dict(rec["host"], commit=git_commit(), source_digest=digest)
    print("workload %s seed %d seconds %g trace %d" % (
        args.workload, args.seed, args.seconds, args.trace))
    print("host " + json.dumps(host, sort_keys=True))
    print("sql_conf " + json.dumps(rec["sql_conf"], sort_keys=True))
    summary = os.path.join(BUILD, "runs", args.workload + "-e2e.json")
    if args.trace:
        metrics = {k: (v, PER_LAYER[k])
                   for k, v in per_layer(rec, inputs_s).items()}
        if os.path.exists(summary):
            with open(summary) as fh:
                base = json.load(fh)
            for k, v in e2e.items():
                if base.get(k):
                    print("trace overhead %s %+.1f%% (untraced %.4g, traced %.4g)"
                          % (k, 100.0 * (v / base[k] - 1.0), base[k], v))
        else:
            print("trace overhead: no untraced run of this workload yet")
    else:
        metrics = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
        with open(summary, "w") as fh:
            json.dump(e2e, fh)
        print("samples " + json.dumps(e2e_info, sort_keys=True))
    for k, (v, unit) in metrics.items():
        print("metric %-36s %14.6g %s" % (k, v, unit))
    print("check %s: %d attempted, %d failed%s" % (
        "PASS" if failed == 0 else "FAIL", attempted, failed,
        (" (" + ", ".join(wrong) + ")") if wrong else ""))
    print("record %s" % out)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
