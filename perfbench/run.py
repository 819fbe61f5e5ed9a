#!/usr/bin/env python3
"""End-to-end benchmark of the couchdb-lucene-on-Spark engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark driver from the checkout's sources
(cached under .bench_build/ by a fingerprint of the sources), runs the
workload in a fresh JVM, checks every answer, and prints one JSON object as
the last line of standard output. --trace 0 reports the end-to-end metrics;
--trace 1 reports the per-layer metrics and writes the full ledger (spans,
self times, jobs, tracing overhead) to .bench_build/ledger/. See README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import stats  # noqa: E402

# A fixed heap well below the 15 GB of the 4-core reference host.
JVM_FLAGS = ["-Xmx6g", "-Xms6g", "-XX:+UseParallelGC"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170
# a first run builds, then runs: both together stay under 900 s
BUILD_TIMEOUT_S = 600

# Workloads and metric (name, unit) lists come from BENCHMARK.json. Every
# workload reports every end-to-end metric; a per-layer metric of a layer
# the workload bypasses reads 0.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _BENCH = json.load(_fh)
WORKLOADS = tuple(w["name"] for w in _BENCH["workloads"])
END_TO_END = [(m["name"], m["unit"]) for m in _BENCH["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in _BENCH["per_layer"]]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- build ----------------------------------------------------------------

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "project")]
    # the root build.sbt names the Spark jar directory perfbench/build.sbt uses
    files = [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)
                      if f.endswith((".scala", ".java", ".properties", ".sbt"))]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(fp):
    """Compile engine + driver with sbt; reuse the classpath while the
    sources (fingerprint `fp`) are unchanged."""
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    # sbt's boot lock and JNA's scratch would otherwise be written under ~
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.boot.lock=false",
            f"-Djna.tmpdir={os.path.join(BUILD, 'jna')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "printClasspath"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    cp = [ln[len("PERFBENCH_CP="):] for ln in p.stdout.splitlines() if ln.startswith("PERFBENCH_CP=")]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp[-1]}, fh)
    return cp[-1]


# ---- run ------------------------------------------------------------------

def run_jvm(classpath, args, scratch):
    cmd = (["java"] + JVM_FLAGS
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={scratch}/tmp", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--scratch", scratch])
    os.makedirs(os.path.join(scratch, "tmp"), exist_ok=True)
    log = open(os.path.join(BUILD, "last-run.log"), "w")
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True,
                            stdin=subprocess.DEVNULL)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("benchmark JVM timed out")
    finally:
        log.close()
    raw = [ln[len("PERFBENCH_RAW "):] for ln in out.splitlines() if ln.startswith("PERFBENCH_RAW ")]
    if proc.returncode != 0 or not raw:
        with open(os.path.join(BUILD, "last-run.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark JVM exited with {proc.returncode}")
    return json.loads(raw[-1])


def window(raw):
    """Latency samples of the timed window: (ms, items, ok, traced)."""
    return [dict(ms=s[0], items=s[1], ok=s[2], traced=s[3]) for s in raw["samples"]]


def throughput(samples):
    """Items per second of operation time (one client)."""
    if not samples:
        return 0.0
    return sum(s["items"] for s in samples) / (sum(s["ms"] for s in samples) / 1000.0)


def end_to_end(raw):
    samples = window(raw)
    lat = [s["ms"] for s in samples]
    return {
        "p50_ms": stats.median(lat),
        "items_per_s": throughput(samples),
        "index_bytes_per_text_byte": raw["index_bytes"] / raw["text_bytes"],
        "setup_s": stats.median(raw["setup_reps_s"]),
    }


def per_layer(raw):
    """Per-layer metrics from the traced spans (every other operation of
    the window, set-up, and the probes a traced run adds), the Spark jobs
    attributed to them, and the in-process kernels. A layer the run did not
    exercise reads 0."""
    spans = [dict(id=s[0], parent=s[1], op=s[2], name=s[3], start=s[4], end=s[5])
             for s in raw["spans"]]
    jobs = [dict(id=j[0], span=j[1], start=j[2], end=j[3], stages=j[4], tasks=j[5],
                 shuffle=j[6], spill=j[7], busy=j[8]) for j in raw["jobs"]]
    by_id = {s["id"]: s for s in spans}
    jobs_of_op = {}
    for j in jobs:
        s = by_id.get(j["span"])
        if s is not None:
            jobs_of_op.setdefault(s["op"], []).append(j)

    def dur_ms(s):
        return (s["end"] - s["start"]) / 1000.0

    def ops(name):
        """Root spans of timed operations (warm-up ops are named apart)."""
        return [s for s in spans if s["parent"] == 0 and s["name"] == name]

    def span_ms(name, op_name=None):
        """Median duration of the named spans, under `op_name` operations
        when given (else all of them, set-up included)."""
        ids = {o["op"] for o in ops(op_name)} if op_name else None
        xs = [dur_ms(s) for s in spans if s["name"] == name and (ids is None or s["op"] in ids)]
        return stats.median(xs) if xs else 0.0

    def per_op(op_name, f):
        os_ = ops(op_name)
        return stats.median([f(jobs_of_op.get(o["op"], []), o) for o in os_]) if os_ else 0.0

    def njobs(js, o):
        return len(js)

    def ntasks(js, o):
        return sum(j["tasks"] for j in js)

    nproc = raw["env"]["nproc"]
    m = {name: 0.0 for name, _ in PER_LAYER}
    m.update({k: v for k, v in raw["layer"].items() if k in m})
    if ops("build"):
        m["build.assign_ms"] = span_ms("build.assign", "build")
        m["build.segments_ms"] = span_ms("build.segments", "build")
        m["build.jobs"] = per_op("build", njobs)
        m["build.tasks"] = per_op("build", ntasks)
        m["build.shuffle_write_bytes"] = per_op("build", lambda js, o: sum(j["shuffle"] for j in js))
        m["build.spill_bytes"] = per_op("build", lambda js, o: sum(j["spill"] for j in js))
        m["build.task_busy_ms"] = per_op("build", lambda js, o: sum(j["busy"] for j in js))
        m["build.core_util"] = per_op(
            "build", lambda js, o: sum(j["busy"] for j in js) / (dur_ms(o) * nproc))
    if ops("query"):
        m["serve.open_ms"] = span_ms("serve.open")
        m["search.frame_ms"] = span_ms("search.frame", "query")
        m["search.exec_ms"] = span_ms("search.exec", "query")
        m["search.jobs_per_query"] = per_op("query", njobs)
        m["search.tasks_per_query"] = per_op("query", ntasks)
    if ops("dfquery"):
        m["dfq.index_ms"] = span_ms("dfq.index")
        m["dfq.plan_ms"] = span_ms("dfq.plan", "dfquery")
        m["dfq.exec_ms"] = span_ms("dfq.exec", "dfquery")
        m["dfq.jobs_per_query"] = per_op("dfquery", njobs)
        m["dfq.tasks_per_query"] = per_op("dfquery", ntasks)
    if ops("ingest"):
        for step in ("append", "delete", "open_merged", "fresh_query"):
            m[f"ingest.{step}_ms"] = span_ms(f"ingest.{step}", "ingest")
        m["ingest.jobs_per_batch"] = per_op("ingest", njobs)
        m["ingest.tasks_per_batch"] = per_op("ingest", ntasks)
    m["jvm.gc_ms"] = raw["window_host"]["gc_ms"]
    m["jvm.jit_ms"] = raw["run_host"]["jit_ms"]
    m["host.steal_frac"] = raw["window_host"]["steal_frac"]
    m["spark.codegen_ms"] = raw["codegen_ms"]
    m["trace.overhead_frac"] = overhead(raw)["p50_frac"]

    # self time per span name, summed over the run, with Spark jobs as children
    selfs = stats.self_times(spans, jobs)
    layers = {}
    for s in spans:
        e = layers.setdefault(s["name"], {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
        e["count"] += 1
        e["total_ms"] += dur_ms(s)
        e["self_ms"] += selfs[s["id"]] / 1000.0
    e = layers.setdefault("spark.job", {"count": 0, "total_ms": 0.0, "self_ms": 0.0})
    for j in jobs:
        e["count"] += 1
        e["total_ms"] += (j["end"] - j["start"]) / 1000.0
        e["self_ms"] += (j["end"] - j["start"]) / 1000.0
    return m, layers


def overhead(raw):
    """Tracing overhead: traced against untraced operations, which
    alternate through the window."""
    samples = window(raw)
    off = [s for s in samples if not s["traced"]]
    on = [s for s in samples if s["traced"]]
    if not off or not on:
        return {"p50_frac": 0.0}
    p_off = stats.median([s["ms"] for s in off])
    p_on = stats.median([s["ms"] for s in on])
    return {"p50_frac": p_on / p_off - 1.0, "p50_ms_untraced": p_off, "p50_ms_traced": p_on,
            "samples_untraced": len(off), "samples_traced": len(on)}


def commit():
    """The checked-out commit; "unknown" when the checkout is not a git work
    tree of its own (the source fingerprint then identifies the code)."""
    def git(*a):
        return subprocess.run(["git", *a], cwd=ROOT, capture_output=True, text=True,
                              timeout=10).stdout.strip()
    try:
        if os.path.realpath(git("rev-parse", "--show-toplevel") or "/") != os.path.realpath(ROOT):
            return "unknown"
        return git("rev-parse", "HEAD") or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to the benchmark")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    fp = fingerprint()
    classpath = build(fp)
    scratch = os.path.join(BUILD, "scratch")
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        raw = run_jvm(classpath, args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    samples = window(raw)
    env = dict(raw["env"], commit=commit(), source_fingerprint=fp, jvm_flags=JVM_FLAGS)
    print("env " + json.dumps(env, sort_keys=True))
    print("host window " + json.dumps(raw["window_host"]) + " run " + json.dumps(raw["run_host"]))
    lat = [s["ms"] for s in samples]
    p90 = stats.percentile(lat, 90) if lat else None
    print(f"samples {len(lat)} window_s {raw['window_s']:.3f} "
          f"p90_ms {p90 if p90 is not None else 'n/a (fewer than 10 samples beyond)'} "
          f"setup_reps_s {raw['setup_reps_s']} warmup_s {raw.get('warmup_s', 0):.3f} "
          f"cached_mb {raw['layer'].get('serve.cached_mb', raw['layer'].get('dfq.cached_mb', 0)):.1f}")

    print("latencies_ms " + " ".join(f"{x:.1f}" for x in lat[:400]))
    if args.trace:
        metrics, layers = per_layer(raw)
        units = dict(PER_LAYER)
        ledger = {"workload": args.workload, "seed": args.seed, "env": env, "metrics": metrics,
                  "self_times": layers, "overhead": overhead(raw),
                  "spans": raw["spans"], "jobs": raw["jobs"]}
        os.makedirs(os.path.join(BUILD, "ledger"), exist_ok=True)
        path = os.path.join(BUILD, "ledger", f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(ledger, fh)
        for name, e in sorted(layers.items(), key=lambda kv: -kv[1]["self_ms"]):
            print(f"self {name:28s} n={e['count']:5d} total_ms={e['total_ms']:12.1f} "
                  f"self_ms={e['self_ms']:12.1f}")
        print("overhead " + json.dumps(overhead(raw)))
        print(f"ledger {os.path.relpath(path, ROOT)}")
    else:
        metrics = end_to_end(raw)
        units = dict(END_TO_END)
    for name, v in metrics.items():
        print(f"metric {name} {v} {units[name]}")
    correct = raw["failed"] == 0 and raw["attempted"] > 0 and len(samples) > 0
    print(json.dumps({
        "correct": correct,
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {name: {"value": metrics[name], "unit": unit}
                    for name, unit in (PER_LAYER if args.trace else END_TO_END)},
    }))


if __name__ == "__main__":
    main()
