#!/usr/bin/env python3
"""Benchmark runner: builds the engine with the benchmark, generates the
seeded inputs, runs one workload in one JVM, checks its outputs and
prints one JSON result as the last line of standard output.

    python3 perfbench/run.py --workload etl_cycle --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. With ``--trace 0`` the result holds
the end-to-end metrics, with ``--trace 1`` the per-layer metrics; the
traced run also leaves its spans under ``perfbench/out/``. See
``perfbench/README.md``.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import checks
import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LAUNCH = os.path.join(BENCH, "target", "launch.json")

WORKLOADS = ("etl_cycle", "ingest_stream")
# Named end-to-end figures each workload reports, with their units. A
# tail is absent when the run has fewer than 21 samples of it.
NAMED = {
    "etl_cycle": {"cycle_p50_s": "s", "cycle_tail_s": "s"},
    "ingest_stream": {"ingest_latency_p50_ms": "ms",
                      "ingest_latency_tail_ms": "ms", "ingest_eps": "1/s"},
}
COMMON = {"setup_s": "s", "heap_live_mb": "MB", "error_rate": "ratio"}

ETL_EVENTS = 5_000
# ingest_stream: events in the first warm-up batch (the second is a
# backlog's worth), phase-A offered rate (events/s, for --seconds),
# trigger interval, phase-B backlog and how many times it is drained
STREAM = {"warmup": 500, "rate": 50, "trigger_ms": 500, "backlog": 5000,
          "drains": 2}
JVM_TIMEOUT_S = 170


def end_to_end(workload, v):
    """The BENCHMARK.json end-to-end metrics, which every workload reports,
    from a workload's named figures: the median of its unit of work (an
    O8 cycle, an event's latency) and its throughput
    (input events per second of a median cycle, backlog events drained
    per second)."""
    if workload == "etl_cycle":
        op = (v["cycle_p50_s"] * 1e3, v["etl_events"] / v["cycle_p50_s"])
    else:
        op = (v["ingest_latency_p50_ms"], v["ingest_eps"])
    return {"setup_s": v["setup_s"], "heap_live_mb": v["heap_live_mb"],
            "op_p50_ms": op[0], "throughput_per_s": op[1]}


def declared(kind):
    """(name, unit) of the BENCHMARK.json metrics of one kind."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)[kind]]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build -----------------------------------------------------------------

def _newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile the engine and the benchmark once per checkout."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) \
            or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail(f"no engine sources next to {BENCH}; run from a full checkout")
    if os.path.exists(LAUNCH) and os.path.getmtime(LAUNCH) > _newest_source_mtime():
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        opts += (" -Dsbt.override.build.repos=true"
                 f" -Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " " + opts
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeLauncher"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=850)
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")


# ---- run -------------------------------------------------------------------

def jvm(launch, work, args, timeout):
    """Run perfbench.Main with ``key=value`` args; return its result."""
    env = dict(os.environ)
    # Spark scratch stays inside the checkout
    env["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    cmd = (["java"] + launch["java_options"] +
           [f"-Djava.io.tmpdir={work}/tmp",
            "-cp", os.pathsep.join(launch["classpath"]), "perfbench.Main"] +
           [f"{k}={v}" for k, v in args.items()] +
           [f"launch_ms={int(time.time() * 1000)}"])
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.DEVNULL,
                         stderr=subprocess.PIPE, text=True)
    try:
        _, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"JVM timed out after {timeout}s")
    if p.returncode != 0:
        sys.stderr.write(err[-4000:])
        fail(f"JVM exited with {p.returncode}")
    with open(args["result"]) as f:
        return json.load(f)


def environment(result):
    src = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for path in sorted(glob.glob(os.path.join(top, "**", "*.scala"), recursive=True)):
            with open(path, "rb") as f:
                src.update(f.read())
    try:
        commit = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                capture_output=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = ""
    knobs = {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")}
    env = dict(result.get("env", {}))
    env.update({"git_commit": commit or "unknown", "source_sha256": src.hexdigest(),
                "spark_graft_env": knobs, "comparable": not knobs,
                "spark_graft_local_dir": "set by the benchmark to its work dir"})
    return env


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    build()
    with open(LAUNCH) as f:
        launch = json.load(f)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(BENCH, "work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(BENCH, "out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    try:
        # inputs (not part of setup_s)
        expected = None
        if a.workload == "etl_cycle":
            inp = os.path.join(work, "input")
            os.makedirs(inp)
            table = gen.write_batch_events(a.seed, ETL_EVENTS,
                                           os.path.join(inp, "events.parquet"))
            expected = gen.expected_batch_counts(table)
        else:
            inp = os.path.join(work, "input")
            os.makedirs(inp)
            drains = STREAM["drains"] * (2 if a.trace else 1)
            n = (STREAM["warmup"] + STREAM["backlog"] + STREAM["rate"] * a.seconds
                 + STREAM["backlog"] * drains)
            gen.write_stream_payloads(a.seed, n, os.path.join(inp, "stream.tsv"))

        args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "work": work, "input": inp,
                "result": os.path.join(out_dir, f"{tag}.json")}
        if a.workload == "ingest_stream":
            args.update(STREAM)
        if a.workload == "etl_cycle":
            args["queries_dir"] = BENCH
        res = jvm(launch, work, args, JVM_TIMEOUT_S)
        setup = res["setup"]

        obs = res["observed"]
        bad = 0
        if "cycles" in obs:
            bad += checks.etl_cycle(obs, expected)
        if "offered" in obs:
            bad += checks.ingest_stream(
                obs, gen.expected_stream_counts(a.seed, obs["offered"]))
        if "queries" in obs:
            bad += checks.query_suite(obs, checks.load_expected(
                os.path.join(BENCH, "expected_queries.tsv")))
        failed = int(res["failed"]) + bad
        attempted = int(res["attempted"])

        named = dict(res["e2e"], setup_s=setup["setup_s"],
                     error_rate=failed / max(1, attempted),
                     etl_events=ETL_EVENTS)
        if a.trace:
            values = dict(res["layers"])
            values["session.build_s"] = setup["session.build_s"]
            values["session.warmup_s"] = setup["session.warmup_s"]
            # a layer the workload bypasses reads 0
            metrics = {n: {"value": float(values.get(n) or 0.0), "unit": u}
                       for n, u in declared("per_layer")}
        else:
            values = end_to_end(a.workload, named)
            metrics = {n: {"value": float(values[n]), "unit": u}
                       for n, u in declared("end_to_end")}

        units = dict(NAMED[a.workload], **COMMON)
        record = dict(res, environment=environment(res),
                      checks_failed=bad, named={n: named.get(n) for n in units},
                      metrics=metrics)
        with open(args["result"], "w") as f:
            json.dump(record, f, indent=1, sort_keys=True)
        print(f"# {tag} " + " ".join(
            f"{n}={named[n]:.6g}{u}" if n in named else f"{n}=absent"
            for n, u in units.items()))
        if a.trace:
            print(f"# layers: {args['result'][:-5]}.layers.json, spans: "
                  f"{args['result'][:-5]}.spans.jsonl")
        print("# env " + json.dumps(record["environment"], sort_keys=True))
        print(json.dumps({"correct": failed == 0,
                          "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
