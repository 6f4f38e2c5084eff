#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the repository root. The first run builds the engine and the
harness with sbt (offline) and caches the classpath under `.perfbench/`;
later runs reuse it until a source file changes. Each run then

1. generates its inputs from the seed under a private temporary root,
2. starts one JVM (`perfbench.Harness`) that sets up Spark, warms up,
   checks outputs and measures for `--seconds` seconds,
3. deletes the temporary root and prints, as its last line, one JSON object
   with `correct`, `attempted`, `failed` and `metrics`.

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json; with
`--trace 1` they are the per-layer ones, and the run's spans are written to
`.perfbench/trace-<workload>.json`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

T_PROCESS = time.time()
sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import gen_corpus  # noqa: E402
import gen_payloads  # noqa: E402

WORKLOADS = ("etl_incremental", "short_queries")
# Re-fetch batches generated for etl_incremental: more than any run uses.
ETL_BATCHES = 80
RUN_DEADLINE_S = 170
# Pinned on top of the engine's JVM options, which give a growable heap of
# up to 16 GiB: with those alone, `rss_peak_mb` of etl_incremental ranged
# over 3186-4189 MB in four seeds (IQR 22 % of the median) on a 4-core VM.
# A fixed heap and young generation, early marking and two malloc arenas
# hold the resident size steady.
HEAP_PIN = ["-Xms2g", "-Xmx2g", "-Xmn256m", "-XX:InitiatingHeapOccupancyPercent=15",
            "-XX:-G1UseAdaptiveIHOP"]
END_TO_END_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "op_p50_ms": "ms",
                    "op_tail_ms": "ms", "rss_peak_mb": "MB"}
LAYER_UNITS = {
    "ingest.s": "s", "ingest.rows_in": "count", "ingest.rows_rejected": "count",
    "ingest.accept_ratio": "ratio",
    "load.s": "s", "load.jobs": "count", "load.rows_offered": "count",
    "load.rows_inserted": "count", "load.insert_ratio": "ratio", "load.target_files": "count",
    "sink.s": "s", "sink.files_written": "count", "sink.bytes_written": "B",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s", "scheduler.jobs": "count", "scheduler.tasks": "count",
    "scheduler.task_s": "s", "scheduler.ms_per_job": "ms", "scheduler.core_util": "ratio",
    "shuffle.read_mb": "MB", "shuffle.write_mb": "MB", "shuffle.spill_mb": "MB",
    "jvm.gc_ms": "ms", "jvm.heap_peak_mb": "MB",
    "trace.overhead_ms": "ms",
}


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_json(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def read_launch(build):
    """The harness classpath and the engine's JVM options, as sbt wrote them."""
    with open(os.path.join(build, "classpath")) as f:
        classpath = f.read().strip()
    with open(os.path.join(build, "java-options")) as f:
        options = [l.strip() for l in f if l.strip()]
    return {"classpath": classpath, "java_options": options}


def ensure_build():
    """Compile engine + harness with sbt when sources changed; return
    (launch, built): the classpath and JVM options, and whether it built."""
    build = os.path.join(WORK, "build")
    stamp_file = os.path.join(build, "stamp")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                try:
                    return read_launch(build), False
                except OSError:
                    pass
    for f in ("stamp", "classpath", "java-options"):
        if os.path.exists(os.path.join(build, f)):
            os.remove(os.path.join(build, f))
    sbt_tmp = os.path.join(build, "tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    # Every JVM the sbt launcher starts keeps its temporary files here.
    env = dict(os.environ, COURSIER_MODE="offline", TMPDIR=sbt_tmp,
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={sbt_tmp}")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(build, "sbt.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, timeout=840)
    try:
        if p.returncode != 0:
            raise OSError
        launch_config = read_launch(build)
    except OSError:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die("build failed", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return launch_config, True


# ------------------------------------------------------------------- host

def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def cpu_jiffies():
    """(steal, total) jiffies since boot from /proc/stat; zeros off Linux."""
    try:
        with open("/proc/stat") as f:
            cols = [int(x) for x in f.readline().split()[1:]]
        return (cols[7] if len(cols) > 7 else 0), sum(cols)
    except OSError:
        return 0, 0


# ---------------------------------------------------------------- metrics

def tail(samples):
    """Highest percentile with at least ten samples beyond it: (value, pct).
    Below 21 samples that percentile would not exceed the median, so the
    maximum is reported instead."""
    xs = sorted(samples)
    k = len(xs) - 11 if len(xs) >= 21 else len(xs) - 1
    return xs[k], 100.0 * (k + 1) / len(xs)


def end_to_end(res, setup_start):
    lat = [o["ms"] for o in res["ops"] if not o["traced"]]
    t, pct = tail(lat)
    m = {"setup_s": res["setup_end_ms"] / 1000.0 - setup_start,
         "ops_per_s": len(lat) / res["measure_s"],
         "op_p50_ms": statistics.median(lat),
         "op_tail_ms": t,
         "rss_peak_mb": res["rss_peak_mb"]}
    extra = {"samples": len(lat), "tail_percentile": pct,
             "latencies_ms": [round(x, 1) for x in lat]}
    if "backfill_s" in res:
        extra["etl"] = {
            "rows_per_s": {"value": res["rows_inserted"] / res["ingest_wall_s"], "unit": "1/s"},
            "backfill_s": {"value": res["backfill_s"], "unit": "s"},
            "bytes_per_row": {"value": res["stored_bytes"] / max(1, res["stored_rows"]),
                              "unit": "B"}}
    return m, extra


# -------------------------------------------------------------------- run

def prepare(workload, seed, tmp, tiny):
    """Generate the workload's inputs under `tmp`; return its spec fields."""
    if workload == "etl_incremental":
        batches = gen_payloads.write(os.path.join(tmp, "payloads"), seed,
                                     5 if tiny else ETL_BATCHES)
        warm = gen_payloads.write(os.path.join(tmp, "warm"), seed + 1, 2, n_symbols=2)
        return {"tables_dir": os.path.join(tmp, "tables"),
                "warm_dir": os.path.join(tmp, "warm_tables"),
                "batches": batches, "warm": warm}
    sample = load_json("workloads.json")[workload]["queries"][:2 if tiny else None]
    goldens = load_json("goldens.json")
    corpus = os.path.join(tmp, "corpus")
    gen_corpus.write(corpus, goldens["corpus"]["seed"], goldens["corpus"]["scale"])
    order = list(sample)
    random.Random(seed).shuffle(order)
    return {"corpus_dir": corpus, "queries": order,
            "goldens": {q: goldens["queries"][q] for q in order if q in goldens["queries"]}}


def launch(build, spec, tmp, deadline):
    spec_file = os.path.join(tmp, "spec.json")
    with open(spec_file, "w") as f:
        json.dump(spec, f)
    jtmp = os.path.join(tmp, "jvm")
    os.makedirs(jtmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # The engine's own JVM options and the heap pinning (a later -Xmx wins);
    # then temporary files under the run's root, and no perf-data file, so
    # the JVM writes nothing in /tmp.
    cmd = [java, *build["java_options"], *HEAP_PIN, "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={jtmp}", f"-Dderby.system.home={jtmp}",
           "-cp", build["classpath"], "perfbench.Harness", spec_file]
    log = os.path.join(tmp, "jvm.log")
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=tmp, stdout=out, stderr=subprocess.STDOUT,
                             env=dict(os.environ, MALLOC_ARENA_MAX="2"),
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0 or not os.path.exists(spec["out"]):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die("harness timed out" if rc is None else f"harness exited with {rc}", 1)
    with open(spec["out"]) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description="graft engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test size: two queries, or five ETL re-fetches")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"no engine sources next to {HERE}; run from a full checkout")

    build, built = ensure_build()
    # Set-up runs from process start, or from the end of a build.
    setup_start = time.time() if built else T_PROCESS
    load0, jiffies0 = loadavg(), cpu_jiffies()
    tmp = os.path.join(WORK, "tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        spec = prepare(a.workload, a.seed, tmp, a.tiny)
        spec.update(workload=a.workload, seconds=a.seconds, trace=bool(a.trace),
                    cores=os.cpu_count() or 1, out=os.path.join(tmp, "result.json"))
        res = launch(build, spec, tmp, time.time() + RUN_DEADLINE_S)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    jiffies1 = cpu_jiffies()
    d_total = jiffies1[1] - jiffies0[1]
    host = {"nproc": os.cpu_count(), "heap_max_mb": res["heap_max_mb"],
            "spark_version": res["spark_version"], "loadavg_start": load0,
            "loadavg_end": loadavg(),
            "steal_pct": 100.0 * (jiffies1[0] - jiffies0[0]) / d_total if d_total > 0 else 0.0}

    failed_ops = sum(1 for o in res["ops"] if not o["ok"])
    attempted = len(res["ops"]) + res["checks_run"]
    failed = failed_ops + res["checks_failed"]
    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "host": host,
              "setup_phases_s": {"inputs": res["jvm_start_ms"] / 1000 - setup_start,
                                 "spark": (res["session_ready_ms"] - res["jvm_start_ms"]) / 1000,
                                 "warm_up": (res["setup_end_ms"] - res["session_ready_ms"]) / 1000},
              "failed_frac": {"value": failed / max(1, attempted), "unit": "ratio"},
              "failures": res["failures"][:10]}
    if a.trace:
        layers = res["layers"]
        metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
        report["trace_ops"] = layers["trace.ops"]
        with open(os.path.join(WORK, f"trace-{a.workload}.json"), "w") as f:
            json.dump({k: res[k] for k in ("layers", "ops", "spans", "jobs")}, f)
    else:
        m, extra = end_to_end(res, setup_start)
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in m.items()}
        report.update(extra)
    if "check_s" in res:
        report["check_s"] = res["check_s"]
    if "checks" in res:
        report["checks"] = res["checks"]
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
