#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the benchmark program (the engine's
sources plus perfbench/src) with sbt when the sources changed since the last
build, generates the workload's inputs from the seed, runs one benchmark
process, checks its outputs and prints one JSON object as the last line of
standard output. Workloads: etl_bulk (the trade pipeline) and dedup_sql (the
near-duplicate graph ops and the registry queries in one pass).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

# Input sizes: one batch of 30k trades, a corpus of 4k documents,
# TPC-H-shaped tables at scale factor 0.01; traced runs of dedup_sql measure
# the ETL layers on one batch of 2k trades.
ETL_BULK = (1, 30000)
ETL_LAYERS = (1, 2000)
DOCS = 4000
SQL_SCALE = 1.0

GEN_REPEATS = 3
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JVM_HEAP = "3g"
# a fixed young generation: collections come after a fixed volume of
# allocation rather than when the collector's pause-time model decides, so
# heap_peak_mb samples the heap at the same points of the work in every run
JVM_YOUNG = "256m"

END_TO_END = [("setup_s", "s"), ("cold_pass_s", "s"), ("pass_s", "s"),
              ("rows_per_s", "rows/s"), ("op_p50_s", "s"), ("heap_peak_mb", "MB")]

PER_LAYER_NAMES = [
    "etl.pipeline_s", "etl.stage.read_s", "etl.stage.quality_s",
    "etl.stage.enrich_s", "etl.stage.validate_s", "etl.stage.clean_s",
    "etl.sink_s", "etl.sink_collect_s", "etl.sink_driver_s",
    "etl.sink_core_idle_share", "etl.json_bytes_per_row",
    "etl.jobs_per_op", "etl.stages_per_op", "etl.tasks_per_op",
    "dedup.minhash_s", "dedup.lsh_edges_s", "dedup.cc_s", "dedup.cc_stars_s",
    "dedup.lp_s", "dedup.central_keep_s", "dedup.simhash_clusters_s",
    "dedup.cc_rounds.contraction", "dedup.cc_rounds.stars",
    "dedup.cc_rounds.simhash", "dedup.cc_rounds.central_keep",
    "dedup.candidate_pairs", "dedup.candidate_precision", "dedup.components",
    "dedup.jobs_per_op", "dedup.stages_per_op", "dedup.task_skew",
    "sql.build_s", "sql.plan_s", "sql.exec_s", "sql.jobs_per_op",
    "sql.stages_per_op", "sql.tasks_per_op", "sql.core_busy_share",
    "catalog.cold_build_s",
    "engine.codegen_compiles", "engine.codegen_compiles_cold",
    "engine.task_run_s", "engine.task_cpu_s", "engine.gc_s",
    "engine.input_bytes", "engine.shuffle_read_bytes",
    "engine.shuffle_write_bytes", "engine.spill_bytes",
    "engine.jobs", "engine.stages", "engine.tasks",
    "trace.overhead_s", "trace.overhead_share", "trace.op_residual_s",
    "trace.driver_self_share", "trace.spans",
]


def _unit(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_per_row"):
        return "bytes/row"
    if name.endswith(("_share", "_precision", "_skew")):
        return "ratio"
    return "count"


PER_LAYER = [(n, _unit(n)) for n in PER_LAYER_NAMES]

WORKLOADS = ["etl_bulk", "dedup_sql"]

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print("[run.py] " + msg, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log("error: " + msg)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(BENCH, "src", "main", "**", "*.scala"), recursive=True)
                   + [os.path.join(BENCH, "build.sbt"),
                      os.path.join(BENCH, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources under %s; run from the root of a graft checkout" % ROOT)
    stamp_file = os.path.join(BENCH, "target", "perfbench.stamp")
    cp_file = os.path.join(BENCH, "target", "perfbench.classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building the benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    code, out = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true",
                           "-Dsbt.server.autostart=false", "compile", "benchClasspath"],
                          BUILD_TIMEOUT_S, cwd=BENCH, env=env, stderr=subprocess.STDOUT)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail("sbt build failed")
    cps = [l for l in out.splitlines() if "classes" in l and os.pathsep in l
           and not l.startswith("[")]
    if not cps:
        fail("sbt printed no classpath")
    os.makedirs(os.path.dirname(stamp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1].strip()


def generate(workload, seed, inputs, trace):
    """Writes the workload's inputs; returns the median generation time, over
    GEN_REPEATS generations for setup_s, or over one in a traced run, which
    does not report setup_s. A traced run also gets the inputs of the other
    workload, for its per-layer metrics: the documents and tables, or one
    small batch of trades."""
    from pybench import docs, tables, trades

    def once():
        shutil.rmtree(inputs, ignore_errors=True)
        t0 = time.perf_counter()
        if workload == "etl_bulk" or trace:
            trades.write_batches(inputs, seed, *(ETL_BULK if workload == "etl_bulk" else ETL_LAYERS))
        if workload == "dedup_sql" or trace:
            docs.write(inputs, seed, DOCS)
            tables.write(inputs, seed, SQL_SCALE)
        return time.perf_counter() - t0

    return statistics.median(once() for _ in range(1 if trace else GEN_REPEATS))


def run_group(cmd, timeout_s, **kw):
    """Runs `cmd` in its own process group and waits for it; on timeout kills
    the whole group, so no child outlives this launcher. Returns (exit code,
    standard output)."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True,
                         start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        fail("%s ran longer than %d s" % (cmd[0], timeout_s), 3)
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def run_jvm(classpath, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx" + JVM_HEAP, "-Xmn" + JVM_YOUNG, "-XX:+UseG1GC",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false"]
           + [x for p in JDK_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main"] + args)
    code, out = run_group(cmd, JVM_TIMEOUT_S, cwd=ROOT)
    if code != 0:
        fail("benchmark process exited with %d" % code, 3)
    return out


def main():
    # a terminated launcher still unwinds, so run_group stops its children
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classpath = build()
    work = os.path.join(BENCH, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    gen_s = generate(a.workload, a.seed, inputs, a.trace)
    result_file = os.path.join(work, "result.json")
    launch_ms = int(time.time() * 1000)
    out = run_jvm(classpath, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--inputs", inputs, "--work", work,
        "--result", result_file, "--launch-ms", str(launch_ms), "--gen-s", repr(gen_s)],
        work)
    sys.stdout.write(out)
    with open(result_file) as f:
        res = json.load(f)

    # an op whose result DuckDB rejects fails every timed op of its name
    failed_by_name = res["failed_by_name"]
    verify = os.path.join(work, "verify")
    if os.path.isdir(verify):
        from pybench import oracle
        for name, why in oracle.check(inputs, verify):
            log("oracle check %s: %s" % (name, why))
            failed_by_name[name] = res["ops_by_name"].get(name, 0)
    failed = sum(failed_by_name.values())

    values = res["metrics"]
    wanted = PER_LAYER if a.trace else END_TO_END
    if any(values.get(k) is None for k, _ in wanted):
        fail("metrics missing: %s" % [k for k, _ in wanted if values.get(k) is None], 4)
    metrics = {k: {"value": values[k], "unit": u} for k, u in wanted}
    for k, m in metrics.items():
        print("%-32s %16.6f %s" % (k, m["value"], m["unit"]))
    print("failed_ratio %d/%d = %.4f" % (failed, res["attempted"], failed / res["attempted"]))
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
