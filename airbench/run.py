#!/usr/bin/env python3
"""The engine's benchmark: one workload per run, in a fresh JVM.

Usage (from the repository root):
    python3 airbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine together with the benchmark driver (sbt, in this
directory) when the sources changed, runs `airbench.Main`, checks every
op's outputs with DuckDB, and prints one JSON line last: the end-to-end
metrics (`--trace 0`) or the per-layer metrics (`--trace 1`). See
README.md for the workloads and what each metric is meant to move.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "airbench.stamp")

WORKLOADS = ("etl_notebook", "query_mix")

END_TO_END = [("setup_s", "s"), ("cold_pass_s", "s"), ("warm_pass_s", "s"),
              ("retained_heap_mb", "MB")]

QUERY_MIX = ["q227_temporal_reach", "q22_minhash_lsh", "q169_snippet", "q70_asof_join",
             "q80_range_join"]

PER_LAYER = (
    [("session.start_s", "s"), ("setup.synth_s", "s"), ("setup.input_bytes", "bytes"),
     ("pipeline.run_s", "s"), ("pipeline.write_s", "s"), ("pipeline.count_s", "s"),
     ("pipeline.verify_s", "s"), ("pipeline.xlsx_listings_s", "s"),
     ("pipeline.xlsx_reviews_s", "s"), ("pipeline.xlsx_driver_s", "s"),
     ("pipeline.sink_bytes", "bytes"), ("pipeline.sink_bytes_per_input_byte", "ratio"),
     ("eda.cache_s", "s"), ("eda.quality_s", "s"), ("eda.listings_s", "s"),
     ("eda.reviews_s", "s"), ("eda.corr_s", "s")]
    + [(f"op.{q}_s", "s") for q in QUERY_MIX]
    + [("ckpt.release_s", "s"), ("ckpt.blocks_written", "count"), ("ckpt.bytes_written", "bytes"),
       ("ckpt.leftover_blocks", "count"), ("dedup.cap_dropped_rows", "count"),
       ("spark.cold_planning_s", "s"), ("spark.cold_codegen_compiles", "count"),
       ("spark.cold_codegen_compile_s", "s"), ("spark.planning_s", "s"),
       ("spark.codegen_compiles", "count"), ("spark.codegen_compile_s", "s"),
       ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
       ("spark.jobs_s", "s"), ("spark.driver_gap_s", "s"), ("spark.executor_cpu_s", "s"),
       ("spark.executor_run_s", "s"), ("spark.gc_s", "s"), ("spark.slot_util", "ratio"),
       ("spark.task_skew", "ratio"), ("spark.shuffle_write_bytes", "bytes"),
       ("spark.shuffle_read_bytes", "bytes"), ("spark.spill_bytes", "bytes"),
       ("spark.peak_exec_mem_bytes", "bytes"), ("spark.tasks_failed", "count"),
       ("spark.stages_retried", "count"), ("trace.warm_pass_s", "s"), ("checks.known_failing", "count")])

# Checks that fail because of a known engine defect. They are printed as
# failing on every run; they do not count against `correct` until fixed.
KNOWN_DEFECTS = {
    "sink_jdbc.listings": "Sinks.jdbc lacks the complex-column flattening of Sinks.csv, "
                          "so array<string> (amenities_procesados) has no JDBC type",
    "eda_readback.reviews": "Eda.reviews parses date_clean with to_date, which under ANSI "
                            "mode throws on the 'nan' that Sinks.sinkForm writes for a null",
}

# Spark's JDK 17 module options (org.apache.spark.launcher.JavaModuleOptions).
JAVA_OPTS = ["-XX:+IgnoreUnrecognizedVMOptions", "--add-modules=jdk.incubator.vector"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
        "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "jdk.internal.ref",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Djdk.reflect.useDirectMethodHandle=false", "-Dio.netty.tryReflectionSetAccessible=true",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]

RUN_LIMIT_S = 170
SETUP_REPS = 3


def log(msg):
    print(f"[airbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    log("building the engine and the benchmark driver (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "-Xmx3g")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("airbench: build failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("airbench: SPARK_HOME must name a Spark install (with jars/)")
    return home


def run_jvm(args, work, cores, limit_s, spark):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java, "-Xmx3g", *JAVA_OPTS, f"-Dderby.stream.error.file={work}/derby.log",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-cp", f"{os.path.join(spark, 'jars', '*')}{os.pathsep}{CLASSES}", "airbench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work, "--cores", str(cores)]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"airbench: run exceeded {limit_s:.0f} s")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"airbench: benchmark JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise SystemExit(f"airbench: engine sources not found under {ENGINE_SRC}")
    spark = spark_home()

    build()
    t0 = time.monotonic()
    work = os.path.join(HERE, ".work", args.workload)
    if os.path.isdir(work):
        shutil.rmtree(work)
    os.makedirs(work)
    cores = len(os.sched_getaffinity(0))
    import synth  # noqa: E402
    reps = []
    for _ in range(SETUP_REPS):
        s0 = time.perf_counter()
        if args.workload == "etl_notebook":
            synth.etl(os.path.join(work, "in"), args.seed)
        else:
            synth.query_tables(os.path.join(work, "tables"))
        reps.append(time.perf_counter() - s0)
    res = run_jvm(args, work, cores, RUN_LIMIT_S - 10 - (time.monotonic() - t0), spark)
    synth_s = sorted(reps)[len(reps) // 2]
    res["metrics"]["setup_s"] = {"value": synth_s + res["jvm_setup_s"], "unit": "s"}
    res["layers"]["setup.synth_s"] = {"value": synth_s, "unit": "s"}

    import checks  # noqa: E402  (DuckDB is only needed once a run has finished)
    if args.workload == "etl_notebook":
        results = checks.etl_checks(work)
    else:
        results = checks.query_checks(work, res["oracles"], res["outputs"])
    bad_checks = [(n, e) for n, e in results if e is not None]
    for n, e in bad_checks:
        print(f"CHECK FAIL {n}: {e}")
    for o in res["failed_ops"] + res["mismatches"]:
        print(f"OP FAIL {o}")
    for c in res["checks"]:
        print(f"CHECK {'ok  ' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
        if not c["ok"] and c["name"] in KNOWN_DEFECTS:
            print(f"      known defect: {KNOWN_DEFECTS[c['name']]}")
    unexpected = [c for c in res["checks"] if not c["ok"] and c["name"] not in KNOWN_DEFECTS]
    fixed = [n for n in KNOWN_DEFECTS if any(c["name"] == n and c["ok"] for c in res["checks"])]
    for n in fixed:
        print(f"CHECK note {n} now passes: remove it from KNOWN_DEFECTS")

    failed = len(res["failed_ops"]) + len(res["mismatches"]) + len(bad_checks)
    if args.trace:
        layers = res["layers"]
        metrics = {n: {"value": layers.get(n, {"value": 0.0})["value"], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": res["metrics"][n]["value"], "unit": u} for n, u in END_TO_END}
    log(f"{args.workload} seed {args.seed}: JVM run {time.monotonic() - t0:.1f} s, "
        f"{res['attempted']} ops, {failed} failed")
    print(json.dumps({"correct": failed == 0 and not unexpected, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
