#!/usr/bin/env python3
"""Repository benchmark: runs one workload of the graft engine and prints one
JSON result line.

    python3 geobench/run.py --workload flagship|geojson_etl|knn \
        --seed N --seconds S --trace 0|1

Run it from the repository root. The first run builds the engine's main
sources together with the benchmark driver (geobench/build.sbt, sbt offline)
and records a class-data-sharing archive for faster JVM start; later runs
reuse both while no build input changes. A run starts one JVM that sets the
workload up SETUP_REPS times (the first from JVM launch, each later one in a
new Spark session), times a fixed number of passes (about --seconds worth),
and checks the output. It prints, with --trace 0:

  setup_s      median set-up time: session, seeded inputs, warm-up pass
  pass_s       median wall time of the timed passes
  rows_per_s   input rows / pass_s
  peak_rss_mb  peak resident memory (VmHWM) of the JVM after the passes

and with --trace 1 the per-layer metrics instead, from Spark listener
counters and from a traced pass with a span around each layer call.
Everything a run writes stays under geobench/ (build output in
geobench/target; inputs, outputs, spans and Spark scratch in geobench/work).
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
ENGINE_SRC = os.path.join(ROOT, "src", "main")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
ARCHIVE = os.path.join(TARGET, "geobench.jsa")
WORK = os.path.join(HERE, "work")
TMP = os.path.join(WORK, "tmp")
WORKLOADS = ("flagship", "geojson_etl", "knn")
SETUP_REPS = 3
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Options the engine build passes to its forked JVMs (build.sbt): Spark on
# JDK 17 needs these module openings outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]



def log(msg):
    print(f"[geobench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("geobench: no Spark distribution found (set SPARK_HOME)")
    return home


def run_child(cmd, env, timeout):
    """Runs cmd with its stdout sent to our stderr; kills it on timeout."""
    proc = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    try:
        return proc.wait(timeout=timeout)
    except BaseException:
        proc.kill()
        proc.wait()
        raise


def build(env):
    """Compiles the engine and the driver with sbt, then records a
    class-data-sharing archive of the classes one set-up loads, which cuts
    JVM start-up. Skipped while no build input has changed."""
    stamp = os.path.join(TARGET, "geobench.stamp")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(CLASSPATH):
        with open(stamp) as f:
            if f.read().strip() == digest:
                return
    log("building the engine and the benchmark driver")
    t0 = time.time()
    sbt_env = dict(env)
    sbt_env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -XX:-UsePerfData"
                           + " -Djava.io.tmpdir=" + TMP + " -Djna.tmpdir=" + TMP).strip()
    sbt_env.setdefault("COURSIER_MODE", "offline")
    code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                      "writeClasspath"], sbt_env, BUILD_TIMEOUT_S)
    if code != 0 or not os.path.exists(CLASSPATH):
        sys.exit(f"geobench: build failed (exit {code})")
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    train = jvm_cmd("flagship", 0, 1, 0, os.path.join(WORK, "train.json"), 1, archive=False)
    code = run_child(train[:1] + ["-XX:ArchiveClassesAtExit=" + ARCHIVE] + train[1:] + ["--train"],
                     env, JVM_TIMEOUT_S)
    if code != 0 and os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(stamp, "w") as f:
        f.write(digest + "\n")
    log(f"built in {time.time() - t0:.1f} s")


def jvm_cmd(workload, seed, seconds, trace, out, setup_reps, archive=True):
    with open(CLASSPATH) as f:
        cp = os.pathsep.join(line.strip() for line in f if line.strip())
    opts = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    if archive and os.path.exists(ARCHIVE):
        opts.append("-XX:SharedArchiveFile=" + ARCHIVE)
    return (["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + TMP]
            + opts + ["-cp", cp, "graftbench.Main",
                      "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                      "--trace", str(trace), "--work", os.path.join(WORK, workload), "--out", out,
                      "--setup-reps", str(setup_reps), "--launched-ns", str(time.time_ns())])


def run_jvm(env, args, setup_reps):
    out = os.path.join(WORK, f"{args.workload}-result.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = jvm_cmd(args.workload, args.seed, args.seconds, args.trace, out, setup_reps)
    code = run_child(cmd, env, JVM_TIMEOUT_S)
    if code != 0 or not os.path.exists(out):
        sys.exit(f"geobench: {args.workload} run failed (exit {code})")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        sys.exit(f"geobench: engine sources not found under {ENGINE_SRC}; "
                 "run from a checkout of the repository")
    env = dict(os.environ)
    env["SPARK_HOME"] = spark_home()
    os.makedirs(TMP, exist_ok=True)
    build(env)

    # metric names and units come from BENCHMARK.json: end_to_end metrics
    # without tracing, per_layer metrics with it
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if args.trace else "end_to_end"]
    res = run_jvm(env, args, SETUP_REPS)
    if args.trace:
        # a layer the workload never calls did no work: it reports 0
        unknown = set(res["layers"]) - {m["name"] for m in spec}
        if unknown:
            sys.exit(f"geobench: traced metrics missing from BENCHMARK.json: {sorted(unknown)}")
        values = {m["name"]: res["layers"].get(m["name"], 0.0) for m in spec}
    else:
        values = res
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}
    print(json.dumps({"correct": res["failed"] == 0 and res["attempted"] > 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
