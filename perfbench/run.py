#!/usr/bin/env python3
"""Benchmark command for the graft engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload query_scan --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --all --seed 1 --seconds 20 [--trace 1]

It compiles the engine (src/main/scala) together with the benchmark
(perfbench/src) with the Scala compiler shipped in Spark's jars, generates
the sf0.1 fixture tables with gen_tables.py, then runs one JVM: one
local[nproc] Spark session and one closed-loop client (perfbench.Main).
Build output, data and run directories all live in .bench_build/ of the
checkout and are reused while their inputs are unchanged.

The last line of stdout is the result object
{"correct", "attempted", "failed", "metrics"}; the report goes to stderr.
--all runs every workload, one JVM each, and prints each report.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SPEC = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
# Workloads that run by name and in --all but are not in BENCHMARK.json.
# cdc_ingest reports its drops as failed while CdcPipeline orders HLCs as
# doubles (see README.md, "Known defect"); the *_full passes are longer
# than a gated run may take.
UNGATED = ["cdc_ingest", "query_scan_full", "query_multijob_full"]
GATED_TIMEOUT_S = 175  # a gated run must finish within 180 s
SF = "0.1"
HEAP = "4g"
# A fixed young generation: G1's adaptive young sizing touched a different
# share of the heap in each run and spread peak_rss_mb by about 12%.
YOUNG = "1g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the jars/ beside a bin/ on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep) if d]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    sys.exit("[perfbench] no Spark jars found: set SPARK_HOME")


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_checked(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build(jars):
    """Compiles graft and the benchmark into .bench_build/classes."""
    sources = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not sources:
        sys.exit("[perfbench] no engine sources under src/main/scala: run from a source checkout")
    sources += sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    want = stamp(sources)
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classes
    log(f"compiling {len(sources)} Scala sources")
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    code, _ = run_checked(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", os.pathsep.join(jars), "@" + argfile],
        timeout=800)
    if code != 0:
        sys.exit(f"[perfbench] compilation failed ({code})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classes


def data():
    """Generates the fixture tables into .bench_build/data/sf0.1."""
    gen = os.path.join(HERE, "gen_tables.py")
    out = os.path.join(BUILD, "data", "sf" + SF)
    want = stamp([gen]) + SF
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return out
    log(f"generating sf{SF} tables")
    shutil.rmtree(out, ignore_errors=True)
    code, _ = run_checked([sys.executable, gen, out, "--sf", SF], timeout=300)
    if code != 0:
        sys.exit(f"[perfbench] table generation failed ({code})")
    with open(stamp_file, "w") as f:
        f.write(want)
    return out


def java_cmd(classes, jars, main_args):
    work = os.path.join(BUILD, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            ["-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             "-Dspark.sql.session.timeZone=UTC",
             "-cp", os.pathsep.join([classes] + jars), "perfbench.Main",
             "--work", work] + main_args)


def child_env():
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep scratch
    # space inside the checkout.
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(BUILD, "work", "spark-local"))


def spec():
    """BENCHMARK.json: the gated workloads and the per-layer metrics."""
    try:
        with open(SPEC) as f:
            return json.load(f)
    except (OSError, ValueError) as e:
        sys.exit(f"[perfbench] cannot read {SPEC}: {e}")


def run_one(classes, jars, tables, bench, workload, seed, seconds, trace):
    # scratch space of earlier runs (stores, spill, lake-key fixtures)
    for d in ("cdc", "tmp", "spark-local"):
        shutil.rmtree(os.path.join(BUILD, "work", d), ignore_errors=True)
    cmd = java_cmd(classes, jars, [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--data", tables,
        "--digests", os.path.join(HERE, "digests.tsv"),
        "--per-layer", ",".join(f"{m['name']}={m['unit']}" for m in bench["per_layer"])])
    gated = [w["name"] for w in bench["workloads"]]
    code, out = run_checked(cmd, timeout=GATED_TIMEOUT_S if workload in gated else 900,
                            stdout=subprocess.PIPE, text=True, env=child_env())
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out)
        sys.exit(f"[perfbench] {workload} run failed (exit {code})")
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    bench = spec()
    workloads = [w["name"] for w in bench["workloads"]] + UNGATED
    ap.add_argument("--workload", choices=workloads)
    ap.add_argument("--all", action="store_true", help="run every workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not a.all and not a.workload:
        ap.error("--workload or --all is required")
    jars = spark_jars()
    classes = build(jars)
    tables = data()
    if a.all:
        for w in workloads:
            print(w, run_one(classes, jars, tables, bench, w, a.seed, a.seconds, a.trace), flush=True)
    else:
        print(run_one(classes, jars, tables, bench, a.workload, a.seed, a.seconds, a.trace), flush=True)


if __name__ == "__main__":
    main()
