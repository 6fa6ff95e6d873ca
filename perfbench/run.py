#!/usr/bin/env python3
"""Pipeline benchmark of the graft engine.

    python3 perfbench/run.py --workload full_load|incremental_merge|stage_query|all
        --seed N --seconds S --trace 0|1

Run from the root of the repository. The first run builds the benchmark
(the engine's sources plus perfbench/src) with sbt into perfbench/target;
later runs reuse that build while the sources are unchanged. Each run
starts one JVM, prints its detail line and, last, one JSON result line.
Inputs come from the scale-factor directory in SPARK_GRAFT_SF_DIR
(default: the sf0.1 directory TESTDATA.md documents); all scratch files
live under .bench_work/ and are removed when the run ends.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

WORKLOADS = ["full_load", "incremental_merge", "stage_query"]
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
JAR = os.path.join(HERE, "target", "perfbench.jar")
# class-data-sharing archive of a training run: cuts JVM and Spark
# start-up and class loading from every measured run
ARCHIVE = os.path.join(HERE, "target", "perfbench.jsa")
RUN_TIMEOUT_S = 170
HEAP = "3g"
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    own = os.path.join(HERE, "src")
    if not os.path.isdir(engine):
        raise SystemExit("perfbench: engine sources not found at "
                         f"{os.path.relpath(engine, ROOT)}")
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (engine, own):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build(data):
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.exists(JAR) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    log("building (sbt package)")
    env = dict(os.environ)
    # the toolchain resolves from its local caches only
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    res = subprocess.run(["sbt", "-batch", "package"], cwd=HERE, env=env,
                         stdout=sys.stderr, stderr=sys.stderr)
    if res.returncode != 0:
        raise SystemExit("perfbench: build failed")
    log("training the class-data-sharing archive")
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    run_jvm("train", 0, 0, 0, data,
            [f"-XX:ArchiveClassesAtExit={ARCHIVE}"], quiet=True)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def classpath():
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        raise SystemExit("perfbench: SPARK_HOME is not set")
    return os.pathsep.join([JAR, os.path.join(spark_home, "jars", "*")])


def run_jvm(workload, seed, seconds, trace, data, jvm_opts, quiet=False):
    """Run one benchmark JVM; returns (exit code, stdout)."""
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           # JVM notes (e.g. on the archive) would land on stdout
           "-Xlog:disable", "-Xlog:all=error:stderr"] + jvm_opts
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath(), "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--data", data]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=subprocess.DEVNULL if quiet else sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: {workload} exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


def run_one(workload, seed, seconds, trace, data):
    opts = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    code, out = run_jvm(workload, seed, seconds, trace, data, opts)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    for line in lines:
        print(line)
    if lines and lines[-1].startswith("{\"correct\""):
        result = json.loads(lines[-1])
    if result is None:
        raise SystemExit(f"perfbench: {workload} printed no result "
                         f"(exit {code})")
    return result, code


def documented_sf01():
    """The sf0.1 test-data directory listed in the repository's TESTDATA.md."""
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as fh:
            m = re.search(r"\|\s*0\.1\s*\|\s*`([^`]+)`", fh.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("perfbench: set SPARK_GRAFT_SF_DIR (no sf0.1 row in "
                         "TESTDATA.md)")
    return m.group(1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    data = os.environ.get("SPARK_GRAFT_SF_DIR") or documented_sf01()
    if not glob.glob(os.path.join(data, "lineitem.parquet")):
        raise SystemExit(f"perfbench: no lineitem.parquet under {data}")
    build(data)
    names = WORKLOADS if args.workload == "all" else [args.workload]
    results = {}
    code = 0
    for w in names:
        res, rc = run_one(w, args.seed, args.seconds, args.trace, data)
        results[w] = res
        code = code or rc
    if args.workload == "all":
        # the per-workload lines were printed above; close with a summary
        print(json.dumps({
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": v for w, r in results.items()
                        for k, v in r["metrics"].items()}}))
    sys.stdout.flush()
    sys.exit(code)


if __name__ == "__main__":
    main()
