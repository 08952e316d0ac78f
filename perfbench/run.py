#!/usr/bin/env python3
"""Layered benchmark of the graft engine: curate, fit and stream workloads.

    python3 perfbench/run.py --workload curate|fit|stream --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --smoke           # every workload once, tiny
    python3 perfbench/run.py --check-counts W  # exact counts repeat?
    python3 perfbench/run.py --gates DIR       # stages equal their gates?

Run from the root of a checkout. The first call builds the engine's
sources and the harness (perfbench/build.sbt, offline sbt) into
$CARGO_TARGET_DIR (default .bench_build)/perfbench; later calls reuse the
build while no source changes. Each run starts one JVM with Spark in
local[nproc] mode, generates its inputs from the seed (the fit inputs
from the base tables in perfbench/data), sets up, then
measures passes for --seconds. The last line of stdout is the result
object {"correct", "attempted", "failed", "metrics"}; the line before it
is the full record (host telemetry, pass walls, exact counts, digests).
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
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
# sf0.01 events and embeddings the fit inputs are replicated from
BASE_DATA = os.path.join(HERE, "data")
WORKLOADS = ("curate", "fit", "stream")
# input size multiplier (ScaleGen-style copies of each base set)
DEFAULT_SCALE = 4
SMOKE_SCALE = 1
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def spark_home():
    """SPARK_HOME, else the installation that owns spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME or put spark-submit on PATH")
    return home


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, base, "perfbench")


def sources():
    out = []
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    out += [os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def source_stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def ensure_built():
    """Compile engine + harness unless the stamp shows it is current."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail("engine sources not found at src/main/scala/graft")
    out = build_dir()
    classes = os.path.join(out, "scala-2.13", "classes")
    stamp_file = os.path.join(out, "source.sha256")
    stamp = source_stamp()
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ)
    env["PERFBENCH_TARGET"] = out
    env["SPARK_HOME"] = spark_home()
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx3g"])
    log_path = os.path.join(out, "build.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
            cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            kill_group(proc)
            fail("build timed out")
    if rc != 0 or not os.path.isdir(classes):
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail("build failed (%s):\n%s" % (log_path, tail))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print("perfbench: built in %.1f s" % (time.time() - t0), file=sys.stderr)
    return classes


def kill_group(proc):
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(classes, main, args, tmp):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", p + "=ALL-UNNAMED"]
    # serial GC with a fixed young generation: heap growth, and with it
    # peak RSS, does not depend on pause-time feedback
    return [java, "-Xmx3g",
            "-XX:+UseSerialGC", "-Xmn512m", "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false"] + opens + [
        "-cp", classes + os.pathsep + os.path.join(spark_home(), "jars", "*"),
        main] + [str(a) for a in args]


def run_jvm(classes, workload, seed, seconds, trace, scale):
    """Run one measurement JVM; return (record, result) dicts."""
    out = build_dir()
    work = os.path.join(out, "work")
    run_dir = os.path.join(work, "run")
    # inputs of earlier runs are not reused: every run generates its own
    shutil.rmtree(os.path.join(work, "data"), ignore_errors=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir, exist_ok=True)
    result_path = os.path.join(run_dir, "result.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = java_cmd(classes, "perfbench.Main", [
        "--workload", workload, "--seed", seed, "--seconds", seconds,
        "--trace", trace, "--cores", nproc(), "--scale", scale,
        "--base", BASE_DATA, "--work", work, "--out", result_path], tmp)
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        kill_group(proc)
        fail("%s run exceeded %d s" % (workload, JVM_TIMEOUT_S))
    if proc.returncode != 0 or not os.path.exists(result_path):
        fail("%s run failed with exit code %s" % (workload, proc.returncode))
    record = None
    for line in stdout.splitlines():
        if line.startswith("{"):
            record = json.loads(line)
    with open(result_path) as f:
        result = json.load(f)
    return record, result


def gates(classes, sf_dir):
    """Each composed stage against the SparkEntry gate it mirrors, on the
    gate's input directory."""
    run_dir = os.path.join(build_dir(), "work", "gates")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = java_cmd(classes, "perfbench.Gates",
                   [os.path.abspath(sf_dir), nproc()], tmp)
    return subprocess.run(cmd, cwd=run_dir, stdin=subprocess.DEVNULL,
                          timeout=1800).returncode


def smoke(classes):
    """Every workload once at the smallest scale: every named metric
    prints with its unit, and no operation fails."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ok = True
    for w in WORKLOADS:
        for trace, names in ((0, [m["name"] for m in spec["end_to_end"]]),
                             (1, [m["name"] for m in spec["per_layer"]])):
            rec, res = run_jvm(classes, w, 1, 1, trace, SMOKE_SCALE)
            missing = [n for n in names
                       if n not in res["metrics"] or not res["metrics"][n].get("unit")]
            good = res["correct"] and res["failed"] == 0 and not missing
            ok &= good
            print("smoke %-6s trace=%d fail_frac=%s missing=%s errors=%s %s" % (
                w, trace, rec.get("fail_frac"), missing, rec.get("errors"),
                "ok" if good else "FAIL"))
    return 0 if ok else 1


# Shuffle block sizes depend on row order inside map outputs, which can
# differ by a few bytes between runs; every other count must repeat exactly.
NEAR_COUNTS = ("exec.shuffle_read_bytes", "exec.shuffle_write_bytes")


def check_counts(classes, workload):
    """Two traced runs, same seed and cores: the exact counts must repeat."""
    recs = [run_jvm(classes, workload, 1, 1, 1, DEFAULT_SCALE)[0]
            for _ in range(2)]
    a, b = recs[0]["exact_counts"], recs[1]["exact_counts"]
    exact = all(a[k] == b[k] for k in a if k not in NEAR_COUNTS)
    near = all(abs(a[k] - b[k]) <= 1e-4 * max(a[k], 1) for k in NEAR_COUNTS)
    same = exact and near and all(r["exact_counts_repeat"] for r in recs)
    print(json.dumps({"workload": workload, "cores": recs[0]["cores"],
                      "scale": recs[0]["scale"], "seed": 1, "identical": same,
                      "counts": a,
                      "differences": {k: [a[k], b[k]] for k in a if a[k] != b[k]}},
                     sort_keys=True))
    return 0 if same else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=int, default=DEFAULT_SCALE)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--check-counts", choices=WORKLOADS)
    ap.add_argument("--gates", metavar="SF_DIR",
                    help="compare each composed stage with its SparkEntry "
                         "gate on this test-data directory")
    a = ap.parse_args()
    classes = ensure_built()
    if a.smoke:
        return smoke(classes)
    if a.check_counts:
        return check_counts(classes, a.check_counts)
    if a.gates:
        return gates(classes, a.gates)
    if not a.workload:
        ap.error("--workload is required")
    record, result = run_jvm(classes, a.workload, a.seed, a.seconds, a.trace,
                             a.scale)
    if record is not None:
        print(json.dumps(record, sort_keys=True))
    print(json.dumps(result, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
