#!/usr/bin/env python3
"""PPR query benchmark: runs one workload against the engine and prints
every metric by name with its unit; the last line is one JSON object.

    python3 perfbench/run.py --workload topk_serve --seed 1 --seconds 10 --trace 0

Run from the root of the repository. The first run compiles the engine
and the benchmark (perfbench/scala) with the Scala compiler shipped in
Spark's jars into .bench_build/; later runs reuse that build while the
sources are unchanged. See perfbench/README.md for the workloads and
metrics."""

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
import threading
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import bench_lib  # noqa: E402

BUILD = ".bench_build"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800

# Operations per run are fixed: round(rate * --seconds), so a percentile
# names the same order statistic on every commit. `rate` is about the
# throughput of the commit that added the benchmark, on 4 cores, so a run
# measures about --seconds there. `warm` operations run first, untimed.
WORKLOADS = {
    "topk_serve": dict(rate=7.5, warm=16, clients=4, setups=3, kernels=8),
    "allpair_store": dict(rate=1.5, warm=5, clients=1, setups=3, kernels=64),
}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the directory build.sbt names
    as unmanagedBase. They include the Scala compiler used to build."""
    if os.environ.get("SPARK_HOME"):
        where = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open("build.sbt") as f:
                where = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            fail("run from the repository root: no SPARK_HOME and no unmanagedBase in build.sbt")
    jars = sorted(glob.glob(os.path.join(where, "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        fail(f"no Spark jars with a Scala compiler in {where}")
    return jars


def build(jars):
    """Compiles src/main/scala and perfbench/scala into a directory keyed
    by a hash of every source file; returns that directory."""
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not srcs or not os.path.isfile("build.sbt"):
        fail("run from the repository root: build.sbt and src/main/scala are missing")
    srcs += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(jars)] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        fail("compilation failed")
    os.rename(tmp, out)
    return out


def sources(workload, n, n_warm, n_ops, seed):
    """The workload's generated source indices (dense ids): the warm-up
    operations' (uniform, a stream of their own) and the timed ones'."""
    s = (seed << 32) ^ zlib.crc32(workload.encode())
    warm = bench_lib.uniform_sources(n, n_warm, s ^ 0x5EED)
    if workload == "topk_serve":
        return warm, bench_lib.zipf_sources(n, n_ops, s)
    return warm, bench_lib.uniform_sources(n, n_ops, s)


def run_jvm(classes, jars, workload, cfg, n_ops, trace, seed, work):
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xmx4g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
            "-cp", os.pathsep.join([classes] + jars), "perfbench.Main",
            f"workload={workload}", f"trace={trace}",
            "sf=" + os.path.join(HERE, "data"), "work=" + work, f"ops={n_ops}",
            f"warm={cfg['warm']}",
            f"clients={min(cfg['clients'], cpus)}",
            f"setups={cfg['setups']}", f"kernels={cfg['kernels']}"]
    with open(os.path.join(BUILD, f"{workload}.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                stderr=log, env=env, text=True)
        timer = threading.Timer(RUN_LIMIT_S, proc.kill)
        timer.start()
        raw = None
        try:
            for line in proc.stdout:
                if line.startswith("PERFBENCH_NODES "):
                    n = int(line.split()[1])
                    warm, timed = sources(workload, n, cfg["warm"], n_ops, seed)
                    proc.stdin.write(",".join(map(str, warm)) + "|" +
                                     ",".join(map(str, timed)) + "\n")
                    proc.stdin.close()
                elif line.startswith("PERFBENCH_RESULT "):
                    text = line[len("PERFBENCH_RESULT "):]
                    raw = json.loads(text)
                    # the raw result, spans included, for later reading
                    with open(os.path.join(BUILD, f"{workload}-raw.json"), "w") as f:
                        f.write(text)
            code = proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0 or raw is None:
        fail(f"{workload} run exited with {code}; see {log.name}")
    return raw


def main():
    # a SIGTERM unwinds through the finally blocks, which stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seed < 0 or a.seconds < 1:
        fail("--seed must be >= 0 and --seconds >= 1")
    if not os.path.isfile(os.path.join(HERE, "data", "lineitem.parquet")):
        fail("perfbench/data/lineitem.parquet is missing")

    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    classes = build(jars)
    cfg = WORKLOADS[a.workload]
    n_ops = max(1, round(cfg["rate"] * a.seconds))
    work = os.path.abspath(os.path.join(BUILD, f"run-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    try:
        raw = run_jvm(classes, jars, a.workload, cfg, n_ops, a.trace, a.seed, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed, frac = bench_lib.account(raw)
    metrics, notes = (bench_lib.per_layer if a.trace else bench_lib.end_to_end)(raw)
    print(f"workload {a.workload}: {raw['nodes']} nodes, {raw['edges']} edges, "
          f"{n_ops} operations, {raw['clients']} clients, seed {a.seed}")
    for o in raw["ops"]:
        if not o["ok"]:
            print(f"failed op {o['id']}: {o['err']}")
    for p in raw["untimed"]:
        for err in p["errors"]:
            print(f"failed {p['name']} op: {err}")
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    print(f"fail_frac = {frac:.6g} of {attempted} attempted")
    for line in notes:
        print(line)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
