#!/usr/bin/env python3
"""Repository benchmark: build the library with the benchmark, run one
seeded workload, print its metrics and, as the last line, the result.

Usage (from the repository root):
  python3 perfbench/run.py --workload <medallion|index_lifecycle>
      --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --selftest

Each workload does a fixed, seeded amount of work; `--seconds` is accepted
for the benchmark contract and does not change it. The first run compiles
the library's sources and the benchmark's with the Scala compiler that
ships among the Spark jars the library builds against, into
perfbench/target; later runs reuse the classes while no source file has
changed. Nothing but `java` is needed, and nothing outside the checkout is
written. Each run gets a fresh temporary root under .bench_tmp/ that is
deleted afterwards; run artifacts are kept under perfbench/out/.
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
LIB_BUILD = os.path.join(ROOT, "build.sbt")
STAMP = os.path.join(TARGET, "sources.sha1")
OUT = os.path.join(HERE, "out")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "analytics.tsv")
WORKLOADS = ("medallion", "index_lifecycle")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

# Spark 4 on JDK 17 outside spark-submit needs these (as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def scala_sources():
    return sorted(os.path.join(d, f) for base in (LIB_SRC, BENCH_SRC)
                  for d, _, fs in os.walk(base) for f in fs if f.endswith(".scala"))


def sources_digest():
    h = hashlib.sha1()
    for p in scala_sources() + [LIB_BUILD]:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def spark_jars():
    """The Spark jar directory, with the Scala compiler, that the library
    compiles against: the `unmanagedBase` its build.sbt names."""
    with open(LIB_BUILD) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not glob.glob(os.path.join(m.group(1), "scala-compiler-*.jar")):
        raise SystemExit("no Spark jar directory with a Scala compiler in build.sbt")
    return m.group(1)


def build():
    """Compile the library and the benchmark when any source changed since
    the last build."""
    digest = sources_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    log("compiling the library and the benchmark")
    t0 = time.time()
    shutil.rmtree(TARGET, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(TARGET, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(scala_sources()) + "\n")
    cp = os.path.join(spark_jars(), "*")
    try:
        rc = subprocess.run(["java", "-Xmx3g", "-Xss16m", "-XX:-UsePerfData",
                             f"-Djava.io.tmpdir={TARGET}", "-cp", cp, "scala.tools.nsc.Main",
                             "-d", CLASSES, "-classpath", cp, "@" + argfile],
                            cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    except subprocess.TimeoutExpired:
        rc = -1
    if rc != 0:
        raise SystemExit(f"build failed (scalac exit {rc})")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")
    log(f"built in {time.time() - t0:.1f} s")


def heap_gb():
    """Driver heap from MemTotal: half the memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return max(2, min(8, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return 2


def java_cmd(tmp, main_args):
    cp = CLASSES + os.pathsep + os.path.join(spark_jars(), "*")
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{heap_gb()}g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
            + opens + ["-cp", cp, "perfbench.Main"] + main_args)


def run_java(main_args, tmp, timeout):
    """Runs the benchmark JVM in its own process group; kills the whole
    group on timeout or when this script is terminated, and always waits
    for it."""
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    env = dict(os.environ)
    # Spark binds its local endpoints to the loopback address rather than
    # resolving the host name, which a container may not know.
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    proc = subprocess.Popen(java_cmd(tmp, main_args), cwd=ROOT, env=env,
                            stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {timeout} s; stopping it")
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(LIB_SRC) or not os.path.isdir(DATA):
        raise SystemExit("library sources or benchmark data missing")
    build()
    os.makedirs(OUT, exist_ok=True)
    tmp = os.path.join(ROOT, ".bench_tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        if a.selftest:
            raise SystemExit(run_java(["--selftest"], tmp, RUN_TIMEOUT_S))
        if a.workload is None:
            raise SystemExit("--workload is required")
        out = os.path.join(tmp, "result.json")
        rc = run_java(["--workload", a.workload, "--seed", str(a.seed),
                       "--trace", str(a.trace),
                       "--data", DATA, "--expected", EXPECTED, "--root", tmp,
                       "--out", out], tmp, RUN_TIMEOUT_S)
        if rc != 0 or not os.path.exists(out):
            raise SystemExit(f"benchmark JVM failed (exit {rc})")
        with open(out) as f:
            art = json.load(f)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    report(a, art)


def report(a, art):
    for k, v in art["metrics"].items():
        print(f"{k} = {v['value']} {v['unit']}")
    for k, v in art["named"].items():
        print(f"{a.workload}.{k} = {v}")
    for k, v in art["host"].items():
        print(f"host.{k} = {v}")
    for f in art["failures"]:
        print(f"FAILED: {f}")
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    if a.trace:
        compare_counts(art, os.path.join(OUT, f"counts-{a.workload}-seed{a.seed}.json"))
    with open(os.path.join(OUT, name + ".json"), "w") as f:
        json.dump(art, f, indent=1)
    ok = all(isinstance(v["value"], (int, float)) for v in art["metrics"].values())
    print(json.dumps({"correct": bool(art["correct"]) and ok,
                      "attempted": int(art["attempted"]),
                      "failed": int(art["failed"]),
                      "metrics": art["metrics"]}))


def compare_counts(art, path):
    """Count counters must repeat exactly between two traced runs of one
    workload at one seed; names the ones that do not, against the previous
    such run."""
    counts = {k: v["value"] for k, v in art["metrics"].items()
              if k.rsplit(".", 1)[-1] in ("jobs", "tasks", "shuffle_write_bytes", "output_bytes")}
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        differ = sorted(k for k in counts if prev.get(k) != counts[k])
        art["count_counters_not_repeating"] = {k: [prev.get(k), counts[k]] for k in differ}
        print(f"trace.count_counters_not_repeating = {len(differ)}"
              + "".join(f"\n  {k}: {prev.get(k)} -> {counts[k]}" for k in differ))
    with open(path, "w") as f:
        json.dump(counts, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
