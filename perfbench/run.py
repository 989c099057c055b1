#!/usr/bin/env python3
"""Build and run the pipeline benchmark.

    python3 perfbench/run.py --workload cpi_etl --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles the library
(src/main/scala) and the benchmark (perfbench/src) with the Scala
compiler shipped in Spark's jar directory; later runs reuse the classes
while the sources are unchanged. Build output, generated inputs, spans
and result sidecars go under $CARGO_TARGET_DIR (default .bench_build).
The last line of stdout is the result JSON.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
LIB_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def scala_sources():
    srcs = []
    for base in (LIB_SRC, BENCH_SRC):
        for dirpath, _, files in os.walk(base):
            srcs += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(srcs)


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars):
        fail(f"no Spark jar directory at {jars} (set SPARK_HOME)")
    return jars


def build(build_dir, jars):
    """Compiles library + benchmark into build_dir/classes unless the
    sources hash to the stamp of the last build."""
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"library sources not found under {LIB_SRC}; run from the repository root")
    srcs = scala_sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss16m",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + srcs
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=["cpi_etl", "llm_dedup", "stream_ingest"])
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        p.error("--workload, --seed and --seconds are required")

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars()
    classes = build(build_dir, jars)
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: the JVM would otherwise write its perf counters
    # to the system temp directory, outside the checkout.
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss16m", f"-Djava.io.tmpdir={tmp}"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--work", os.path.join(build_dir, "work")]
    if a.selftest:
        cmd += ["--selftest"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    proc = subprocess.Popen(cmd, stdout=sys.stdout, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=None if a.selftest else RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(tmp, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
