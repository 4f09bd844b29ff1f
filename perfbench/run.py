#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--cores k]

Builds the benchmark (perfbench/build.sbt: the program's sources plus the
benchmark's own) when the sources changed since the last build, then runs
one fresh JVM for the workload. Build output goes to perfbench/out/build.log,
the JVM's log to perfbench/out/<workload>-<seed>-trace<0|1>.log, scratch
files to perfbench/work/ (removed when the run ends).
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
WORKLOADS = ("kinesis_drain", "kinesis_kpl_roundtrip", "corpus_dedup")
JAVA_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(home):
    stamp = source_stamp()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH", 3)
    log = os.path.join(OUT, "build.log")
    env = dict(os.environ, SPARK_HOME=home)
    with open(log, "w") as fh:
        try:
            rc = subprocess.run([sbt, "-batch", "-Dsbt.server.autostart=false", "compile"],
                                cwd=HERE, stdout=fh, stderr=subprocess.STDOUT, env=env,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"build failed (log: {log})", 3)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    # two task slots leave the other CPUs to the driver, JIT and GC threads;
    # at local[4] on 4 vCPUs those threads compete with the tasks and runs
    # spread more (see README)
    ap.add_argument("--cores", type=int, default=min(2, os.cpu_count() or 1),
                    help="local[k] task slots (default min(2, nproc))")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"program sources not found under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    home = spark_home()
    os.makedirs(OUT, exist_ok=True)
    build(home)

    work = os.path.join(HERE, "work", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cp = os.pathsep.join([CLASSES, os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(home, "jars", "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    log = os.path.join(OUT, f"{a.workload}-{a.seed}-trace{a.trace}.log")
    launch_ms = int(time.time() * 1000)
    cmd = [java, *opens, "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={work}",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--launch-ms", str(launch_ms),
           "--work", work, "--out", OUT, "--cores", str(a.cores)]
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                    stdin=subprocess.DEVNULL, text=True)
            try:
                out, _ = proc.communicate(timeout=JAVA_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {JAVA_TIMEOUT_S} s (log: {log})", 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, "work"))
        except OSError:
            pass
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        fail(f"run failed with code {proc.returncode} (log: {log})", 1)
    print(lines[-1])


if __name__ == "__main__":
    main()
