#!/usr/bin/env python3
"""Serving-path benchmark for graft.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <query|mixed> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Builds the program (every file under src/main/scala) and the harness under
perfbench/src with the Scala compiler that ships in Spark's jars, into
$CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench), rebuilding only
when a source changed. Then runs the harness JVM, relays its output and exits
with its code. The last line of output is the result JSON.
"""
import argparse
import fcntl
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("query", "mixed")
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else ""
    return exe if os.path.isfile(exe) else "java"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die("cannot find Spark's jars (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main:
        die("no program sources under src/main/scala; run from the root of a checkout")
    return main, harness


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(jars, classpath, out, files):
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = [java(), "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.dirname(out),
           "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-classpath", classpath, "@" + argfile]
    if subprocess.run(cmd).returncode != 0:
        die("compilation failed")
    os.remove(argfile)


def build(root, build_dir, jars):
    """Compile program and harness unless the sources are unchanged."""
    main, harness = sources(root)
    os.makedirs(build_dir, exist_ok=True)
    with open(os.path.join(build_dir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        want = stamp(main + harness)
        stamp_file = os.path.join(build_dir, "stamp")
        classes = os.path.join(build_dir, "classes")
        bench = os.path.join(build_dir, "harness")
        if os.path.exists(stamp_file) and open(stamp_file).read() == want:
            return classes, bench
        for d in (classes, bench, stamp_file):
            if os.path.isdir(d):
                shutil.rmtree(d)
            elif os.path.exists(d):
                os.remove(d)
        t0 = time.time()
        scalac(jars, jars, classes, main)
        scalac(jars, classes + os.pathsep + jars, bench, harness)
        with open(stamp_file, "w") as fh:
            fh.write(want)
        print(f"perfbench: built program and harness in {time.time() - t0:.1f} s", file=sys.stderr)
        return classes, bench


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--dump-oracle-sql", metavar="FILE")
    args = ap.parse_args()
    if not (args.workload or args.self_test or args.dump_oracle_sql):
        ap.error("--workload is required")

    root = os.getcwd()
    jars = spark_jars()
    build_dir = os.path.join(os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")
    build_dir = os.path.abspath(build_dir)
    classes, bench = build(root, build_dir, jars)

    work = os.path.join(build_dir, "work", f"{args.workload or 'tool'}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java()] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
        "-cp", os.pathsep.join([bench, classes, jars]), "perfbench.Main", "--work", work]
    if args.self_test:
        cmd += ["--self-test"]
    elif args.dump_oracle_sql:
        cmd += ["--dump-oracle-sql", os.path.abspath(args.dump_oracle_sql)]
    else:
        cmd += ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
                "--trace", str(args.trace), "--data", os.path.join(HERE, "data")]

    log = os.path.join(build_dir, "last-run.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, cwd=work)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            sys.exit(128 + signum)

        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        watchdog = threading.Timer(RUN_LIMIT_S, proc.kill)
        watchdog.start()
        for line in iter(proc.stdout.readline, ""):
            print(line, end="", flush=True)
        rc = proc.wait()
        if not watchdog.is_alive():
            rc = 124
            print(f"perfbench: run exceeded {RUN_LIMIT_S} s and was stopped", file=sys.stderr)
        watchdog.cancel()
    trace = os.path.join(work, "trace.jsonl")
    if os.path.exists(trace):
        shutil.copy(trace, os.path.join(build_dir, f"trace-{args.workload}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        with open(log) as fh:
            tail = fh.read()[-3000:]
        print(f"perfbench: harness exited {rc}; stderr tail:\n{tail}", file=sys.stderr)
    sys.exit(rc)


if __name__ == "__main__":
    main()
