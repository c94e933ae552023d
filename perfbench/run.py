#!/usr/bin/env python3
"""Feature-store benchmark entry point.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_mix --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the program (src/main) together with
the benchmark (perfbench/src) through perfbench/build.sbt; later runs reuse
the build while the sources are unchanged.
Everything the benchmark builds or writes stays under .bench_build/ in the
checkout. The last line of standard output is the result object; any
failure exits non-zero without printing one.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["train_asof", "ingest_mix", "curate_corpus"]
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
HEAP = "3g"

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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: program and benchmark sources."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def java_cmd(cp, *opts):
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-Xlog:all=warning:stderr",
           "-Dspark.ui.enabled=false", "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + list(opts) + ["-cp", cp, "graftbench.Main"]


def build():
    """Compile once per source state; returns the runtime classpath."""
    os.makedirs(OUT, exist_ok=True)
    stamp_file = os.path.join(OUT, "stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.exists(cp_file) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    with open(cp_file) as g:
                        return g.read().strip()
        for f in (stamp_file, cp_file):
            if os.path.exists(f):
                os.remove(f)
        log = os.path.join(OUT, "build.log")
        with open(log, "w") as out:
            try:
                rc = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                    cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                    timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                fail(f"build timed out after {BUILD_TIMEOUT_S}s (log: {log})")
        with open(log) as f:
            lines = [l.strip() for l in f if l.strip()]
        cp = lines[-1] if lines else ""
        if rc != 0 or ".bench_build" not in cp:
            sys.stderr.write("\n".join(lines[-40:]) + "\n")
            fail(f"build failed (exit {rc}, log: {log})")
        with open(cp_file, "w") as f:
            f.write(cp)
        with open(stamp_file, "w") as f:
            f.write(stamp)
        return cp


def parse_result(line):
    try:
        r = json.loads(line)
    except ValueError:
        return None
    ok = isinstance(r, dict) and set(r) == {"correct", "attempted", "failed", "metrics"}
    return r if ok else None


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources under {os.path.join(ROOT, 'src', 'main', 'scala')}; "
             "run from a full checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must point at the Spark installation")

    cp = build()
    work = os.path.join(OUT, "run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = java_cmd(cp, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    cmd += ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", args.trace, "--work-dir", work]
    if args.trace == "1":
        cmd += ["--trace-out", os.path.join(OUT, "traces", f"{args.workload}-seed{args.seed}.jsonl")]

    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if out is None:
        fail(f"run exceeded {RUN_TIMEOUT_S}s")

    lines = out.rstrip("\n").split("\n") if out else []
    result = parse_result(lines[-1]) if lines else None
    if proc.returncode != 0 or result is None:
        sys.stderr.write(out or "")
        fail(f"benchmark process exited {proc.returncode} without a result")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
