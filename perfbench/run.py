#!/usr/bin/env python3
"""Runs one benchmark workload of the graft engine and prints its result.

    python3 perfbench/run.py --workload serve|batch --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) into perfbench/target; later runs
reuse the build while the sources are unchanged. Each run starts one JVM
on local[nproc], writes only under .perfbench/ in the checkout, and
relays the JVM's result line: one JSON object with `correct`, `attempted`,
`failed` and `metrics`. Exits non-zero, without a result, when the engine
sources are missing, the build fails, or the run fails a check.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
STATE = os.path.join(ROOT, ".perfbench")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "sources.sha256")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE_SRC, os.path.join(HERE, "src", "main", "scala")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    digest = source_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    log("building engine and benchmark with sbt")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx3g"]))
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = p.stdout.splitlines()
    cps = [l for l in lines if "target/scala-2.13/classes" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        log("build failed")
        sys.exit(3)
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(cps[-1].strip())
    with open(STAMP, "w") as f:
        f.write(digest)
    return cps[-1].strip()


def heap():
    """The engine's tier-1 heap rule: half of RAM, clamped to 2-8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def java(cp, scratch, main_class, args):
    """The JVM command line: the engine's JDK 17 opens and heap rule."""
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            [f"-Xmx{os.environ.get('SPARK_DRIVER_MEM') or heap()}",
             "-Djava.io.tmpdir=" + scratch,
             "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dspark.sql.warehouse.dir=" + os.path.join(scratch, "warehouse"),
             "-Dderby.system.home=" + scratch,
             "-cp", cp, main_class] + args)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["serve", "batch"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"])
    ap.add_argument("--record-batch", metavar="DIR",
                    help="instead of a run: write the batch tables, results, "
                         "oracle SQL and fingerprints to DIR (see README.md)")
    a = ap.parse_args()
    # terminated, the run still stops the processes it started: sbt and
    # the JVM are killed on the way out (subprocess.run and the finally
    # below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(5))
    if not a.record_batch and None in (a.workload, a.seed, a.seconds, a.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"engine sources not found under {ENGINE_SRC}")
        sys.exit(2)
    cp = build()
    cores = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 1)
    scratch = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = cores
    env["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    if a.record_batch:
        try:
            rc = subprocess.run(java(cp, scratch, "perfbench.BatchDump",
                                     [os.path.abspath(a.record_batch)]),
                                cwd=scratch, env=env).returncode
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        sys.exit(rc)
    cmd = java(cp, scratch, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--scratch", os.path.join(scratch, "work"),
        "--fingerprints", os.path.join(HERE, "batch_fingerprints.tsv"),
        "--trace-out", os.path.join(STATE, "traces", f"{a.workload}-{a.seed}.jsonl")])
    proc = subprocess.Popen(cmd, cwd=scratch, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        sys.exit(4)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        log(f"run failed with exit code {proc.returncode}")
        sys.exit(1)
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
