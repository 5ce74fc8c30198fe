#!/usr/bin/env python3
"""Runs one pipeline-benchmark measurement and prints its result.

    python3 pipebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the benchmark together
with the program's sources (sbt, offline) into a jar in pipebench/target and
makes a class-data archive from one small op of every workload; later runs
reuse both until a source file changes. The JVM side
(pipebench.Main) generates its inputs from the seed, runs and checks the ops,
and reports metrics; this script stamps the full result with the
configuration and writes it to pipebench/out/<configuration>/, then prints
the four-key summary as the last line of stdout.
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
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
JAR = os.path.join(TARGET, "pipebench.jar")
# class-data archive: the JVM maps these classes instead of loading them, as
# a production launcher with an application archive does
ARCHIVE = os.path.join(TARGET, "pipebench.jsa")
STAMP = os.path.join(TARGET, "pipebench.stamp")
WORKLOADS = ("daily_tick", "month_backfill", "raw_backfill", "corpus_clean")
HEAP = "2g"
# a run must end within this many seconds; the JVM stops starting ops well before
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 800

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_child(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and returns (exit code, stdout).
    On a timeout, an exception or SIGTERM the whole group is killed and
    reaped, so no process outlives the run. A timeout returns code None."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None, None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def fail(code, msg):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build compiles, so a changed source rebuilds."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (PROGRAM_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_cmd(work, flags, main_args):
    """The benchmark JVM: fixed heap, GC and JIT settings, scratch files under `work`."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    return [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:CICompilerCount=2",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", f"-Dderby.system.home={work}",
        "-Dspark.ui.enabled=false"] + flags + [
        "-cp", JAR + os.pathsep + os.path.join(os.environ["SPARK_HOME"], "jars", "*")] + main_args


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))


def build():
    stamp = source_stamp()
    if os.path.isfile(JAR) and os.path.isfile(ARCHIVE) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    os.makedirs(TARGET, exist_ok=True)
    for f in (STAMP, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log_path = os.path.join(TARGET, "build.log")
    with open(log_path, "w") as log:
        rc, _ = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                          BUILD_LIMIT_S, cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT)
        if rc == 0:
            work = os.path.join(HERE, "work", f"train-{os.getpid()}")
            fresh_dir(work)
            try:
                log.flush()
                rc, _ = run_child(java_cmd(work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"],
                                           ["pipebench.Train", work]),
                                  RUN_LIMIT_S, cwd=work, stdout=log, stderr=subprocess.STDOUT)
            finally:
                shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.isfile(ARCHIVE):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(3, f"build failed (exit {rc}); log in {log_path}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def git_sha():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        dirty = subprocess.run(["git", "-C", ROOT, "status", "--porcelain", "--", "src", "pipebench"],
                               capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip() + ("+dirty" if dirty.stdout.strip() else "")
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown (not a git checkout)"


def steal_ticks():
    """Host steal ticks so far (0 where /proc/stat has none); a run whose
    figures jump while this grows was disturbed from outside."""
    try:
        with open("/proc/stat") as fh:
            cpu = fh.readline().split()
        return int(cpu[8]) if len(cpu) > 8 else 0
    except OSError:
        return 0


def nproc():
    """CPUs this process may run on, as `nproc` counts them."""
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def configuration():
    """Names the configuration a result belongs to; results of different
    configurations go to different directories."""
    return f"c{nproc()}-local{nproc()}-xmx{HEAP}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    # overrides for size and warm-up sweeps; results made with them say so
    ap.add_argument("--warmup", type=int, help="warm-up ops in set-up")
    ap.add_argument("--rows-per-day", type=int, help="billing fact rows per day")
    ap.add_argument("--docs", type=int, help="corpus documents")
    a = ap.parse_args()
    started = time.monotonic()
    # SIGTERM unwinds like an exception, so run_child reaps what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "pipeline", "Launcher.scala")):
        fail(2, f"program sources not found under {PROGRAM_SRC}; run from a full checkout")
    spark_home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(spark_home, "jars")):
        fail(2, "SPARK_HOME does not point at a Spark installation with a jars/ directory")
    build()

    config = configuration()
    out_dir = os.path.join(HERE, "out", config)
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{a.workload}-trace{a.trace}-seed{a.seed}" + "".join(
        f"-{opt}{getattr(a, opt)}" for opt in ("warmup", "rows_per_day", "docs")
        if getattr(a, opt) is not None)
    work = os.path.join(HERE, "work", f"{stem}-{os.getpid()}")
    fresh_dir(work)
    cmd = java_cmd(work, [f"-XX:SharedArchiveFile={ARCHIVE}"], [
        "pipebench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--work", work])
    spans = os.path.join(out_dir, f"{stem}.spans.jsonl")
    if a.trace == "1":
        cmd += ["--spans", spans]
    for opt in ("warmup", "rows_per_day", "docs"):
        if getattr(a, opt) is not None:
            cmd += ["--" + opt.replace("_", "-"), str(getattr(a, opt))]
    log_path = os.path.join(out_dir, f"{stem}.log")
    limit = max(10.0, RUN_LIMIT_S - (time.monotonic() - started))
    steal0 = steal_ticks()
    try:
        with open(log_path, "w") as log:
            rc, out = run_child(cmd, limit, cwd=work, stdout=subprocess.PIPE, stderr=log, text=True)
        lines = [ln for ln in (out or "").splitlines() if ln.strip()]
        full = json.loads(lines[-1]) if rc == 0 and lines else None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if full is None:
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(4, f"the benchmark JVM did not produce a result; log in {log_path}")

    info = full.pop("info")
    info.update({"nproc": nproc(), "configuration": config, "heap": HEAP, "git_sha": git_sha(),
                 "seconds": a.seconds, "wall_s": time.monotonic() - started,
                 "host_steal_ticks": steal_ticks() - steal0})
    with open(os.path.join(out_dir, f"{stem}.json"), "w") as fh:
        json.dump(dict(full, info=info), fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps({k: full[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
