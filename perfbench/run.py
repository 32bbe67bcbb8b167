#!/usr/bin/env python3
"""WCC benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the library and
the benchmark driver from source with sbt (offline); later runs reuse
the build while the sources are unchanged. Each run starts one JVM on
local[N], N = the CPUs the JVM may use, and prints two lines: run
annotations, then the result object (`correct`, `attempted`, `failed`,
`metrics`). Build products, logs, traces and per-seed fingerprints stay
under perfbench/target/.
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
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "bench.classpath")
STAMP = os.path.join(TARGET, "bench.stamp")
STATE = os.path.join(TARGET, "state")
WORKLOADS = ("dwcc_copurchase", "idwcc_microbatch")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit needs these (the library's
# build.sbt passes the same list to its forked runs).
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
    """Hash of every input of the build: library and driver sources and
    both build definitions."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = " ".join(filter(None, [
        env.get("SBT_OPTS", ""), "-Dsbt.override.build.repos=true",
        "-Dsbt.offline=true", "-Xmx2g"]))
    return env


def run_sbt(args, log, timeout):
    with open(log, "wb") as out:
        p = subprocess.Popen(["sbt", "--batch", "-Dsbt.log.noformat=true"] + args,
                             cwd=BENCH, env=sbt_env(), stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            stop(p)
            return -1


def stop(p):
    """Kill a child's whole process group and wait for it."""
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def build():
    """Compile library + driver unless the stamp says it is current;
    returns the runtime classpath."""
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
            with open(STAMP) as f:
                if f.read() == stamp:
                    with open(CLASSPATH) as c:
                        return c.read().strip()
        log = os.path.join(TARGET, "build.log")
        rc = run_sbt(["compile", "export perfbench/Runtime/fullClasspath"], log,
                     BUILD_TIMEOUT_S)
        if rc != 0:
            fail(f"build failed (exit {rc}); see {log}")
        with open(log) as f:
            lines = [l.strip() for l in f if l.strip()]
        cps = [l for l in lines if not l.startswith("[") and os.pathsep in l
               and "perfbench" in l]
        if not cps:
            fail(f"build printed no classpath; see {log}")
        with open(CLASSPATH, "w") as f:
            f.write(cps[-1])
        with open(STAMP, "w") as f:
            f.write(stamp)
        return cps[-1]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return None


def git_commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_driver(cp, args, run_id):
    work = os.path.join(TARGET, "work", run_id)
    logs = os.path.join(TARGET, "logs")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{run_id}.log")
    # C1-only JIT: a run reaches steady speed within its warm-up, where
    # C2 keeps recompiling (and speeding up) for about a minute more.
    # A fixed-size heap and the throughput collector keep GC work from
    # depending on heap growth. Both sides of any comparison run under
    # the same flags.
    # -UsePerfData: no hsperfdata file in the system temp directory.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--state", STATE])
    try:
        with open(log, "wb") as err:
            p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                 start_new_session=True)
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                stop(p)
                fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log}")
        if p.returncode != 0:
            with open(log, errors="replace") as f:
                tail = f.readlines()[-30:]
            sys.stderr.write("".join(tail))
            fail(f"driver exited {p.returncode}; see {log}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.decode().splitlines() if l.startswith("{")]
    if len(lines) < 2:
        fail(f"driver printed no result; see {log}")
    return json.loads(lines[-2])["annotations"], json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own small-scale tests")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no library sources beside {BENCH}: run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    if args.selftest:
        rc = run_sbt(["perfbench/test"], os.path.join(TARGET, "selftest.log"), BUILD_TIMEOUT_S)
        print(f"perfbench self-test {'passed' if rc == 0 else 'FAILED'} "
              f"(log: {os.path.join(TARGET, 'selftest.log')})")
        sys.exit(0 if rc == 0 else 1)
    if args.workload is None:
        fail("--workload is required")

    cp = build()
    run_id = f"{args.workload}-{args.seed}-t{args.trace}-{os.getpid()}-{int(time.time())}"
    load_start, ticks_start = load1(), cpu_ticks()
    notes, result = run_driver(cp, args, run_id)
    ticks_end = cpu_ticks()
    notes.update(git_commit=git_commit(), load1_start=load_start, load1_end=load1())
    if ticks_start and ticks_end and ticks_end[1] > ticks_start[1]:
        # share of CPU time a hypervisor gave to other guests during the
        # run: host contention the run's wall times absorb
        notes["steal_frac"] = ((ticks_end[0] - ticks_start[0])
                               / (ticks_end[1] - ticks_start[1]))

    # tracing overhead: this traced run's median operation wall minus
    # the last untraced run's, same workload and seed
    last = os.path.join(STATE, f"untraced-{args.workload}-{args.seed}.json")
    if args.trace == 0:
        os.makedirs(STATE, exist_ok=True)
        with open(last, "w") as f:
            json.dump(notes, f)
    elif os.path.exists(last):
        with open(last) as f:
            untraced = json.load(f)
        notes["trace_overhead_s"] = (result["metrics"]["bench.op_wall_s"]["value"]
                                     - untraced["op_wall_p50_s"])
    print(json.dumps({"annotations": notes}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
