#!/usr/bin/env python3
"""graft benchmark entry point.

    python3 perfbench/run.py --workload serve_ingest --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --selftest

Builds the library and the benchmark from source (perfbench/build.py), then
runs one workload in one JVM at local[<nproc>]. Everything the run writes
lives in a fresh directory under the build directory and is removed at the
end; a traced run also leaves its spans under <build dir>/traces/. The last
line of stdout is the result object {"correct", "attempted", "failed",
"metrics"}; see perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("serve_ingest", "batch")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """A quarter of the machine's memory, between 2 and 6 GB."""
    with open("/proc/meminfo") as fh:
        kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return f"{max(2, min(6, kb // (4 << 20)))}g"


def java_cmd(classpath, run_dir, main, args):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            [f"-Xmx{heap()}", "-Xss8m", "-XX:+UseG1GC",
             f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dspark.callstack.depth=200",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-cp", os.pathsep.join(classpath), main] + args)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")

    # a signal to this process stops the compiler or the JVM too, and waits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("run: terminated"))
    started = time.monotonic()
    classpath, compiled = build.build()
    run_dir = os.path.join(build.build_dir(), "runs",
                           f"{a.workload or 'selftest'}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    if a.selftest:
        main_cls, args = "graftbench.SelfTest", ["--dir", run_dir, "--cores", str(cores())]
    else:
        main_cls = "graftbench.Bench"
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--dir", run_dir, "--cores", str(cores()),
                "--traces", os.path.join(build.build_dir(), "traces")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    # a run ends within 175 s, or 895 s when it had to compile first
    budget = max(30.0, (895.0 if compiled else 175.0) - (time.monotonic() - started))
    proc = subprocess.Popen(java_cmd(classpath, run_dir, main_cls, args), env=env,
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=budget)
    except subprocess.TimeoutExpired:
        sys.exit(f"run: timed out after {budget:.0f} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if a.selftest:
        print("\n".join(lines))
        sys.exit(proc.returncode)
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        sys.exit(f"run: JVM exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("run: malformed result line")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
