#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload renko_batch_1series --seed 1 \
        --seconds 6 --trace 0

Builds the program and the benchmark first if they are stale (see
build.py), then starts one JVM with Spark in local mode on every core. With
`--trace 1` the JVM records a span around every layer call and writes them
to `.bench_trace/<workload>-seed<n>.json`; the printed metrics are then the
per-layer ones. Everything else a run makes lives in a per-run directory
under `.bench_work/` that is removed when the run ends.

Other modes (not timed): `--selftest` feeds every output check a corrupted
result and fails unless each check rejects it; `--ties` checks batch renko
on tied timestamps spread over several files.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["renko_batch_1series", "renko_batch_multiseries",
             "renko_stream_restart", "corpus_index_epochs"]
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--ties", action="store_true")
    ap.add_argument("--golden", nargs=2, metavar=("WIDE", "TICKS"),
                    help="with --selftest: a reference wide table and its "
                         "input ticks, to check the independent fold against")
    a = ap.parse_args()
    if a.selftest:
        mode = ["selftest"] + (["--golden"] + [os.path.abspath(g) for g in a.golden] if a.golden else [])
    elif a.ties:
        mode = ["ties"]
    elif a.workload:
        mode = ["run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    else:
        ap.error("--workload is required")

    try:
        cp, jars, build_s = build.build()
    except build.BuildError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", "run-%d-%d" % (os.getpid(), int(T_START * 1000)))
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    ncpu = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-Xss4m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
              "-cp", os.pathsep.join(cp + [os.path.join(jars, "*")]),
              "perfbench.Main"] + mode
           + ["--cores", str(ncpu), "--work", work, "--result", result,
              "--trace-dir", os.path.join(ROOT, ".bench_trace"),
              "--t0-ms", str(int(T_START * 1000)), "--build-s", "%.3f" % build_s])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: JVM exceeded %d s, killed" % JVM_TIMEOUT_S, file=sys.stderr)
        rc = -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    try:
        if rc != 0:
            print("perfbench: JVM exited with %s" % rc, file=sys.stderr)
            return 1
        if mode[0] != "run":
            return 0
        with open(result) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(ROOT, ".bench_work"))
        except OSError:
            pass
    if a.trace == 0:
        # one cold set-up: from this process's start to the end of the
        # warm-up pass, without the time spent building
        setup = res["metrics"]["setup_s"]
        setup["value"] = setup.pop("end_ms") / 1000.0 - T_START - build_s
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
