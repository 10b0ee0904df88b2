#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the program (`src/main/scala` + `src/main/resources` of the
repository) and then the benchmark (`perfbench/src`) against the program's
compiled classes, with the Scala compiler that ships in the Spark
distribution's `jars/` directory. No sbt, no network, nothing written outside
the build directory.

    python3 perfbench/build.py            # build into ./.bench_build
    python3 perfbench/build.py --force    # rebuild even if up to date

The build directory is `$CARGO_TARGET_DIR` when that is set, else
`.bench_build` at the repository root. A stamp (a hash of every source file)
makes a second call a no-op while the sources are unchanged.
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
PROG_SRC = os.path.join(ROOT, "src", "main", "scala")
PROG_RES = os.path.join(ROOT, "src", "main", "resources")


class BuildError(Exception):
    pass


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    `unmanagedBase` the repository's build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME")


def _files(top, suffix=None):
    out = []
    for d, _, fs in os.walk(top):
        for f in fs:
            if suffix is None or f.endswith(suffix):
                out.append(os.path.join(d, f))
    return sorted(out)


def _stamp(groups, jars):
    h = hashlib.sha256()
    h.update(jars.encode())
    for files in groups:
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _scalac(jars, classpath, out, sources):
    os.makedirs(out, exist_ok=True)
    cp = os.pathsep.join(classpath + [os.path.join(jars, "*")])
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-cp", cp] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def build(force=False):
    """Build if stale. Returns (classpath entries, spark jar dir, seconds spent)."""
    if not os.path.isdir(PROG_SRC):
        raise BuildError("program sources not found at src/main/scala")
    jars = spark_jars()
    prog = _files(PROG_SRC, ".scala")
    res = _files(PROG_RES) if os.path.isdir(PROG_RES) else []
    bench = _files(BENCH_SRC, ".scala")
    if not prog or not bench:
        raise BuildError("no sources to build")
    out = build_dir()
    final = os.path.join(out, "classes")
    cp = [os.path.join(final, "program"), os.path.join(final, "bench")]
    stamp = _stamp([prog, res, bench], jars)
    stamp_file = os.path.join(final, "STAMP")
    if not force and os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return cp, jars, 0.0
    t0 = time.time()
    tmp = os.path.join(out, "classes.tmp-%d" % os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        _scalac(jars, [], os.path.join(tmp, "program"), prog)
        for f in res:
            dst = os.path.join(tmp, "program", os.path.relpath(f, PROG_RES))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(f, dst)
        _scalac(jars, [os.path.join(tmp, "program")], os.path.join(tmp, "bench"), bench)
        with open(os.path.join(tmp, "STAMP"), "w") as fh:
            fh.write(stamp)
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return cp, jars, time.time() - t0


if __name__ == "__main__":
    try:
        _, _, secs = build(force="--force" in sys.argv[1:])
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(1)
    print("built in %.1f s into %s" % (secs, build_dir()) if secs else "up to date")
