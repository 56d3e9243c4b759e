#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/src) with the Scala compiler that ships
in Spark's jar directory, into .bench_build/classes-<source digest>.

    python3 perfbench/build.py        # prints the classpath

No sbt: the benchmark JVM then starts from this prebuilt classpath, so
set-up time measures the program and not the build tool. A build is
reused while no source file changes.
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the sbt build's
    `unmanagedBase`. It also holds the Scala compiler."""
    if "SPARK_HOME" in os.environ:
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("build: set SPARK_HOME (no unmanagedBase in "
                             "build.sbt)")
        d = m.group(1)
    if not glob.glob(os.path.join(d, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler in {d}")
    return d


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench/src/**/*.scala"),
                             recursive=True))
    if not main:
        raise SystemExit("build: no program sources under src/main/scala")
    return main + bench


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; return (classpath, source digest)."""
    files = sources()
    key = digest(files)
    jars = spark_jars()
    out = os.path.join(BUILD, f"classes-{key[:16]}")
    cp = f"{out}{os.pathsep}{jars}/*"
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, ".complete")):
            return cp, key
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        r = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*",
             "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
             "-classpath", f"{jars}/*"] + files,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("build: scalac failed")
        open(os.path.join(tmp, ".complete"), "w").close()
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            if old != tmp:
                shutil.rmtree(old, ignore_errors=True)
        os.rename(tmp, out)
    return cp, key


if __name__ == "__main__":
    print(build()[0])
