#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the loader's sources (`src/main/scala`, plus `src/main/resources`)
together with the harness under `perfbench/src` into
`perfbench/.build/classes`, using the Scala compiler that ships in the Spark
distribution's `jars/` directory. No dependency resolution and no network:
the classpath is exactly the Spark distribution.

A stamp over every source file's path and content skips the compile when
nothing changed. Run from the root of a checkout:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, ".build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_HOME/jars, else the
    directory of the `spark-submit` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        sys.exit("build: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH, "src/**/*.scala"), recursive=True))
    if not main:
        sys.exit("build: no program sources under src/main/scala")
    if not bench:
        sys.exit("build: no harness sources under perfbench/src")
    return main + bench


def resources():
    base = os.path.join(ROOT, "src/main/resources")
    return sorted(p for p in glob.glob(os.path.join(base, "**/*"), recursive=True)
                  if os.path.isfile(p)), base


def stamp_of(files, jars):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def build():
    """Compile if needed; return the runtime classpath string."""
    jars = spark_jars()
    srcs = sources()
    res, res_base = resources()
    stamp = stamp_of(srcs + res, jars)
    classpath = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    scala = [os.path.join(jars, f"scala-{m}-") for m in ("compiler", "library", "reflect")]
    tool_cp = []
    for prefix in scala:
        found = sorted(glob.glob(prefix + "*.jar"))
        if not found:
            sys.exit(f"build: {os.path.basename(prefix)}*.jar missing from {jars}")
        tool_cp.append(found[-1])
    lib_cp = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(tool_cp),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", lib_cp, "-d", CLASSES] + srcs
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit("build: scalac failed")
    for p in res:
        dst = os.path.join(CLASSES, os.path.relpath(p, res_base))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    print(build())
