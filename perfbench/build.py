#!/usr/bin/env python3
"""Build file of the benchmark harness.

Compiles graft's main sources (src/main/scala) and the harness
(perfbench/src) with the Scala compiler that ships in the Spark
distribution, into .bench_build/ of the checkout. A build is skipped when a
stamp of the sources matches the last one. Run directly to build only:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_home():
    """SPARK_HOME, or else the first spark-submit on PATH whose distribution
    ships the Scala compiler jar."""
    candidates = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            candidates.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in candidates:
        if home and glob.glob(os.path.join(home, "jars", f"scala-compiler-{SCALA_VERSION}.jar")):
            return home
    raise SystemExit("build: no Spark distribution with scala-compiler "
                     f"{SCALA_VERSION}; set SPARK_HOME")


SCALA_VERSION = "2.13.17"
SPARK_HOME = spark_home()


def spark_jars():
    jars = sorted(glob.glob(os.path.join(SPARK_HOME, "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"build: no Spark jars under {SPARK_HOME}/jars")
    return jars


def sources(root):
    found = sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))
    if not found:
        raise SystemExit(f"build: no Scala sources under {root}")
    return found


def stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(srcs, classpath, dest):
    comp = [os.path.join(SPARK_HOME, "jars", f"scala-{m}-{SCALA_VERSION}.jar")
            for m in ("compiler", "library", "reflect")]
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(comp),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.pathsep.join(classpath)] + srcs
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=850)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(res.stdout[-8000:])
        raise SystemExit(f"build: scalac failed for {dest}")
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)


def build_one(name, src_root, classpath, resources=None, depends=""):
    """Compile one package if its stamp changed; returns (dir, stamp)."""
    srcs = sources(src_root)
    dest = os.path.join(OUT, name)
    st = stamp(srcs, "|".join([SCALA_VERSION, depends] + classpath))
    stamp_file = dest + ".stamp"
    if os.path.isdir(dest) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == st:
                return dest, st
    print(f"[build] compiling {len(srcs)} files into {os.path.relpath(dest, ROOT)}",
          file=sys.stderr, flush=True)
    scalac(srcs, classpath, dest)
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, dest, dirs_exist_ok=True)
    with open(stamp_file, "w") as fh:
        fh.write(st)
    return dest, st


def build():
    """Build graft, then the harness against it; returns the run classpath."""
    src = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(src, "scala")):
        raise SystemExit("build: graft sources (src/main/scala) not found")
    os.makedirs(OUT, exist_ok=True)
    jars = spark_jars()
    graft, graft_stamp = build_one("graft-classes", os.path.join(src, "scala"), jars,
                                   resources=os.path.join(src, "resources"))
    # a graft change rebuilds the harness too
    harness, _ = build_one("harness-classes", os.path.join(HERE, "src"),
                           [graft] + jars, depends=graft_stamp)
    return [harness, graft] + jars


if __name__ == "__main__":
    build()
