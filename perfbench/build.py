#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (src/main/scala) and
the harness (perfbench/src) into .bench_build/classes-<source hash>.jar.

Uses the Scala compiler that ships with the Spark distribution named by
SPARK_HOME, so it needs no build tool and no network. A build whose source
hash matches an existing output is skipped.

    python3 perfbench/build.py        # prints the jar
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise SystemExit("perfbench: SPARK_HOME must name a Spark distribution")
    return jars


def sources():
    lib = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                        "*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src",
                                            "*.scala")))
    if not lib:
        raise SystemExit("perfbench: no library sources under src/main/scala")
    return lib + harness


def source_hash(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Return (jar, source hash), compiling if needed."""
    files = sources()
    digest = source_hash(files)
    out = os.path.join(BUILD, "classes-" + digest[:16] + ".jar")
    if os.path.exists(out):
        return out, digest
    jars = spark_jars()
    compiler = [glob.glob(os.path.join(jars, p))
                for p in ("scala-compiler-*.jar", "scala-library-*.jar",
                          "scala-reflect-*.jar")]
    if not all(compiler):
        raise SystemExit("perfbench: the Scala compiler jars are missing "
                         "from SPARK_HOME/jars")
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if os.path.isdir(old):
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.remove(old)
    tmp = out + ".d"
    os.makedirs(tmp)
    # -XX:-UsePerfData: no JVM files outside the checkout
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + BUILD, "-cp",
           os.pathsep.join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", tmp] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode == 0:
        # a jar, not a directory: the class-data-sharing archive run.py
        # keeps beside it only accepts jars on the class path
        r = subprocess.run(["jar", "-J-XX:-UsePerfData", "cf", out + ".tmp",
                            "-C", tmp, "."],
                           stdout=sys.stderr, stderr=sys.stderr)
    shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0:
        raise SystemExit("perfbench: build failed")
    os.rename(out + ".tmp", out)
    return out, digest


if __name__ == "__main__":
    print(build()[0])
