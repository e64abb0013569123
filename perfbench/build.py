#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own sources (perfbench/src) with the Scala compiler that ships
in the Spark distribution's jars (see spark_jars).

Classes land in .bench_build/classes-<source hash> at the checkout root, so
an unchanged tree is not rebuilt. Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spark_jars(root=ROOT):
    """$SPARK_HOME/jars, else the jar directory the sbt build declares."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise RuntimeError("set SPARK_HOME to the Spark distribution")
    return m.group(1)


def sources(root=ROOT):
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    return engine, bench


def build(root=ROOT):
    """Returns the classes directory, compiling first when it is missing."""
    engine, bench = sources(root)
    if not engine:
        raise RuntimeError("no engine sources under src/main/scala")
    digest = hashlib.sha256()
    for path in engine + bench:
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    out = os.path.join(root, ".bench_build", "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(spark_jars(), "*")
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
                    "-nowarn", "-d", tmp, "-classpath", jars] + engine + bench,
                   check=True, stdout=sys.stderr)
    open(os.path.join(tmp, ".ok"), "w").close()
    for old in glob.glob(os.path.join(root, ".bench_build", "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
