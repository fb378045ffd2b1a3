"""Build file of the benchmark: compiles graft (src/main/scala) together with
the benchmark harness (perfbench/harness/src) with the Scala compiler that
ships in Spark's jar directory (build.sbt's `unmanagedBase`, or
$SPARK_HOME/jars). Output goes to
localdata/perfbench/build/<source hash>/classes, so an unchanged tree is
compiled once.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, "localdata", "perfbench", "build")


def classpath():
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("build.sbt names no unmanagedBase jar directory")
    return os.path.join(m.group(1), "*")


def sources():
    files = []
    for d in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "harness", "src")):
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(log=sys.stderr):
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src") + os.sep) for s in srcs):
        raise RuntimeError("no graft sources under src/main/scala: run from a full checkout")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD_DIR, h.hexdigest()[:16], "classes")
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"[perfbench] compiling {len(srcs)} Scala files", file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", classpath()] + srcs
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=900)
    if r.returncode != 0:
        raise RuntimeError(f"scalac failed with exit code {r.returncode}")
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
