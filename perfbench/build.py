"""Build file of the benchmark harness: compiles graft's main sources and
perfbench/harness together with the Scala compiler that ships in the
Spark distribution (no sbt, no network), into a class directory keyed by
a hash of every source file.

    python3 perfbench/build.py          # build if needed, print the dir
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt's
    unmanagedBase names."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        sys.exit("build: no Spark jars found (set SPARK_HOME)")
    return jars


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, base, "perfbench")


def sources():
    srcs = []
    for top in (os.path.join(ROOT, "src", "main", "scala"),
                os.path.join(HERE, "harness")):
        if not os.path.isdir(top):
            sys.exit(f"build: missing source directory {top}")
        for d, _, fs in os.walk(top):
            srcs += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(srcs)


def resources():
    return os.path.join(ROOT, "src", "main", "resources")


def classpath(classes):
    jars = spark_jars()
    return os.pathsep.join([classes, resources(), os.path.join(jars, "*")])


def ensure_built(log=sys.stderr):
    """Compile unless a build of exactly these sources exists; returns
    the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(build_dir(), "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "_BUILT")):
        return out
    jars = spark_jars()
    tool = [os.path.join(jars, f"scala-{p}-2.13.17.jar")
            for p in ("compiler", "library", "reflect")]
    if not all(os.path.exists(t) for t in tool):
        sys.exit(f"build: scala 2.13.17 compiler jars not found in {jars}")
    lib = os.pathsep.join(sorted(os.path.join(jars, j)
                                 for j in os.listdir(jars)
                                 if j.endswith(".jar")))
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"build: compiling {len(srcs)} sources into {out}", file=log)
    r = subprocess.run(
        ["java", "-Xmx3g", "-Xss8m", "-cp", os.pathsep.join(tool),
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", lib,
         *srcs],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-8000:], file=log)
        sys.exit("build: scalac failed")
    os.rename(tmp, out)
    open(os.path.join(out, "_BUILT"), "w").close()
    return out


if __name__ == "__main__":
    print(ensure_built())
