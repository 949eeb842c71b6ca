"""Build file of the benchmark: compiles graft's main sources together with
the benchmark's own Scala sources into one class directory.

    python3 perfbench/build.py        # from the repository root

The compiler is the Scala 2.13 compiler that ships in Spark's jar directory
($SPARK_HOME/jars, default /opt/spark/jars), so the build is offline, needs
no sbt and leaves the repository's build.sbt alone. Output goes to
.bench_build/classes; a digest of every source file is stamped next to it
and an unchanged tree is not compiled again.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
SOURCE_DIRS = ["src/main/scala", "perfbench/src"]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def sources():
    out = []
    for d in SOURCE_DIRS:
        base = os.path.join(ROOT, d)
        if not os.path.isdir(base):
            raise SystemExit(f"build: missing source directory {d} "
                             "(run from the root of a graft checkout)")
        for dirpath, _, files in os.walk(base):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files):
    h = hashlib.sha256(SPARK_JARS.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Runtime classpath: compiled classes, graft's resources, Spark's jars."""
    return os.pathsep.join([CLASSES, RESOURCES, os.path.join(SPARK_JARS, "*")])


def build(log=sys.stderr):
    files = sources()
    want = digest(files)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    os.makedirs(BUILD, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile]
    print(f"build: compiling {len(files)} Scala files", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want)


if __name__ == "__main__":
    build(sys.stdout)
