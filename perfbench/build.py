#!/usr/bin/env python3
"""Build the program and the benchmark harness from source.

Compiles every Scala file under src/main/scala together with the harness
under perfbench/scala into one class directory, with the Scala compiler
that ships among Spark's jars ($SPARK_HOME/jars). The output lands in
.bench_build/classes-<hash of the sources>, so a later run over the same
sources reuses it. Run directly to build without running anything.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else ""
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("SPARK_HOME must point at a Spark install with its jars")
    return os.path.join(jars, "*")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise BuildError("program sources not found at src/main/scala")
    files = sorted(glob.glob(os.path.join(prog, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def build(log=sys.stderr):
    """Return the class directory for the current sources, compiling if needed."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    out = os.path.join(BUILD_DIR, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    # only one build is kept: older outputs and interrupted builds go first
    for old in glob.glob(os.path.join(BUILD_DIR, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join('"%s"' % f for f in files))
    print("perfbench: compiling %d sources" % len(files), file=log, flush=True)
    rc = subprocess.call(
        [java(), "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile],
        stdout=log, stderr=log)
    os.remove(argfile)
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed (exit %d)" % rc)
    open(os.path.join(tmp, ".ok"), "w").close()
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
