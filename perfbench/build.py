#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's main sources
(`src/main/scala` at the repository root) together with the benchmark's own
Scala sources (`perfbench/src`) into `perfbench/.build/classes`, and copies
the program's resources (`src/main/resources`, e.g. the data source
service registration) next to them.

It calls the Scala compiler that ships with the Spark distribution directly
(no sbt, no dependency resolution), so a build needs only a JDK and the
Spark jars. A content hash of every source skips the compile when nothing
changed since the last build.

    python3 perfbench/build.py          # build (or reuse) the classes
    python3 perfbench/build.py --force  # always recompile
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "sources.sha256")
SCALA_VERSION = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of the Spark distribution's jars: $SPARK_HOME/jars, else
    the `jars` directory beside the first `spark-submit` on PATH that has
    this Scala version's compiler."""
    compiler = "scala-compiler-%s.jar" % SCALA_VERSION
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if os.path.isfile(os.path.join(jars, compiler)):
            return jars
    raise BuildError("no Spark distribution with %s found (set SPARK_HOME)" % compiler)


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError("program sources not found at %s" % main)
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not files:
        raise BuildError("no Scala sources to compile")
    return files


def resources():
    res = os.path.join(ROOT, "src", "main", "resources")
    return res, sorted(f for f in glob.glob(os.path.join(res, "**", "*"), recursive=True)
                       if os.path.isfile(f))


def digest(files):
    h = hashlib.sha256(SCALA_VERSION.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(force=False, log=sys.stderr):
    """Compile if needed; returns the classpath entry of the built classes."""
    jars = spark_jars()
    files = sources()
    res_root, res_files = resources()
    want = digest(files + res_files)
    if not force and os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return CLASSES
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler_cp = os.pathsep.join(
        os.path.join(jars, "scala-%s-%s.jar" % (n, SCALA_VERSION))
        for n in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler_cp,
           "scala.tools.nsc.Main", "-usejavacp:false", "-nowarn",
           "-classpath", os.path.join(jars, "*"), "-d", tmp] + files
    t0 = time.time()
    print("perfbench: compiling %d sources" % len(files), file=log)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    for f in res_files:
        dst = os.path.join(tmp, os.path.relpath(f, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.replace(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    print("perfbench: compiled in %.1f s" % (time.time() - t0), file=log)
    return CLASSES


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--force", action="store_true")
    args = ap.parse_args()
    try:
        print(build(force=args.force))
    except BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        sys.exit(2)


if __name__ == "__main__":
    main()
