#!/usr/bin/env python3
"""Build file of the benchmark's JVM side.

Compiles the program (`src/main/scala`) together with the benchmark's own
Scala sources (`jhubench/scala`) using the Scala compiler that ships in the
Spark distribution's `jars/` directory: the one build.sbt builds against
(`unmanagedBase`), or `$SPARK_HOME/jars`. Output goes to
`.bench_build/jhubench/classes-<digest>` in the checkout and is reused while
no source changes.

Usage: python3 jhubench/build.py        (prints the classes directory)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "jhubench")


class BuildError(Exception):
    pass


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory build.sbt names as `unmanagedBase`."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        if not m:
            raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler in {jars}")
    return jars


def sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(program, "graft")):
        raise BuildError(f"program sources not found under {program}")
    own = os.path.join(ROOT, "jhubench", "scala")
    return sorted(glob.glob(os.path.join(program, "**", "*.scala"), recursive=True)) + \
        sorted(glob.glob(os.path.join(own, "*.scala")))


def build():
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(classes, ".done")):
        return classes
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(BUILD, f"building-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    os.remove(argfile)
    open(os.path.join(tmp, ".done"), "w").close()
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
