#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's sources
(src/main/scala) together with the benchmark's JVM side (perfbench/src)
into perfbench/.build/classes with the Scala compiler that ships among
Spark's jars.

The build is skipped when a stamp over every source file matches the
last build, so only the first run in a checkout pays for it.

    python3 perfbench/build.py        # prints the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("build: neither SPARK_HOME nor spark-submit found")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"build: no jar directory at {jars}")
    return jars


def scala_files():
    files = []
    for src in SOURCES:
        for d, _, names in os.walk(src):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    if not any(f.startswith(SOURCES[0]) for f in files):
        raise SystemExit("build: no program sources under src/main/scala")
    return sorted(files)


def build():
    """Compile if needed; return the run classpath."""
    jars = spark_jars()
    files = scala_files()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    cp = f"{classes}{os.pathsep}{jars}/*"
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return cp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-cp", f"{jars}/*", "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac exited {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


if __name__ == "__main__":
    print(build())
