#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the program's main sources
(`src/main/scala`) together with the benchmark's own Scala sources
(`perfbench/src`) with the Scala compiler that ships among Spark's jars.
No sbt: the timed JVM is started straight from the class directory.

    python3 perfbench/build.py          # from the repository root

Output goes to `.bench_build/perfbench/classes`; a stamp of the sources'
content skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
SCALA = "2.13.17"


def spark_jars():
    """The Spark jars the program builds against: build.sbt's unmanagedBase,
    else $SPARK_HOME/jars."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    if "SPARK_HOME" not in os.environ:
        raise SystemExit("perfbench: no Spark jars (build.sbt unmanagedBase or SPARK_HOME)")
    return os.path.join(os.environ["SPARK_HOME"], "jars")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"perfbench: no program sources at {main}")
    found = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    return found + sorted(glob.glob(os.path.join(BENCH, "src", "*.scala")))


def classpath():
    """Runtime classpath: compiled classes, the program's resources, Spark."""
    return os.pathsep.join([CLASSES, os.path.join(ROOT, "src", "main", "resources"),
                            os.path.join(spark_jars(), "*")])


def build():
    """Compile unless the stamp matches; returns the sources' digest."""
    srcs = sources()
    digest = hashlib.sha256(SCALA.encode())
    for path in srcs:
        digest.update(path.encode())
        with open(path, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return digest.hexdigest()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    jars = spark_jars()
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{j}-{SCALA}.jar")
                               for j in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={OUT}", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", os.path.join(jars, "*")]
    subprocess.run(cmd + srcs, check=True, stdout=sys.stderr)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return digest.hexdigest()


if __name__ == "__main__":
    build()
