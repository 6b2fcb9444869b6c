#!/usr/bin/env python3
"""Build file of the benchmark: compiles the indexer's sources
(`src/main/scala`) and the benchmark's own (`indexbench/src`) with scalac
into `.bench_build/classes`, against the Spark distribution's jars
(`$SPARK_HOME/jars`, or the `jars` beside the `spark-submit` on `PATH`),
which also carry the Scala 2.13 compiler.

The build is skipped when the sources, jars and flags hash to the stamp
of the previous build. Run it from the repository root:

    python3 indexbench/build.py
"""
import hashlib
import os
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
BUILD = REPO / ".bench_build"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.stamp"

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def spark_jars():
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else []
    homes += [Path(d).parent for d in os.environ.get("PATH", "").split(os.pathsep)
              if (Path(d) / "spark-submit").exists()]
    for home in homes:
        found = sorted((home / "jars").glob("*.jar"))
        if found:
            return found
    raise SystemExit("build: no Spark jars; set SPARK_HOME or put spark-submit on PATH")


def sources():
    srcs = sorted((REPO / "src" / "main" / "scala").rglob("*.scala"))
    own = sorted((BENCH / "src").rglob("*.scala"))
    if not srcs:
        raise SystemExit("build: the indexer sources (src/main/scala) are missing")
    return srcs + own


def classpath():
    return [str(CLASSES)] + [str(j) for j in spark_jars()]


def java_opens():
    return [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK17_OPENS]


def build():
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(REPO)).encode())
        h.update(p.read_bytes())
    for j in jars:
        h.update(j.name.encode())
    stamp = h.hexdigest()
    if STAMP.exists() and STAMP.read_text() == stamp and CLASSES.exists():
        return
    compiler = [str(j) for j in jars if j.name.startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    tmp = BUILD / "classes.tmp"
    subprocess.run(["rm", "-rf", str(tmp)], check=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
           "-classpath", os.pathsep.join(str(j) for j in jars)] + [str(p) for p in srcs]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed ({r.returncode})")
    subprocess.run(["rm", "-rf", str(CLASSES)], check=True)
    tmp.rename(CLASSES)
    STAMP.write_text(stamp)


if __name__ == "__main__":
    build()
