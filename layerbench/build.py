#!/usr/bin/env python3
"""Build file of the layerbench package.

Compiles the program (src/main/scala) together with the benchmark's own
sources (layerbench/scala) with the Scala compiler that ships in Spark's
jar directory. Output goes to <build dir>/layerbench, where the build dir is
$CARGO_TARGET_DIR when set, else .bench_build, relative to the repo root.
A stamp of the sources' hash skips the build when nothing changed.

usage: python3 layerbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Fixed heap (-Xms = -Xmx): G1 resizing the heap during the first passes
# made successive warm passes drift.
HEAP = "4g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def spark_jars():
    # the Spark install build.sbt compiles against
    for base in (os.environ.get("SPARK_HOME"), "/opt/spark"):
        if base and glob.glob(os.path.join(base, "jars", "spark-sql_*.jar")):
            return os.path.join(base, "jars")
    raise SystemExit("layerbench: no Spark jars found (set SPARK_HOME)")


def fixture_dir():
    # the project's read-only sf0.1 fixtures (TESTDATA.md)
    sf = os.environ.get("LAYERBENCH_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.isfile(os.path.join(sf, "lineitem.parquet")):
        raise SystemExit(f"layerbench: fixture dir {sf} has no lineitem.parquet")
    return sf


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d, "layerbench")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise SystemExit("layerbench: no program sources under src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return prog + own


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_cmd(main_class, args, tmp):
    """The benchmark JVM's command line: fixed heap, the module opens Spark
    needs on JDK 17, temp files under `tmp`, no perf-data file in /tmp."""
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
            + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
            + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC",
               "-cp", os.path.join(build_dir(), "classes") + os.pathsep
               + os.path.join(spark_jars(), "*"),
               main_class] + list(args))


def build(log=sys.stderr):
    """Build if needed; return the source hash."""
    jars = spark_jars()
    files = sources()
    digest = source_hash(files)
    out = build_dir()
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read().strip() == digest:
        return digest
    classes = os.path.join(out, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss64m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", cp,
           "@" + argfile]
    print(f"layerbench: compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"layerbench: compile failed (exit {r.returncode})")
    with open(stamp, "w") as fh:
        fh.write(digest + "\n")
    return digest


if __name__ == "__main__":
    build()
