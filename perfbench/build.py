"""Build file of the benchmark: compiles the server (src/main/scala) and
the benchmark's own Scala (perfbench/scala) against the Spark jars the
repo builds with, using the Scala compiler that ships among them, then
dumps the oracle SQL.

Output goes to .bench_build/classes-<hash of every source>; an unchanged
tree reuses the previous build. Nothing is written outside the checkout.

Usage: python3 perfbench/build.py   (prints the classes directory)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala")]


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against
    (its `unmanagedBase`), so the benchmark builds as the repo does."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        sbt = os.path.join(ROOT, "build.sbt")
        m = os.path.exists(sbt) and re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                                              open(sbt).read())
        if not m:
            raise SystemExit("perfbench: set SPARK_HOME or unmanagedBase in build.sbt")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit("perfbench: no Spark jars under %s (set SPARK_HOME)" % jars)
    return jars


def sources():
    out = []
    for d in SOURCE_DIRS:
        out += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    if not any(p.startswith(SOURCE_DIRS[0]) for p in out):
        raise SystemExit("perfbench: no server sources under %s" % SOURCE_DIRS[0])
    return sorted(out)


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, "_complete")):
        return classes
    tmp = classes + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(), "*")
    print("perfbench: compiling %d sources" % len(srcs), file=log, flush=True)
    # an explicit -classpath: scalac's default (".") would turn
    # directories of the working directory into packages
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
                    "scala.tools.nsc.Main",
                    "-classpath", jars, "-nowarn", "-d", tmp, "@" + argfile],
                   check=True, stdout=log, stderr=log)
    os.remove(argfile)
    subprocess.run(["java", "-XX:-UsePerfData", "-cp", tmp + os.pathsep + jars, "perfbench.DumpSql",
                    os.path.join(tmp, "oracle_sql.json")], check=True, stdout=log, stderr=log)
    open(os.path.join(tmp, "_complete"), "w").close()
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


if __name__ == "__main__":
    print(build())
