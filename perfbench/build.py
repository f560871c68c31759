"""Build file of the benchmark: compiles the engine's main sources and
the harness into one class directory with the Scala compiler that ships
in the Spark distribution, against that distribution's jars (the ones
the engine's own build uses): `$SPARK_HOME/jars`, or the distribution
whose `spark-submit` is on the PATH. Nothing is fetched and the engine's
`build.sbt` is not involved.

The build is skipped when a stamp of every source file's content matches
the last successful build.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise SystemExit(f"perfbench: no engine sources under {ROOT}/src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def classpath():
    """Runtime classpath: the compiled classes, then every Spark jar."""
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-deprecation:false",
           "-d", CLASSES, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    proc = subprocess.run(cmd, stdout=log, stderr=log)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: compilation failed ({proc.returncode})")
    with open(STAMP, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
