"""Build file of the benchmark package: compiles the engine's sources
(src/main/scala) together with the benchmark harness (perfbench/src) with the
Scala compiler that ships in the Spark distribution, and packs the classes
with the engine's resources into .bench_build/perfbench/bench.jar under the
repository root (a jar, not a directory, so the JVM can archive its classes).

A stamp of the sources' hash skips the compile when nothing changed.
Run directly:  python3 perfbench/build.py
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
JAR = os.path.join(OUT, "bench.jar")


def _spark_home():
    """SPARK_HOME, else the first directory on PATH that is a Spark
    distribution's bin/ (spark-submit next to ../jars)."""
    candidates = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.abspath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in candidates:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("build: no Spark distribution (set SPARK_HOME)")


SPARK_JARS = os.path.join(_spark_home(), "jars", "*")


def sources():
    found = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    if not found:
        raise SystemExit("build: no engine sources under src/main/scala")
    resources = sorted(glob.glob(os.path.join(ROOT, "src", "main", "resources", "**", "*"),
                                 recursive=True))
    return (found + sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "*.scala"))),
            [r for r in resources if os.path.isfile(r)])


def classpath():
    """Runtime classpath: the benchmark jar, then Spark."""
    return os.pathsep.join([JAR, SPARK_JARS])


def build(log=sys.stderr):
    """Compiles and packs unless the stamp matches; returns True if it built."""
    srcs, resources = sources()
    h = hashlib.sha256()
    for s in srcs + resources:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return False
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(OUT, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", SPARK_JARS, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", SPARK_JARS, "@" + args_file]
    subprocess.run(cmd, check=True, stdout=log, stderr=log)
    subprocess.run(["jar", "cf", JAR, "-C", CLASSES, ".",
                    "-C", os.path.join(ROOT, "src", "main", "resources"), "."],
                   check=True, stdout=log, stderr=log)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return True


if __name__ == "__main__":
    build()
