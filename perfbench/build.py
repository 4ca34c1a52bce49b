"""Build file of the benchmark package.

Compiles the project's main sources (`src/main/scala`) together with the
benchmark's own harness (`perfbench/src`) into one class directory with the
Scala compiler that ships in the Spark distribution, and copies the
project's resources beside the classes. A stamp over every input file skips
the compile when nothing changed.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the first
    distribution with a `bin/spark-submit` on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars", "*")
    raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("perfbench: no project sources under src/main/scala")
    return main + own


def build():
    """Compile if needed; return the runtime classpath."""
    classes = os.path.join(BUILD, "classes")
    srcs = sources()
    res_root = os.path.join(ROOT, "src/main/resources")
    res = sorted(p for p in glob.glob(os.path.join(res_root, "**/*"), recursive=True)
                 if os.path.isfile(p))
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    cp = classes + os.pathsep + spark_jars()
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", spark_jars(),
                    "scala.tools.nsc.Main",
                    "-classpath", spark_jars(), "-d", classes, "-nowarn", "@" + argfile],
                   check=True, stdout=sys.stderr)
    for p in res:
        dst = os.path.join(classes, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    print(build())
