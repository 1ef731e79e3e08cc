"""Compiles the program and the harness from source, once per source tree.

The classes land in <CARGO_TARGET_DIR or .bench_build>/perfbench/classes-<hash>,
where the hash covers every compiled source file, so a checkout builds on
its first run and reuses the classes after that.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
MAIN_SRC = os.path.join("src", "main", "scala")
MAIN_RESOURCES = os.path.join("src", "main", "resources")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the first Spark
    distribution whose spark-submit is on PATH. They include the Scala
    compiler Spark was built with, which compiles the sources here."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars")
    raise BuildError("no Spark distribution: set SPARK_HOME")


class BuildError(Exception):
    pass


def target_dir(root):
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, MAIN_SRC, "**", "*.scala"), recursive=True))
    if not any(p.endswith(os.path.join("graft", "index", "HnswSpark.scala")) for p in main):
        raise BuildError(f"no program sources under {os.path.join(root, MAIN_SRC)}")
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return main + own


def classpath(root, classes):
    cp = [classes]
    if os.path.isdir(os.path.join(root, MAIN_RESOURCES)):
        cp.append(os.path.join(root, MAIN_RESOURCES))
    return os.pathsep.join(cp + [os.path.join(spark_jars(), "*")])


def build(root):
    """Returns the classes directory, compiling if this tree has none yet."""
    srcs = sources(root)
    jars = os.path.join(spark_jars(), "*")
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(target_dir(root), "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", jars, "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-cp", jars] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=800)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + res.stdout.decode(errors="replace")[-4000:])
    try:
        os.replace(tmp, out)
    except OSError:  # a concurrent run built the same tree first
        shutil.rmtree(tmp, ignore_errors=True)
    return out
