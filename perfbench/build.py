"""Build file of the benchmark: compiles the program (src/main/scala of the
checkout) together with the benchmark's JVM harness (perfbench/src) with the
Scala compiler that ships among the Spark jars the program builds against.

    python3 perfbench/build.py          # prints the classpath to run with

The Spark jar directory is the `unmanagedBase` of the repository's build.sbt
(or $SPARK_HOME/jars). Output goes to .bench_build/perfbench/classes and is
reused while the sources are unchanged.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars(root):
    try:
        with open(os.path.join(root, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    cands = ([m.group(1)] if m else []) + (
        [os.path.join(os.environ["SPARK_HOME"], "jars")] if "SPARK_HOME" in os.environ else [])
    for d in cands:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    raise BuildError("no Spark jar directory with a Scala compiler found "
                     "(build.sbt unmanagedBase or $SPARK_HOME/jars)")


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    return prog + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build(root):
    """Compiles if needed; returns the runtime classpath."""
    jars = spark_jars(root)
    srcs = sources(root)
    digest = hashlib.sha256(jars.encode())
    for f in srcs:
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    out = os.path.join(root, ".bench_build", "perfbench", "classes")
    stamp = os.path.join(out, ".stamp")
    cp = out + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.path.join(jars, "*")] + srcs
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=800)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return cp


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
