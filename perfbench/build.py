"""Builds graft's main sources plus the benchmark driver with scalac.

The Scala 2.13 compiler and every runtime dependency ship in Spark's own
jar directory (`$SPARK_HOME/jars`), so no build tool or network is
needed. Classes go to `<build>/classes`; a stamp over the source
contents skips the compile when nothing changed.

    python3 perfbench/build.py            # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD = ".bench_build"
BENCH_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "src")
GRAFT_SRC = os.path.join("src", "main", "scala")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("perfbench: SPARK_HOME must point at a Spark 4 install (jars/)")
    return os.path.join(home, "jars")


def sources():
    files = sorted(glob.glob(os.path.join(GRAFT_SRC, "**", "*.scala"), recursive=True))
    if not files:
        sys.exit(f"perfbench: no graft sources under {GRAFT_SRC}; "
                 "run from the repository root")
    return files + sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"),
                                    recursive=True))


def classpath():
    return os.path.join(BUILD, "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    """Compiles if needed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "classes.stamp")
    out = os.path.join(BUILD, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classpath()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = os.pathsep.join(p for m in ("compiler", "library", "reflect")
                               for p in glob.glob(os.path.join(jars, f"scala-{m}-2.13.*.jar")))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.abspath(BUILD)}", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", os.path.join(jars, "*")] + srcs
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        sys.exit("perfbench: compile failed")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classpath()


if __name__ == "__main__":
    print(build())
