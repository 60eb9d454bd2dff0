"""Build file of the benchmark: compiles the program's sources
(`src/main/scala` at the checkout root) together with the benchmark
harness (`perfbench/src`) with the Scala compiler that ships in Spark's
jar directory. Output goes to `perfbench/.build/`; a stamp of every
source's path, size and mtime skips the compile when nothing changed.

    python3 perfbench/build.py        # build, print the classpath
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")
SCALA = "2.13.17"


def spark_jars():
    """`$SPARK_HOME/jars`, else the jar directory the program's own build
    declares (`unmanagedBase := file(...)` in build.sbt)."""
    jars = None
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    elif os.path.exists(os.path.join(ROOT, "build.sbt")):
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m and m.group(1)
    if not jars or not os.path.isdir(jars):
        raise SystemExit("build: Spark jars not found (set SPARK_HOME)")
    return jars


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not prog:
        raise SystemExit("build: no program sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return prog + bench


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    srcs = sources()
    jars = spark_jars()
    stamp = hashlib.sha256("\n".join(
        f"{p}\t{os.path.getsize(p)}\t{os.path.getmtime(p)}" for p in srcs).encode()).hexdigest()
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath()
    os.makedirs(OUT, exist_ok=True)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES)
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{m}-{SCALA}.jar")
                               for m in ("compiler", "library", "reflect"))
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath()


if __name__ == "__main__":
    print(build())
