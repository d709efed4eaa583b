"""Build file of the benchmark package: compiles the program's sources
(src/main/scala of the checkout) together with the benchmark's own
(perfbench/src) into perfbench/.build/classes, with the Scala compiler that
ships in Spark's jars directory. Rebuilds only when a source changes.

    python3 perfbench/build.py
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
STAMP = os.path.join(BUILD, "sources.sha256")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("build: no Spark jars found; set SPARK_HOME")
    return jars


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not program:
        raise SystemExit("build: the program's sources (src/main/scala) are not in this checkout")
    return program + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def build():
    """Returns (classpath, whether a compile ran)."""
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    classpath = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath, False
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(CLASSES)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-cp", os.path.join(jars, "*")] + files
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if res.returncode != 0:
        raise SystemExit("build: compile failed")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return classpath, True


if __name__ == "__main__":
    print(build()[0])
