"""Compile the program (src/main/scala) and the benchmark into .bench_build.

The program's own build needs sbt; the benchmark compiles both source trees
with the Scala compiler that ships in Spark's jar directory instead, so a
build needs nothing beyond a JDK and a Spark distribution (SPARK_HOME, or
spark-submit on PATH). The build is skipped when no source file changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")

# Spark on JDK 17 needs these when a session starts outside spark-submit.
JDK_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    program = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(program):
        sys.exit("perfbench: program sources src/main/scala not found")
    files = []
    for tree in (program, os.path.join(HERE, "src", "main", "scala")):
        for d, _, names in os.walk(tree):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    compiler = [os.path.join(jars, "scala-%s.jar" % part)
                for part in ("compiler-2.13.*", "library-2.13.*", "reflect-2.13.*")]
    compiler = [sorted(glob.glob(p))[-1] for p in compiler]
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp:false",
           "-classpath", os.path.join(jars, "*"), "-d", CLASSES, "@" + args_file]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("perfbench: compilation failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


if __name__ == "__main__":
    build()
