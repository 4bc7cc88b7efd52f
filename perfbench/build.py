#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own Scala sources (perfbench/src) with the Scala compiler
that ships in Spark's jar directory ($SPARK_HOME/jars), into
.bench_build/perfbench/classes.

The build is skipped when the sources are unchanged since the last one.

Usage: python3 perfbench/build.py
"""
import glob, hashlib, os, shutil, subprocess, sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else that of the first
    spark-submit on PATH whose install ships the Scala 2.13 compiler."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else []
    for d in os.get_exec_path():
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for h in homes:
        if glob.glob(os.path.join(h, "jars", "scala-compiler-2.13.*.jar")):
            return os.path.join(h, "jars")
    sys.exit("perfbench: no Spark install with Scala 2.13 jars; set SPARK_HOME")


SPARK_JARS = spark_jars()


def sources():
    prog = glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                     recursive=True)
    bench = glob.glob(os.path.join(HERE, "src", "*.scala"))
    return sorted(prog) + sorted(bench)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scala_jar(name):
    jars = glob.glob(os.path.join(SPARK_JARS, f"{name}-2.13.*.jar"))
    if not jars:
        sys.exit(f"perfbench: no {name} jar in {SPARK_JARS}")
    return jars[0]


def build():
    """Compile if needed; return the runtime classpath."""
    files = sources()
    if not any("/src/main/scala/" in f for f in files):
        sys.exit("perfbench: program sources (src/main/scala) not found")
    cp = f"{CLASSES}{os.pathsep}{os.path.join(SPARK_JARS, '*')}"
    stamp = os.path.join(OUT, "stamp")
    want = digest(files)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return cp
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    compiler = os.pathsep.join(scala_jar(n) for n in
                               ("scala-compiler", "scala-library", "scala-reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(SPARK_JARS, "*"),
           "-d", CLASSES] + files
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: compile failed ({r.returncode})")
    with open(stamp, "w") as fh:
        fh.write(want)
    return cp


if __name__ == "__main__":
    print(build())
