#!/usr/bin/env python3
"""Build the benchmark from source: compile graft (src/main/scala) and the
harness (graftbench/src) with the Scala compiler that ships among Spark's
jars, pack the classes into one jar, then run every workload once on tiny
inputs to record a class-data-sharing archive that later runs start from.

Output goes to .graftbench/build under the checkout root. A stamp holding
the hash of every source file skips the build when nothing changed.
Usage: python3 graftbench/build.py   (prints the jar path)
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".graftbench")
BUILD = os.path.join(WORK, "build")


class BuildError(Exception):
    pass


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        raise BuildError("no Spark jars under $SPARK_HOME/jars; set SPARK_HOME")
    return jars


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    found = {}
    for r in roots:
        files = []
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
        if not files:
            raise BuildError(f"no Scala sources under {os.path.relpath(r, ROOT)}")
        found[r] = sorted(files)
    return [f for r in roots for f in found[r]]


JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java(tmp, *flags):
    """A java command line that keeps the JVM's files under `tmp`, with the
    module openings Spark needs outside spark-submit."""
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", *opens, *flags]


def classpath(jar):
    return f"{jar}{os.pathsep}{os.path.join(spark_jars(), '*')}"


JAR = os.path.join(BUILD, "graftbench.jar")
CDS = os.path.join(BUILD, "classes.jsa")


def build():
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return JAR

    shutil.rmtree(BUILD, ignore_errors=True)
    classes = os.path.join(BUILD, "classes")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(classes)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    r = subprocess.run(java(tmp, "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                            "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes,
                            "@" + argfile),
                       cwd=BUILD, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, names in os.walk(classes):
            for n in sorted(names):
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    shutil.rmtree(classes)

    # A failed training run only costs the archive; the real run reports
    # whatever is wrong.
    train = os.path.join(BUILD, "train")
    os.makedirs(train)
    with open(os.path.join(BUILD, "train.log"), "w") as log:
        subprocess.run(java(tmp, f"-XX:ArchiveClassesAtExit={CDS}", "-Xmx2g",
                            "-cp", classpath(JAR), "graftbench.Main", "train", train),
                       cwd=train, stdout=log, stderr=subprocess.STDOUT,
                       env=dict(os.environ, SPARK_LOCAL_DIRS=train), timeout=600)
    shutil.rmtree(train, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return JAR


def java_run(tmp, *flags):
    """`java` for a benchmark run: the build's archive, when there is one."""
    cds = [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []
    return java(tmp, *cds, *flags)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"graftbench build: {e}", file=sys.stderr)
        sys.exit(2)
