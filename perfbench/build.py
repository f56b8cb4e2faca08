"""Builds the program and the benchmark client from source.

Compiles every Scala file under src/main/scala together with
perfbench/jvm with the Scala compiler that ships in Spark's jars, and
copies src/main/resources next to the classes (the `cellstore` data source
is registered there). The output goes to .bench_build/classes and is
reused while the sources are unchanged.

    python3 perfbench/build.py        # from the root of a checkout
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "jvm")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
COMPILE_TIMEOUT_S = 800


def spark_jars():
    """The jars of the Spark installation in SPARK_HOME, else of the first
    spark-submit on PATH that sits in a Spark distribution."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return os.path.join(home, "jars")
    raise RuntimeError("Spark jars not found; set SPARK_HOME")


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise RuntimeError(f"missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    if not found:
        raise RuntimeError("no Scala sources found")
    return sorted(found)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    """Compiles when the sources changed since the last build; returns the
    classpath to run the client with."""
    files = sources()
    stamp = os.path.join(BUILD, "classes.stamp")
    want = fingerprint(files)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-cp", jars, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          timeout=COMPILE_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        raise RuntimeError("compilation failed")
    if os.path.isdir(RESOURCES):
        shutil.copytree(RESOURCES, CLASSES, dirs_exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(want)
    return classpath()


if __name__ == "__main__":
    print(build())
