#!/usr/bin/env python3
"""Build the benchmark: compile the program's sources (src/main/scala)
together with the benchmark's own (perfbench/src) into one class
directory, with the Scala compiler that ships in Spark's jar directory.

    python3 perfbench/build.py          # builds if any source changed

The output goes to .bench_build/perfbench/classes under the checkout;
a stamp of the sources' contents makes a rebuild a no-op when nothing
changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the Spark whose spark-submit is
    on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise FileNotFoundError("set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return main, bench


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(" ".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if stale; return the classpath to run with."""
    main, bench = sources()
    if not main:
        raise FileNotFoundError("program sources not found under src/main/scala")
    jars = os.path.join(spark_jars(), "*")
    classpath = CLASSES + os.pathsep + jars
    want = stamp(main + bench)
    stamp_file = os.path.join(OUT, "classes.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return classpath
    os.makedirs(OUT, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", jars, "-d", tmp] + main + bench
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if proc.returncode != 0:
        log.write(proc.stdout.decode(errors="replace")[-8000:])
        raise RuntimeError("compilation failed")
    resources = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    log.write("perfbench: compiled %d sources in %.1fs\n" % (len(main) + len(bench), time.time() - t0))
    return classpath


def built_stamp():
    """The source stamp of the classes last built, or None."""
    try:
        with open(os.path.join(OUT, "classes.stamp")) as fh:
            return fh.read().strip() or None
    except OSError:
        return None


if __name__ == "__main__":
    try:
        build()
    except (FileNotFoundError, RuntimeError) as e:
        sys.stderr.write("perfbench build: %s\n" % e)
        sys.exit(1)
