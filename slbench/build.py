"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (slbench/src) with the Scala compiler that ships in the
Spark distribution, into .bench_build/classes/<hash of the sources>/.
A build whose sources are unchanged is reused.

    python3 slbench/build.py        # prints the classes directory
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = "/opt/spark/jars"
SCALAC_OPTS = ["-nowarn", "-usejavacp"]
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "slbench/src/**/*.scala"), recursive=True))
    if not main:
        raise RuntimeError("no program sources under src/main/scala")
    if not bench:
        raise RuntimeError("no benchmark sources under slbench/src")
    return main + bench


def classpath(classes):
    return os.path.join(SPARK_JARS, "*") + os.pathsep + classes


def build(log=sys.stderr):
    """Compiles if needed; returns the classes directory."""
    srcs = sources()
    h = hashlib.sha256(" ".join(SCALAC_OPTS).encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(OUT, "classes", h.hexdigest()[:16])
    done = os.path.join(classes, ".done")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(done):
            return classes
        shutil.rmtree(os.path.join(OUT, "classes"), ignore_errors=True)
        os.makedirs(classes)
        print(f"[slbench] compiling {len(srcs)} sources", file=log, flush=True)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
               "-Djava.io.tmpdir=" + OUT,
               "-cp", os.path.join(SPARK_JARS, "*"),
               "scala.tools.nsc.Main", *SCALAC_OPTS, "-d", classes, *srcs]
        r = subprocess.run(cmd, stdout=log, stderr=log)
        if r.returncode != 0:
            raise RuntimeError(f"scalac failed with code {r.returncode}")
        open(done, "w").close()
    return classes


if __name__ == "__main__":
    print(build())
