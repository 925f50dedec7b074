"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark's JVM side (`perfbench/src`) with the Scala compiler that
ships in Spark's jars directory, into `$CARGO_TARGET_DIR/classes`
(default `.bench_build/classes` in the checkout).

    python3 perfbench/build.py

A stamp of the sources' digest skips the compile when nothing changed.
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        sys.exit("perfbench: no engine sources under src/main/scala")
    return engine + sorted(glob.glob(os.path.join(HERE, "src/*.scala")))


def build():
    """Compile if needed; returns the classpath to run with."""
    jars = spark_jars()
    out = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    out = os.path.abspath(out)
    os.makedirs(out, exist_ok=True)
    classes = os.path.join(out, "classes")
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    stamp = os.path.join(out, "classes.stamp")
    with open(os.path.join(out, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (os.path.exists(stamp) and open(stamp).read() == digest):
            shutil.rmtree(classes, ignore_errors=True)
            os.makedirs(classes)
            compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{n}-2.13.*.jar"))[0]
                                for n in ("compiler", "library", "reflect"))
            cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
                   "-usejavacp:false", "-nowarn", "-d", classes,
                   "-cp", os.path.join(jars, "*")] + srcs
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
            if r.returncode != 0:
                sys.stderr.write(r.stdout[-4000:])
                sys.exit("perfbench: compile failed")
            with open(stamp, "w") as f:
                f.write(digest)
    return classes + ":" + os.path.join(jars, "*")


if __name__ == "__main__":
    print(build())
