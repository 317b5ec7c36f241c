#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark (perfbench/src) from source with the Scala compiler that
ships among the Spark jars, into one class directory.

    python3 perfbench/build.py        # from the root of a checkout

The output lives under $CARGO_TARGET_DIR (default .bench_build) and is
reused while no source file changes.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of the Spark jars: $SPARK_HOME/jars, else found from
    spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark installation with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found (set JAVA_HOME)")
    return exe


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**",
                                           "*.scala"), recursive=True))
    if not engine:
        raise BuildError("no engine sources under src/main/scala: run from "
                         "the root of a full checkout")
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "*.scala")))
    return engine + bench


def build():
    """Compiles if any source changed; returns the class directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for jar in sorted(os.listdir(jars)):
        h.update(jar.encode())
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    fingerprint = h.hexdigest()
    out = os.path.join(build_dir(), "classes")
    stamp = os.path.join(out, "FINGERPRINT")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == fingerprint:
                return out
    tmp = out + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "tmp"))
    cp = os.path.join(jars, "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(tmp, "tmp"),
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-cp", cp] + srcs
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=840)
    if res.returncode != 0:
        raise BuildError("compilation failed:\n" + res.stdout[-4000:])
    shutil.rmtree(os.path.join(tmp, "tmp"))
    with open(os.path.join(tmp, "FINGERPRINT"), "w") as f:
        f.write(fingerprint + "\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except (BuildError, subprocess.TimeoutExpired) as e:
        sys.exit("build failed: %s" % e)
