#!/usr/bin/env python3
"""Builds the benchmark package: compiles the program (`src/main/scala`)
and the benchmark JVM (`perfbench/src`) into `.bench_build/classes` with the
Scala compiler in Spark's jars, each only when its sources changed.

    python3 perfbench/build.py      # prints the JVM classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_scala(srcs, out, jar_dir, classpath, stamp):
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = [glob.glob(os.path.join(jar_dir, f"scala-{n}-2.13*.jar"))[0]
                for n in ("compiler", "library", "reflect")]
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath] + srcs
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail(f"compiling {os.path.relpath(out, ROOT)} failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def spark_jars():
    """The Spark jar directory the build uses: `SPARK_HOME/jars`, else
    build.sbt's `unmanagedBase`."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
    except (OSError, AttributeError):
        fail("no SPARK_HOME and no unmanagedBase in build.sbt")


def build():
    """Compiles the program and the benchmark when their sources changed;
    returns the JVM classpath."""
    program = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not program:
        fail("no program sources under src/main/scala")
    jar_dir = spark_jars()
    jars = sorted(glob.glob(os.path.join(jar_dir, "*.jar")))
    if not jars:
        fail(f"no Spark jars under {jar_dir}")
    spark_cp = ":".join(jars)
    prog_out = os.path.join(BUILD, "classes", "program")
    bench_out = os.path.join(BUILD, "classes", "bench")
    prog_stamp = digest(program, spark_cp)
    compile_scala(program, prog_out, jar_dir, spark_cp, prog_stamp)
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    compile_scala(bench, bench_out, jar_dir, prog_out + ":" + spark_cp, digest(bench, prog_stamp))
    return ":".join([prog_out, bench_out, os.path.join(jar_dir, "*")])


if __name__ == "__main__":
    print(build())
