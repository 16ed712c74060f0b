#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (``src/main/scala``)
and the benchmark's own Scala sources (``perfbench/scala``) with the
Scala compiler that ships inside the Spark distribution, so no sbt and no
dependency resolution is needed.

Output goes to ``.bench_build/`` at the root of the checkout, in a
directory named after a hash of every compiled source, so a second run on
the same tree reuses the classes.

    python3 perfbench/build.py          # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(ROOT, "perfbench", "scala")


class BuildError(RuntimeError):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else
    the one beside the ``spark-submit`` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java on PATH or under JAVA_HOME")
    return exe


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not out:
        raise BuildError(f"no Scala sources under {os.path.relpath(top, ROOT)}")
    return sorted(out)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_into(out_dir, files, classpath):
    """scalac ``files`` into ``out_dir``, atomically: classes land in a
    temporary sibling that is renamed once the compiler succeeds."""
    if os.path.isdir(out_dir):
        return
    os.makedirs(BUILD_DIR, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=BUILD_DIR, prefix=".compiling-")
    try:
        args_file = os.path.join(tmp, "sources.txt")
        with open(args_file, "w") as fh:
            fh.write("\n".join(files))
        classes = os.path.join(tmp, "classes")
        os.makedirs(classes)
        cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
               "-cp", os.path.join(spark_jars(), "*"),
               "scala.tools.nsc.Main", "-nowarn", "-d", classes,
               "-classpath", classpath, "@" + args_file]
        res = subprocess.run(cmd, stdout=subprocess.PIPE,
                             stderr=subprocess.STDOUT, text=True)
        if res.returncode != 0:
            raise BuildError("scalac failed:\n" + res.stdout[-4000:])
        try:
            os.rename(classes, out_dir)
        except OSError:
            if not os.path.isdir(out_dir):  # not a concurrent build's win
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def build():
    """Compile what is missing and return the runtime classpath."""
    jars = os.path.join(spark_jars(), "*")
    engine_files = sources(ENGINE_SRC)
    engine = os.path.join(BUILD_DIR, "engine-" + digest(engine_files))
    compile_into(engine, engine_files, jars)
    bench_files = sources(BENCH_SRC)
    bench = os.path.join(BUILD_DIR,
                         "bench-" + digest(bench_files, extra=engine))
    compile_into(bench, bench_files, os.pathsep.join([engine, jars]))
    return os.pathsep.join([bench, engine, jars])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(1)
