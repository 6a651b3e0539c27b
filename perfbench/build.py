#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine and the benchmark.

The engine (src/main/scala + src/main/java of the checkout) and the
benchmark's own sources (perfbench/src) are compiled with the Scala and Java
compilers that ship with Spark and the JDK, into .bench_build/perfbench of
the checkout. A content stamp skips a build whose sources are unchanged.

    python3 perfbench/build.py        # build (or confirm up to date)

Spark is found through SPARK_HOME, else through spark-submit on PATH.
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise BuildError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise BuildError(f"no jars directory under SPARK_HOME={home}")
    return jars


def java_tool(name):
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", name)):
        return os.path.join(home, "bin", name)
    tool = shutil.which(name)
    if tool is None:
        raise BuildError(f"{name} not found: set JAVA_HOME or put it on PATH")
    return tool


def sources(top, exts):
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith(exts)]
    return sorted(found)


def stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_unit(name, scala_files, java_files, classpath, extra_stamp):
    """Compile one unit into OUT/<name>; returns its class directory."""
    dest = os.path.join(OUT, name)
    key = stamp(scala_files + java_files, extra_stamp + ":".join(classpath))
    stamp_file = dest + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return dest, key
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    cp = os.pathsep.join(classpath)
    args_file = dest + ".scalac-args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(["-classpath", cp, "-d", dest, "-nowarn",
                            "-encoding", "UTF-8"] + scala_files + java_files))
    # scalac reads the Java sources for their signatures only; javac then
    # compiles them against the Scala classes
    run([java_tool("java"), "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp",
         os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main", "@" + args_file])
    if java_files:
        run([java_tool("javac"), "-J-XX:-UsePerfData", "-nowarn", "-encoding", "UTF-8",
             "--add-modules", "jdk.incubator.vector",
             "-cp", dest + os.pathsep + cp, "-d", dest] + java_files)
    with open(stamp_file, "w") as fh:
        fh.write(key)
    return dest, key


def run(cmd):
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        raise BuildError(f"compile failed: {os.path.basename(cmd[0])} exit {proc.returncode}")


def build():
    """Build engine + benchmark; returns the runtime classpath."""
    engine_scala = sources(os.path.join(ROOT, "src", "main", "scala"), (".scala",))
    engine_java = sources(os.path.join(ROOT, "src", "main", "java"), (".java",))
    if not engine_scala:
        raise BuildError(f"no engine sources under {os.path.join(ROOT, 'src', 'main')}")
    os.makedirs(OUT, exist_ok=True)
    jars = os.path.join(spark_jars(), "*")
    engine, engine_key = compile_unit("engine", engine_scala, engine_java, [jars], "")
    bench_scala = sources(os.path.join(BENCH_DIR, "src"), (".scala",))
    bench, _ = compile_unit("bench", bench_scala, [], [engine, jars], engine_key)
    return [bench, engine, jars]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        sys.stderr.write(f"build: {e}\n")
        sys.exit(2)
