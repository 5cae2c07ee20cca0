"""Build the library and the benchmark harness from source.

Compiles the library's Scala sources (src/main/scala) and the harness
(perfbench/src) with the Scala compiler that ships in Spark's jars
directory, into .bench_build/ at the root of the checkout. Each half is
rebuilt only when a hash of its sources changes.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src")


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java executable (set JAVA_HOME or put java on PATH)")
    return exe


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise BuildError("no Spark jars directory (set SPARK_HOME or put spark-submit on PATH)")
    return jars


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_into(name, files, classpath, stamp, log):
    out = os.path.join(BUILD, name)
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, name + ".args")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath, "@" + args_file]
    done = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if done.returncode != 0:
        raise BuildError("compiling %s failed (exit %d)" % (name, done.returncode))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


def ensure(log=sys.stderr):
    """Build what is stale; return the runtime classpath."""
    lib_files = sources(LIB_SRC) if os.path.isdir(LIB_SRC) else []
    if not lib_files:
        raise BuildError("no library sources under %s" % LIB_SRC)
    harness_files = sources(HARNESS_SRC)
    jars = os.path.join(spark_jars(), "*")
    os.makedirs(BUILD, exist_ok=True)
    lib_stamp = digest(lib_files, jars)
    lib = compile_into("lib", lib_files, jars, lib_stamp, log)
    harness = compile_into("harness", harness_files, os.pathsep.join([lib, jars]),
                           digest(harness_files, lib_stamp), log)
    return os.pathsep.join([harness, lib, jars])


if __name__ == "__main__":
    try:
        print(ensure())
    except BuildError as e:
        print("build: %s" % e, file=sys.stderr)
        sys.exit(2)
