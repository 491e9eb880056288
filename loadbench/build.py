"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark (loadbench/src) from source with the Scala compiler that
ships in Spark's jars directory, into loadbench/work/build.

A build is skipped when the stamp of the sources and the compiler
matches the last successful build. Run it directly to build only:

    python3 loadbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
WORK = os.path.join(HERE, "work")
BUILD = os.path.join(WORK, "build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "stamp")

# Spark 4 on JDK 17 needs these when the session starts outside
# spark-submit (same list as the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark jars directory with a Scala compiler (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        raise BuildError("engine sources not found under %s" % ENGINE_SRC)
    found = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(srcs, jars):
    h = hashlib.sha256()
    h.update(" ".join(sorted(os.path.basename(j) for j in glob.glob(os.path.join(jars, "*.jar")))).encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """Runtime classpath of the built benchmark."""
    return os.pathsep.join([CLASSES, ENGINE_RES, os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    """Compile unless up to date; True when it compiled."""
    jars = spark_jars()
    srcs = sources()
    want = stamp(srcs, jars)
    if os.path.isfile(STAMP) and open(STAMP).read() == want and os.path.isdir(CLASSES):
        return False
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    print("loadbench: compiling %d sources" % len(srcs), file=log, flush=True)
    cmd = ["java", "-Xmx3g", "-Xss16m", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + args_file]
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError("scalac exited with %d" % r.returncode)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as f:
        f.write(want)
    return True


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print("loadbench: build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
