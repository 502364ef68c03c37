#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's main sources
together with the benchmark's own Scala sources, offline.

The Scala compiler and every runtime dependency come from the Spark
distribution's `jars/` directory (`$SPARK_HOME/jars`, or the one beside
`spark-submit` on the PATH), so nothing is resolved or downloaded and
the repository's `build.sbt` is not used. Output goes to
`perfbench/out/build/<source hash>/classes`; a build whose sources have
not changed is reused.

    python3 perfbench/build.py      # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD_DIR = os.path.join(HERE, "out", "build")


class BuildError(Exception):
    pass


def java_bin():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    found = shutil.which("java")
    if not found:
        raise BuildError("no java found (set JAVA_HOME or put java on the PATH)")
    return found


def spark_jars():
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for c in cands:
        if os.path.isdir(c) and any(f.startswith("scala-compiler") for f in os.listdir(c)):
            return c
    raise BuildError("no Spark jars directory with a Scala compiler found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError("program sources not found at src/main/scala")
    out = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(p.startswith(PROGRAM_SRC) for p in out):
        raise BuildError("no program sources under src/main/scala")
    return sorted(out)


def ensure_built(log=sys.stderr):
    """Compile if needed; return the runtime classpath string."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    key = h.hexdigest()[:16]
    target = os.path.join(BUILD_DIR, key)
    classes = os.path.join(target, "classes")
    cp = os.pathsep.join([classes, os.path.join(jars, "*")])
    if os.path.isfile(os.path.join(target, "ok")):
        return cp
    if os.path.isdir(BUILD_DIR):
        shutil.rmtree(BUILD_DIR)
    os.makedirs(classes)
    argfile = os.path.join(target, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print("[perfbench] compiling %d sources" % len(srcs), file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=800)
    if r.returncode != 0:
        raise BuildError("scalac failed with exit code %d" % r.returncode)
    open(os.path.join(target, "ok"), "w").close()
    return cp


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print("build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
