"""Build file of the benchmark.

Compiles graft's sources (src/main/scala) together with the benchmark's
own sources (perfbench/src) into .bench_build/classes, with the Scala
compiler that ships in the Spark distribution graft builds against. A
build is skipped when a stamp over every source file and the jar set
shows nothing changed.

    python3 perfbench/build.py          # prints the class path
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
OUT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.isfile(exe) else "java"


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the directory the
    program's own build.sbt names as its unmanagedBase, else the one
    next to spark-submit on PATH."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            candidates.append(m.group(1))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(
            os.path.realpath(submit))), "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError("no Spark distribution found (set SPARK_HOME)")


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise BuildError("program sources not found: " + prog)
    files = []
    for base in (prog, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(quiet=True):
    """Compile if needed; return the run-time class path."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("|".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return classpath
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [os.path.join(jars, j) for j in sorted(os.listdir(jars))
                if re.match(r"scala-(compiler|library|reflect)-.*\.jar$", j)]
    if len(compiler) != 3:
        raise BuildError("Scala compiler jars not found in " + jars)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", os.path.join(jars, "*"),
           "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if p.returncode != 0:
        raise BuildError("compile failed:\n" + p.stdout[-4000:])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    if not quiet:
        print(p.stdout, file=sys.stderr)
    return classpath


if __name__ == "__main__":
    try:
        print(build(quiet=False))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
