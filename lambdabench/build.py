"""Builds the benchmark: the program's sources (src/main) together with
the benchmark's own (lambdabench/src), compiled with the Scala compiler
that ships in Spark's jar directory. Output goes to
lambdabench/.build/<digest of the sources>, so a build is reused until a
source changes.

    python3 lambdabench/build.py          # build, print the classpath
    python3 lambdabench/build.py --test   # build and run the tests
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
TEST_SRC = os.path.join(HERE, "test")
OUT = os.path.join(HERE, ".build")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark's jars not found: set SPARK_HOME")
    return jars


def sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(srcs, classpath, dest):
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-encoding", "UTF-8", "-nowarn",
           "-classpath", classpath, "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("scalac failed:\n" + r.stdout[-6000:])
    os.replace(tmp, dest)


def build():
    """Compiles if needed; returns the classes directory."""
    if not os.path.isdir(PROGRAM_SRC):
        raise BuildError("program sources not found at src/main/scala; run from the repository root")
    jars = os.path.join(spark_jars(), "*")
    srcs = sources(PROGRAM_SRC, BENCH_SRC)
    dest = os.path.join(OUT, digest(srcs + sources(PROGRAM_RES)))
    classes = os.path.join(dest, "classes")
    if not os.path.isdir(classes):
        os.makedirs(dest, exist_ok=True)
        scalac(srcs, jars, classes)
        if os.path.isdir(PROGRAM_RES):
            shutil.copytree(PROGRAM_RES, classes, dirs_exist_ok=True)
        for old in os.listdir(OUT):  # builds of older sources
            if old != os.path.basename(dest) and os.path.isdir(os.path.join(OUT, old)):
                shutil.rmtree(os.path.join(OUT, old), ignore_errors=True)
    return classes


def classpath(*dirs):
    return os.pathsep.join(list(dirs) + [os.path.join(spark_jars(), "*")])


def test():
    """Builds and runs the benchmark's own tests; returns their exit code."""
    classes = build()
    tests = os.path.join(os.path.dirname(classes), "test-" + digest(sources(TEST_SRC)))
    if not os.path.isdir(tests):
        scalac(sources(TEST_SRC), classpath(classes), tests)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-cp", classpath(tests, classes),
                        "graftbench.BenchTests"], cwd=ROOT)
    return r.returncode


if __name__ == "__main__":
    try:
        if "--test" in sys.argv[1:]:
            sys.exit(test())
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
