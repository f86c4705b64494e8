"""Build file of the benchmark.

Compiles the engine's sources (src/main) together with the benchmark's own
(perfbench/src) into perfbench/out/build/classes, using the Scala compiler
that ships in Spark's jar directory, so a build needs no dependency
resolution. A stamp over every source file skips the build when nothing
changed.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out", "build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        cands.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    for c in cands:
        if glob.glob(os.path.join(c, "spark-core_*.jar")):
            return c
    raise BuildError("no Spark jar directory found (set SPARK_HOME)")


def sources():
    engine = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(engine, "scala")):
        raise BuildError(f"engine sources not found under {engine}")
    scala = sorted(glob.glob(os.path.join(engine, "scala", "**", "*.scala"), recursive=True))
    java = sorted(glob.glob(os.path.join(engine, "java", "**", "*.java"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not scala or not bench:
        raise BuildError("no sources to compile")
    return scala + bench, java


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    """Compile if any source changed; returns the source stamp."""
    scala, java = sources()
    st = stamp(scala + java)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == st:
        return st
    jars = spark_jars()

    def jar(prefix):
        found = sorted(glob.glob(os.path.join(jars, prefix + "-2.13.*.jar")))
        if not found:
            raise BuildError(f"{prefix} jar not found in {jars}")
        return found[-1]

    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    all_jars = os.pathsep.join(sorted(glob.glob(os.path.join(jars, "*.jar"))))
    compiler = os.pathsep.join(jar(p) for p in ("scala-compiler", "scala-library", "scala-reflect"))
    print(f"[build] scalac {len(scala)} files", file=log, flush=True)
    # scalac reads the Java sources for their signatures; javac compiles them
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-encoding", "UTF-8", "-classpath", all_jars,
                        "-d", CLASSES] + scala + java, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError("scalac failed")
    if java:
        print(f"[build] javac {len(java)} files", file=log, flush=True)
        r = subprocess.run(["javac", "-J-XX:-UsePerfData", "-nowarn", "-encoding", "UTF-8",
                            "--add-modules", "jdk.incubator.vector",
                            "-cp", CLASSES + os.pathsep + os.path.join(jars, "*"),
                            "-d", CLASSES] + java, stdout=log, stderr=log)
        if r.returncode != 0:
            raise BuildError("javac failed")
    with open(STAMP, "w") as fh:
        fh.write(st)
    return st


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
