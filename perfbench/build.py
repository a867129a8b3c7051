"""Builds the program and the benchmark harness from source.

The benchmark's build file: compiles `src/main/scala` (the program) and
`perfbench/src` (the harness) with the Scala compiler that ships among the
jars of `$SPARK_HOME`, the same jars `build.sbt` compiles against, into
`.bench_build/classes`. A digest of every source file is
stored beside the classes, so a checkout is compiled once and rebuilt only
when a source changes.

    python3 perfbench/build.py      # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_home():
    """SPARK_HOME, or the install that `spark-submit` on PATH belongs to."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        raise SystemExit("perfbench: set SPARK_HOME; its jars build the program")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


CLASSPATH = os.path.join(spark_home(), "jars", "*")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"perfbench: no program sources under {main}")
    found = []
    for d in (main, os.path.join(HERE, "src")):
        found += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(found)


def digest(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Returns (classes dir, source digest), compiling if stale."""
    files = sources()
    sha = digest(files)
    classes = os.path.join(OUT, "classes")
    stamp = os.path.join(OUT, "classes.sha256")
    if os.path.isdir(classes) and os.path.isfile(stamp) \
            and open(stamp).read().strip() == sha:
        return classes, sha
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # scalac takes an @argfile, which keeps the command line short
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    rc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", CLASSPATH,
         "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", CLASSPATH,
         "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr).returncode
    if rc != 0:
        raise SystemExit(f"perfbench: compile failed (exit {rc})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(sha + "\n")
    return classes, sha


if __name__ == "__main__":
    print(build()[0])
