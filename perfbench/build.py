"""Build file of the benchmark: compiles graft's main sources and the
benchmark harness with the Scala compiler that ships in the Spark jars,
without sbt and without touching the root build. Outputs go under
`.bench_build/` in the checkout, keyed by a hash of their sources, so a
second run reuses them.

    python3 perfbench/build.py        # build (or reuse) and print the classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
def _spark_home():
    """SPARK_HOME, else the first `spark-submit` on PATH that belongs to a
    Spark installation with a `jars` directory."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and os.path.isdir(os.path.join(home, "jars")):
            return home
    return ""


SPARK_JARS = os.path.join(_spark_home(), "jars")
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
HARNESS_SRC = os.path.join(ROOT, "perfbench", "scala")

# what Spark 4 on JDK 17 needs outside spark-submit
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def _files(top, suffix=""):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if f.endswith(suffix)]
    return sorted(out)


def _digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _scalac(sources, classpath, out_dir, log):
    # compile into a private directory and rename it into place, so a run
    # never sees half a build, even with another run building alongside
    tmp = "%s.tmp-%d" % (out_dir, os.getpid())
    os.makedirs(tmp)
    args = os.path.join(tmp, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(sources))
    with open(log, "w") as lf:
        r = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(SPARK_JARS, "*"),
             "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath,
             "@" + args], stdout=lf, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        shutil.rmtree(tmp)
        raise RuntimeError(f"compilation failed, see {log}")
    os.remove(args)
    try:
        os.rename(tmp, out_dir)
    except OSError:  # another run finished the same build first
        shutil.rmtree(tmp)


def build():
    """Compile what changed; return the run-time classpath."""
    scala = _files(os.path.join(PROGRAM_SRC, "scala"), ".scala")
    if not scala or not os.path.isdir(SPARK_JARS):
        raise RuntimeError("graft sources (src/main/scala) or the Spark jars are missing")
    os.makedirs(BUILD, exist_ok=True)
    resources = os.path.join(PROGRAM_SRC, "resources")
    prog = os.path.join(BUILD, "program-" + _digest(_files(PROGRAM_SRC)))
    jars = os.path.join(SPARK_JARS, "*")
    if not os.path.isdir(prog):
        _scalac(scala, jars, prog, prog + ".log")
    harness_src = _files(HARNESS_SRC, ".scala")
    harness = os.path.join(BUILD, "harness-" + _digest(harness_src, prog))
    if not os.path.isdir(harness):
        _scalac(harness_src, prog + os.pathsep + jars, harness, harness + ".log")
    for old in os.listdir(BUILD):  # builds of earlier sources
        path = os.path.join(BUILD, old)
        if (old.startswith(("program-", "harness-")) and ".tmp-" not in old
                and not path.startswith((prog, harness))):
            shutil.rmtree(path) if os.path.isdir(path) else os.remove(path)
    return os.pathsep.join([harness, prog, resources, jars])


if __name__ == "__main__":
    try:
        print(build())
    except RuntimeError as e:
        sys.exit(f"build: {e}")
