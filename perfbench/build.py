"""Build file of the benchmark: compiles the program (src/main/scala of the
checkout) together with the benchmark's own Scala sources into one class
directory, with the Scala compiler that ships among the Spark jars.

The output lands in .bench_build/perfbench-<hash of every input>/, so a
second run with unchanged sources reuses it and a changed source rebuilds.

    python3 perfbench/build.py        # prints the classpath to run with
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
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = [os.path.join(HERE, "src", "main", "scala"),
             os.path.join(HERE, "src", "test", "scala")]
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the program's own build.sbt
    declares (`unmanagedBase`)."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"build: no Spark jars under '{jars}' (set SPARK_HOME)")
    return os.path.join(jars, "*")


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        raise SystemExit(f"build: program sources missing: {PROGRAM_SRC}")
    found = []
    for d in [PROGRAM_SRC] + BENCH_SRC:
        for dirpath, _, files in os.walk(d):
            found += [os.path.join(dirpath, f) for f in files
                      if f.endswith(".scala") or f.endswith(".java")]
    return sorted(found)


def resources():
    found = []
    for dirpath, _, files in os.walk(PROGRAM_RES):
        found += [os.path.join(dirpath, f) for f in files]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile if needed; return the classpath string."""
    jars = spark_jars()
    srcs, res = sources(), resources()
    out = os.path.join(BUILD_DIR, "perfbench-" + stamp(srcs + res))
    classes = os.path.join(out, "classes")
    cp = classes + os.pathsep + jars
    if os.path.exists(os.path.join(out, "OK")):
        return cp
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", jars,
           "scala.tools.nsc.Main",
           "-nowarn", "-encoding", "UTF-8", "-d", classes,
           "-classpath", jars, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    for f in res:
        dst = os.path.join(classes, os.path.relpath(f, PROGRAM_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    open(os.path.join(out, "OK"), "w").close()
    return cp


if __name__ == "__main__":
    print(build())
