"""Build file of the benchmark: compiles the program's sources together with
the benchmark's own into `.bench_build/kgbench/classes` of the checkout.

Uses the JDK's `javac` and the Scala compiler among the Spark jars that the
sbt build compiles against (`unmanagedBase` in build.sbt, or
`$SPARK_HOME/jars` when set); no dependency is fetched.
A build is reused while the sources it was made from are unchanged.

    python3 kgbench/build.py
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
BUILD = os.path.join(ROOT, ".bench_build", "kgbench")
CLASSES = os.path.join(BUILD, "classes")
PROGRAM = os.path.join(ROOT, "src", "main")


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)
        except (OSError, AttributeError):
            raise SystemExit("set SPARK_HOME: no unmanagedBase in build.sbt")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"no Scala compiler among the Spark jars in {jars}")
    return jars


def sources():
    if not os.path.isdir(os.path.join(PROGRAM, "scala")):
        raise SystemExit(f"program sources not found under {PROGRAM}")
    found = []
    for base in (PROGRAM, os.path.join(HERE, "src")):
        for dirpath, _, files in os.walk(base):
            found += [os.path.join(dirpath, f) for f in files]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built(log=sys.stderr):
    """Compile unless the classes are current; returns the classes dir."""
    files = sources()
    jars = spark_jars()
    want = stamp(files)
    stamp_file = os.path.join(BUILD, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return CLASSES
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    java = [f for f in files if f.endswith(".java")]
    scala = [f for f in files if f.endswith(".scala")]
    if java:
        subprocess.run(["javac", "-J-XX:-UsePerfData", "-nowarn", "-encoding", "UTF-8",
                        "--add-modules", "jdk.incubator.vector",
                        "-cp", os.path.join(jars, "*"), "-d", tmp] + java,
                       check=True, stdout=log, stderr=log)
    argfile = os.path.join(BUILD, "scala-sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(scala + java) + "\n")
    subprocess.run(["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss4m", "-cp", os.path.join(jars, "*"),
                    "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                    "-cp", tmp, "-d", tmp, "@" + argfile],
                   check=True, stdout=log, stderr=log)
    res = os.path.join(PROGRAM, "resources")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(want)
    return CLASSES


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


if __name__ == "__main__":
    print(ensure_built(log=sys.stdout))
