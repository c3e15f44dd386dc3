"""Compile the program (src/main/scala) and the harness (perfbench/harness)
with the Scala compiler that ships among the Spark jars.

Output goes to ``<work>/build/<hash of every source file>/{program,harness}``,
so a build is reused until a source changes. Run directly to build only:

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SCALA_JARS = ["scala-compiler", "scala-library", "scala-reflect"]


def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit(f"perfbench: no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def _sources(root):
    program = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(root, "perfbench/harness/*.scala")))
    if not program:
        sys.exit("perfbench: no program sources under src/main/scala; "
                 "run from the root of a checkout of the repository")
    return program, harness


def _scalac(jars, classpath, out, files):
    os.makedirs(out)
    compiler = ":".join(glob.glob(os.path.join(jars, f"{j}-2.13*.jar"))[0] for j in SCALA_JARS)
    cmd = [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath, "-d", out] + files
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout)
        sys.exit(f"perfbench: compiling into {out} failed")


def build(root, work):
    """Return ``(program_classes, harness_classes)``, compiling if needed."""
    program, harness = _sources(root)
    h = hashlib.sha256()
    for f in program + harness:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    base = os.path.join(work, "build")
    out = os.path.join(base, h.hexdigest()[:16])
    prog, harn = os.path.join(out, "program"), os.path.join(out, "harness")
    if os.path.exists(os.path.join(out, "DONE")):
        return prog, harn
    if os.path.exists(base):
        shutil.rmtree(base)  # one build is kept: the one for these sources
    jars = os.path.join(spark_jars(), "*")
    _scalac(spark_jars(), jars, prog, program)
    _scalac(spark_jars(), f"{prog}:{jars}", harn, harness)
    open(os.path.join(out, "DONE"), "w").close()
    return prog, harn


if __name__ == "__main__":
    root = os.getcwd()
    print(build(root, os.path.join(root, ".perfbench")))
