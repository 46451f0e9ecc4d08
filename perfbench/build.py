"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark (perfbench/src) in one scalac pass into .bench_build/classes.

The Scala compiler and Spark come from the jar directory the repository's
build.sbt names as `unmanagedBase` (SPARK_HOME/jars when build.sbt names
none), so the build needs no dependency resolution. A stamp over the
sources' paths, sizes and modification times skips an up-to-date build.

    python3 perfbench/build.py        # from the root of a checkout
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

OUT = os.path.join(".bench_build", "classes")
STAMP = os.path.join(OUT, ".stamp")
SOURCES = ["src/main/scala", "perfbench/src"]


def jar_dir():
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if m:
        return m.group(1)
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def sources():
    out = []
    for root in SOURCES:
        out += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        st = os.stat(f)
        h.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    return os.path.abspath(OUT) + os.pathsep + os.path.join(jar_dir(), "*")


def build():
    files = sources()
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    jars = jar_dir()
    compiler = [os.path.join(jars, n) for n in os.listdir(jars)
                if re.match(r"scala-(compiler|library|reflect)-2\.13\.[0-9]+\.jar$", n)]
    if len(compiler) != 3:
        sys.exit(f"build: no Scala 2.13 compiler jars in {jars}")
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    cmd = ["java", "-Xss64m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", OUT,
           "-cp", os.path.join(jars, "*")] + files
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("build: scalac failed")
    with open(STAMP, "w") as f:
        f.write(want)


if __name__ == "__main__":
    build()
