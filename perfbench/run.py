"""One benchmark run: builds on first use, then runs perfbench.Main in a JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1> [--drop-output-row] [--print-golden]

Run it from the root of a checkout. The last line of standard output is
the run's JSON result; the JVM's log goes to standard error. The run fails
(exit code 2, no result) when the checkout holds no program source.
"""
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("batch_recompute", "curation_gates")
# a run must end within 180 s; the JVM gets what is left after the build
RUN_LIMIT_S = 175

# Spark 4 on JDK 17 outside spark-submit needs these (build.sbt's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def args_ok(argv):
    try:
        i = argv.index("--workload")
        return argv[i + 1] in WORKLOADS and all(
            k in argv for k in ("--seed", "--seconds", "--trace"))
    except (ValueError, IndexError):
        return False


def main():
    argv = sys.argv[1:]
    if not args_ok(argv):
        print(__doc__, file=sys.stderr)
        return 2
    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        print("run.py: no program source here (build.sbt, src/main/scala); "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    build.build()
    tmp = os.path.join(".bench_build", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file: the JVM would write it outside the checkout
    jvm = ["java", "-Xmx4g", "-Xss64m", "-XX:ReservedCodeCacheSize=512m",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.abspath(tmp)}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += ["-cp", build.classpath(), "perfbench.Main", "--root", os.getcwd()] + argv
    proc = subprocess.Popen(jvm, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"run.py: run exceeded {RUN_LIMIT_S} s", file=sys.stderr)
        return 3
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out)
        print(f"run.py: JVM exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 1
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
