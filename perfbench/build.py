"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships among the
Spark jars named by build.sbt's `unmanagedBase`. Output goes under
.bench_build/perfbench/classes; a step whose sources are unchanged since its
last successful build is skipped.

    python3 perfbench/build.py        # prints the runtime classpath
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench", "classes")


def spark_jars():
    """The Spark jar directory the repo's own build compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit(f"no Scala compiler among the Spark jars in {jars!r}")
    return os.path.join(jars, "*")


def sources(d):
    return sorted(glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True))


def compile_step(name, srcs, classpath):
    """Compiles `srcs` into OUT/name unless its stamp matches; returns the dir."""
    dest = os.path.join(OUT, name)
    h = hashlib.sha256(classpath.encode())
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(OUT, f"{name}.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
                    "-nowarn", "-d", dest, "-classpath", classpath] + srcs, check=True,
                   stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return dest


def build():
    """Builds both steps; returns the classpath to run the harness with."""
    program_srcs = sources(os.path.join("src", "main", "scala"))
    if not program_srcs or not os.path.exists(os.path.join(ROOT, "build.sbt")):
        sys.exit("program sources (build.sbt, src/main/scala) not found: run from the repository root")
    jars = spark_jars()
    program = compile_step("program", program_srcs, jars)
    harness = compile_step("harness", sources(os.path.join("perfbench", "src")),
                           os.pathsep.join([program, jars]))
    return os.pathsep.join([harness, program, jars])


if __name__ == "__main__":
    print(build())
