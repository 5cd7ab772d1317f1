"""Build file for the benchmark package.

Compiles the program under test (src/main/scala, plus its resources) and
the benchmark sources (perfbench/src) in one scalac pass, with the Scala
compiler and Spark jars of the Spark distribution the project builds
against: the `unmanagedBase` directory build.sbt names, else
$SPARK_HOME/jars. The output lands in .bench_build/classes-<digest>, keyed
by a digest of every source file, so an unchanged tree is built once.

    python3 perfbench/build.py      # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"


def spark_jars():
    candidates = []
    if os.path.exists("build.sbt"):
        with open("build.sbt") as f:
            candidates += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for jars in candidates:
        if glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    raise SystemExit(f"build: no Spark jars in {candidates or 'build.sbt or $SPARK_HOME'}")


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not main:
        raise SystemExit("build: no program sources under src/main/scala")
    bench = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    resources = sorted(p for p in glob.glob("src/main/resources/**/*", recursive=True)
                       if os.path.isfile(p))
    return main + bench, resources


def build():
    jars = spark_jars()
    srcs, resources = sources()
    digest = hashlib.sha256()
    for p in srcs + resources:
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD_DIR, "classes-" + digest.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = os.pathsep.join(glob.glob(os.path.join(jars, "scala-compiler-*.jar")) +
                               glob.glob(os.path.join(jars, "scala-library-*.jar")) +
                               glob.glob(os.path.join(jars, "scala-reflect-*.jar")))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp] + srcs
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=800)
    for p in resources:
        dst = os.path.join(tmp, os.path.relpath(p, "src/main/resources"))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.replace(tmp, out)
    return out


if __name__ == "__main__":
    print(build())
