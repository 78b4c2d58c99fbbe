"""Build file of the benchmark: compiles the library and the harness.

The library (`src/main/scala`) and the harness (`perfbench/harness`) are
compiled with the Scala compiler that ships among Spark's jars, against
those jars, into `<out>/classes`. A stamp of every source file's path
and bytes skips the compile when nothing changed. No build tool runs,
so nothing is written outside `<out>`.

    python3 perfbench/build.py [out_dir]
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

# What spark-submit adds for Spark 4 on JDK 17 (the same list as build.sbt).
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_jars(root):
    """Spark's jar directory: $SPARK_HOME/jars, else the `unmanagedBase`
    the repo's build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(root, "build.sbt")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read()) \
        if os.path.exists(sbt) else None
    if not m:
        raise SystemExit("set SPARK_HOME: no Spark jar directory in build.sbt")
    return m.group(1)


def _sources(root, sub):
    return sorted(glob.glob(os.path.join(root, sub, "**", "*.scala"), recursive=True))


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _scalac(jars, classpath, dest, files):
    os.makedirs(dest, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", dest] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-6000:])
        raise SystemExit(f"compile failed: {dest}")


def ensure_built(root, out):
    """Compile if needed; return the runtime classpath and the source stamp."""
    main = _sources(root, "src/main/scala")
    harness = _sources(root, "perfbench/harness")
    if not main or not harness:
        raise SystemExit("no library sources under src/main/scala: run from a checkout root")
    spark = spark_jars(root)
    if not os.path.isdir(spark):
        raise SystemExit(f"Spark jars not found at {spark}")
    jars = os.path.join(spark, "*")
    classes = os.path.join(out, "classes")
    main_cls = os.path.join(classes, "main")
    harness_cls = os.path.join(classes, "harness")
    stamp_file = os.path.join(classes, "stamp")
    stamp = _stamp(main + harness)
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(classes, ignore_errors=True)
        all_jars = os.pathsep.join(sorted(glob.glob(os.path.join(spark, "*.jar"))))
        _scalac(spark, all_jars, main_cls, main)
        _scalac(spark, main_cls + os.pathsep + all_jars, harness_cls, harness)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return os.pathsep.join([harness_cls, main_cls, jars]), stamp


if __name__ == "__main__":
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    print(ensure_built(repo, sys.argv[1] if len(sys.argv) > 1 else os.path.join(repo, ".bench_build"))[0])
