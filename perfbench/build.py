"""Build file of the benchmark: compiles the program's sources
(``src/main/scala``) together with the benchmark harness
(``perfbench/scala``) with the Scala compiler that ships in the Spark
distribution, into ``.bench_build/classes``. The compile is skipped when
a stamp of the source contents matches the last build.

Usage: ``python3 perfbench/build.py`` from the repository root; prints
the runtime classpath.
"""
import hashlib
import os
import shutil
import subprocess
import sys

def _spark_home():
    """$SPARK_HOME, else the installation that `spark-submit` on PATH
    belongs to."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""


SPARK_JARS = os.path.join(_spark_home(), "jars")
BUILD = ".bench_build"
SOURCE_DIRS = ["src/main/scala", "perfbench/scala"]

# JDK 17 module opens Spark needs outside spark-submit (the list of
# org.apache.spark.launcher.JavaModuleOptions).
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def sources(root):
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(os.path.join(root, d)):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root="."):
    """Compile if needed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        raise SystemExit("build: no src/main/scala under the working directory")
    if not os.path.isdir(SPARK_JARS):
        raise SystemExit(f"build: Spark jars not found at {SPARK_JARS}")
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(root, BUILD, "classes")
    stamp = os.path.join(root, BUILD, "classes.stamp")
    cp = f"{classes}:{SPARK_JARS}/*"
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return cp
    if os.path.exists(stamp):
        os.remove(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    tmp = os.path.join(root, BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-classpath", classes,
           "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    print(build())
