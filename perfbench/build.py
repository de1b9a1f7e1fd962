"""Build file of the benchmark: compiles the project's main sources together
with the harness under `perfbench/scala` into one class directory.

It calls the Scala compiler that ships with the Spark jars the project builds
against (the directory `build.sbt` names as `unmanagedBase`), so it needs no
sbt, no network and no change to `build.sbt`. A stamp of the source hashes
skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the class directory
"""

import glob
import hashlib
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD_DIR, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "scala")]


class BuildError(RuntimeError):
    pass


def spark_jars():
    """The project's jar directory: `$SPARK_JARS`, else build.sbt's unmanagedBase."""
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError as e:
        raise BuildError(f"no build.sbt at the repo root: {e}")
    if not m:
        raise BuildError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def sources():
    files = sorted(p for d in SOURCE_DIRS
                   for p in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    if not any(p.startswith(SOURCE_DIRS[0]) for p in files):
        raise BuildError("the project's sources (src/main/scala) are missing")
    return files


def build(quiet=False):
    jars = spark_jars()
    files = sources()
    digest = hashlib.sha256(jars.encode())
    for p in files:
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp = os.path.join(BUILD_DIR, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return CLASSES
    compiler = [glob.glob(os.path.join(jars, f"{n}-2.13*.jar"))
                for n in ("scala-compiler", "scala-library", "scala-reflect")]
    if not all(compiler):
        raise BuildError(f"no Scala 2.13 compiler jars in {jars}")
    if os.path.isdir(CLASSES):
        subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(c[0] for c in compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", CLASSES] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    if not quiet:
        print(r.stdout, end="", file=sys.stderr)
    return CLASSES


def classpath():
    return CLASSES + ":" + os.path.join(spark_jars(), "*")


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build failed: {e}")
