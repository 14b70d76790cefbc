"""Build the program and the benchmark driver from source.

Compiles the program's main sources together with `perfbench/src` with
the Scala compiler that ships in the Spark distribution, into
`$CARGO_TARGET_DIR/perfbench/classes` (default `.bench_build`). A stamp
of the sources' hash skips the build when nothing changed.

    python3 perfbench/build.py      # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys


def spark_jars(root):
    """The Spark distribution's jars: $GRAFT_SPARK_JARS, else the default
    the sbt build uses (read from build.sbt, so the two cannot drift)."""
    if os.environ.get("GRAFT_SPARK_JARS"):
        return os.environ["GRAFT_SPARK_JARS"]
    with open(os.path.join(root, "build.sbt")) as f:
        return re.search(r'getOrElse\("GRAFT_SPARK_JARS",\s*"([^"]+)"\)', f.read()).group(1)


def sources(root):
    found = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    found += sorted(glob.glob(os.path.join(root, "perfbench/src/*.scala")))
    return found


def classpath(root, classes):
    return f"{classes}{os.pathsep}{spark_jars(root)}/*"


def build(root):
    """Return the classes directory, compiling first if the sources
    changed since the last build. Raises if the build fails."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        raise FileNotFoundError("no program sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    target = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    classes = os.path.join(target, "classes")
    stamp = os.path.join(target, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    rc = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", "-cp", f"{spark_jars(root)}/*",
         "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-cp", f"{spark_jars(root)}/*"] + srcs,
        stdout=sys.stderr).returncode
    if rc != 0:
        raise RuntimeError(f"scalac failed with exit code {rc}")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


if __name__ == "__main__":
    print(build(os.getcwd()))
