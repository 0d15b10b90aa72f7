"""Build file of the benchmark package.

Compiles the program's Scala sources (src/main/scala) together with the
benchmark's own (perfbench/scala) into one class directory, with the Scala
compiler that ships among Spark's jars. The program's sbt build is not used
or changed. The compile is skipped while a stamp of the sources' digest
matches.

    python3 perfbench/build.py [BUILD_DIR]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    """Spark's jars: $SPARK_HOME's, else those of a Spark whose bin/ is on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    raise SystemExit("no Spark with a Scala compiler among its jars (set SPARK_HOME)")


def sources(root):
    found = []
    for top in ("src/main/scala", "perfbench/scala"):
        found += glob.glob(os.path.join(root, top, "**", "*.scala"), recursive=True)
    return sorted(found)


def build(root, build_dir):
    """Compile if needed; returns the class directory."""
    srcs = sources(root)
    if not any("/src/main/scala/" in s for s in srcs):
        raise SystemExit(f"no program sources under {root}/src/main/scala")
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(build_dir, "perfbench-classes")
    stamp = os.path.join(classes, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return classes
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(build_dir, "perfbench-sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = spark_jars()
    subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
         "-nowarn", "-d", staging, "-classpath", jars, "@" + argfile],
        check=True, stdout=sys.stderr)
    with open(os.path.join(staging, ".stamp"), "w") as f:
        f.write(digest.hexdigest())
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    return classes


if __name__ == "__main__":
    root = os.getcwd()
    out = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")
    os.makedirs(out, exist_ok=True)
    print(build(root, out))
