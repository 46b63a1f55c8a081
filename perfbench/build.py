"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the harness (`perfbench/src`) with the
Scala compiler that ships in the Spark distribution, into
`<build dir>/classes`. A build is reused while no source file changes.

    python3 perfbench/build.py [build_dir]

Spark's jars are found through $SPARK_HOME, else through a
`spark-submit` on the PATH.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SOURCE_ROOTS = ["src/main/scala", "perfbench/src"]


def spark_jars():
    """The jars of the first Spark distribution (one that ships the Scala
    compiler) found through $SPARK_HOME or a `spark-submit` on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in
        os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        if glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    raise SystemExit("no Spark distribution found; set SPARK_HOME")


def sources():
    files = []
    for root in SOURCE_ROOTS:
        files += glob.glob(os.path.join(root, "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(build_dir):
    """Returns (classes dir, source digest); compiles when stale."""
    files = sources()
    if not any(f.startswith("src/main/scala") for f in files):
        raise SystemExit("program sources (src/main/scala) not found")
    key = digest(files)
    classes = os.path.join(build_dir, "classes")
    stamp = os.path.join(classes, "SOURCES.sha256")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classes, key
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(jars),
           "-d", tmp] + files
    print(f"[perfbench] compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compile failed")
    with open(os.path.join(tmp, "SOURCES.sha256"), "w") as f:
        f.write(key)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    return classes, key


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else ".bench_build/perfbench")[0])
