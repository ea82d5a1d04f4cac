"""Build file of the benchmark: compiles the engine and the benchmark from source.

Compiles `src/main/scala` (the engine) and `perfbench/src` (the benchmark)
with the Scala compiler that ships in `$SPARK_HOME/jars`, into
`.bench_build/classes`, and copies the engine's resources (the
`graft-profiles` source registration). A stamp holding the hash of every
input skips the compile when nothing changed.

    python3 perfbench/build.py        # build (or confirm up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(home, "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("SPARK_HOME must point at a Spark 4 install (with jars/, which also holds the Scala compiler)")
    return jars


def _files(top, suffix=None):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if suffix is None or n.endswith(suffix)]
    return sorted(out)


def build(log=sys.stderr):
    """Returns the classes directory, compiling first when any input changed."""
    jars = spark_jars()
    engine = _files(SOURCE_DIRS[0], ".scala") if os.path.isdir(SOURCE_DIRS[0]) else []
    if not engine:
        raise BuildError("no engine sources under src/main/scala: run from a checkout of the repository")
    sources = engine + _files(SOURCE_DIRS[1], ".scala")
    resources = _files(RESOURCES) if os.path.isdir(RESOURCES) else []
    h = hashlib.sha256()
    for f in sources + resources:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(sources))
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", CLASSES, "-nowarn", "@" + argfile]
    print(f"[perfbench] compiling {len(sources)} Scala files", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    for f in resources:
        dst = os.path.join(CLASSES, os.path.relpath(f, RESOURCES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"perfbench build failed: {e}")
