"""Build file of the benchmark.

Compiles the repository's Scala sources (src/main/scala) together with the
benchmark's own (perfbench/src) into .bench_build/graftbench/classes, with
the Scala compiler that ships among Spark's jars. The root build.sbt is not
used or changed. A stamp over the source contents skips the build when
nothing changed.

    python3 perfbench/build.py        # build (or confirm up to date)
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "graftbench")
CLASSES = os.path.join(OUT, "classes")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


class BuildError(RuntimeError):
    pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the root build's
    `unmanagedBase`."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    for c in candidates:
        if os.path.isdir(c) and any(n.startswith("spark-sql_") for n in os.listdir(c)):
            return c
    raise BuildError("Spark jars not found: set SPARK_HOME")


def java():
    """The java launcher: $JAVA_HOME/bin/java, else the one on PATH."""
    home = os.environ.get("JAVA_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    return "java"


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise BuildError(f"source directory missing: {os.path.relpath(d, ROOT)}")
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    cp = [CLASSES]
    if os.path.isdir(RESOURCES):
        cp.append(RESOURCES)
    return cp + [os.path.join(spark_jars(), "*")]


def build(log=sys.stderr):
    """Compile if the sources changed since the last build. Returns seconds
    spent compiling (0 when up to date)."""
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                return 0.0
    jars = spark_jars()
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    print(f"graftbench: compiling {len(files)} Scala files", file=log, flush=True)
    t0 = time.time()
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={OUT}", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=850)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(want)
    return time.time() - t0


if __name__ == "__main__":
    try:
        print(f"built in {build():.1f} s")
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
