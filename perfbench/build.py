"""Build file of the benchmark package: compiles the engine's sources
(`src/main/scala`) together with the benchmark driver (`perfbench/scala`)
into `.bench_build/classes` with the Scala compiler that ships in the
Spark distribution. The build is skipped when no source changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time


def spark_jars(root):
    """The Spark jars the repository's own build compiles against (the
    `unmanagedBase` in build.sbt), else $SPARK_HOME/jars."""
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("no Spark jars: build.sbt names no unmanagedBase and SPARK_HOME is unset")


def sources(root):
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(root, "perfbench/scala/**/*.scala"), recursive=True))
    return files


def source_hash(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, work):
    """Returns (classes dir, source sha256, seconds spent compiling)."""
    files = sources(root)
    if not any("/src/main/scala/" in f for f in files):
        raise SystemExit(f"no engine sources under {root}/src/main/scala")
    digest = source_hash(root, files)
    classes = os.path.join(work, "classes")
    stamp = os.path.join(work, "classes.sha256")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes, digest, 0.0
    tmp = classes + ".new"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(work, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files))  # quoted: paths may hold spaces
    cp = os.path.join(spark_jars(root), "*")
    t0 = time.monotonic()
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}",
         "-cp", cp, "scala.tools.nsc.Main", "-classpath", cp, "-nowarn", "-d", tmp,
         "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise SystemExit("scalac failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes, digest, time.monotonic() - t0


if __name__ == "__main__":
    root = os.getcwd()
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    print(build(root, work))
