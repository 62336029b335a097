#!/usr/bin/env python3
"""Builds graft and the benchmark's JVM side from source.

The program (src/main/scala) and the benchmark's JVM side (perfbench/src)
are compiled with the Scala compiler that ships in Spark's jar directory
into .bench_build/classes. The jar directory is the one build.sbt names as
`unmanagedBase`, or $SPARK_HOME/jars when that is set. A build is skipped
when the sources' content hash matches the last one.

Usage: python3 perfbench/build.py   (prints the run classpath)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase")
    return m.group(1)


def _sources(rel):
    return sorted(glob.glob(os.path.join(ROOT, rel, "**", "*.scala"), recursive=True))


def _compile(name, sources, jars, deps=()):
    """Compiles `sources` against `deps` ((classes dir, digest) pairs);
    returns this build's (classes dir, digest)."""
    out = os.path.join(BUILD, "classes", name)
    h = hashlib.sha256()
    for _, digest in deps:
        h.update(digest.encode())
    for f in sources:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == digest:
        return out, digest
    if not sources:
        raise BuildError(f"no Scala sources for {name}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if deps:
        cmd += ["-cp", os.pathsep.join(d for d, _ in deps)]
    r = subprocess.run(cmd + sources, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError(f"compiling {name} failed:\n{r.stdout[-4000:]}")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return out, digest


def build():
    """Compiles what changed; returns the classpath entries to run with."""
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise BuildError(f"Spark jars not found at {jars}")
    graft = _compile("graft", _sources("src/main/scala"), jars)
    bench = _compile("perfbench", _sources("perfbench/src"), jars, [graft])
    return [bench[0], graft[0], os.path.join(jars, "*")]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        sys.exit(str(e))
