#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine's sources (``src/main/scala``) and the benchmark's
own Scala sources (``perfbench/scala``) with the Scala compiler that ships
in Spark's jar directory (``$SPARK_HOME/jars``, else the ``unmanagedBase``
of the repository's ``build.sbt``), into ``.bench_build/perfbench/``.
Each of the two stages is skipped when a hash of its inputs matches the
last build.

Usage: ``python3 perfbench/build.py`` (prints the runtime classpath).
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the sbt build's `unmanagedBase`."""
    if "SPARK_HOME" in os.environ:
        jars_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        except OSError:
            m = None
        if not m:
            raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
        jars_dir = m.group(1)
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {jars_dir} (set SPARK_HOME)")
    return jars


def _sources(directory):
    return sorted(glob.glob(os.path.join(directory, "**", "*.scala"), recursive=True))


def _stamp(files, extra):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(name, sources, classpath, extra_stamp, jars):
    """Compiles `sources` into OUT/classes-<name> unless already built."""
    dest = os.path.join(OUT, f"classes-{name}")
    stamp = _stamp(sources, extra_stamp)
    stamp_file = os.path.join(dest, "BUILD_STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return dest, stamp
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise BuildError("Spark's jar directory lacks the Scala compiler jars")
    print(f"[build] compiling {len(sources)} {name} sources", file=sys.stderr)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(classpath),
           "-d", tmp] + sources
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError(f"scalac failed for {name}:\n{proc.stdout[-4000:]}")
    with open(os.path.join(tmp, "BUILD_STAMP"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)
    return dest, stamp


def build():
    """Builds both stages; returns (runtime classpath list, source hash)."""
    main_src = _sources(os.path.join(ROOT, "src", "main", "scala"))
    bench_src = _sources(os.path.join(HERE, "scala"))
    if not main_src:
        raise BuildError(f"no engine sources under {os.path.join(ROOT, 'src', 'main', 'scala')}")
    if not bench_src:
        raise BuildError("no benchmark sources under perfbench/scala")
    jars = spark_jars()
    main_cls, main_stamp = _compile("main", main_src, jars, "", jars)
    bench_cls, bench_stamp = _compile("bench", bench_src, [main_cls] + jars, main_stamp, jars)
    return [bench_cls, main_cls] + jars, bench_stamp


if __name__ == "__main__":
    try:
        cp, _ = build()
    except BuildError as e:
        sys.exit(f"[build] {e}")
    print(os.pathsep.join(cp))
