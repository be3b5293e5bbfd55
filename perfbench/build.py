#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's own Scala sources (perfbench/src) in one scalac pass, against
the Spark jars under $SPARK_HOME/jars (which also carry the Scala compiler).

Output goes to .bench_build/classes-<hash of all sources and jar names>, so
a checkout of other sources never reuses a stale build.

    python3 perfbench/build.py        # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
BUILD_DIR = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set")
    jars = sorted(Path(home, "jars").glob("*.jar"))
    if not any(j.name.startswith("scala-compiler") for j in jars):
        raise BuildError(f"no Spark/Scala jars under {home}/jars")
    return jars


def sources():
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise BuildError(f"missing source directory {d.relative_to(ROOT)}")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def build():
    """Returns (classes directory, Spark jars), compiling when needed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    h.update("\n".join(j.name for j in jars).encode())
    out = BUILD_DIR / f"classes-{h.hexdigest()[:16]}"
    if (out / ".complete").exists():
        return out, jars
    tmp = BUILD_DIR / f"tmp-classes-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = os.pathsep.join(str(j) for j in jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-Ybackend-parallelism", "4", "-d", str(tmp), "-classpath", cp,
           f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    argfile.unlink()
    (tmp / ".complete").write_text("ok\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    for old in BUILD_DIR.glob("classes-*"):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
