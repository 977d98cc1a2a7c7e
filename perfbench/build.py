#!/usr/bin/env python3
"""The benchmark's build file: compile the engine and the harness.

Compiles every Scala source under `src/main/scala` (the engine, exactly as
the repository ships it) together with `perfbench/harness/*.scala`, using
the Scala compiler that ships among Spark's jars, into
`<checkout>/.bench_build/classes`. The engine's sources depend on nothing
but Spark's jars, so no dependency resolution is involved. A stamp of the
sources' content skips the compile when nothing changed.

Usage: python3 perfbench/build.py      (from the root of a checkout)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


def spark_jars() -> Path:
    """`$SPARK_HOME/jars`, else the jars of the first Spark install whose
    `bin/spark-submit` is on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(
            os.pathsep) if d and (Path(d) / "spark-submit").exists()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if any(jars.glob("spark-core_*.jar")):
            return jars
    raise RuntimeError("no Spark jars found: set SPARK_HOME")


def sources(root: Path = ROOT):
    return (sorted((root / "src" / "main" / "scala").rglob("*.scala"))
            + sorted((root / "perfbench" / "harness").glob("*.scala")))


def build(root: Path = ROOT, timeout: float = 800) -> Path:
    """Compile if the sources changed since the last build; return the
    class directory."""
    srcs = sources(root)
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f.relative_to(root)).encode())
        digest.update(f.read_bytes())
    classes = BUILD / "classes"
    stamp = BUILD / "build.stamp"
    if stamp.exists() and stamp.read_text() == digest.hexdigest():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars()}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(classes)] + [str(f) for f in srcs]
    done = subprocess.run(cmd, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT, timeout=timeout)
    if done.returncode != 0:
        sys.stderr.write(done.stdout.decode(errors="replace")[-4000:])
        raise RuntimeError("compile failed")
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
