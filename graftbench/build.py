#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft's main sources (`src/main/scala`) together with the
benchmark's own sources (`graftbench/scala`) with the Scala compiler that
ships in Spark's jar directory, into `.bench_build/classes` under the
checkout root. No sbt, no dependency resolution: the classpath is exactly
Spark's jars, the directory `build.sbt` names as `unmanagedBase` (or
`$SPARK_HOME/jars`).

The output is reused while a digest of every compiled source file, this
file and the JDK version stays the same, so only the first run in a
checkout pays for the build.

    python3 graftbench/build.py          # build (or reuse) and print the class dir
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
BUILD_DIR = ROOT / ".bench_build"
CLASSES = BUILD_DIR / "classes"
STAMP = CLASSES / "SOURCES.sha256"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: `$SPARK_HOME/jars`, else the `unmanagedBase`
    that graft's build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
        if not m:
            raise BuildError("set SPARK_HOME or run from a graft checkout (build.sbt names the jars)")
        jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler jar under {jars}")
    return jars


def sources() -> list:
    graft_src = ROOT / "src" / "main" / "scala"
    if not graft_src.is_dir():
        raise BuildError(f"graft sources not found at {graft_src}; run from a graft checkout")
    files = sorted(graft_src.rglob("*.scala")) + sorted((BENCH_DIR / "scala").rglob("*.scala"))
    if not any(p.is_relative_to(graft_src) for p in files):
        raise BuildError("no graft sources to compile")
    return files


def java_version() -> str:
    out = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return out.stderr.strip().splitlines()[0] if out.stderr else "unknown"


def digest(files) -> str:
    h = hashlib.sha256()
    for p in files + [Path(__file__).resolve()]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(java_version().encode())
    return h.hexdigest()


def build() -> Path:
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    files = sources()
    want = digest(files)
    if STAMP.exists() and STAMP.read_text().strip() == want:
        return CLASSES
    tmp = BUILD_DIR / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD_DIR / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-classpath", str(tmp), "-nowarn",
           "-d", str(tmp), f"@{argfile}"]
    res = subprocess.run(cmd, capture_output=True, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout + res.stderr)
        raise BuildError(f"scalac failed with exit code {res.returncode}")
    (tmp / "SOURCES.sha256").write_text(want + "\n")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.stderr.write(f"build: {e}\n")
        sys.exit(2)
