#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

    python3 graftbench/run.py --workload feature_refresh --seed 1 --seconds 15 --trace 0

Builds graft plus the benchmark on first use (see build.py), then starts one
JVM that runs the workload closed-loop (one Spark driver thread issuing
operations back to back) on a `local[nproc]` Spark session. The JVM prints a
human-readable report line and the result object; this script relays them
and exits non-zero, printing no result, if the build or the run fails.

Everything the run writes stays under the checkout: `.bench_build/` (classes)
and `.bench_run/` (inputs, stores, Spark scratch, per-run artifacts).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("feature_refresh", "corpus_curation")
TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def git_commit() -> str:
    """HEAD of the checkout, or "unknown" when it is not a git work tree of
    its own (an enclosing repository's commit would be the wrong one)."""
    try:
        def git(*a):
            out = subprocess.run(["git", *a], cwd=build.ROOT, capture_output=True,
                                 text=True, timeout=10)
            return out.stdout.strip() if out.returncode == 0 else ""
        if Path(git("rev-parse", "--show-toplevel") or "/nonexistent").resolve() != build.ROOT:
            return "unknown"
        return git("rev-parse", "HEAD") or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main() -> int:
    args = parse_args()
    try:
        classes = build.build()
    except build.BuildError as e:
        sys.stderr.write(f"graftbench: build failed: {e}\n")
        return 2
    run_dir = build.ROOT / ".bench_run"
    work = run_dir / f"work-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # fixed heap and young generation: peak RSS then follows what the run
    # keeps live, not G1's adaptive heap and eden sizing
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xmn768m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={build.BENCH_DIR / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}",
              "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", str(work), "--results", str(run_dir / "results"),
              "--commit", git_commit(),
              "--source-sha256", (classes / "SOURCES.sha256").read_text().strip()])
    try:
        proc = subprocess.run(cmd, cwd=build.ROOT, stdout=subprocess.PIPE,
                              text=True, timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"graftbench: run exceeded {TIMEOUT_S} s\n")
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout)
        sys.stderr.write(f"graftbench: JVM exited with code {proc.returncode}\n")
        return proc.returncode or 4
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        sys.stderr.write(proc.stdout)
        sys.stderr.write("graftbench: last line is not a result object\n")
        return 5
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
