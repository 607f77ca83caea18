"""Benchmark self-test at tiny scale (sf0.001, one timed pass each).

    python3 perfbench/selftest.py

Run from the repository root. Checks that every workload emits every
metric named in BENCHMARK.json with its unit, untraced and traced; that
a sink which drops one row makes the bulk_sync run fail its correctness
gate; and, in a git checkout, that the run leaves ``git status`` as it
found it. Exits 0 when all hold.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402


def _git_status(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    return subprocess.run(
        ["git", "status", "--porcelain"], cwd=root,
        capture_output=True, text=True, check=True,
    ).stdout


def _tiny(name: str):
    workload = bench._workload(name)
    workload.SF = 0.001
    workload.min_passes = 1
    return workload


def main() -> int:
    root = os.getcwd()
    before = _git_status(root)
    manifest = bench._load_manifest(root)
    work = bench.isolate(root, "selftest")
    problems: list[str] = []
    spark = None
    try:
        for name in bench.WORKLOADS:
            for trace in (False, True):
                run = bench.Run(root, work, seed=7, trace=trace)
                run.spark = spark
                run.start_spark = _reuse(run, run.start_spark)
                metrics = bench.summarize(
                    bench.measure(run, _tiny(name), seconds=1e-3), trace
                )
                spark = run.spark or spark
                line = bench.result(manifest, run, metrics)
                if not line["correct"]:
                    problems.append(f"{name}: failed {run.failures[:3]}")
                key = "per_layer" if trace else "end_to_end"
                for m in manifest[key]:
                    got = line["metrics"].get(m["name"])
                    if got is None or got["unit"] != m["unit"]:
                        problems.append(f"{name}: {m['name']} missing")
                print(f"{name} trace={int(trace)}: "
                      f"{len(line['metrics'])} metrics, "
                      f"{line['attempted']} attempted", flush=True)

        run = bench.Run(root, work, seed=7, trace=False)
        run.spark = spark
        run.start_spark = _reuse(run, run.start_spark)
        faulty = _tiny("bulk_sync")
        setup = faulty.setup

        def setup_with_fault(r):
            setup(r)
            faulty.drop_one_row = "region"

        faulty.setup = setup_with_fault
        bench.measure(run, faulty, seconds=1e-3)
        if run.failed == 0:
            problems.append("a sink dropping one row went unnoticed")
        print(f"dropped-row sink: {run.failed} of {run.attempted} failed")
    finally:
        if spark is not None:
            run.spark = spark
            run.stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))

    if _git_status(root) != before:
        problems.append("git status changed during the run")
    for p in problems:
        print("SELFTEST FAIL:", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


def _reuse(run, start):
    """``start_spark`` that keeps one session across the self-test."""
    def start_once():
        return run.spark if run.spark is not None else start()
    return start_once


if __name__ == "__main__":
    sys.exit(main())
