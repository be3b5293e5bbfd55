#!/usr/bin/env python3
"""Self-test of the benchmark harness (six runs, about three minutes).

    python3 perfbench/selftest.py

Checks that
  * a clean run passes its checks and exits 0;
  * an injected throwing call raises fail_frac and fails the command;
  * an injected wrong result fails its check and the command, on every workload;
  * in a directory holding only BENCHMARK.json and perfbench/, the command
    exits non-zero without printing a result.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def bench(args, cwd=ROOT):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "1",
                        "--trace", "0"] + args, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-2])["summary"], json.loads(lines[-1])
    except (IndexError, ValueError, KeyError):
        return p.returncode, None, None


def main():
    cases = []

    code, summary, result = bench(["--workload", "rank"])
    cases.append(("clean run passes", code == 0 and result["correct"] and summary["fail_frac"] == 0))

    code, summary, result = bench(["--workload", "rank", "--inject", "throw"])
    cases.append(("throwing call raises fail_frac and fails the command",
                  code != 0 and result is not None and result["failed"] >= 1
                  and summary["fail_frac"] > 0))

    for w in ("rank", "traverse", "suite"):
        code, summary, result = bench(["--workload", w, "--inject", "wrong"])
        cases.append((f"wrong result fails its check ({w})",
                      code != 0 and result is not None and not result["correct"]
                      and result["failed"] >= 1))

    bare = ROOT / ".bench_build" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "rank", "--seed", "1",
                        "--seconds", "1", "--trace", "0"], cwd=bare, capture_output=True,
                       text=True, timeout=180)
    cases.append(("bare directory exits non-zero without a result",
                  p.returncode != 0 and not p.stdout.strip()))
    shutil.rmtree(bare, ignore_errors=True)

    for name, ok in cases:
        print(f"{'PASS' if ok else 'FAIL'}  {name}")
    sys.exit(0 if all(ok for _, ok in cases) else 1)


if __name__ == "__main__":
    main()
