#!/usr/bin/env python3
"""The graft benchmark: one command, three workloads.

    python3 perfbench/run.py --workload rank|traverse|suite --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine and the benchmark
from source (perfbench/build.py), runs the workload in one local[nproc]
Spark JVM, checks every result against an independent computation, and
prints one JSON object as the last line of standard output:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones (spans are
written to .bench_build/traces/). The line before it is a summary with the
workload's named figures and the run record (seed, nproc, heap, commit,
input hash, steal). Exits 1 when any call throws or any check fails.

Self-test option: --inject throw|wrong.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
BENCH = ROOT / "perfbench"
HEAP = "3g"
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


DATA = BENCH / "data" / "sf0.001"
EXPECTED = BENCH / "expected" / "suite_sf0.001.tsv"


def java_cmd(classes, jars, scratch, args):
    """The benchmark JVM: the engine's build.sbt JVM flags, a fixed heap."""
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={scratch / 'tmp'}",
             f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", os.pathsep.join([str(classes)] + [str(j) for j in jars]),
             "graftbench.Main"] + args)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 and r.stdout.strip() else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["rank", "traverse", "suite"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--inject", choices=["throw", "wrong"])
    a = ap.parse_args()

    # Turn a stop request into an exception, so the compiler or the JVM we
    # started is killed on the way out.
    def terminated(signum, frame):
        raise SystemExit(f"perfbench: stopped by signal {signum}")

    signal.signal(signal.SIGTERM, terminated)
    try:
        classes, jars = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")

    cores = len(os.sched_getaffinity(0))
    scratch = build.BUILD_DIR / f"run-{os.getpid()}"
    traces = build.BUILD_DIR / "traces"
    shutil.rmtree(scratch, ignore_errors=True)
    (scratch / "tmp").mkdir(parents=True)
    traces.mkdir(parents=True, exist_ok=True)
    out = scratch / "result.json"
    cmd = java_cmd(classes, jars, scratch, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(cores), "--scratch", str(scratch),
        "--out", str(out),
        "--trace-out", str(traces / f"{a.workload}-seed{a.seed}.jsonl"),
        "--data", str(DATA), "--expected", str(EXPECTED),
        "--meta.commit", git_commit(), "--meta.build", classes.name, "--meta.heap", HEAP])
    if a.inject:
        cmd += ["--inject", a.inject]
    # The engine reads SPARK_GRAFT_* tuning knobs; the benchmark runs its defaults.
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = str(scratch / "spark-local")

    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                            start_new_session=True)
    try:
        proc.wait(timeout=JVM_TIMEOUT_S)
        record = json.loads(out.read_text()) if proc.returncode == 0 else None
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"perfbench: run exceeded {JVM_TIMEOUT_S} s\n")
        record = None
    except (OSError, ValueError):
        record = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    if record is None:
        sys.exit(f"perfbench: the {a.workload} run produced no result (exit {proc.returncode})")

    for f in record["failures"]:
        sys.stderr.write(f"perfbench: FAIL {f}\n")
    print(json.dumps({"workload": a.workload, "summary": record["summary"],
                      "meta": record["meta"]}))
    print(json.dumps({k: record[k] for k in ("correct", "attempted", "failed", "metrics")}))
    sys.exit(0 if record["correct"] else 1)


if __name__ == "__main__":
    main()
