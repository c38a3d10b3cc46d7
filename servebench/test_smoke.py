#!/usr/bin/env python3
"""Smoke tests of the serving benchmark's own contract.

Run from the root of a checkout (takes a few minutes; builds on first use):

    python3 servebench/test_smoke.py

For every workload it runs the smoke mode (sf0.001-sized inputs, one set-up,
answer checks on) untraced and traced, and checks that the last stdout line
is a correct result carrying exactly the metrics BENCHMARK.json names. It
also checks that the benchmark refuses to run, without printing a result,
in a directory that holds only BENCHMARK.json and the benchmark's files.
"""
import json
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.dirname(os.path.abspath(__file__))


def run(cwd, *args):
    proc = subprocess.run([sys.executable, os.path.join(cwd, os.path.basename(BENCH), "run.py"),
                           *args], cwd=cwd, capture_output=True, text=True, timeout=900)
    return proc.returncode, proc.stdout.splitlines()


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    expected = {0: {m["name"] for m in spec["end_to_end"]}, 1: {m["name"] for m in spec["per_layer"]}}
    failures = []
    for workload in ["dash", "scan", "ingest"]:
        for trace in (0, 1):
            code, lines = run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "2",
                              "--trace", str(trace), "--smoke")
            result = json.loads(lines[-1]) if lines else {}
            got = set(result.get("metrics", {}))
            ok = (code == 0 and result.get("correct") is True and result.get("attempted", 0) >= 1
                  and got == expected[trace]
                  and all(isinstance(v["value"], float) for v in result["metrics"].values()))
            print(f"{'ok  ' if ok else 'FAIL'} {workload} trace={trace} exit={code} "
                  f"missing={sorted(expected[trace] - got)} extra={sorted(got - expected[trace])}")
            if not ok:
                failures.append(f"{workload} trace={trace}")

    bare = os.path.join(ROOT, ".bench_build", "servebench-bare-test")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(BENCH, os.path.join(bare, os.path.basename(BENCH)),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        code, lines = run(bare, "--workload", "scan", "--seed", "1", "--seconds", "1", "--trace", "0")
        ok = code != 0 and not any(ln.startswith("{\"correct\"") for ln in lines)
        print(f"{'ok  ' if ok else 'FAIL'} bare directory exit={code}")
        if not ok:
            failures.append("bare directory")
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    if failures:
        print("FAILED: " + ", ".join(failures))
        sys.exit(1)
    print("all smoke checks passed")


if __name__ == "__main__":
    main()
