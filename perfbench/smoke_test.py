#!/usr/bin/env python3
"""The benchmark's own test: every workload in smoke mode (tiny inputs, three
passes), traced and untraced. Checks that the last stdout line has exactly the
result keys, that every metric BENCHMARK.json names is printed with its unit,
that the outputs were correct and every check ran, and that the command fails
without a result in a directory holding only the benchmark.

    python3 perfbench/smoke_test.py      (from the root of a checkout)
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def one(workload, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--smoke"]
    r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    errs = []
    if r.returncode != 0:
        return [f"exit {r.returncode}: {r.stderr[-2000:]}"]
    lines = r.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"result keys {sorted(res)}")
    if res["correct"] is not True or res["attempted"] < 1:
        errs.append(f"correct={res['correct']} attempted={res['attempted']}: {r.stderr[-1500:]}")
    want = {m["name"]: m["unit"] for m in SPEC["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        errs.append(f"metrics differ: missing {sorted(set(want) - set(got))}, "
                    f"extra {sorted(set(got) - set(want))}, "
                    f"units {[k for k in want if k in got and got[k] != want[k]]}")
    if not all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()):
        errs.append("non-numeric metric value")
    checks = json.loads(next(ln for ln in lines if ln.startswith("checks "))[len("checks "):])
    failed_checks = sorted(k for k, ok in checks.items() if not ok)
    if failed_checks:
        errs.append(f"checks failed or not run: {failed_checks}")
    return errs


def bare_directory():
    """Only BENCHMARK.json and perfbench/: must fail fast, print no result."""
    bare = os.path.join(run.BUILD, "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("target", "__pycache__"))
    r = subprocess.run(SPEC["command"] + ["--workload", "query_mix", "--seed", "1", "--seconds", "1",
                                          "--trace", "0"], cwd=bare, capture_output=True, text=True,
                       timeout=180)
    shutil.rmtree(bare)
    if r.returncode == 0 or r.stdout.strip():
        return [f"bare directory: exit {r.returncode}, stdout {r.stdout[-200:]!r}"]
    return []


def main():
    failures = bare_directory()
    for w in sorted(run.SIZES):
        for trace in (0, 1):
            errs = one(w, trace)
            print(f"{'ok  ' if not errs else 'FAIL'} {w} trace={trace}")
            failures += [f"{w} trace={trace}: {e}" for e in errs]
    for f in failures:
        print(f, file=sys.stderr)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
