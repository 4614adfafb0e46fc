#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 geobench/smoke_test.py

For every workload in BENCHMARK.json it checks that
  * an untraced run prints every end_to_end metric with its unit, all
    checks pass and failed_frac (1 - ok_frac) is 0;
  * a traced run prints every per_layer metric with its unit;
  * a run with a deliberately wrong expected answer (--expect-wrong 1)
    reports failed > 0 and ok_frac < 1;
and that the command exits non-zero without a result line in a directory
holding only BENCHMARK.json and the benchmark's files. Takes a few minutes.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(spec, workload, *extra, cwd=ROOT):
    cmd = spec["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                             "--size", "tiny"] + list(extra)
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p


def result(p):
    assert p.returncode == 0, f"exit {p.returncode}: {p.stderr[-2000:]}"
    return json.loads(p.stdout.strip().splitlines()[-1])


def expect_metrics(res, wanted, label):
    got = res["metrics"]
    assert set(got) == {m["name"] for m in wanted}, \
        f"{label}: metric names differ: {sorted(set(got) ^ {m['name'] for m in wanted})}"
    for m in wanted:
        assert got[m["name"]]["unit"] == m["unit"], f"{label}: {m['name']} unit {got[m['name']]['unit']}"
        assert isinstance(got[m["name"]]["value"], (int, float)), f"{label}: {m['name']} value"


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for w in spec["workloads"]:
        name = w["name"]
        res = result(run(spec, name, "--trace", "0"))
        expect_metrics(res, spec["end_to_end"], f"{name} untraced")
        assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0, res
        assert res["metrics"]["ok_frac"]["value"] == 1.0, res

        res = result(run(spec, name, "--trace", "1"))
        expect_metrics(res, spec["per_layer"], f"{name} traced")
        assert res["correct"], res

        res = result(run(spec, name, "--trace", "0", "--expect-wrong", "1"))
        assert not res["correct"] and res["failed"] > 0, res
        assert res["metrics"]["ok_frac"]["value"] < 1.0, res
        print(f"ok  {name}")

    # a directory with only BENCHMARK.json and the benchmark must fail fast
    bare = os.path.join(ROOT, ".bench_build", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
    p = run(spec, spec["workloads"][0]["name"], "--trace", "0", cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    assert p.returncode != 0 and '"metrics"' not in p.stdout, (p.returncode, p.stdout)
    print("ok  bare directory fails without a result")


if __name__ == "__main__":
    try:
        main()
    except AssertionError as e:
        print(f"FAILED {e}")
        sys.exit(1)
