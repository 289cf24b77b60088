#!/usr/bin/env python3
"""Self-tests of the benchmark, from the root of a checkout:
  python3 perfbench/selftest.py

1. Smoke: every workload, one pass on the smoke corpus, untraced and
   traced; every metric BENCHMARK.json declares is printed with its unit,
   outputs are correct and nothing failed.
2. A corrupted expected result is reported: wrong_results = 1.
3. A query forced to throw is counted: failed_frac > 0.
Exits non-zero on the first failed assertion.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import run  # noqa: E402  (metric tables)


def bench(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke", *extra]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    assert p.returncode == 0, f"{cmd} exited {p.returncode}"
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    ctx = json.loads(lines[-2])["run_context"]
    with open(os.path.join(ROOT, ctx["run_dir"], "record.json")) as f:
        return result, json.load(f)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    spec = run.SPEC
    assert sorted(w["name"] for w in declared["workloads"]) == sorted(spec["workloads"])
    for key, table in (("end_to_end", run.END_TO_END),
                       ("per_layer", {k: u for k, (u, _) in run.PER_LAYER.items()})):
        assert {m["name"]: m["unit"] for m in declared[key]} == table, \
            f"BENCHMARK.json {key} differs from run.py"
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            result, record = bench(w, trace)
            assert set(result) == {"correct", "attempted", "failed", "metrics"}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            want = {m["name"]: m["unit"] for m in declared[key]}
            assert got == want, f"{w} trace {trace}: metrics {sorted(set(got) ^ set(want))}"
            assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
            assert result["correct"] and result["failed"] == 0, f"{w}: {record['wrong']} {record['failures']}"
            print(f"ok smoke {w} trace {trace}: {result['attempted']} attempted")
    w = "fresh_sf0.001"
    victim = spec["workloads"][w]["queries"][0]
    result, record = bench(w, 0, "--corrupt-expected", victim)
    assert record["wrong_results"] == 1 and not result["correct"], record["wrong"]
    print(f"ok corrupted expected result of {victim}: wrong_results = 1")
    result, record = bench(w, 0, "--fail-query", victim)
    assert record["failed_frac"] > 0 and result["failed"] > 0 and not result["correct"]
    print(f"ok forced failure of {victim}: failed_frac = {record['failed_frac']:.3f}")


if __name__ == "__main__":
    main()
