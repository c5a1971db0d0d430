#!/usr/bin/env python3
"""Seed tests of the benchmark. Run from the root of a checkout:

    python3 perfbench/test_seeds.py

1. The same seed gives the same inputs: input checksums, expected counts
   and digests (and, for `queries`, the same entry orders).
2. Another seed gives other inputs, and a short run on it passes every
   output check.
"""
import json
import subprocess
import sys

RUN = [sys.executable, "perfbench/run.py"]


def last_json(args):
    r = subprocess.run(RUN + args, capture_output=True, text=True)
    assert r.returncode == 0, r.stderr[-3000:]
    return json.loads(r.stdout.strip().splitlines()[-1])


def inputs(workload, seed):
    return last_json(["--workload", workload, "--seed", str(seed), "--seconds", "1",
                      "--inputs-only"])


def main():
    workloads = [w["name"] for w in json.load(open("BENCHMARK.json"))["workloads"]]
    for w in workloads:
        a, b, c = inputs(w, 1), inputs(w, 1), inputs(w, 2)
        assert a == b, f"{w}: seed 1 gave different inputs on two runs"
        assert a != c, f"{w}: seeds 1 and 2 gave the same inputs"
        r = last_json(["--workload", w, "--seed", "2", "--seconds", "1"])
        assert r["correct"] and r["failed"] == 0, f"{w}: seed 2 failed its checks: {r}"
        print(f"ok {w}: seed 1 repeats, seed 2 differs and passes ({r['attempted']} operations)")


if __name__ == "__main__":
    main()
