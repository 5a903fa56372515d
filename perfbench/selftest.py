#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001 and a low event rate.

Usage (from the repository root): python3 perfbench/selftest.py

Checks that
  - every run emits every BENCHMARK.json metric with its unit (untraced:
    end_to_end; traced: per_layer), plus a correctness verdict;
  - a corrupted query fingerprint, store twin or stream ground truth is
    reported as a failure;
  - another seed changes the generated inputs but not the metric set.
Takes a few minutes; exits non-zero on the first failed check.
"""
import json
import os
import subprocess
import sys
import tempfile

RUN = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")]
ARTS = os.path.abspath(os.path.join(".bench_build", "artifacts"))
BENCH = json.load(open("BENCHMARK.json"))


def run(workload, seed, trace=0, **extra):
    args = RUN + ["--workload", workload, "--seed", str(seed), "--seconds", "3",
                  "--trace", str(trace), "--scale", "0.001", "--rate", "20"]
    for k, v in extra.items():
        args += [f"--{k}", str(v)]
    p = subprocess.run(args, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(f"FAIL {workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    with open(os.path.join(ARTS, f"{workload}-seed{seed}-trace{trace}.json")) as f:
        return result, json.load(f)


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def main():
    kinds = {"0": BENCH["end_to_end"], "1": BENCH["per_layer"]}
    os.makedirs(ARTS, exist_ok=True)
    expected = os.path.join(tempfile.mkdtemp(dir=ARTS), "fingerprints.json")

    def complete(result, trace, label):
        want = {m["name"]: m["unit"] for m in kinds[str(trace)]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        check(got == want and all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()),
              f"{label}: all {len(want)} {'per_layer' if trace else 'end_to_end'} metrics with units")
        check(isinstance(result["correct"], bool) and result["attempted"] >= 1,
              f"{label}: correctness verdict and attempt count")

    r, _ = run("batch", 1, record=1, expected=expected)
    r1, a1 = run("batch", 1, expected=expected)
    complete(r1, 0, "batch")
    check(r1["correct"] and r1["failed"] == 0, "batch: recorded fingerprints match")
    r2, a2 = run("batch", 2, expected=expected)
    check(a1["detail"]["inputs_digest"] != a2["detail"]["inputs_digest"],
          "batch: another seed changes the inputs")
    check(set(r1["metrics"]) == set(r2["metrics"]), "batch: another seed keeps the metric set")
    r, _ = run("batch", 2, trace=1, expected=expected)
    complete(r, 1, "batch traced")
    r, _ = run("batch", 1, corrupt=1, expected=expected)
    check(not r["correct"] and r["failed"] >= 1, "batch: corrupted store twin fails")
    fps = json.load(open(expected))
    name = sorted(fps)[0]
    fps[name]["xor"] += 1
    json.dump(fps, open(expected, "w"))
    r, _ = run("batch", 1, expected=expected)
    check(not r["correct"] and r["failed"] >= 1, f"batch: corrupted fingerprint of {name} fails")

    wl = "stream-bnpl"
    r1, a1 = run(wl, 1)
    complete(r1, 0, wl)
    check(r1["correct"] and r1["failed"] == 0, f"{wl}: correct at low rate")
    r2, a2 = run(wl, 2)
    check(a1["detail"]["inputs_digest"] != a2["detail"]["inputs_digest"],
          f"{wl}: another seed changes the inputs")
    check(set(r1["metrics"]) == set(r2["metrics"]), f"{wl}: another seed keeps the metric set")
    r, _ = run(wl, 1, trace=1)
    complete(r, 1, f"{wl} traced")
    r, _ = run(wl, 1, corrupt=1)
    check(not r["correct"] and r["failed"] >= 1, f"{wl}: corrupted ground truth fails")
    print("self-test passed")


if __name__ == "__main__":
    main()
