#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny input size (scale 0.001). Run from
the repo root:

    python3 perfbench/selftest.py

For every workload it checks that a run prints every end-to-end metric of
BENCHMARK.json by name with its unit and counts no failure, that a traced
run (--trace 1) prints every per-layer metric by name with its unit, and
that a run with one planted wrong expected value (--inject 1: a wrong
oracle fingerprint in query_mix, a wrong view row in table_dml) is counted
as a failure and reported as not correct.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, inject, trace=0):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "1", "--trace", str(trace), "--scale", "0.001", "--inject", str(inject)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise AssertionError(f"{workload}: run.py exited {r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-1])


def main():
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        res = run(w, 0)
        traced = run(w, 0, trace=1)
        for r, key in ((res, "end_to_end"), (traced, "per_layer")):
            for m in spec[key]:
                got = r["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{w}: metric {m['name']} missing or without unit {m['unit']}: {got}")
            if not r["correct"] or r["failed"] != 0:
                problems.append(f"{w}: clean {key} run not correct: {r}")
        bad = run(w, 1)
        if bad["correct"] or bad["failed"] == 0 or bad["failed"] / bad["attempted"] <= 0:
            problems.append(f"{w}: planted mismatch not counted: {bad}")
        print(f"{w}: clean failed={res['failed']}/{res['attempted']}, "
              f"planted failed={bad['failed']}/{bad['attempted']}")
    for p in problems:
        print("FAIL", p)
    print("selftest " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
