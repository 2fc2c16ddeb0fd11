#!/usr/bin/env python3
"""Tiny-scale self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload at self-test scale (10k-row variants, sf0.001 corpus), once
untraced and once traced, and asserts that:
  - each run exits 0 with correct=true and no failed op;
  - the untraced run prints exactly the end_to_end metrics of BENCHMARK.json
    and the traced run exactly its per_layer metrics, each with its unit;
  - for every traced op, client.s + plan.* + exec.s equals the op's wall time
    and no part is negative beyond the tracker's millisecond rounding.
Exits non-zero on the first failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", "7", "--seconds", "1", "--trace", trace, "--tiny"],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} trace={trace}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in (("0", "end_to_end"), ("1", "per_layer")):
            r = run(w, trace)
            assert r["correct"] is True and r["failed"] == 0 and r["attempted"] >= 1, (w, r)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            assert got == want, (w, trace, sorted(set(got.items()) ^ set(want.items())))
            assert all(isinstance(v["value"], (int, float)) for v in r["metrics"].values()), r
            if trace == "1":
                record = os.path.join(ROOT, ".bench_build", "perfbench", "runs",
                                      f"{w}-seed7-trace1.json.run.json")
                with open(record) as f:
                    ops = [o for o in json.load(f)["ops"] if o["traced"]]
                assert ops, w
                for o in ops:
                    parts = o["analysis_s"] + o["optimizer_s"] + o["physical_s"] + o["exec_s"]
                    assert abs(parts + o["client_s"] - o["wall_s"]) < 1e-9, o
                    assert min(o["analysis_s"], o["optimizer_s"], o["physical_s"],
                               o["exec_s"]) >= 0, o
                    assert o["client_s"] > -0.005, o
            print(f"ok {w} trace={trace}: {len(r['metrics'])} metrics, "
                  f"{r['attempted']} ops", flush=True)


if __name__ == "__main__":
    main()
