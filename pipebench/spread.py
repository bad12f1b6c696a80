#!/usr/bin/env python3
"""Run the benchmark once per seed and report each end-to-end metric's
median, quartiles and spread (interquartile distance over the median), the
figures BENCHMARK.json's bounds are set against.

    python3 pipebench/spread.py --workload rollup_batch --seeds 1-10 [--out runs.jsonl]

Runs are sequential; each is one ``pipebench/run.py`` invocation with
BENCHMARK.json's ``run_seconds``.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", help="append each run's result line to this file")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {}
    for seed in seeds(a.seeds):
        cmd = ["python3", os.path.join(HERE, "run.py"), "--workload", a.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
        if r.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {r.returncode}", file=sys.stderr)
            return 1
        res = json.loads(last)
        ops = [ln for ln in r.stdout.splitlines() if ln.startswith('{"ops"')]
        if a.out:
            with open(a.out, "a") as fh:
                fh.write(json.dumps({"workload": a.workload, "seed": seed, **res}) + "\n")
        print(f"seed {seed}: correct={res['correct']} " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        print(f"  {ops[0] if ops else ''}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        print(f"{k:14} median={med:.4g} q1={q1:.4g} q3={q3:.4g} spread={spread:.3f} "
              f"bound={bounds.get(k)} ok={spread < bounds.get(k, 0) / 3}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
