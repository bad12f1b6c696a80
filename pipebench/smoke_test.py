#!/usr/bin/env python3
"""The benchmark's own end-to-end test, on the tiny ``--size smoke`` tables.

    python3 pipebench/smoke_test.py

Checks, for every workload, that a run exits 0 with ``correct`` true, no
failed operation and exactly BENCHMARK.json's end-to-end metrics; that a
second run with the same seed prints the same output digest and a run with
another seed passes its checks; that a traced run prints exactly the
per-layer metrics and writes its spans; and that the benchmark fails, without
a result, in a directory holding only BENCHMARK.json and pipebench/.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("rollup_batch", "cc_batch", "append")


def run(workload, seed, trace=0, cwd=ROOT):
    cmd = ["python3", os.path.join(cwd, "pipebench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--size", "smoke"]
    r = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                       timeout=180)
    lines = r.stdout.strip().splitlines()
    return r.returncode, lines, r.stderr


def info(lines, key):
    for ln in lines:
        if ln.startswith("{") and key in ln:
            obj = json.loads(ln)
            if key in obj:
                return obj[key]
    return None


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = [m["name"] for m in bench["end_to_end"]]
    layers = [m["name"] for m in bench["per_layer"]]
    errors = []

    def expect(cond, msg):
        if not cond:
            errors.append(msg)
            print("FAIL:", msg, flush=True)

    digests = {}
    for w in WORKLOADS:
        rc, lines, err = run(w, 7)
        expect(rc == 0, f"{w}: exit {rc}\n{err[-2000:]}")
        if rc != 0:
            continue
        res = json.loads(lines[-1])
        expect(res["correct"] and res["failed"] == 0, f"{w}: {res} {info(lines, 'problem')}")
        expect(list(res["metrics"]) == e2e, f"{w}: end-to-end metrics {list(res['metrics'])}")
        expect(all(v["value"] > 0 for v in res["metrics"].values()), f"{w}: a metric reads 0")
        digests[w] = info(lines, "digest")
        print(f"ok {w} seed 7 digest {digests[w]}", flush=True)

    rc, lines, _ = run("rollup_batch", 7)
    expect(rc == 0 and info(lines, "digest") == digests.get("rollup_batch"),
           "rollup_batch: digest differs between two runs of seed 7")
    rc, lines, _ = run("cc_batch", 8)
    expect(rc == 0 and json.loads(lines[-1])["correct"], "cc_batch: checks fail on seed 8")
    print("ok repeat digest and second seed", flush=True)

    rc, lines, err = run("cc_batch", 7, trace=1)
    expect(rc == 0, f"cc_batch trace: exit {rc}\n{err[-2000:]}")
    if rc == 0:
        res = json.loads(lines[-1])
        expect(res["correct"], f"cc_batch trace: {res}")
        expect(list(res["metrics"]) == layers, "cc_batch trace: per-layer metric names differ")
        spans = json.load(open(info(lines, "trace_file")))
        expect(spans and all({"run_id", "name", "start_s", "end_s", "parent"} <= set(s) for s in spans),
               "cc_batch trace: span file lacks fields")
        expect(len([ln for ln in lines if '"top_layer"' in ln]) == 3, "cc_batch trace: no top-3 layers")
        print("ok traced run", flush=True)

    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "pipebench"),
                    ignore=shutil.ignore_patterns(".build", ".work", "__pycache__"))
    rc, lines, _ = run("rollup_batch", 7, cwd=bare)
    expect(rc != 0 and not (lines and lines[-1].startswith("{\"correct\"")),
           "bare directory: the benchmark did not fail")
    shutil.rmtree(bare, ignore_errors=True)
    print("ok bare directory fails", flush=True)

    print("FAILED" if errors else "PASSED")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
