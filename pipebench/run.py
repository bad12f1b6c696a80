#!/usr/bin/env python3
"""Pipeline benchmark of the xcorrspark engine.

One command runs one named workload on a seeded synthetic transcript table
and prints every metric by name and unit; the last stdout line is one JSON
object with the keys ``correct``, ``attempted``, ``failed`` and ``metrics``.

    python3 pipebench/run.py --workload rollup_batch --seed 1 --seconds 10 --trace 0

Workloads (see pipebench/README.md): ``rollup_batch``, ``cc_batch``,
``append``. ``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics of a separate traced run. ``--size smoke`` runs a tiny
table for the benchmark's own test (pipebench/smoke_test.py).

The engine and the benchmark are compiled from source on first use
(pipebench/build.py). Everything the run writes lives under
``pipebench/.work`` and is removed when the run ends, except the span file
of a traced run (``pipebench/.work/traces``).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("rollup_batch", "cc_batch", "append")
# a run must end within this many seconds, compilation aside
RUN_LIMIT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    a = ap.parse_args()

    start = time.monotonic()
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"pipebench: build failed: {e}", file=sys.stderr)
        return 2
    build_s = time.monotonic() - start

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "pipebench.PipelineBench", a.workload, str(a.seed), str(a.seconds),
              str(a.trace), a.size, work])
    log_path = os.path.join(work, "jvm.log")
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True)
            budget = max(30.0, RUN_LIMIT_S - (time.monotonic() - start - build_s))
            try:
                out, _ = proc.communicate(timeout=budget)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                print(f"pipebench: run exceeded {budget:.0f} s, stopped", file=sys.stderr)
                return 3
        lines = [ln for ln in out.splitlines() if ln.strip()]
        result = None
        if lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                result = None
        if proc.returncode != 0 or not isinstance(result, dict) or \
                set(result) != {"correct", "attempted", "failed", "metrics"}:
            sys.stdout.write("\n".join(lines[:-1]) + "\n" if lines else "")
            with open(log_path) as fh:
                err = fh.read()
            first = [ln for ln in err.splitlines() if "Exception" in ln or "Error" in ln][:5]
            sys.stderr.write("\n".join(first) + "\n...\n" + err[-3000:])
            print(f"pipebench: JVM exited {proc.returncode} without a result", file=sys.stderr)
            return 1
        for ln in lines[:-1]:
            print(ln)
        for name, m in result["metrics"].items():
            print(f"# {name} = {m['value']} {m['unit']}")
        print(f"# failed_share = {result['failed'] / max(1, result['attempted'])} "
              f"({result['failed']} of {result['attempted']} operations)")
        print(json.dumps(result))
        return 0
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
