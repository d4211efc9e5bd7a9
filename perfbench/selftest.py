#!/usr/bin/env python3
"""Self-tests of the graft benchmark.

    python3 perfbench/selftest.py            # determinism + tiny smoke runs
    python3 perfbench/selftest.py --quick    # determinism only (no Spark)

1. Generator determinism: for every workload, the same seed gives the
   same op sequence and a different seed gives a different one.
2. Smoke runs at tiny scale (small star schema, small forest, short tx
   stream), untraced and traced: every metric named in BENCHMARK.json is
   emitted with its unit, and no operation failed (error rate 0).
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import run  # noqa: E402  (the benchmark's own build and launch helpers)

WORKLOADS = ["snapshot_reads", "recursive_closure", "tx_interleaved"]


def ops(classpath, workload, seed, n=80):
    out = subprocess.run(
        ["java", "-cp", classpath, "graftbench.Main", "--workload", workload,
         "--seed", str(seed), "--gen-only", str(n)],
        check=True, stdout=subprocess.PIPE, text=True).stdout
    return out.splitlines()


def check_determinism(classpath):
    for w in WORKLOADS:
        a, b, c = ops(classpath, w, 7), ops(classpath, w, 7), ops(classpath, w, 8)
        assert len(a) == 80, f"{w}: expected 80 ops, got {len(a)}"
        assert a == b, f"{w}: seed 7 gave two different op sequences"
        assert a != c, f"{w}: seeds 7 and 8 gave the same op sequence"
        print(f"ok  determinism {w}")


def check_smoke(spec):
    for trace, key in [(0, "end_to_end"), (1, "per_layer")]:
        want = {m["name"]: m["unit"] for m in spec[key]}
        for w in WORKLOADS:
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", "3", "--seconds", "2", "--trace", str(trace),
                 "--scale", "tiny"],
                cwd=ROOT, stdout=subprocess.PIPE, text=True)
            assert proc.returncode == 0, f"{w} trace={trace}: exit {proc.returncode}"
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{w} trace={trace}: metrics {sorted(got)} != {sorted(want)}"
            assert res["attempted"] >= 1 and res["failed"] == 0 and res["correct"], \
                f"{w} trace={trace}: {res['failed']} of {res['attempted']} ops failed"
            print(f"ok  smoke {w} trace={trace}: {res['attempted']} ops, error rate 0")


def main():
    classpath = run.build()
    check_determinism(classpath)
    if "--quick" not in sys.argv:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            check_smoke(json.load(fh))
    print("all self-tests passed")


if __name__ == "__main__":
    main()
