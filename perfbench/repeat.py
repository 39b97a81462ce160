#!/usr/bin/env python3
"""Run the traced run of one workload twice on one seed and list which
per-layer metrics repeat exactly and which do not.

    python3 perfbench/repeat.py --workload corpus --seed 7 --seconds 10
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def traced_run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                       stdout=subprocess.PIPE, text=True, check=True)
    record, result = (json.loads(l) for l in p.stdout.splitlines()[-2:])
    return record, {k: v["value"] for k, v in result["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    args = ap.parse_args()
    (r1, a), (r2, b) = (traced_run(args.workload, args.seed, args.seconds) for _ in range(2))
    same_input = r1["input_hash"] == r2["input_hash"]
    print(f"input hash {r1['input_hash']} / {r2['input_hash']} ({'same' if same_input else 'DIFFERENT'})")
    for k in a:
        if a[k] == 0 and b[k] == 0:
            continue
        tag = "repeats" if a[k] == b[k] else "differs"
        print(f"{tag:8} {k:45} {a[k]!r:>24} {b[k]!r:>24}")


if __name__ == "__main__":
    main()
