#!/usr/bin/env python3
"""Compare two bench_full.json records row by row.

Usage: bench_compare.py A.json B.json [min_sec]

Prints per-query A/B ratios (queries below min_sec in BOTH records are
summarized, not listed), plus totals. Used for the r15 scaling
artifact (8-core vs 32-core at sf0.3: a data-bound row should speed up
toward 4x with cores; a fixed-cadence/fixpoint row will not, and the
anti-scaling rows get quantified instead of argued).
"""
import json
import sys


def load(p):
    with open(p) as f:
        return json.load(f)


def main():
    a, b = load(sys.argv[1]), load(sys.argv[2])
    floor = float(sys.argv[3]) if len(sys.argv) > 3 else 0.5
    qa, qb = a["queries"], b["queries"]
    common = sorted(set(qa) & set(qb))
    rows = []
    small = 0
    for q in common:
        va, vb = qa[q], qb[q]
        if va < floor and vb < floor:
            small += 1
            continue
        rows.append((q, va, vb, va / vb if vb > 0 else float("inf")))
    rows.sort(key=lambda r: -r[3])
    print(f"{'query':38s} {'A':>7s} {'B':>7s} {'A/B':>6s}")
    for q, va, vb, r in rows:
        print(f"{q:38s} {va:7.2f} {vb:7.2f} {r:6.2f}")
    ta = sum(v for v in qa.values() if v >= 0)
    tb = sum(v for v in qb.values() if v >= 0)
    print(f"\n{small} rows under {floor}s in both records (skipped)")
    print(f"totals: A={ta:.2f}s B={tb:.2f}s A/B={ta/tb:.3f}")
    print(f"cal A={a.get('cal')} B={b.get('cal')}  load A={a.get('load')} "
          f"B={b.get('load')}  spread_n A={a.get('spread_n', 0)} "
          f"B={b.get('spread_n', 0)}")


if __name__ == "__main__":
    main()
