#!/usr/bin/env python3
"""Compare per-query bench times between sf0.1 and the derived 10x
corpus (dev tool only). A query scaling super-linearly past the given
ratio is named — that's a plan bug the sf0.1 bench can't see (round-10
verdict item #1).

Usage: python3 tools/r11/scale_compare.py SF01.json SF1D.json [maxRatio]

Times under `floorSec` on BOTH sides are skipped (fixed per-query
overhead — session/codegen/planning — dominates there and the ratio is
noise, not a scaling signal).
"""
import json
import sys

FLOOR_SEC = 0.6


def main():
    a, b = json.load(open(sys.argv[1])), json.load(open(sys.argv[2]))
    max_ratio = float(sys.argv[3]) if len(sys.argv) > 3 else 12.0
    qa, qb = a["queries"], b["queries"]
    # a query that crashed or was dropped on EITHER side is a gate
    # FAILURE, not a skip — silently scanning only the intersection would
    # pass the super-linear gate with queries never compared (round-11
    # advice; both directions, or a partial sf0.1 artifact would
    # vacuously pass against a full 10x one)
    missing = sorted(set(qa) ^ set(qb))
    if missing:
        print(f"not in BOTH artifacts: {missing}")
    if a.get("failed", 0) or b.get("failed", 0):
        print(f"FAILED queries reported: sf0.1={a.get('failed')} "
              f"10x={b.get('failed')}")
    rows = []
    for q in sorted(set(qa) & set(qb), key=lambda s: int(s[1:])):
        ta, tb = qa[q], qb[q]
        rows.append((q, ta, tb, tb / ta))
    print(f"{'query':8} {'sf0.1':>7} {'10x':>8} {'ratio':>6}")
    bad = []
    for q, ta, tb, r in rows:
        flag = ""
        # skip only when BOTH sides sit under the noise floor; a small-ta
        # query whose 10x time is real (tb above floor) must still flag
        if tb > FLOOR_SEC and tb > max_ratio * ta:
            flag = "  <-- SUPER-LINEAR"
            bad.append(q)
        print(f"{q:8} {ta:7.2f} {tb:8.2f} {r:6.2f}{flag}")
    print(f"\ntotal sf0.1 {a['value']:.1f}s -> 10x {b['value']:.1f}s "
          f"({b['value'] / a['value']:.2f}x on 10x data); "
          f"failed: {a.get('failed', 0)}/{b.get('failed', 0)}")
    if bad:
        print(f"SUPER-LINEAR (> {max_ratio}x time on 10x data): {bad}")
    if bad or missing or a.get("failed", 0) or b.get("failed", 0):
        sys.exit(1)
    print(f"no query exceeds {max_ratio}x time on 10x data")


if __name__ == "__main__":
    main()
