#!/usr/bin/env python3
"""Cross-round bench comparison (VERDICT r7 item 9).

Usage: python3 tools/benchdiff.py <bench_full_prev.json> <bench_full_cur.json>

Compares the per-query WARM MINIMUMS of two tools.Diag warm-table artifacts
(SPARK_GRAFT_PROFILE_OUT)
and prints a regression table. Queries are flagged only when BOTH
 - the ratio cur/prev exceeds 1.5x (the host shows +-45% single-run noise;
   warm minimums of 3 reps are steadier but sub-second entries still jitter),
 - and the absolute delta exceeds 0.3 s (a 0.08s -> 0.15s "2x" is noise).
Exit code 1 when any query is flagged, so the round log records it.
"""
import sys, json

RATIO = 1.5
ABS_DELTA = 0.3


def main():
    prev_path, cur_path = sys.argv[1], sys.argv[2]
    prev = json.load(open(prev_path))
    cur = json.load(open(cur_path))
    pq, cq = prev["queries"], cur["queries"]
    common = sorted(set(pq) & set(cq))
    added = sorted(set(cq) - set(pq))
    removed = sorted(set(pq) - set(cq))

    flagged = []
    improved = []
    for name in common:
        a, b = pq[name]["min"], cq[name]["min"]
        if a > 0 and b / a > RATIO and b - a > ABS_DELTA:
            flagged.append((name, a, b, b / a))
        elif b > 0 and a / b > RATIO and a - b > ABS_DELTA:
            improved.append((name, a, b, b / a))

    tp = sum(pq[n]["min"] for n in common)
    tc = sum(cq[n]["min"] for n in common)
    print(f"common queries: {len(common)}  "
          f"prev total {tp:.1f}s -> cur total {tc:.1f}s "
          f"({tc / tp:.2f}x)" if tp else "no common queries")
    if added:
        print(f"added ({len(added)}): {', '.join(added)}")
    if removed:
        print(f"removed ({len(removed)}): {', '.join(removed)}")
    if improved:
        print(f"\nimproved >{RATIO}x:")
        for n, a, b, r in sorted(improved, key=lambda x: x[3]):
            print(f"  {n:<28} {a:6.2f}s -> {b:6.2f}s  ({r:.2f}x)")
    if flagged:
        print(f"\nREGRESSED >{RATIO}x (and >{ABS_DELTA}s):")
        for n, a, b, r in sorted(flagged, key=lambda x: -x[3]):
            print(f"  {n:<28} {a:6.2f}s -> {b:6.2f}s  ({r:.2f}x)")
    else:
        print("\nno regressions above threshold")
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
