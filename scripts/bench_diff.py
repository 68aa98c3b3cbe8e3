#!/usr/bin/env python3
"""Per-query round-over-round bench diff from two bench_queries sidecars.

The driver keeps only a ~2KB tail of Bench stdout, so the full per-query
map cannot ride the one stdout JSON line (rounds 1-9 printed it and the
driver's parse came back empty). Instead graft.Bench writes the full map
to bench_queries.json; each round commits a stamped copy
(bench_queries_rNN.json) and this script prints the prev/now/speedup
table the driver's PERF comparison cannot.

Usage: scripts/bench_diff.py PREV.json NOW.json [--threshold 1.10]
(`--threshold=1.10` works too.) Exit code 0 after any report (a
reporting tool, not a gate); 2 on bad usage.
"""
import argparse
import json
import math


def load(path):
    with open(path) as f:
        d = json.load(f)
    return {k: v["sec"] for k, v in d.get("queries", {}).items()}, d


def main():
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("prev")
    ap.add_argument("now")
    ap.add_argument("--threshold", type=float, default=1.10)
    args = ap.parse_args()
    thr = args.threshold
    prev, pmeta = load(args.prev)
    now, nmeta = load(args.now)
    common = sorted(set(prev) & set(now))
    dropped = sorted(set(prev) - set(now))
    added = sorted(set(now) - set(prev))
    rows = []
    for q in common:
        p, n = prev[q], now[q]
        if p <= 0 or n <= 0:
            rows.append((q, p, n, None))
        else:
            rows.append((q, p, n, p / n))
    rated = [r for r in rows if r[3] is not None]
    geo = (
        math.exp(sum(math.log(r[3]) for r in rated) / len(rated))
        if rated
        else float("nan")
    )
    print(f"prev total {pmeta.get('total', 0):.2f}s  "
          f"now total {nmeta.get('total', 0):.2f}s  "
          f"n_common {len(common)}  geomean speedup {geo:.3f}x")
    if dropped:
        print(f"DROPPED ({len(dropped)}): {', '.join(dropped)}")
    if added:
        print(f"added ({len(added)}): {', '.join(added)}")
    fails = [r[0] for r in rows if r[3] is None]
    if fails:
        print(f"FAILED in a round ({len(fails)}): {', '.join(fails)}")
    moved = sorted(
        (r for r in rated if r[3] >= thr or r[3] <= 1 / thr),
        key=lambda r: r[3],
    )
    print(f"\nmovers beyond {thr:.2f}x (prev_s  now_s  speedup):")
    for q, p, n, s in moved:
        tag = "REGRESSED" if s < 1 else "improved"
        print(f"  {q:40s} {p:8.3f} {n:8.3f}  {s:5.2f}x  {tag}")
    if not moved:
        print("  (none)")


if __name__ == "__main__":
    main()
