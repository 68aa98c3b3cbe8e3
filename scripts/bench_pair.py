#!/usr/bin/env python3
"""Paired benchmark runs of a parent revision against the working tree.

    python3 scripts/bench_pair.py --parent <rev> --workload <olap|cdc> \
        [--seeds 1-10 | --seeds 1,2,5] [--held-out]

Run from the repository root. The parent revision is exported with
`git archive` into a temporary directory (offline; nothing in `.git`
changes) and removed at the end. For each seed, `perfbench/run.py` runs on
both sides with `--trace 0`, alternating which side goes first, each side
building into its own `.bench_build`. Then, per gated metric of
BENCHMARK.json, it prints each side's median and Q1-Q3, the pairs the
change won, and whether a gain holds: the change wins at least 9 of every
10 pairs and its median beats the parent's by more than the parent's
Q1-Q3 spread.

Seed 4242 is held out for a final check and is refused without
`--held-out`. Exits 1 if any run fails, is incorrect or has a failed
operation, 2 on bad usage.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HELD_OUT = 4242


def seed_list(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += list(range(int(lo), int(hi or lo) + 1))
    return seeds


def export(rev, dest):
    """Writes the files of `rev` into `dest` with git archive."""
    archive = subprocess.Popen(["git", "-C", ROOT, "archive", "--format=tar", rev],
                               stdout=subprocess.PIPE)
    untar = subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout)
    archive.stdout.close()
    if archive.wait() != 0 or untar.returncode != 0:
        raise SystemExit(f"bench_pair: cannot export revision {rev}")


def run(root, workload, seed, seconds):
    """One perfbench run in checkout `root`: its result line, or None."""
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=root, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None
    for line in lines[:-1]:
        if line.startswith(("run ", "e2e ", "failure ")):
            print("   ", line)
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seed_list, default=seed_list("1-10"),
                    help="e.g. 1-10 or 1,3,5 (default 1-10)")
    ap.add_argument("--held-out", action="store_true", help=f"allow seed {HELD_OUT}")
    ap.add_argument("--workdir", help="where the parent is exported (default: a temp dir)")
    args = ap.parse_args()
    if HELD_OUT in args.seeds and not args.held_out:
        ap.error(f"seed {HELD_OUT} is held out; pass --held-out to use it")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]

    parent_root = tempfile.mkdtemp(prefix="bench-pair-", dir=args.workdir)
    results = {"parent": [], "change": []}
    bad = []
    try:
        export(args.parent, parent_root)
        sides = {"parent": parent_root, "change": ROOT}
        for i, seed in enumerate(args.seeds):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            for side in order:
                print(f"{side} workload={args.workload} seed={seed}", flush=True)
                res = run(sides[side], args.workload, seed, seconds)
                if res is None or not res["correct"] or res["failed"]:
                    bad.append(f"{side} seed {seed}: " + (
                        "run failed" if res is None else f"failed={res['failed']}"))
                results[side].append(res)
    finally:
        shutil.rmtree(parent_root, ignore_errors=True)

    pairs = [(p, c) for p, c in zip(results["parent"], results["change"]) if p and c]
    print(f"\n{args.workload}: {len(pairs)} pairs, seeds {args.seeds}")
    for m in spec["end_to_end"] if pairs else []:
        name, lower = m["name"], m["better"] == "lower"
        ps = [p["metrics"][name]["value"] for p, _ in pairs]
        cs = [c["metrics"][name]["value"] for _, c in pairs]
        wins = sum((c < p) if lower else (c > p) for p, c in zip(ps, cs))
        pq, cq = quartiles(ps), quartiles(cs)
        gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        holds = wins * 10 >= 9 * len(pairs) and gap > pq[2] - pq[0]
        print(f"{name} ({m['unit']}, {m['better']} is better): "
              f"parent {pq[1]:.4g} [{pq[0]:.4g}-{pq[2]:.4g}], "
              f"change {cq[1]:.4g} [{cq[0]:.4g}-{cq[2]:.4g}], "
              f"{(cq[1] / pq[1] - 1) * 100 if pq[1] else 0:+.1f}%, "
              f"change won {wins}/{len(pairs)}, gain holds: {'yes' if holds else 'no'}")
    for b in bad:
        print(f"bad run: {b}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
