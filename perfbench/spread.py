#!/usr/bin/env python3
"""Run-to-run spread, set-to-set agreement and tracing overhead.

    python3 perfbench/spread.py [--workloads olap,cdc] [--seeds 1-10] [--sets 2]
                                [--trace-seeds 1-3] [--reuse]

Runs perfbench/run.py from the repository root: `--sets` sets over the
seeds of every workload, the seed order alternating from set to set
(ascending, descending, ...), then traced runs over `--trace-seeds`. For
each workload and end-to-end figure it prints each set's median and
quartile spread (Q3 - Q1 of statistics.quantiles(n=4), over the median),
host-adjusted and raw side by side, the gated figures against their
bounds, and how far the last set's median moved from the first. Traced
runs give the tracing overhead (traced median against untraced median)
and the trace reconciliation. --reuse reads the results of earlier runs.

Seed HELD_OUT_SEED is never run by this tool: keep it for checking a
later claim on a seed the change was not tuned on.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HELD_OUT_SEED = 4242


def seeds_arg(s):
    out = []
    for part in s.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def results_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                        "perfbench", "results")


def kept(tag, w, seed, trace):
    return os.path.join(results_dir(), tag, f"{w}-seed{seed}-trace{trace}.json")


def run(tag, w, seed, trace, seconds):
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{w} seed {seed} trace {trace} failed")
    last = json.loads(r.stdout.strip().splitlines()[-1])
    dest = kept(tag, w, seed, trace)
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    shutil.copy(os.path.join(results_dir(), f"{w}-seed{seed}-trace{trace}.json"), dest)
    print(f"  {tag} {w} seed={seed} trace={trace} correct={last['correct']} "
          f"failed={last['failed']}/{last['attempted']} wall={time.time() - t0:.0f}s "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()
                     if not k.startswith(("trace.", "host."))),
          flush=True)


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--trace-seeds", type=seeds_arg, default=[])
    ap.add_argument("--reuse", action="store_true")
    args = ap.parse_args()
    if HELD_OUT_SEED in args.seeds + args.trace_seeds:
        raise SystemExit(f"seed {HELD_OUT_SEED} is held out")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in spec["workloads"]])
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    sets = [f"set{i + 1}" for i in range(args.sets)]
    if not args.reuse:
        for i, tag in enumerate(sets):
            order = args.seeds if i % 2 == 0 else args.seeds[::-1]
            for w in workloads:
                for s in order:
                    run(tag, w, s, 0, spec["run_seconds"])
        for w in workloads:
            for s in args.trace_seeds:
                run("traced", w, s, 1, spec["run_seconds"])

    def load(tag, w, seeds, trace):
        return [json.load(open(kept(tag, w, s, trace))) for s in seeds]

    first = load(sets[0], workloads[0], args.seeds[:1], 0)[0]
    print(f"host {first['host']}; jdk {first['info']['jdk']}; spark {first['info']['spark']}; "
          f"held-out seed {HELD_OUT_SEED}")
    for w in workloads:
        res = {tag: load(tag, w, args.seeds, 0) for tag in sets}
        print(f"\n{w}: {len(args.seeds)} seeds x {len(sets)} sets; median (quartile spread), "
              f"adjusted | raw")
        gate_of = {g: None for g in res[sets[0]][0]["gated"]}
        for name in res[sets[0]][0]["e2e"]:
            line = f"  {name:<22}"
            meds = []
            for tag in sets:
                adj = spread([r["e2e"][name]["adj"] for r in res[tag]])
                raw = spread([r["e2e"][name]["raw"] for r in res[tag]])
                meds.append(adj[0])
                line += f" {tag}: {adj[0]:.4g} ({adj[1]:.3f}) | {raw[0]:.4g} ({raw[1]:.3f})"
            if len(sets) > 1 and meds[0]:
                line += f"  moved {(meds[-1] - meds[0]) / meds[0]:+.3f}"
            print(line)
        for g in gate_of:
            line = f"  gated {g:<16} bound {bounds[g]}:"
            worst = 0.0
            for tag in sets:
                med, sp = spread([r["gated"][g] for r in res[tag]])
                worst = max(worst, sp)
                line += f" {tag} {med:.4g} ({sp:.3f})"
            verdict = ("ok" if worst <= bounds[g] / 3 else
                       "within bound" if worst <= bounds[g] else "WIDE")
            print(line + f" -> {verdict}" + (" (setup: spread not gated)" if g == "setup_s" else ""))
        trend = [r["per_layer"]["warm.trend_frac"] for tag in sets for r in res[tag]]
        print(f"  warm.trend_frac median {statistics.median(trend):+.3f}, "
              f"range {min(trend):+.3f} .. {max(trend):+.3f}")
        busy = [r["per_layer"]["host.ref_busy_frac"] for tag in sets for r in res[tag]]
        busy_max = [float(r["info"]["probe_busy_max"]) for tag in sets for r in res[tag]]
        retries = sum(int(r["info"]["probe_busy_retries"]) for tag in sets for r in res[tag])
        probes = sum(int(r["info"]["probes"]) for tag in sets for r in res[tag])
        print(f"  host.ref_busy_frac median {statistics.median(busy):.4f}, largest accepted "
              f"{max(busy_max):.4f}; {retries} busy retries over {probes} probes")
        walls = [r["e2e"]["setup_s"]["raw"] for tag in sets for r in res[tag]]
        print(f"  setup_s raw: median {statistics.median(walls):.1f} s")
        bad = [(tag, r["seed"], f) for tag in sets for r in res[tag] for f in r["failures"]]
        print(f"  failed operations: {len(bad)}" +
              "".join(f"\n    {t} seed {s}: {f}" for t, s, f in bad[:10]))
        if args.trace_seeds:
            traced = load("traced", w, args.trace_seeds, 1)
            untraced = [r for tag in sets for r in res[tag]]
            for g in gate_of:
                base = statistics.median(r["gated"][g] for r in untraced)
                with_trace = statistics.median(r["gated"][g] for r in traced)
                print(f"  tracing overhead {g}: {(with_trace - base) / base:+.3f}")
            for r in traced:
                pl = r["per_layer"]
                print(f"  traced seed {r['seed']}: reconcile_err={pl['trace.reconcile_err_frac']:.4f} "
                      f"unattributed={pl['trace.unattributed_frac']:.4f} "
                      f"overhead_frac={pl['trace.overhead_frac']:.4f} failed={r['failed']}")


if __name__ == "__main__":
    main()
