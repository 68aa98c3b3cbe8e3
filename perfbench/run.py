#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload <olap|cdc> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the harness
(perfbench/build.py), runs the workload in one JVM over the sf0.1 fixture
tables that graft.Bench reads (SPARK_GRAFT_SF_DIR, with graft.Bench's
default), checks the `olap` answers against the DuckDB oracle with
scripts/check.py's canonical compare (the JVM checks the `cdc` answers
against its own replay), and prints the metrics; see README.md. The last stdout line is one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics of BENCHMARK.json with --trace 0, the per-layer ones with
--trace 1. Everything the run writes stays under the build directory
(CARGO_TARGET_DIR, default .bench_build).
"""
import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True  # the run writes only under the build directory
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(ROOT, "scripts"))
import build  # noqa: E402
try:
    import check  # noqa: E402
except ImportError:
    raise SystemExit("perfbench: scripts/check.py is missing; run from a repository checkout")

# Limit of the JVM run alone; the build before it, done once per
# checkout, is not counted.
JVM_LIMIT_S = 165
HEAP = "2g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def host_facts(source_sha):
    mem = "unknown"
    try:
        with open("/proc/meminfo") as f:
            mem = next(l.split()[1] for l in f if l.startswith("MemTotal:")) + " kB"
    except (OSError, StopIteration):
        pass
    commit = "unknown (not a git checkout)"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if r.returncode == 0:
            commit = r.stdout.strip()
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total": mem,
            "git_commit": commit, "source_sha": source_sha[:16]}


def fixtures():
    """The fixture directory of graft.Bench: SPARK_GRAFT_SF_DIR, else the
    default written in Bench.scala, read from there so the two agree."""
    d = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not d:
        with open(os.path.join(ROOT, "src", "main", "scala", "graft", "Bench.scala")) as f:
            m = re.search(r'"SPARK_GRAFT_SF_DIR",\s*"([^"]+)"', f.read())
        if not m:
            raise SystemExit("perfbench: no fixture directory default in graft.Bench")
        d = m.group(1)
    missing = [t for t in check.TABLES if not os.path.isfile(os.path.join(d, f"{t}.parquet"))]
    if missing:
        raise SystemExit(f"perfbench: fixture directory {d} lacks {', '.join(missing)}")
    return d


def run_jvm(classes, args, fx, work, out, cpus, limit_s):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Benchmark-side JVM options, not program settings: a fixed heap keeps
    # heap resizing out of the window. The JIT keeps its default thresholds
    # (see README.md, "Warm-up").
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m",
            "-XX:ReservedCodeCacheSize=1g", "-XX:+SegmentedCodeCache", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{jars}", "perfbench.PerfBench",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--fixtures", fx, "--work", work, "--out", out, "--cpus", str(cpus)])
    env = dict(os.environ, GRAFT_SCRATCH=os.path.join(work, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             cwd=work, start_new_session=True)
        try:
            rc = p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-6000:]
        sys.stderr.write(tail)
        raise SystemExit(f"perfbench: the {args.workload} run failed ({rc})")


def oracle_check(res, work, fx):
    """Compares each sampled query's answer with DuckDB's; a wrong answer
    fails every run of that query."""
    ans = os.path.join(work, "olap-answers")
    with open(os.path.join(ans, "oracle.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fx}/{t}.parquet'")
    for q, o in sorted(oracle.items()):
        why = None
        try:
            if o["sql"] is None:
                why = "no oracle SQL"
            else:
                mine = con.sql(f"SELECT * FROM '{ans}/{q}/*.parquet'")
                my_cols, my_rows = check.canon(mine.fetchall(), mine.columns)
                ref = con.sql(o["sql"])
                ref_cols, ref_rows = check.canon(ref.fetchall(), ref.columns)
                if my_cols != ref_cols:
                    why = f"columns {my_cols} != oracle {ref_cols}"
                elif len(my_rows) != len(ref_rows):
                    why = f"{len(my_rows)} rows != oracle {len(ref_rows)}"
                else:
                    for i, (a, b) in enumerate(zip(my_rows, ref_rows)):
                        bad = [c for c, x, y in zip(my_cols, a, b) if not check.cells_equal(x, y)]
                        if bad:
                            why = f"row {i} column {bad[0]} differs from the oracle"
                            break
        except Exception as e:  # an unreadable answer is a wrong answer
            why = f"{type(e).__name__}: {e}"
        if why:
            res["failed"] += o["runs"]
            res["failures"].append(f"query {q}: DuckDB oracle mismatch: {why}")
    res["oracle_checked"] = len(oracle)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"perfbench: unknown workload {args.workload}")

    build_dir = os.path.abspath(os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"))
    os.makedirs(build_dir, exist_ok=True)
    fx = fixtures()
    classes, sha = build.build(build_dir)
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(build_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        run_jvm(classes, args, fx, work, out, cpus, JVM_LIMIT_S)
        with open(out) as f:
            res = json.load(f)
        if args.workload == "olap":
            oracle_check(res, work, fx)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["host"] = host_facts(sha)
    res_dir = os.path.join(build_dir, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(res, f, indent=1)

    h = res["host"]
    print(f"host nproc={h['nproc']} mem_total={h['mem_total']} jdk={res['info']['jdk']} "
          f"spark={res['info']['spark']} git_commit={h['git_commit']} "
          f"source_sha={h['source_sha']}")
    print(f"run workload={args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} attempted={res['attempted']} failed={res['failed']} "
          f"probes={res['info']['probes']} rounds={res['info']['rounds']}")
    for k, v in res["e2e"].items():
        print(f"e2e {k} = {v['adj']} {v['unit']} (raw {v['raw']})")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if args.trace:
        for k, v in res["per_layer"].items():
            print(f"layer {k} = {v} {units[k]}")
        for k, v in res["info"].items():
            if k.startswith(("self_ms.", "task_ms.")):
                print(f"layer {k} = {v} ms")
    print("info " + " ".join(f"{k}={v}" for k, v in res["info"].items()
                             if not k.startswith(("self_ms.", "task_ms."))))
    for fl in res["failures"]:
        print(f"failure {fl}")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = res["per_layer"] if args.trace else res["gated"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None:
            raise SystemExit(f"perfbench: the run did not measure {m['name']}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
