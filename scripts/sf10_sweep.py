#!/usr/bin/env python3
"""Paired sf10 TPC-H sweep: Spark (graft.Bench, min over passes, noop
sink) immediately followed by DuckDB on identical statements, fixtures
and thread count — the same-window pairing this host's +-30% drift
requires. Emits BENCH_local_rNN_sf10.json, the per-round regression
artifact the sf0.1 driver bench cannot provide (the round's biggest
TPC-H wins only show at sf10).

Usage:
  python3 scripts/sf10_sweep.py <round> [sf10dir] [oracle_sql.json dir]

Prereqs:
  - sf10 fixtures (generated if missing):
      python3 scripts/scale_up.py /root/testdata/sf0.1 /tmp/sf10 100
  - compiled classes in target/scala-2.13/classes
  - an oracle_sql.json (any Verify out dir; statements are SF-independent)
"""
import json
import os
import re
import subprocess
import sys
import time

TPCH = ["q1_agg", "q2_mincost", "q3_shipping", "q4_priority",
        "q5_local_revenue", "q6_forecast", "q7_volume", "q8_market_share",
        "q9_profit", "q10_returns", "q11_stock", "q12_shipmode",
        "q13_custdist", "q14_promo", "q15_top_supplier", "q16_supplier_cnt",
        "q17_small_qty", "q18_volume", "q19_brand", "q20_promotion",
        "q21_waiting", "q22_prospects"]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]]


def main():
    rnd = sys.argv[1]
    sfdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf10"
    odir = sys.argv[3] if len(sys.argv) > 3 else "/tmp/vout"
    if not os.path.isdir(sfdir):
        sys.exit(f"{sfdir} missing — run scripts/scale_up.py first")
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sfdir, SPARK_GRAFT_CPUS="32",
               SPARK_GRAFT_PASSES="3")
    load0 = os.getloadavg()[0]
    t0 = time.time()
    subprocess.run(
        ["java", *ADD_OPENS, "-Xmx48g", "-XX:ReservedCodeCacheSize=1g",
         "-XX:+SegmentedCodeCache",
         "-cp", "target/scala-2.13/classes:/opt/spark/jars/*",
         "graft.Bench", *TPCH],
        env=env, check=True, stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL)
    spark_wall = time.time() - t0
    with open("bench_queries.json") as f:
        bq = json.load(f)
    spark = {k: v["sec"] for k, v in bq["queries"].items()}
    passes = {k: v["passes"] for k, v in bq["queries"].items()}
    # a failed query reads sec -1; summing it would shrink spark_total
    failed = [q for q in TPCH if spark.get(q, -1) < 0]
    if failed:
        for q in failed:
            err = bq["queries"].get(q, {}).get("error", "no result")
            print(f"FAILED {q}: {err}", file=sys.stderr)
        sys.exit(f"{len(failed)} TPC-H queries failed: {', '.join(failed)}")

    import duckdb
    with open(f"{odir}/oracle_sql.json") as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 32")
    for t in TABLES:
        p = f"{sfdir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    duck = {}
    dpasses = {q: [] for q in TPCH}
    for _ in range(3):
        for q in TPCH:
            t1 = time.time()
            con.execute(oracle[q]).fetchall()
            dpasses[q].append(time.time() - t1)
    duck = {q: min(ts) for q, ts in dpasses.items()}

    out = {
        "note": f"r{rnd} paired sf10 sweep: Spark min-of-3 (one JVM, "
                "local[32], inputs cached, noop sink) immediately followed "
                f"by DuckDB min-of-3, same statements/fixtures/32 threads. "
                f"Load at start {load0:.1f}; Spark wall {spark_wall:.0f}s. "
                "Per-pass arrays committed.",
        "spark": {q: spark[q] for q in TPCH},
        "spark_passes": {q: passes[q] for q in TPCH},
        "duckdb": duck,
        "duckdb_passes": dpasses,
        "spark_total": sum(spark[q] for q in TPCH),
        "duckdb_total": sum(duck.values()),
    }
    out["ratio"] = out["spark_total"] / out["duckdb_total"]
    path = f"BENCH_local_r{rnd}_sf10.json"
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"wrote {path}: spark {out['spark_total']:.1f}s vs duckdb "
          f"{out['duckdb_total']:.1f}s = {out['ratio']:.2f}x")
    worst = sorted(((spark[q] / duck[q], q) for q in TPCH), reverse=True)[:5]
    for r, q in worst:
        print(f"  worst {q}: {spark[q]:.2f}s vs {duck[q]:.2f}s = {r:.1f}x")


if __name__ == "__main__":
    main()
