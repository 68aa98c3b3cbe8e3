package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): run every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and print ONE JSON line with total + per-query
  * seconds.
  *
  * Queries are fully materialized through the noop sink (count() would let
  * Catalyst prune most of the work — a projection benchmarked via count
  * measures nothing). local[32] + 32 shuffle partitions + AQE mirrors how
  * the driver invokes us and is the single-node stand-in for the
  * many-executor layout the operators are designed for.
  *
  * Self-auditing: the whole suite runs TWICE and each query reports the
  * min of its two times. A JIT/code-cache stall (the r4 "roaming outlier"
  * — one random query 10-20x slower while the JVM recompiles swept
  * nmethods) never lands on the same query in both passes, so the min is
  * the honest execution time; any query whose two times differ >3x is
  * surfaced in "variance_flags" so a stall can never hide in the total.
  * Disable with SPARK_GRAFT_PASSES=1 for quick dev profiling.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      // The suite's ~256 queries × ~5 whole-stage-codegen units evict
      // Spark's DEFAULT 100-entry generated-class cache many times per
      // pass, so pass 2 re-runs Janino on every query (and queries
      // sharing fragments recompile within a pass). 5000 entries holds
      // the whole suite: measured A-B-A on a 49-query subset, pass-2
      // total 56.1/48.7 s (default, two arms) vs 38.6 s (raised) —
      // ~25% of the suite wall was recompilation, not execution. This
      // is driver-side compile cost, independent of data scale; any
      // long-lived session serving many query shapes wants the same.
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "5000"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.graft.cacheInputs",
        sys.env.getOrElse("SPARK_GRAFT_CACHE", "true"))
      .config("graft.orderedOutput", "true")
      // shuffle/spill scratch on the fastest local volume (tmpfs here,
      // local SSD on a real executor) — the root fs is 9p
      .config("spark.local.dir", Scratch.dir("spark-local"))
      // v2 committer: task outputs move to the destination at task
      // commit, skipping the job-commit rename fan-out — fewer
      // metadata round-trips per write job
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm the JVM/codegen once on the smallest fixture so per-query times
    // measure execution, not first-query class loading.
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // Materialize the input cache up front; otherwise the first query to
    // touch each table pays its load and the per-query numbers lie.
    graft.Tables.names.foreach { n =>
      try graft.Tables.load(spark, sfDir, n).count()
      catch { case _: Throwable => () }
    }

    // Optional args: run only these queries (dev profiling).
    val only = args.toSet
    val suite = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }

    // Each query is timed in two phases: BUILD (invoking the closure —
    // lake round-trips eagerly write + commit their fixture table here,
    // iterative operators like the dedup-cluster fixpoint materialize
    // their loop state, ordinary queries only assemble a plan) and EXEC
    // (materializing the returned frame through the noop sink — the
    // read leg). The reported per-query time stays build+exec — the
    // split never shrinks the total — but meaningful build cost
    // surfaces in "setup_sec" so a round-trip that pays writer cost is
    // never compared 1:1 against a plain-SELECT oracle baseline.
    // a failure's reason, for the sidecar's per-query "error" field
    def reason(e: Throwable): String = s"${e.getClass.getName}: " +
      String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("").take(300)
    def runPass(): Seq[(String, Double, Double, Option[String])] = suite.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val built =
        try Right(fn(spark, sfDir)) catch { case e: Throwable => Left(reason(e)) }
      val t1 = System.nanoTime()
      val error = built.flatMap { df =>
        try Right(df.write.format("noop").mode("overwrite").save())
        catch { case e: Throwable => Left(reason(e)) }
      }.left.toOption
      val t2 = System.nanoTime()
      val ok = error.isEmpty
      (name, if (ok) (t2 - t0) / 1e9 else -1.0,
        if (ok) (t1 - t0) / 1e9 else -1.0, error)
    }

    // Drain BroadcastGate's pass-path pins between (and after) passes:
    // with ~11 gate sites per pass and a FIFO bound of 16, every pass-1
    // pin would otherwise still be cached when pass 2 persists the same
    // canonicalized plan, so pass 2 would read the gated side from
    // pass-1's cache and min-of-2 would report a time that skips that
    // compute. Each pass must evaluate every gated side itself.
    val allPasses = (1 to passes).map { _ =>
      val r = runPass()
      graft.ops.BroadcastGate.reset()
      r
    }
    // Per query: min over passes (a query that failed in ANY pass stays
    // -1 — a crash-inducing regression can never read as a fast run).
    val results = suite.map(_._1).zipWithIndex.map { case (name, i) =>
      val times = allPasses.map(_(i)._2)
      name -> (if (times.exists(_ < 0)) -1.0 else times.min)
    }
    // Flag >3x run-to-run variance on anything that ever took >0.5s —
    // the signature of a JIT/code-cache stall sweeping a victim query.
    // Compared on the EXEC leg (total minus build): build-once fixtures
    // are legitimately slow on pass 1 only, and flagging them would
    // bury a real stall in designed-in noise.
    val varianceFlags = results.map(_._1).zipWithIndex.collect {
      case (name, i)
          if allPasses.forall(_(i)._2 >= 0) && {
            val ts = allPasses.map(p => p(i)._2 - math.max(p(i)._3, 0.0))
            ts.max > 0.5 && ts.max / math.max(ts.min, 1e-9) > 3.0
          } =>
        name
    }

    val total = results.map(_._2).filter(_ >= 0).sum
    val passTotals = allPasses
      .map(p => p.map(_._2).filter(_ >= 0).sum)
      .map(t => String.format(java.util.Locale.ROOT, "%.3f", Double.box(t)))
      .mkString("[", ",", "]")
    // The driver keeps only a ~2KB TAIL of stdout, so any long line
    // loses its HEAD to truncation — and a truncated dict fragment is
    // worse than no dict: the r16 artifact's visible fragment was the
    // tail of the unlabeled setup_sec map and read as run seconds
    // (q_quantile_sketch "0.074" vs its real 1.77 s run). Rule, bounded
    // BY CONSTRUCTION: stdout carries exactly ONE JSON line, every
    // list/dict on it is capped, every field name says what the number
    // is. The full 256-query dict (min run sec + per-pass run/build
    // splits) lives only in bench_queries.json.
    def num3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def capList(items: Seq[String], cap: Int): String =
      items.take(cap).map(s => s""""$s"""").mkString("[", ",", "]")
    val failedNames = results.collect { case (k, v) if v < 0 => k }
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(20)
      .map { case (k, v) => s""""$k":${num3(v)}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","passes":$passes,"pass_totals_run_sec":$passTotals,"n_queries":${results.size},"failed_count":${failedNames.size},"failed_sample":${capList(failedNames, 10)},"variance_flag_count":${varianceFlags.size},"variance_flags_sample":${capList(varianceFlags, 8)},"slowest20_min_run_sec":$slowest,"per_query_file":"bench_queries.json (sec=min run incl build; passes/build = per-pass run/build sec; error = first failure reason)"}""")
    // Stable sidecar: the full per-query dict as a FILE, because the
    // driver's stdout tail-truncation destroys the per-query timings in
    // BENCH_r*.json every round and makes round-over-round regression
    // diffs impossible from the artifacts alone. One JSON object per
    // query: min seconds, every pass's seconds, and the build-phase
    // split — enough to diff two rounds without re-running either.
    // Locale.ROOT formatting: a comma-decimal default locale would
    // render 0,3876 and break the JSON.
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val perQuery = suite.map(_._1).zipWithIndex.map { case (name, i) =>
      val ts = allPasses.map(p => num(p(i)._2)).mkString("[", ",", "]")
      val bs = allPasses.map(p => num(p(i)._3)).mkString("[", ",", "]")
      val minV = results(i)._2
      val err = allPasses.flatMap(_(i)._4).headOption.fold("") { e =>
        val quoted = com.fasterxml.jackson.core.io.JsonStringEncoder
          .getInstance().quoteAsString(e)
        s""","error":"${new String(quoted)}""""
      }
      s""""$name":{"sec":$minV,"passes":$ts,"build":$bs$err}"""
    }.mkString("{", ",", "}")
    val sidecar =
      s"""{"sf":"$sfDir","total":$total,"pass_totals":$passTotals,"queries":$perQuery}\n"""
        .getBytes("UTF-8")
    java.nio.file.Files.write(
      java.nio.file.Paths.get("bench_queries.json"), sidecar)
    // Round-stamped copy (SPARK_GRAFT_ROUND=18 → bench_queries_r18.json):
    // bench_queries.json is overwritten every run, so committing a
    // stamped snapshot per round is what makes per-query round-over-round
    // diffs auditable from artifacts alone (scripts/bench_diff.py).
    sys.env.get("SPARK_GRAFT_ROUND").foreach { r =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"bench_queries_r$r.json"), sidecar)
    }
    spark.stop()
  }
}
