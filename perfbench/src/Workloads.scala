package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.lake.{DeltaCompat, IcebergCompat, Mooncake, MvAgg, Mview}

/** A wrong answer, reported as a failed operation. */
final class WrongAnswer(msg: String) extends Exception(msg)

object Workloads {
  /** Rows of the mirrored table: the first tenth of the sf0.1 `lineitem`
    * fixture. */
  val MirrorRows = 60000
  /** Data-file size for the lake tables: the ~1.2 MB table keeps about
    * eight key-range files, as a 128 MB target does at a hundred times
    * the size. */
  val FileBytes: Long = 256L << 10
  val MirrorFiles = 8
  /** Rows of every change batch, narrow or wide: the middle of the batch
    * sizes (10, 1k, 100k) ROADMAP direction 4 names for freshness. */
  val BatchRows = 1000
  /** Batches of a timed `cdc` round, narrow and wide alternating, and of
    * the one round run in set-up. */
  val RoundBatches = 8
  val WarmBatches = 4
  /** Timed rounds generated in set-up; a window that would need more ends
    * early. */
  val MaxRounds = 3

  /** The `olap` queries: read-only registry queries from every family but
    * the lake one (whose queries write tables), each 50-400 ms when warm.
    * The seed orders them; it never changes the set. */
  val OlapQueries: Seq[String] = Seq(
    "q1_agg", "q6_forecast", // TPC-H
    "q_join_semi", "q_agg_argmax", // relational, analytics
    "q_events_tumbling", "q_hits_top_urls", // events, hits
    "q_dedup_exact", "q_source_cap", // pipeline, curation
    "q_multimodal_features") // multimodal
  /** The cheaper queries of the list, 100-160 ms each when warm on the
    * host README.md names; the rest take 170-410 ms. */
  val OlapLight: Set[String] = Set("q6_forecast", "q_hits_top_urls", "q_source_cap",
    "q_dedup_exact", "q_join_semi")

  /** Rounds of the whole `olap` list run after the cold pass, in set-up. */
  val OlapWarmRounds = 3

  /** Every per-layer metric a run reports; a layer the workload does not
    * exercise reads 0. */
  val LayerNames: Seq[String] = Seq(
    "host.ref_ms", "host.ref_busy_frac", "host.quiet_wait_ms", "warm.rounds", "warm.trend_frac",
    "tables.load_ms", "tables.cached_mb", "ops.build_ms",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "codegen.compile_ms", "codegen.classes",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.one_task_stage_frac", "sched.delay_ms",
    "exec.task_ms", "exec.cpu_ms", "exec.gc_ms", "exec.core_util",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.spill_mb",
    "scan.input_mb", "scan.rows_per_result",
    "mirror.apply_ms", "mirror.read_ms", "mirror.scan_ms", "mirror.files_touched_frac",
    "mirror.rows_rewritten_per_change", "mirror.write_mb", "mirror.files_live",
    "mirror.optimize_ms", "mirror.optimize_mb",
    "view.refresh_ms", "view.recomputed_group_frac",
    "iceberg.commit_ms", "iceberg.read_ms", "iceberg.scan_ms", "iceberg.compact_ms",
    "iceberg.files_live", "iceberg.delete_files_live",
    "delta.merge_ms", "delta.read_ms", "delta.scan_ms", "delta.optimize_ms", "delta.files_live",
    "jvm.gc_ms", "jvm.jit_ms", "jvm.heap_peak_mb",
    "trace.reconcile_err_frac", "trace.unattributed_frac", "trace.overhead_frac")

  private val MB = 1024.0 * 1024.0

  // ---------------------------------------------------------------------
  // olap: one closed-loop client over the cached fixtures
  // ---------------------------------------------------------------------

  def olap(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.args.fixtures
    val tr = ctx.tracer
    val registry = graft.SparkEntry.queries
    val ref = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
    val answers = mutable.ArrayBuffer.empty[(String, Array[Row])]
    val rnd = new scala.util.Random(ctx.args.seed)
    val loadT0 = System.nanoTime()
    tr.op("setup") {
      tr.span("tables.load")(graft.Tables.names.foreach(graft.Tables.load(spark, dir, _).count()))
    }
    val loadMs = (System.nanoTime() - loadT0) / 1e6
    ctx.phase("tables")
    // Each query once, cold: its answer is the reference every later run
    // of the query must repeat, and the one DuckDB checks.
    OlapQueries.foreach { q =>
      ctx.attempt(s"cold $q") {
        val df = registry(q)(spark, dir)
        ref(q) = (df.collect(), df.schema)
      }
    }
    ctx.phase("cold")
    def round(): Unit = {
      var roundAdj, roundRaw = 0.0
      rnd.shuffle(OlapQueries).foreach { q =>
        ctx.op(s"query $q") { c =>
          val df = tr.span("ops.build")(registry(q)(spark, dir))
          val rows = tr.span("spark.execute")(df.collect())
          (rows, c.lap())
        }.foreach { case (rows, lap) =>
          answers += q -> rows
          ctx.record(q, lap)
          roundAdj += lap.adj
          roundRaw += lap.raw
        }
      }
      ctx.recordRound(Lap(roundRaw, roundAdj))
      ctx.recordTrend(roundAdj)
    }
    (1 to OlapWarmRounds).foreach(_ => round())
    ctx.warmRounds = OlapWarmRounds
    val warmAnswers = answers.size
    ctx.startWindow()
    val deadline = ctx.windowStartNs + ctx.args.seconds * 1000000000L
    while (System.nanoTime() < deadline) round() // whole rounds: every run times the same mix
    ctx.endWindow()

    answers.foreach { case (q, rows) =>
      if (!ref.get(q).exists(r => Digest.ofRows(r._1) == Digest.ofRows(rows)))
        ctx.fail(s"query $q", new WrongAnswer("answer differs from the query's cold answer"))
    }
    // Reference answers for the DuckDB oracle check in run.py.
    val out = ctx.work("olap-answers")
    val oracle = graft.SparkEntry.oracleSql
    ref.foreach { case (q, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$q")
    }
    val counts = answers.groupMapReduce(_._1)(_ => 1)(_ + _)
    Files.writeString(Paths.get(out, "oracle.json"), Json.write(ref.keys.map { q =>
      q -> Map("sql" -> oracle.getOrElse(q, null), "runs" -> (counts.getOrElse(q, 0) + 1))
    }.toMap))

    // Each query's median over the window, averaged over the list (and
    // over its light and its heavy part), so a burst of host noise moves
    // the figure only when it covers half the runs of a query.
    val perQuery = OlapQueries.map(ctx.timing)
    def meanOfMedians(qs: Seq[String]) = {
      val ts = qs.map(ctx.timing)
      (ts.map(_.adj.median).sum / ts.size, ts.map(_.raw.median).sum / ts.size, "ms")
    }
    ctx.e2e("query_p50_ms") = meanOfMedians(OlapQueries)
    ctx.e2e("query_light_p50_ms") = meanOfMedians(OlapQueries.filter(OlapLight))
    ctx.e2e("query_heavy_p50_ms") = meanOfMedians(OlapQueries.filterNot(OlapLight))
    val pooled = new Timings
    perQuery.foreach(t => t.raw.values.zip(t.adj.values).foreach { case (r, a) => pooled.add(Lap(r, a)) })
    ctx.e2e("query_p90_ms") = (pooled.adj.quantile(0.9), pooled.raw.quantile(0.9), "ms")
    ctx.e2e("queries_per_s") = (pooled.size / (pooled.adj.sum / 1000), pooled.size / (pooled.raw.sum / 1000), "1/s")
    ctx.e2e("queries") = (pooled.size.toDouble, pooled.size.toDouble, "count")
    ctx.gate("light_p50_ms" -> "query_light_p50_ms", "heavy_p50_ms" -> "query_heavy_p50_ms",
      "throughput_per_s" -> "queries_per_s")
    if (ctx.args.trace) {
      ctx.sparkLayers(answers.drop(warmAnswers).map(_._2.length.toLong).sum)
      ctx.layer("tables.load_ms") = loadMs
      ctx.layer("tables.cached_mb") = ctx.startValue("cached_bytes") / MB
      ctx.layer("ops.build_ms") = ctx.spanMeanMs("ops.build")
    }
  }

  // ---------------------------------------------------------------------
  // cdc: one closed-loop writer applying each batch to the Mooncake mirror,
  // and each round's net change to Iceberg and Delta
  // ---------------------------------------------------------------------

  /** Full-table aggregate: rows, quantity sum, and price sum in cents. */
  def aggregate(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), sum(col("l_quantity").cast("long")),
      sum(round(col("l_extendedprice") * 100).cast("long"))).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def cdc(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    // The first MirrorRows rows of the fixtures' `lineitem`, keyed by their
    // row index `l_id`, with `l_shipdate` as a date.
    val baseRows: Array[Row] = spark.read.parquet(s"${ctx.args.fixtures}/lineitem.parquet")
      .withColumn("l_shipdate", col("l_shipdate").cast("date"))
      .select(Replay.schema.fieldNames.tail.toSeq.map(col): _*)
      .limit(MirrorRows).collect()
      .zipWithIndex.map { case (r, i) => Row.fromSeq(i.toLong +: r.toSeq) }
    val source = spark.createDataFrame(java.util.Arrays.asList(baseRows: _*), Replay.schema)
    ctx.phase("rows")
    val groups = WarmBatches +: Seq.fill(MaxRounds)(RoundBatches)
    val replay = new Replay(baseRows, baseRows.length + groups.sum * BatchRows, partCount = 20000)
    val rounds = ChangeGen.generate(replay, ctx.args.seed, BatchRows, groups)

    val lake = new Mooncake(ctx.work("lake"))
    val mview = new Mview(lake)
    val Table = "li"
    val View = "li_by_supp"
    val iceDir = ctx.work("iceberg")
    val deltaDir = ctx.work("delta")
    lake.createTable(spark, Table, source, pk = Seq("l_id"),
      targetFileBytes = FileBytes, targetFileCount = Some(MirrorFiles))
    mview.create(spark, View, Table, Seq("l_suppkey"),
      Seq(MvAgg("count", "l_id", "cnt"), MvAgg("sum", "l_quantity", "qty"),
        MvAgg("max", "l_quantity", "qmax")))
    val clustered = source.repartitionByRange(MirrorFiles, col("l_id")).sortWithinPartitions("l_id")
    IcebergCompat.write(clustered, iceDir, mode = "overwrite")
    DeltaCompat.write(clustered, deltaDir, mode = "overwrite")
    ctx.phase("tables")

    // Answers kept for the checks after the window: keyed reads against
    // the final images, scans against the replay's aggregate.
    val reads = mutable.ArrayBuffer.empty[(String, Int, Array[Row], Digest)]
    val scans = mutable.ArrayBuffer.empty[(String, Batch, (Long, Long, Long))]
    var prevFiles, touchedFiles, rewrittenRows, writeBytes = 0L
    var affectedGroups, recomputedGroups, optimizeBytes, optimizes = 0L
    def sumLaps(laps: Iterable[Lap]) = Lap(laps.map(_.raw).sum, laps.map(_.adj).sum)

    /** One batch into the mirror and its gated read, then a mirror scan. */
    def mirrorBatch(b: Batch): Seq[Lap] = {
      val batch = ctx.op(s"batch ${b.idx}") { c =>
        val prev = lake.currentManifest(Table)
        val v = math.max(prev.version, prev.commitVersion) + 1
        val m = tr.span("mirror.apply")(lake.applyChanges(spark, Table, ChangeGen.frame(spark, b.rows), v))
        val rows = tr.span("mirror.read") {
          lake.readForKeys(spark, Table, "l_id", ChangeGen.keyFrame(spark, b.keys),
            atLeastVersion = Some(m.version)).collect()
        }
        (prev, m, rows, c.lap())
      }
      val scan = ctx.op(s"scan after batch ${b.idx}") { c =>
        (tr.span("mirror.scan")(aggregate(lake.read(spark, Table))), c.lap())
      }
      batch.foreach { case (prev, m, rows, fresh) =>
        reads += (("mirror read", b.idx, rows, b.images))
        ctx.record(s"fresh_${b.shape}", fresh)
        if (ctx.inWindow) {
          val before = prev.files.map(_.path).toSet
          val after = m.files.map(_.path).toSet
          val added = m.files.filterNot(f => before(f.path))
          prevFiles += prev.files.size
          touchedFiles += prev.files.count(f => !after(f.path))
          rewrittenRows += added.map(_.rows).sum
          writeBytes += added.map(_.bytes).sum
        }
      }
      scan.foreach { case (got, lap) =>
        scans += (("mirror scan", b, got))
        ctx.record("scan", lap)
      }
      batch.map(_._4).toSeq ++ scan.map(_._2)
    }

    /** One round: its batches into the mirror, one view refresh, the
      * round's net change into Iceberg and Delta with their pruned reads
      * and full scans, and a compaction of all three tables. */
    def round(bs: Seq[Batch]): Lap = {
      val mirror = bs.map(mirrorBatch)
      // each narrow-wide pair's batch times, for the warm-up check
      mirror.grouped(2).foreach(p => if (p.forall(_.size == 2)) ctx.recordTrend(p.map(_.head.adj).sum))
      val last = bs.last
      val view = ctx.op(s"view refresh after batch ${last.idx}") { c =>
        (tr.span("view.refresh")(mview.refresh(spark, View)), c.lap())
      }
      val net = last.net.get
      val interop = ctx.op(s"interop after batch ${last.idx}") { c =>
        val keys = ChangeGen.keyFrame(spark, net.keys)
        val frame = ChangeGen.frame(spark, net.rows)
        tr.span("iceberg.commit") {
          IcebergCompat.writeEqualityDeletes(spark, iceDir, keys, Seq("l_id"))
          IcebergCompat.write(frame.filter(col("__op") === "U").drop("__op"), iceDir, mode = "append")
        }
        val ice = tr.span("iceberg.read") {
          IcebergCompat.readForKeys(spark, iceDir, "l_id", keys).join(keys, Seq("l_id"), "left_semi").collect()
        }
        tr.span("delta.merge") {
          DeltaCompat.merge(spark, deltaDir, frame, Seq("l_id"), deleteWhen = Some(col("__op") === "D"))
        }
        val delta = tr.span("delta.read") {
          DeltaCompat.readForKeys(spark, deltaDir, "l_id", keys).join(keys, Seq("l_id"), "left_semi").collect()
        }
        (ice, delta, c.lap())
      }
      val interopScan = ctx.op(s"interop scan after batch ${last.idx}") { c =>
        val ice = tr.span("iceberg.scan")(aggregate(IcebergCompat.read(spark, iceDir)))
        val delta = tr.span("delta.scan")(aggregate(DeltaCompat.read(spark, deltaDir)))
        (ice, delta, c.lap())
      }
      val compact = ctx.op(s"compaction after batch ${last.idx}") { c =>
        val had = lake.currentManifest(Table).files.map(_.path).toSet
        val om = tr.span("mirror.optimize")(lake.optimizeTable(spark, Table, "data", targetFileBytes = FileBytes))
        tr.span("iceberg.compact")(IcebergCompat.compact(spark, iceDir, targetFileBytes = FileBytes))
        tr.span("delta.optimize") {
          DeltaCompat.optimize(spark, deltaDir, smallFileBytes = FileBytes / 2, targetFileBytes = FileBytes)
        }
        (om.files.filterNot(f => had(f.path)).map(_.bytes).sum, c.lap())
      }
    view.foreach { case (st, lap) =>
        ctx.record("view", lap)
        // from the last batch's submit until the view reflects it
        if (mirror.last.size == 2) ctx.record("view_fresh", sumLaps(mirror.last :+ lap))
        if (ctx.inWindow) {
          affectedGroups += st.affectedGroups
          recomputedGroups += st.recomputedGroups
        }
      }
      interop.foreach { case (ice, delta, lap) =>
        reads += (("iceberg read", last.idx, ice, net.images))
        reads += (("delta read", last.idx, delta, net.images))
        ctx.record("interop_fresh", lap)
      }
      interopScan.foreach { case (ice, delta, lap) =>
        scans += (("iceberg scan", last, ice))
        scans += (("delta scan", last, delta))
        ctx.record("interop_scan", lap)
      }
      compact.foreach { case (bytes, lap) =>
        ctx.record("compact", lap)
        if (ctx.inWindow) { optimizeBytes += bytes; optimizes += 1 }
      }
      sumLaps(mirror.flatten ++ view.map(_._2) ++ interop.map(_._3) ++ interopScan.map(_._3) ++ compact.map(_._2))
    }

    round(rounds.head)
    ctx.warmRounds = 1
    var done = 1
    ctx.startWindow()
    val deadline = ctx.windowStartNs + ctx.args.seconds * 1000000000L
    while (System.nanoTime() < deadline && done < rounds.size) { // whole rounds
      ctx.recordRound(round(rounds(done)))
      done += 1
    }
    ctx.endWindow()

    // Answer checks, outside the window.
    val last = rounds(done - 1).last
    reads.foreach { case (what, idx, rows, want) =>
      if (Digest.ofRows(rows) != want)
        ctx.fail(s"$what after batch $idx", new WrongAnswer(s"read ${rows.length} rows, not the final images"))
    }
    scans.foreach { case (what, b, got) =>
      if (got != b.scan) ctx.fail(s"$what after batch ${b.idx}", new WrongAnswer(s"scan $got, replay ${b.scan}"))
    }
    Seq("mirror" -> (() => lake.read(spark, Table)), "iceberg" -> (() => IcebergCompat.read(spark, iceDir)),
      "delta" -> (() => DeltaCompat.read(spark, deltaDir))).foreach { case (fmt, read) =>
      ctx.attempt(s"$fmt contents") {
        val got = Digest.ofRows(read().collect())
        if (got != last.after) ctx.fail(s"$fmt contents", new WrongAnswer(s"table $got, replay ${last.after}"))
      }
    }
    ctx.attempt("view contents") {
      val got = Digest.ofRows(mview.read(spark, View).collect())
      if (got != last.view) ctx.fail("view contents", new WrongAnswer(s"view $got, from-scratch aggregate ${last.view}"))
    }

    val narrow = ctx.timing("fresh_narrow")
    val wide = ctx.timing("fresh_wide")
    ctx.p50("fresh_narrow_p50_ms", narrow)
    ctx.p50("fresh_wide_p50_ms", wide)
    ctx.p50("scan_p50_ms", ctx.timing("scan"))
    ctx.p50("view_fresh_p50_ms", ctx.timing("view_fresh"))
    ctx.p50("view_refresh_p50_ms", ctx.timing("view"))
    ctx.p50("interop_fresh_p50_ms", ctx.timing("interop_fresh"))
    ctx.p50("interop_scan_p50_ms", ctx.timing("interop_scan"))
    ctx.p50("compact_p50_ms", ctx.timing("compact"))
    val timed = ctx.rounds
    val rows = timed.size * RoundBatches * BatchRows.toDouble
    ctx.e2e("change_rows_per_s") = (rows / (timed.adj.sum / 1000), rows / (timed.raw.sum / 1000), "1/s")
    ctx.e2e("batches") = (timed.size * RoundBatches.toDouble, timed.size * RoundBatches.toDouble, "count")

    // On-disk bytes over live bytes, per format and together.
    val mirrorLive = lake.currentManifest(Table)
    val mirrorDir = Files.list(Paths.get(lake.warehouse)).iterator().asScala
      .find(_.getFileName.toString.endsWith("." + Table)).get
    val iceLive = IcebergCompat.read(spark, iceDir).inputFiles.toSeq
    val deltaLive = DeltaCompat.read(spark, deltaDir).inputFiles.toSeq
    def bytes(files: Seq[String]) = files.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum.toDouble
    val space = Seq(
      "mirror" -> (Disk.bytesUnder(mirrorDir, ".parquet").toDouble, mirrorLive.files.map(_.bytes).sum.toDouble),
      "iceberg" -> (Disk.bytesUnder(Paths.get(iceDir), ".parquet").toDouble, bytes(iceLive)),
      "delta" -> (Disk.bytesUnder(Paths.get(deltaDir), ".parquet").toDouble, bytes(deltaLive)))
    space.foreach { case (fmt, (disk, live)) => ctx.e2e(s"${fmt}_space_amp") = (disk / live, disk / live, "ratio") }
    val amp = space.map(_._2._1).sum / space.map(_._2._2).sum
    ctx.e2e("space_amp") = (amp, amp, "ratio")
    ctx.gate("light_p50_ms" -> "fresh_narrow_p50_ms", "heavy_p50_ms" -> "fresh_wide_p50_ms",
      "throughput_per_s" -> "change_rows_per_s")

    if (ctx.args.trace) {
      val n = math.max(timed.size * RoundBatches, 1).toDouble
      Seq("mirror.apply", "mirror.read", "mirror.scan", "mirror.optimize", "view.refresh",
        "iceberg.commit", "iceberg.read", "iceberg.scan", "iceberg.compact",
        "delta.merge", "delta.read", "delta.scan", "delta.optimize")
        .foreach(name => ctx.layer(s"${name}_ms") = ctx.spanMeanMs(name))
      ctx.layer("mirror.files_touched_frac") = touchedFiles.toDouble / math.max(prevFiles, 1L)
      ctx.layer("mirror.rows_rewritten_per_change") = rewrittenRows / (n * BatchRows)
      ctx.layer("mirror.write_mb") = writeBytes / MB / n
      ctx.layer("mirror.files_live") = mirrorLive.files.size
      ctx.layer("mirror.optimize_mb") = optimizeBytes / MB / math.max(optimizes, 1L)
      ctx.layer("view.recomputed_group_frac") = recomputedGroups.toDouble / math.max(affectedGroups, 1L)
      ctx.layer("iceberg.files_live") = iceLive.length
      ctx.layer("iceberg.delete_files_live") = IcebergCompat.inspect(spark, iceDir, "manifests")
        .filter(col("content") === 1)
        .agg(sum(col("added_files_count") + col("existing_files_count"))).collect()(0) match {
          case r if r.isNullAt(0) => 0.0
          case r => r.getLong(0).toDouble
        }
      ctx.layer("delta.files_live") = deltaLive.length
      ctx.sparkLayers(reads.map(_._3.length.toLong).sum)
    }
  }
}
