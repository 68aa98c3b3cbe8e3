package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSuite
import graft.lake.{DeltaCompat, IcebergCompat, Mooncake}

/** The micro-batch hygiene fixes: multi-op-per-key batches must not
  * wedge or corrupt the CDC sinks, an out-of-band commit must not
  * swallow a stream batch, and a below-watermark straggler must not
  * kill the session operator. */
class CdcBatchHygieneSpec extends SparkSuite {
  import spark.implicits._

  test("Delta sink: multi-op-per-key batch merges its final image") {
    implicit val sc = spark.sqlContext
    val dir = tmpDir("dcdc-multi")
    val ckpt = tmpDir("dcdc-multi-ck")
    val in = MemoryStream[(Int, String, String)]
    // ONE batch: I+U of key 1 (must land v2 once, not wedge merge),
    // I+D of key 2 (must net to absent), plain I of key 3.
    in.addData((1, "v1", "I"), (1, "v2", "U"), (2, "x", "I"),
      (2, "x", "D"), (3, "v3", "I"))
    val q = DeltaCdcStream.attach(dir,
      in.toDF().toDF("id", "v", "__op"), Seq("id"), ckpt,
      trigger = Trigger.AvailableNow())
    q.awaitTermination()
    val rows = DeltaCompat.read(spark, dir)
      .as[(Int, String)].collect().toSet
    assert(rows === Set((1, "v2"), (3, "v3")), s"got $rows")
    // and a SECOND multi-op batch against the existing table (the
    // merge path, which refuses duplicate source keys outright)
    val in2 = MemoryStream[(Int, String, String)]
    in2.addData((3, "v3b", "U"), (3, "v3c", "U"), (1, "", "D"))
    val q2 = DeltaCdcStream.attach(dir,
      in2.toDF().toDF("id", "v", "__op"), Seq("id"),
      tmpDir("dcdc-multi-ck2"), trigger = Trigger.AvailableNow())
    q2.awaitTermination()
    val rows2 = DeltaCompat.read(spark, dir)
      .as[(Int, String)].collect().toSet
    assert(rows2 === Set((3, "v3c")), s"got $rows2")
  }

  test("Iceberg sink: U+D nets absent, U+U lands one row, D+I re-inserts") {
    implicit val sc = spark.sqlContext
    val dir = tmpDir("icdc-multi")
    val in = MemoryStream[(Int, String, String)]
    in.addData((1, "a", "I"), (2, "b", "I"), (3, "c", "I"))
    val q = IcebergCdcStream.attach(dir,
      in.toDF().toDF("id", "v", "__op"), Seq("id"),
      tmpDir("icdc-ck1"), trigger = Trigger.AvailableNow())
    q.awaitTermination()
    val in2 = MemoryStream[(Int, String, String)]
    in2.addData(
      (1, "a2", "U"), (1, "", "D"),          // U then D -> absent
      (2, "b2", "U"), (2, "b3", "U"),        // U then U -> one row, b3
      (3, "", "D"), (3, "c2", "I"))          // D then I -> re-inserted c2
    val q2 = IcebergCdcStream.attach(dir,
      in2.toDF().toDF("id", "v", "__op"), Seq("id"),
      tmpDir("icdc-ck2"), trigger = Trigger.AvailableNow())
    q2.awaitTermination()
    val rows = IcebergCompat.read(spark, dir)
      .as[(Int, String)].collect().toSet
    assert(rows === Set((2, "b3"), (3, "c2")), s"got $rows")
  }

  test("equal-__seq ops on one key resolve deterministically across replays") {
    // A coarse watermark (second resolution, two ops in one poll) gives
    // two ops of one key the SAME __seq. No order is knowable — but the
    // pick must be DETERMINISTIC, or a checkpoint replay converges to a
    // different final image than the original run. The tie-break is a
    // content fingerprint, so identical inputs always pick the same
    // winner regardless of partitioning or arrival order.
    val batchA = Seq((1, "alpha", "U", 100L), (1, "beta", "U", 100L),
      (2, "only", "I", 100L))
      .toDF("id", "v", "__op", "__seq")
    // same rows, reversed arrival order and different partitioning
    val batchB = Seq((2, "only", "I", 100L), (1, "beta", "U", 100L),
      (1, "alpha", "U", 100L))
      .toDF("id", "v", "__op", "__seq").repartition(3)
    val a = Mooncake.lastOpPerKey(batchA, Seq("id"))
      .select("id", "v").as[(Int, String)].collect().toSet
    val b = Mooncake.lastOpPerKey(batchB, Seq("id"))
      .select("id", "v").as[(Int, String)].collect().toSet
    assert(a === b, s"replayed tie resolved differently: $a vs $b")
    assert(a.size === 2 && a.contains(2 -> "only"))

    // and through the full mirror apply: two identical applies from
    // scratch land the same image
    def applyOnce(): Set[(Int, String)] = {
      val lake = new Mooncake(tmpDir("tie-wh"))
      lake.createTable(spark, "tie_t",
        Seq((0, "seed")).toDF("id", "v"), Seq("id"))
      lake.applyChanges(spark, "tie_t", batchB, 2L)
      lake.read(spark, "tie_t").as[(Int, String)].collect().toSet
    }
    val r1 = applyOnce()
    val r2 = applyOnce()
    assert(r1 === r2, s"applyChanges tie nondeterministic: $r1 vs $r2")
  }

  test("sinks and mirror keep one final image when __op leads the columns") {
    // Two ops on one key share __seq and __op is the FIRST column: the
    // tie fingerprint must cover the columns in the same order for the
    // sinks' final image and the mirror's (in Spark and on the driver),
    // or the content probe misreads an applied batch.
    val batch = Seq(("U", 1, "x0", 7L), ("U", 1, "y0", 7L))
      .toDF("__op", "id", "v", "__seq")
    val sink = Mooncake.lastOpPerKey(batch, Seq("id"))
      .select("id", "v").as[(Int, String)].collect().toSet
    for (frame <- Seq(batch, batch.repartition(2))) {
      val lake = new Mooncake(tmpDir("tie-order"))
      lake.createTable(spark, "t", Seq((0, "seed")).toDF("id", "v"), Seq("id"))
      lake.applyChanges(spark, "t", frame, 2L)
      val mirror = lake.read(spark, "t").as[(Int, String)].collect().toSet
      assert(mirror === sink + (0 -> "seed"), s"sink $sink, mirror $mirror")
      assert(CdcStream.contentNoop(lake, "t", batch))
    }
  }

  test("mirror stream survives an out-of-band commit between batches") {
    implicit val sc = spark.sqlContext
    val lake = new Mooncake(tmpDir("oob-lake"))
    val ckpt = tmpDir("oob-ck")
    lake.createTable(spark, "t",
      Seq((1L, "a")).toDF("id", "v"), pk = Seq("id"))
    val in = MemoryStream[(Long, String, String)]
    in.addData((2L, "b", "I"))
    val q = CdcStream.attach(lake, "t",
      in.toDF().toDF("id", "v", "__op"), ckpt,
      trigger = Trigger.AvailableNow())
    q.awaitTermination()
    // out-of-band commit consumes the next version number
    lake.optimizeTable(spark, "t", mode = "full")
    // restart the SAME stream from its checkpoint: the next batch id
    // must still apply (the old version gate treated it as a replay
    // and silently dropped it)
    in.addData((3L, "c", "I"))
    val q2 = CdcStream.attach(lake, "t",
      in.toDF().toDF("id", "v", "__op"), ckpt,
      trigger = Trigger.AvailableNow())
    q2.awaitTermination()
    val ids = lake.read(spark, "t").select("id")
      .as[Long].collect().toSet
    assert(ids === Set(1L, 2L, 3L),
      s"out-of-band commit swallowed a stream batch: $ids")
  }

  test("session operator survives a below-watermark straggler") {
    implicit val sc = spark.sqlContext
    def t(minute: Long): Timestamp =
      Timestamp.valueOf(java.time.LocalDateTime.of(2026, 1, 1, 0, 0)
        .plusMinutes(minute))
    val in = MemoryStream[SessionStream.Event]
    val sessions = SessionStream.sessionize(
      in.toDS().withWatermark("ts", "1 second").as[SessionStream.Event],
      gapSeconds = 60)
    val q = sessions.writeStream.format("memory")
      .queryName("straggler_out").outputMode("append").start()
    try {
      in.addData(SessionStream.Event(1, t(0), 1.0))
      q.processAllAvailable()
      // advance the watermark far past t(0)
      in.addData(SessionStream.Event(1, t(600), 1.0))
      q.processAllAvailable()
      // straggler hours below the watermark: must be dropped, not
      // wedge the query with a timeout-before-watermark exception
      in.addData(SessionStream.Event(1, t(1), 99.0))
      q.processAllAvailable()
      in.addData(SessionStream.Event(9, t(1200), 0.0))
      q.processAllAvailable()
      in.addData(SessionStream.Event(9, t(1201), 0.0))
      q.processAllAvailable()
      val got = spark.table("straggler_out")
        .as[SessionStream.Session].collect().filter(_.user_id == 1L)
        .map(s => (s.session_start, s.n_events)).toSet
      assert(got === Set((t(0), 1L), (t(600), 1L)),
        s"straggler corrupted sessions: $got")
    } finally q.stop()
  }
}
