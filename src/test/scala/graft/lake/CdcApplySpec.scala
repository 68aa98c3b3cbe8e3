package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.JobCount

import graft.SparkSuite

/** The Spark work one CDC apply pays: its job count, the layout of the
  * files it rewrites when the range cuts come from the manifest, the
  * empty-batch guard, the release of the pinned batch on failure and the
  * shared footer pool. */
class CdcApplySpec extends SparkSuite {
  import spark.implicits._

  /** An 8-file mirror of keys 0..7999, range-clustered on the long pk. */
  private def eightFiles(lake: Mooncake, name: String): Manifest = {
    lake.createTable(spark, name, spark.range(0, 8000)
      .select(col("id").as("a"), concat(lit("v"), col("id")).as("b")),
      Seq("a"), targetFileCount = Some(8))
    val m = lake.currentManifest(name)
    assert(m.files.size === 8)
    m
  }

  private def withFileBytes[A](bytes: Long)(body: => A): A = {
    spark.conf.set("spark.graft.targetFileBytes", bytes.toString)
    try body finally spark.conf.unset("spark.graft.targetFileBytes")
  }

  /** The files `after` added, as sorted (lo, hi) key ranges. */
  private def newRanges(before: Manifest, after: Manifest): Seq[(Long, Long)] = {
    val had = before.files.map(_.path).toSet
    after.files.filterNot(f => had(f.path))
      .map(f => (f.minKey.get, f.maxKey.get)).sortBy(_._1)
  }

  private def disjoint(ranges: Seq[(Long, Long)]): Boolean =
    ranges.zip(ranges.drop(1)).forall { case ((_, hi), (lo, _)) => hi < lo }

  test("an empty batch advances the version with the same files") {
    val lake = new Mooncake(tmpDir("cdc-empty"))
    val before = eightFiles(lake, "e")
    val empty = Seq.empty[(Long, String, String)].toDF("a", "b", "__op")
    val after = lake.applyChanges(spark, "e", empty, version = 2)
    assert(after.version === 2 && after.commitVersion === 2)
    assert(after.files.map(_.path) === before.files.map(_.path))
    assert(lake.read(spark, "e").count() === 8000)
  }

  /** 10 changes (6 updates, 4 deletes) to one file of an 8-file mirror:
    * the jobs of the apply, and the mirror's rows after it. */
  private def tenRowApply(name: String, inSpark: Boolean): Int = {
    val lake = new Mooncake(tmpDir(s"cdc-jobs-$name"))
    eightFiles(lake, name)
    val rows = (0 until 10).map(i => (1500L + i, s"u$i", if (i % 3 == 0) "D" else "U"))
      .toDF("a", "b", "__op")
    // coalesce: rows in Spark without a shuffle of their own
    val batch = if (inSpark) rows.coalesce(1) else rows
    val (_, jobs) = JobCount(spark)(lake.applyChanges(spark, name, batch, version = 2))
    val got = lake.read(spark, name)
    assert(got.count() === 8000 - 4)
    assert(got.filter(col("b").startsWith("u")).count() === 6)
    jobs
  }

  test("a 10-row apply into an 8-file long-pk mirror runs at most 7 jobs") {
    val jobs = tenRowApply("j", inSpark = true)
    // more than the local path's 2: the coalesced frame is not driver-local
    assert(jobs > 2 && jobs <= 7, s"apply ran $jobs jobs")
  }

  test("the same 10 rows as a local batch apply in at most 2 jobs") {
    val jobs = tenRowApply("jl", inSpark = false)
    assert(jobs <= 2, s"apply ran $jobs jobs")
  }

  test("a local batch on a two-column pk broadcasts its keys with auto-broadcast off") {
    val lake = new Mooncake(tmpDir("cdc-jobs-pk2"))
    lake.createTable(spark, "p", spark.range(0, 8000).select(col("id").as("a"),
      (col("id") % 2).as("c"), concat(lit("v"), col("id")).as("b")),
      Seq("a", "c"), targetFileCount = Some(8))
    val batch = (0 until 10).map(i => (1500L + i, (1500L + i) % 2, s"u$i",
      if (i % 3 == 0) "D" else "U")).toDF("a", "c", "b", "__op")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (_, jobs) = try JobCount(spark)(lake.applyChanges(spark, "p", batch, version = 2))
      finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    // the key broadcast and the rewrite's 2; a sort-merge anti-join would
    // add a shuffle of the touched files and one of the keys
    assert(jobs <= 3, s"apply ran $jobs jobs")
    val got = lake.read(spark, "p")
    assert(got.count() === 8000 - 4)
    assert(got.filter(col("b").startsWith("u")).count() === 6)
  }

  test("a rewrite over several files writes disjoint key ranges") {
    val lake = new Mooncake(tmpDir("cdc-layout"))
    val before = eightFiles(lake, "l")
    val fileBytes = before.files.map(_.bytes).max
    // updates over files 1..4, deletes in file 2, inserts past the old max
    val batch = ((1500L to 4500L by 50).map(k => (k, "upd", "U")) ++
      (2100L to 2200L).map(k => (k, null: String, "D")) ++
      (4400L to 4450L).map(k => (k + 10000, "new", "I")))
      .toDF("a", "b", "__op")
    val after = withFileBytes(fileBytes)(lake.applyChanges(spark, "l", batch, version = 2))
    val added = newRanges(before, after)
    assert(added.size > 1, s"the rewrite landed in ${added.size} file(s)")
    assert(disjoint(added), s"rewritten files overlap: $added")
    assert(disjoint(after.files.map(f => (f.minKey.get, f.maxKey.get)).sortBy(_._1)))
    val got = lake.read(spark, "l")
    assert(got.count() === 8000 - 101 + 51)
    assert(got.filter(col("b") === "upd").count() === (1500L to 4500L by 50)
      .count(k => k < 2100 || k > 2200))
  }

  test("date and string pks apply correctly over several rewritten files") {
    def check(name: String, table: DataFrame, batch: DataFrame,
        expected: Set[(String, String)]): Unit = {
      val lake = new Mooncake(tmpDir(s"cdc-$name"))
      lake.createTable(spark, name, table, Seq("k"), targetFileCount = Some(8))
      val before = lake.currentManifest(name)
      val after = withFileBytes(before.files.map(_.bytes).max) {
        lake.applyChanges(spark, name, batch, version = 2)
      }
      assert(after.files.count(f => !before.files.contains(f)) > 1)
      val got = lake.read(spark, name)
        .select(col("k").cast("string"), col("v")).as[(String, String)].collect()
      assert(got.toSet === expected && got.length === expected.size)
    }
    val day0 = 19000L
    def day(i: Long) = java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day0 + i))
    val dates = (0L until 4000L).map(i => (day(i), s"v$i"))
    val dateBatch = (1000L until 3000L by 10).map(i =>
      (day(i), "u", if (i % 20 == 0) "D" else "U")) :+ ((day(9000L), "n", "I"))
    check("datepk", dates.toDF("k", "v"), dateBatch.toDF("k", "v", "__op"),
      (dates.map { case (d, v) => d.toString -> v }.toMap ++
        dateBatch.map { case (d, v, _) => d.toString -> v } --
        dateBatch.collect { case (d, _, "D") => d.toString }).toSet)
    val strs = (0 until 4000).map(i => (f"k$i%05d", s"v$i"))
    val strBatch = (1000 until 3000 by 10).map(i =>
      (f"k$i%05d", "u", if (i % 20 == 0) "D" else "U")) :+ (("k99999", "n", "I"))
    check("strpk", strs.toDF("k", "v"), strBatch.toDF("k", "v", "__op"),
      (strs.toMap ++ strBatch.map { case (k, v, _) => k -> v } --
        strBatch.collect { case (k, _, "D") => k }).toSet)
  }

  test("a failed apply releases its pinned batch") {
    val lake = new Mooncake(tmpDir("cdc-leak"))
    lake.createTable(spark, "f", Seq((1L, "a"), (2L, "b")).toDF("a", "b"), Seq("a"))
    val cache = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    // a column that throws once the batch is computed (over a range, not
    // local rows, which the optimizer would evaluate at plan time)
    val raising = spark.range(1, 2).select(col("id").as("a"),
      raise_error(concat(lit("boom "), col("id"))).cast("string").as("b"), lit("U").as("__op"))
    intercept[Exception](lake.applyChanges(spark, "f", raising, version = 2))
    assert(cache.isEmpty, "the batch stayed cached after a failed aggregate")
    // a type clash the survivor union only finds after the batch is pinned
    val clash = Seq((1L, Seq(1), "U")).toDF("a", "b", "__op")
    intercept[Exception](lake.applyChanges(spark, "f", clash, version = 2))
    assert(cache.isEmpty, "the batch stayed cached after a failed union")
    assert(lake.currentManifest("f").version === 1)
  }

  test("footer work on the shared pool keeps order and rethrows f's own exception") {
    assert(Manifest.parFiles(1 to 5)(_ * 2) === (2 to 10 by 2))
    val e = intercept[IllegalStateException](Manifest.parFiles(Seq(1, 2, 3)) { i =>
      if (i == 2) throw new IllegalStateException("file 2 missing") else i
    })
    assert(e.getMessage === "file 2 missing")
  }

  test("range cuts follow row weight and survive the ends of Long") {
    assert(Mooncake.rangeCuts(Seq(((0L, 99L), 100L), ((100L, 199L), 300L)), 4)
      .toSeq === Seq(100L, 133L, 166L))
    val wide = Mooncake.rangeCuts(Seq(((Long.MinValue, Long.MaxValue), 1000L)), 4)
    assert(wide.length === 3 && wide.sorted.sameElements(wide))
    assert(wide(0) < -4000000000000000000L && math.abs(wide(1)) < 1000000000000L &&
      wide(2) > 4000000000000000000L, wide.toSeq)
    assert(Mooncake.rangeCuts(Seq(((Long.MaxValue, Long.MaxValue), 5L)), 3)
      .forall(_ == Long.MaxValue))
    assert(Mooncake.rangeCuts(Seq(((0L, 10L), 0L)), 4).isEmpty)
  }
}
