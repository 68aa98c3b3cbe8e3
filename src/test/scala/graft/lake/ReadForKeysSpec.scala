package graft.lake

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Runtime semi-join pruning on a crafted layout: four files with
  * disjoint key ranges, so expected file-open counts are exact. */
class ReadForKeysSpec extends SparkSuite {

  import spark.implicits._

  private def mkTable(): Mooncake = {
    val lake = new Mooncake(tmpDir("readforkeys"))
    // ids 1..100 → four range-clustered files of 25 keys each.
    val df = (1 to 100).map(i => (i.toLong, i.toLong * 10, s"name-$i%03d"))
      .toDF("id", "ck", "nm")
      .repartitionByRange(4, col("ck"))
    lake.createTable(spark, "t", df, Seq("id"))
    assert(lake.read(spark, "t").inputFiles.length == 4)
    lake
  }

  test("a driver-local key frame builds its predicate without a Spark job") {
    val (pred, jobs) = org.apache.spark.sql.graft.JobCount(spark) {
      RuntimeFilter.keyPredicate(Seq(Some(7L), None, Some(3L), Some(7L)).toDF("k"), "k")
    }
    assert(jobs === 0)
    val kept = Seq(1L, 3L, 7L, 9L).toDF("k").filter(pred.get).as[Long].collect()
    assert(kept.sorted.toSeq === Seq(3L, 7L))
    // over the cap: the [min, max] fallback, as for any other frame
    val range = RuntimeFilter.keyPredicate(Seq(5L, 2L, 8L).toDF("k"), "k", maxInSet = 2)
    assert(Seq(1L, 2L, 6L, 8L, 9L).toDF("k").filter(range.get).as[Long]
      .collect().sorted.toSeq === Seq(2L, 6L, 8L))
    assert(RuntimeFilter.keyPredicate(Seq(Option.empty[Long]).toDF("k"), "k").isEmpty)
  }

  test("a compact key set opens only its file") {
    val lake = mkTable()
    val keys = Seq(50L, 70L).toDF("ck")
    val got = lake.readForKeys(spark, "t", "ck", keys)
    assert(got.inputFiles.length == 1)
    assert(got.select("id").as[Long].collect().sorted.toSeq == Seq(5L, 7L))
  }

  test("keys spanning two ranges open two files; set is pushed exactly") {
    val lake = mkTable()
    val keys = Seq(50L, 400L).toDF("ck")
    val got = lake.readForKeys(spark, "t", "ck", keys)
    assert(got.inputFiles.length == 2)
    // The in-between file (ranks 26..50) is inside [50, 400] bounds but
    // holds neither key — the pushed IN set filters its rows out.
    assert(got.select("id").as[Long].collect().sorted.toSeq == Seq(5L, 40L))
  }

  test("above maxInSet the range alone prunes (superset, no key set)") {
    val lake = mkTable()
    val keys = Seq(50L, 60L, 400L).toDF("ck")
    val got = lake.readForKeys(spark, "t", "ck", keys, maxInSet = 2)
    assert(got.inputFiles.length == 2)
    // Range-only: every row of both surviving files inside [50, 400].
    assert(got.count() == 36)
  }

  test("empty and all-null key frames return no rows") {
    val lake = mkTable()
    assert(lake.readForKeys(spark, "t", "ck",
      Seq.empty[Long].toDF("ck")).isEmpty)
    assert(lake.readForKeys(spark, "t", "ck",
      Seq[Option[Long]](None, None).toDF("ck")).isEmpty)
  }

  test("string keys prune through string bounds") {
    val lake = new Mooncake(tmpDir("readforkeys-str"))
    val df = (1 to 90).map(i => (i.toLong, f"k$i%03d")).toDF("id", "sk")
      .repartitionByRange(3, col("sk"))
    lake.createTable(spark, "ts", df, Seq("id"))
    val got = lake.readForKeys(spark, "ts", "sk", Seq("k005", "k010").toDF("sk"))
    assert(got.inputFiles.length == 1)
    assert(got.count() == 2)
  }

  test("a differently-named single-column key frame binds positionally") {
    val lake = mkTable()
    val got = lake.readForKeys(spark, "t", "ck", Seq(50L).toDF("other"))
    assert(got.select("id").as[Long].collect().toSeq == Seq(5L))
  }

  // Foreign-lake twins: the same superset contract pushed into add.stats
  // (Delta) / manifest-bounds (Iceberg) file skipping. Four single-file
  // commits with disjoint key ranges make expected open counts exact.
  private def chunks: Seq[org.apache.spark.sql.DataFrame] =
    (0 until 4).map(c => (1 to 25)
      .map(i => (c * 25L + i, (c * 25L + i) * 10, s"n$c-$i"))
      .toDF("id", "ck", "nm").coalesce(1))

  test("delta readForKeys prunes files from the log alone") {
    val dir = tmpDir("delta-rfk")
    chunks.foreach(DeltaCompat.write(_, dir))
    assert(DeltaCompat.read(spark, dir).inputFiles.length == 4)
    // chunk 1 holds ck 260..500 — both keys land in that one file
    val got = DeltaCompat.readForKeys(spark, dir, "ck",
      Seq(300L, 400L).toDF("ck"))
    assert(got.inputFiles.length == 1)
    assert(got.select("id").as[Long].collect().sorted.toSeq == Seq(30L, 40L))
    // empty build side: no rows, and no files opened either
    val none = DeltaCompat.readForKeys(spark, dir, "ck",
      Seq.empty[Long].toDF("ck"))
    assert(none.isEmpty)
    // above the cap: the range-only superset [300, 900] skips chunk 0
    val ranged = DeltaCompat.readForKeys(spark, dir, "ck",
      Seq(300L, 400L, 900L).toDF("ck"), maxInSet = 2)
    assert(ranged.inputFiles.length == 3)
    assert(ranged.count() == 61)
  }

  test("the pushed IN set skips in-range files holding no key") {
    // keys 50 and 770: the [50, 770] range overlaps all four files, but
    // only file 0 (ck 10..250) and file 3 (ck 760..1000) can hold a key
    // — IN-list file skipping must close the two middle files the range
    // conjuncts alone keep open.
    val lake = mkTable()
    val got = lake.readForKeys(spark, "t", "ck", Seq(50L, 770L).toDF("ck"))
    assert(got.inputFiles.length == 2)
    assert(got.select("id").as[Long].collect().sorted.toSeq == Seq(5L, 77L))

    val dir = tmpDir("delta-inset")
    chunks.foreach(DeltaCompat.write(_, dir))
    val d = DeltaCompat.readForKeys(spark, dir, "ck", Seq(50L, 770L).toDF("ck"))
    assert(d.inputFiles.length == 2)
    assert(d.select("id").as[Long].collect().sorted.toSeq == Seq(5L, 77L))

    val idir = tmpDir("iceberg-inset")
    chunks.foreach(IcebergCompat.write(_, idir))
    val i = IcebergCompat.readForKeys(spark, idir, "ck", Seq(50L, 770L).toDF("ck"))
    assert(i.inputFiles.length == 2)
    assert(i.select("id").as[Long].collect().sorted.toSeq == Seq(5L, 77L))
  }

  test("iceberg readForKeys prunes files from manifest bounds alone") {
    val dir = tmpDir("iceberg-rfk")
    chunks.foreach(IcebergCompat.write(_, dir))
    assert(IcebergCompat.read(spark, dir).inputFiles.length == 4)
    val got = IcebergCompat.readForKeys(spark, dir, "ck",
      Seq(300L, 400L).toDF("ck"))
    assert(got.inputFiles.length == 1)
    assert(got.select("id").as[Long].collect().sorted.toSeq == Seq(30L, 40L))
    val none = IcebergCompat.readForKeys(spark, dir, "ck",
      Seq.empty[Long].toDF("ck"))
    assert(none.isEmpty)
    val ranged = IcebergCompat.readForKeys(spark, dir, "ck",
      Seq(300L, 400L, 900L).toDF("ck"), maxInSet = 2)
    assert(ranged.inputFiles.length == 3)
    assert(ranged.count() == 61)
  }
}
