package graft.lake

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, format_string, lit, when}

import graft.SparkSuite

/** String bounds folded across row groups must follow the order the
  * readers prune with (unsigned UTF-8 bytes). U+FF61 sorts below U+1F600
  * in bytes but above it in UTF-16 code units, so a file whose row
  * groups hold both gets inverted bounds under a UTF-16 fold, and a
  * pruned point read of a value that exists returns nothing. */
class FooterStatsSpec extends SparkSuite {

  /** One file, several row groups: 20k rows of "｡%06d", then 20k rows
    * of "😀%06d" (ids ascending, so a pk-ordered writer keeps the split). */
  private def mixedPlanes: DataFrame =
    spark.range(0, 40000).select(col("id"),
      format_string("%s%06d",
        when(col("id") < 20000, lit("｡")).otherwise(lit("😀")),
        col("id") % 20000).as("s"))
      .coalesce(1)

  private val probe = "｡000005"

  test("bounds of BMP and supplementary-plane row groups keep a matching " +
      "file in the mirror, Delta and Iceberg") {
    val keys = Seq("parquet.block.size", "parquet.enable.dictionary")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("parquet.block.size", (64 * 1024).toString)
    spark.conf.set("parquet.enable.dictionary", "false")
    try {
      val lake = new Mooncake(tmpDir("footer-stats-wh"))
      lake.createTable(spark, "planes", mixedPlanes, Seq("id"))
      val deltaDir = tmpDir("footer-stats-delta")
      DeltaCompat.write(mixedPlanes, deltaDir)
      val icebergDir = tmpDir("footer-stats-iceberg")
      IcebergCompat.write(mixedPlanes, icebergDir)

      val file = lake.currentManifest("planes").files.head.path
      assert(Manifest.withFooter(java.nio.file.Paths.get(file))(
        _.getBlocks.size) > 1, "the repro needs several row groups")

      val hit = col("s") === probe
      val reads: Seq[(String, Option[org.apache.spark.sql.Column] => DataFrame)] = Seq(
        "mirror" -> (p => lake.read(spark, "planes", prune = p)),
        "delta" -> (p => DeltaCompat.read(spark, deltaDir, prune = p)),
        "iceberg" -> (p => IcebergCompat.read(spark, icebergDir, prune = p)))
      val results = reads.map { case (format, read) =>
        def ids(df: DataFrame) = df.select("id").collect().map(_.getLong(0)).toSeq
        (format, ids(read(None).filter(hit)), ids(read(Some(hit))))
      }
      results.foreach { case (format, unpruned, _) =>
        assert(unpruned === Seq(5L), format)
      }
      val lost = results.collect { case (f, u, p) if p != u => s"$f: $p" }
      assert(lost.isEmpty, "pruned reads lost the matching row")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a string column holding bytes that are not UTF-8 gets no bounds") {
    // a decoded max of U+FFFD (EF BF BD) would sit below the raw 0xFF row
    val dir = tmpDir("footer-stats-bytes")
    DeltaCompat.write(spark.sql("SELECT CAST(unhex('FF') AS STRING) AS s " +
      "UNION ALL SELECT 'a'").coalesce(1), dir)
    val hit = col("s") > lit("\uFFFD")
    assert(DeltaCompat.read(spark, dir).filter(hit).count() === 1)
    assert(DeltaCompat.read(spark, dir, prune = Some(hit)).count() === 1)
  }
}
