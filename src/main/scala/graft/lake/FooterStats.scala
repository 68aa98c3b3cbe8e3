package graft.lake

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path

import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation._
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.types._

/** A column's [min, max] over a whole file, as the JVM value catalyst
  * uses for `dataType`: Integer for ints and dates (epoch days), Long for
  * longs and timestamps (epoch micros), Float, Double, Boolean, String. */
final case class Bounds(dataType: DataType, min: Any, max: Any)

/** One leaf column: null count and bounds, each absent when the footer
  * cannot prove it. */
final case class ColumnStats(nulls: Option[Long], bounds: Option[Bounds])

/** A parquet file's statistics, the one source of the mirror manifest's
  * `DataFile` bounds, Delta's `add.stats` and Iceberg's `record_count`
  * and bounds. Leaves are keyed by their path, in file schema order. */
final case class FooterStats(rows: Long, leaves: Map[Seq[String], ColumnStats]) {
  /** The top-level primitive columns by name — what Delta and Iceberg
    * stats cover (the mirror also keeps nested struct leaves). */
  def columns: Map[String, ColumnStats] =
    leaves.collect { case (Seq(name), c) => name -> c }
}

/** The one rule set every lake format's file skipping relies on. A bound
  * is kept only when it contains every row of the file under
  * [[BoundsPruning.cmp]], the order the readers prune with:
  *
  *  - row groups fold with the column's own parquet comparator, which
  *    for strings is unsigned byte order (UTF-8 byte order is code-point
  *    order, so it agrees with `cmp`; Java's UTF-16 `String` order does
  *    not on supplementary characters);
  *  - a row group without a non-null value or without stats drops the
  *    column's bounds (its null count still counts when present);
  *  - NaN-poisoned float/double bounds are dropped, and a zero bound
  *    widens to -0.0 / +0.0 as parquet's own readers do, so files read
  *    straight from a writer's in-memory footer follow the same rules;
  *  - timestamps are kept only in micros; decimals, unsigned ints and
  *    other annotated physical ints are never read as plain integers;
  *  - strings keep at most 64 code points: the min as a prefix
  *    ([[Mooncake.truncLower]]), the max with its last kept code point
  *    bumped ([[Mooncake.truncUpper]]); bytes that are not valid UTF-8
  *    drop the bound.
  *
  * [[of]] works on any `ParquetMetadata`, so a writer that already holds
  * the footer of a file it just wrote needs no second open. */
object FooterStats {

  def read(p: Path): FooterStats = Manifest.withFooter(p)(of)

  def of(footer: ParquetMetadata): FooterStats = {
    val blocks = footer.getBlocks.asScala.toSeq
    val cols = footer.getFileMetaData.getSchema.getColumns.asScala.toSeq
    val leaves =
      if (blocks.isEmpty) Seq.empty
      else cols.indices.map { i =>
        val stats = blocks.map(_.getColumns.get(i).getStatistics)
        val nulls =
          if (stats.forall(s => s != null && s.isNumNullsSet))
            Some(stats.map(_.getNumNulls).sum)
          else None
        val bounds =
          if (stats.forall(s => s != null && s.hasNonNullValue))
            boundsOf(cols(i).getPrimitiveType, stats)
          else None
        cols(i).getPath.toSeq -> ColumnStats(nulls, bounds)
      }
    FooterStats(blocks.map(_.getRowCount).sum, VectorMap.from(leaves))
  }

  private def boundsOf(t: PrimitiveType,
      stats: Seq[Statistics[_]]): Option[Bounds] = {
    val order = Ordering.comparatorToOrdering(
      t.comparator().asInstanceOf[java.util.Comparator[Any]])
    val lo: Any = stats.map(s => s.genericGetMin: Any).min(order)
    val hi: Any = stats.map(s => s.genericGetMax: Any).max(order)
    def as(dt: DataType) = Some(Bounds(dt, lo, hi))
    def fp(dt: DataType, l: Double, h: Double, zero: (Any, Any)) =
      if (l.isNaN || h.isNaN) None
      else Some(Bounds(dt, if (l == 0) zero._1 else lo, if (h == 0) zero._2 else hi))
    def signed(a: LogicalTypeAnnotation) = a match {
      case null => true
      case i: IntLogicalTypeAnnotation => i.isSigned
      case _ => false
    }
    (t.getPrimitiveTypeName, t.getLogicalTypeAnnotation) match {
      case (INT32, a) if signed(a) => as(IntegerType)
      case (INT32, _: DateLogicalTypeAnnotation) => as(DateType)
      case (INT64, a) if signed(a) => as(LongType)
      case (INT64, ts: TimestampLogicalTypeAnnotation) if ts.getUnit == TimeUnit.MICROS =>
        as(if (ts.isAdjustedToUTC) TimestampType else TimestampNTZType)
      case (FLOAT, null) =>
        fp(FloatType, lo.asInstanceOf[Float], hi.asInstanceOf[Float], (-0.0f, 0.0f))
      case (DOUBLE, null) =>
        fp(DoubleType, lo.asInstanceOf[Double], hi.asInstanceOf[Double], (-0.0, 0.0))
      case (BOOLEAN, null) => as(BooleanType)
      case (BINARY, _: StringLogicalTypeAnnotation) =>
        for {
          l <- utf8(lo.asInstanceOf[Binary])
          h <- utf8(hi.asInstanceOf[Binary])
          u <- Mooncake.truncUpper(h)
        } yield Bounds(StringType, Mooncake.truncLower(l), u)
      case _ => None
    }
  }

  /** The string a footer `Binary` holds, when its bytes are valid UTF-8
    * (a lossy decode would reorder it against the rows). */
  private def utf8(b: Binary): Option[String] = {
    val s = b.toStringUsingUTF8
    if (java.util.Arrays.equals(s.getBytes(UTF_8), b.getBytes)) Some(s)
    else None
  }
}
