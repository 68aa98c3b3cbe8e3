package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Order-insensitive digest of a set of rows: count plus the wrapping sum
  * of 64-bit row hashes. Additive, so the replay maintains it per change. */
final case class Digest(n: Long, sum: Long) {
  def +(h: Long): Digest = Digest(n + 1, sum + h)
  def -(h: Long): Digest = Digest(n - 1, sum - h)
}

object Digest {
  val empty: Digest = Digest(0, 0)

  def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  def hash(fields: Any*): Long = fields.foldLeft(0x9e3779b97f4a7c15L) {
    (acc, f) => mix(acc * 31 + fieldHash(f))
  }

  private def fieldHash(f: Any): Long = f match {
    case null => 0x5bd1e995L
    case l: Long => l
    case i: Int => i.toLong
    case d: Double => java.lang.Double.doubleToLongBits(if (d == 0.0) 0.0 else d)
    case s: String => scala.util.hashing.MurmurHash3.stringHash(s).toLong
    case d: java.sql.Date => d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => d.toEpochDay
    case other => other.toString.hashCode.toLong
  }

  def ofRows(rows: IterableOnce[Row]): Digest =
    rows.iterator.foldLeft(empty)((d, r) => d + hash(r.toSeq: _*))
}

/** Row-store replay of the mirrored `lineitem` table: the benchmark's own
  * reference for every mirror, view, Iceberg and Delta answer. Columnar arrays
  * indexed by the table's key `l_id`, the digest of the live rows, and the
  * per-supplier state of the aggregate view. */
final class Replay(base: Array[Row], capacity: Int, partCount: Int) {
  val orderkey = new Array[Long](capacity)
  val partkey = new Array[Long](capacity)
  val suppkey = new Array[Long](capacity)
  val linenumber = new Array[Int](capacity)
  val quantity = new Array[Double](capacity)
  val priceCents = new Array[Long](capacity)
  val discount = new Array[Double](capacity)
  val tax = new Array[Double](capacity)
  val returnflag = new Array[Char](capacity)
  val linestatus = new Array[Char](capacity)
  val shipdate = new Array[Int](capacity)
  val live = new Array[Boolean](capacity)
  var nextKey: Long = base.length.toLong
  var table: Digest = Digest.empty
  /** Live rows, their quantity sum and their price sum in cents: the
    * answer of the benchmark's full-table aggregate scan. */
  var liveRows, qtySum, priceCentsSum = 0L
  private val viewCnt = new Array[Long](Replay.Suppliers)
  private val viewQty = new Array[Long](Replay.Suppliers)
  private val viewHist = Array.fill(Replay.Suppliers)(new Array[Int](51))

  base.foreach { r =>
    val k = r.getLong(0).toInt
    orderkey(k) = r.getLong(1); partkey(k) = r.getLong(2)
    suppkey(k) = r.getLong(3); linenumber(k) = r.getInt(4)
    quantity(k) = r.getDouble(5)
    priceCents(k) = math.round(r.getDouble(6) * 100)
    discount(k) = r.getDouble(7); tax(k) = r.getDouble(8)
    returnflag(k) = r.getString(9).charAt(0)
    linestatus(k) = r.getString(10).charAt(0)
    shipdate(k) = r.getDate(11).toLocalDate.toEpochDay.toInt
    add(k)
  }

  def price(k: Int): Double = priceCents(k) / 100.0

  def row(k: Int, op: String): Row = Row(k.toLong, orderkey(k), partkey(k),
    suppkey(k), linenumber(k), quantity(k), price(k), discount(k), tax(k),
    returnflag(k).toString, linestatus(k).toString,
    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(shipdate(k).toLong)),
    op)

  /** Same value as `Digest.hash(row.toSeq: _*)` of the mirrored row. */
  def rowHash(k: Int): Long = Digest.hash(k.toLong, orderkey(k), partkey(k),
    suppkey(k), linenumber(k), quantity(k), price(k), discount(k), tax(k),
    returnflag(k).toString, linestatus(k).toString,
    java.time.LocalDate.ofEpochDay(shipdate(k).toLong))

  private def fold(k: Int, sign: Int): Unit = {
    val h = rowHash(k)
    table = if (sign > 0) table + h else table - h
    liveRows += sign
    qtySum += sign * quantity(k).toLong
    priceCentsSum += sign * priceCents(k)
    val s = suppkey(k).toInt
    viewCnt(s) += sign
    viewQty(s) += sign * quantity(k).toLong
    viewHist(s)(quantity(k).toInt) += sign
  }

  private def add(k: Int): Unit = { live(k) = true; fold(k, 1) }
  private def remove(k: Int): Unit = { fold(k, -1); live(k) = false }

  /** The aggregate view computed from scratch: per supplier, the row
    * count, the quantity sum and the largest quantity. */
  def viewRows: Digest = (0 until Replay.Suppliers).foldLeft(Digest.empty) { (d, s) =>
    if (viewCnt(s) == 0) d
    else d + Digest.hash(s.toLong, viewCnt(s), viewQty(s).toDouble,
      viewHist(s).lastIndexWhere(_ > 0).toDouble)
  }

  /** Apply one generated change to the replay. */
  def applyOp(op: Char, k: Int, rnd: java.util.SplittableRandom): Unit = op match {
    case 'D' => remove(k)
    case _ =>
      if (op == 'U') remove(k)
      orderkey(k) = rnd.nextLong(150000); partkey(k) = rnd.nextLong(partCount)
      suppkey(k) = rnd.nextLong(Replay.Suppliers); linenumber(k) = 1 + rnd.nextInt(7)
      quantity(k) = 1 + rnd.nextInt(50); priceCents(k) = 90000 + rnd.nextLong(10410001)
      discount(k) = rnd.nextInt(11) / 100.0; tax(k) = rnd.nextInt(9) / 100.0
      returnflag(k) = "ANR".charAt(rnd.nextInt(3))
      linestatus(k) = "FO".charAt(rnd.nextInt(2))
      shipdate(k) = Replay.ShipLo + rnd.nextInt(Replay.ShipSpan)
      add(k)
  }
}

object Replay {
  val Suppliers = 1000
  val ShipLo: Int = java.time.LocalDate.of(1995, 1, 2).toEpochDay.toInt
  val ShipSpan = 2499

  val schema: StructType = StructType(Seq(
    StructField("l_id", LongType),
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType), StructField("l_shipdate", DateType)))

  val changeSchema: StructType = schema.add(StructField("__op", StringType))
}

/** One change batch: the rows (table columns plus `__op`), its keys, the
  * digest of the final images a read of those keys must return, and what
  * the replay holds after it: the full-table aggregate (rows, quantity sum,
  * price sum in cents), the table's digest and the view's. */
final case class Batch(idx: Int, narrow: Boolean, rows: Array[Row], keys: Array[Long],
    images: Digest, scan: (Long, Long, Long), after: Digest, view: Digest,
    net: Option[NetChange]) {
  def size: Int = rows.length
  def shape: String = if (narrow) "narrow" else "wide"
}

/** The net change of consecutive batches, as the Iceberg and Delta tables
  * receive it: for each key a batch touched, its final image (`U`) or a
  * delete (`D`), and the digest of the final images. */
final case class NetChange(rows: Array[Row], keys: Array[Long], images: Digest)

/** Seeded change stream over the replay. Batches alternate between the
  * two shapes, narrow (keys among the newest [[RecentShare]] of the key
  * range) and wide (keys anywhere); the size and the I/U/D mix are fixed,
  * so every seed carries the same work. The seed picks the order of
  * operations, the keys and the values. */
object ChangeGen {
  val RecentShare = 0.05

  /** Groups of batches of `size` rows, `groups(g)` batches in group `g`;
    * the last batch of each group carries the net change of the group. */
  def generate(replay: Replay, seed: Long, size: Int, groups: Seq[Int]): Seq[Seq[Batch]] = {
    val rnd = new java.util.SplittableRandom(seed)
    val groupKeys = mutable.LinkedHashSet.empty[Int]
    val groupEnds = groups.scanLeft(0)(_ + _).tail.toSet
    val batches = (0 until groups.sum).map { i =>
      val recent = i % 2 == 0
      // A fixed mix, 20% inserts, 60% updates and 20% deletes, in seeded
      // order: the seed never changes how many rows take each path.
      val ops = Array.fill(size / 5)('I') ++ Array.fill(size / 5)('D') ++
        Array.fill(size - 2 * (size / 5))('U')
      (ops.length - 1 to 1 by -1).foreach { j =>
        val r = rnd.nextInt(j + 1)
        val t = ops(j); ops(j) = ops(r); ops(r) = t
      }
      val picked = mutable.LinkedHashMap.empty[Int, Char]
      ops.foreach {
        case 'I' =>
          picked(replay.nextKey.toInt) = 'I'
          replay.nextKey += 1
        case op =>
          val hi = replay.nextKey
          val lo = if (recent) (hi * (1 - RecentShare)).toLong else 0L
          var k = -1
          while (k < 0) {
            val c = (lo + rnd.nextLong(hi - lo)).toInt
            if (replay.live(c) && !picked.contains(c)) k = c
          }
          picked(k) = op
      }
      var images = Digest.empty
      val rows = picked.toArray.map { case (k, op) =>
        if (op == 'D') {
          val r = replay.row(k, "D")
          replay.applyOp('D', k, rnd)
          r
        } else {
          replay.applyOp(op, k, rnd)
          images = images + replay.rowHash(k)
          replay.row(k, op.toString)
        }
      }
      groupKeys ++= picked.keys
      val net = if (!groupEnds(i + 1)) None else {
        val keys = groupKeys.toArray
        groupKeys.clear()
        val live = keys.filter(replay.live(_))
        Some(NetChange(keys.map(k => replay.row(k, if (replay.live(k)) "U" else "D")),
          keys.map(_.toLong), live.foldLeft(Digest.empty)((d, k) => d + replay.rowHash(k))))
      }
      Batch(i, recent, rows, picked.keys.map(_.toLong).toArray, images,
        (replay.liveRows, replay.qtySum, replay.priceCentsSum), replay.table, replay.viewRows, net)
    }
    groups.scanLeft(0)(_ + _).zip(groups).map { case (from, n) => batches.slice(from, from + n) }
  }

  def frame(spark: SparkSession, rows: Array[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Replay.changeSchema)

  def keyFrame(spark: SparkSession, keys: Array[Long]): DataFrame = {
    import spark.implicits._
    keys.toSeq.toDF("l_id")
  }
}
