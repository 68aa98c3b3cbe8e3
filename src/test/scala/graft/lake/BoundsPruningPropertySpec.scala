package graft.lake

import java.nio.file.{Files, Path}

import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Superset-safety property for the file-skip evaluator: `keeps` may
  * only return false when NO row of the file can satisfy the conjunct.
  * For any file bounds [lo, hi], any value x inside them, and any
  * conjunct x actually satisfies, keeps(lo, hi, conjunct) MUST be true —
  * a violation is a silently-wrong query (a skipped file held a match),
  * the one failure mode pruning can never have. Covers the comparison
  * ops and the round-8 IN-list op, longs and strings. */
class BoundsPruningPropertySpec extends AnyFunSuite {

  private def run(p: Prop, name: String, n: Int = 300): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(r.passed, s"$name: $r")
  }

  test("a conjunct satisfied by an in-bounds long can never skip the file") {
    val gen = for {
      a <- Gen.choose(-1000L, 1000L)
      b <- Gen.choose(-1000L, 1000L)
      x <- Gen.choose(math.min(a, b), math.max(a, b))
      op <- Gen.oneOf("=", ">", ">=", "<", "<=")
      v <- Gen.choose(-1200L, 1200L)
    } yield (math.min(a, b), math.max(a, b), x, op, v)
    run(Prop.forAll(gen) { case (lo, hi, x, op, v) =>
      val satisfied = op match {
        case "=" => x == v
        case ">" => x > v
        case ">=" => x >= v
        case "<" => x < v
        case "<=" => x <= v
      }
      !satisfied ||
        BoundsPruning.keeps(Some(Long.box(lo)), Some(Long.box(hi)), op,
          Long.box(v))
    }, "long comparisons")
  }

  test("an IN list containing an in-bounds value can never skip the file") {
    val gen = for {
      a <- Gen.choose(-1000L, 1000L)
      b <- Gen.choose(-1000L, 1000L)
      x <- Gen.choose(math.min(a, b), math.max(a, b))
      others <- Gen.listOf(Gen.choose(-1200L, 1200L))
      shuffledPos <- Gen.choose(0, others.length)
    } yield (math.min(a, b), math.max(a, b), x, others, shuffledPos)
    run(Prop.forAll(gen) { case (lo, hi, x, others, pos) =>
      val (pre, post) = others.splitAt(pos)
      val all = pre ++ (x :: post)
      val vs: Seq[Any] = all.map(Long.box)
      // both representations: the generic linear probe and the
      // extraction-time binary-searchable pack
      BoundsPruning.keeps(Some(Long.box(lo)), Some(Long.box(hi)), "in", vs) &&
        BoundsPruning.keeps(Some(Long.box(lo)), Some(Long.box(hi)), "in",
          BoundsPruning.SortedLongKeys(all.toArray.sorted))
    }, "long IN lists")

    // and the complement: a list with NO value in bounds must skip
    val genMiss = for {
      lo <- Gen.choose(0L, 1000L)
      hi <- Gen.choose(lo, 1000L)
      vs <- Gen.nonEmptyListOf(Gen.oneOf(
        Gen.choose(-2000L, lo - 1), Gen.choose(hi + 1, 3000L)))
    } yield (lo, hi, vs)
    run(Prop.forAll(genMiss) { case (lo, hi, vs) =>
      !BoundsPruning.keeps(Some(Long.box(lo)), Some(Long.box(hi)), "in",
        vs.map(Long.box): Seq[Any]) &&
        !BoundsPruning.keeps(Some(Long.box(lo)), Some(Long.box(hi)), "in",
          BoundsPruning.SortedLongKeys(vs.toArray.sorted))
    }, "long IN misses")
  }

  test("string bounds: satisfied conjuncts and hit IN lists keep the file") {
    val genStr = Gen.listOfN(3, Gen.alphaLowerChar).map(_.mkString)
    val gen = for {
      a <- genStr; b <- genStr; x <- genStr
      op <- Gen.oneOf("=", ">", ">=", "<", "<=", "in")
      v <- genStr
    } yield (Seq(a, b, x).sorted, op, v)
    run(Prop.forAll(gen) { case (sorted, op, v) =>
      val (lo, x, hi) = (sorted(0), sorted(1), sorted(2))
      val satisfied = op match {
        case "=" => x == v
        case ">" => x > v
        case ">=" => x >= v
        case "<" => x < v
        case "<=" => x <= v
        case "in" => true // v list below contains x
      }
      val arg: Any = if (op == "in") Seq[Any](v, x) else v
      !satisfied || BoundsPruning.keeps(Some(lo), Some(hi), op, arg)
    }, "string conjuncts")
  }

  test("missing bounds or incomparable values always keep the file") {
    assert(BoundsPruning.keeps(None, None, "=", Long.box(5L)))
    assert(BoundsPruning.keeps(None, Some(Long.box(10L)), "in",
      Seq[Any](Long.box(3L))))
    // a string probe against long bounds is incomparable → keep
    assert(BoundsPruning.keeps(Some(Long.box(0L)), Some(Long.box(10L)),
      "in", Seq[Any]("x")))
    // unknown op → keep
    assert(BoundsPruning.keeps(Some(Long.box(0L)), Some(Long.box(1L)),
      "like", "x%"))
  }

  // --- footer stats rendered by every lake format -----------------------

  private val fileSchema = MessageTypeParser.parseMessageType(
    """message t {
      |  optional binary s (STRING);
      |  optional int32 i;
      |  optional int64 l;
      |  optional int32 d (DATE);
      |  optional int64 ts (TIMESTAMP(MICROS,true));
      |  optional double x;
      |  optional float f;
      |}""".stripMargin)

  /** Column name -> Spark type, the type each renderer decodes with. */
  private val types: Seq[(String, DataType)] = Seq("s" -> StringType,
    "i" -> IntegerType, "l" -> LongType, "d" -> DateType,
    "ts" -> TimestampType, "x" -> DoubleType, "f" -> FloatType)

  private def nullable[A](g: Gen[A]): Gen[Option[A]] =
    Gen.frequency(1 -> Gen.const(None), 6 -> g.map(Some(_)))

  /** ASCII, U+E000–U+FFFF, supplementary-plane and other BMP code points:
    * the planes where UTF-16 order and UTF-8 byte order disagree. */
  private val genStr: Gen[String] = {
    val cp = Gen.frequency(3 -> Gen.choose(0x20, 0x7e),
      2 -> Gen.choose(0xe000, 0xffff), 2 -> Gen.choose(0x10000, 0x10ffff),
      1 -> Gen.choose(0x80, 0xd7ff))
    def of(n: Gen[Int]) = n.flatMap(Gen.listOfN(_, cp))
      .map(cps => new String(cps.toArray, 0, cps.size))
    val sharedPrefix = "\uff61" * 40 + "\ud83d\ude00" * 23
    Gen.frequency(4 -> of(Gen.choose(0, 8)), 1 -> of(Gen.choose(60, 90)),
      1 -> of(Gen.choose(0, 8)).map(sharedPrefix + _))
  }

  private def genFp: Gen[Double] = Gen.frequency(8 -> Gen.choose(-1e6, 1e6),
    1 -> Gen.const(Double.NaN), 1 -> Gen.oneOf(0.0, -0.0))

  /** One row: the JVM value [[BoundsPruning.cmp]] sees per column. */
  private val genRow: Gen[Seq[Option[Any]]] = for {
    s <- nullable(genStr)
    i <- nullable(Gen.choose(Int.MinValue, Int.MaxValue))
    l <- nullable(Gen.choose(Long.MinValue, Long.MaxValue))
    d <- nullable(Gen.choose(-30000, 60000))
    ts <- nullable(Gen.choose(-1000000000000000L, 4000000000000000L))
    x <- nullable(genFp)
    f <- nullable(genFp.map(_.toFloat))
  } yield Seq(s, i, l, d, ts, x, f)

  /** Write `rows` as one parquet file, `perGroup` rows per row group;
    * returns the writer's in-memory footer. */
  private def writeFile(p: Path, rows: Seq[Seq[Option[Any]]], perGroup: Int,
      dictionary: Boolean) = {
    val w = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(p.toUri))
      .withType(fileSchema).withConf(Manifest.footerConf)
      .withRowGroupRowCountLimit(perGroup).withDictionaryEncoding(dictionary)
      .build()
    try rows.foreach { r =>
      val g = new SimpleGroup(fileSchema)
      types.map(_._1).zip(r).foreach {
        case (c, Some(v: String)) => g.add(c, v)
        case (c, Some(v: Int)) => g.add(c, v)
        case (c, Some(v: Long)) => g.add(c, v)
        case (c, Some(v: Double)) => g.add(c, v)
        case (c, Some(v: Float)) => g.add(c, v)
        case _ => ()
      }
      w.write(g)
    } finally w.close()
    w.getFooter
  }

  /** Each format's rendering of `s`, decoded back to (lo, hi) per column. */
  private def renderedBounds(s: FooterStats)
      : Map[String, Map[String, (Any, Any)]] = {
    val mirror = DataFile.fromStats("f", 0L, None, s)
    val delta = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(DeltaCompat.statsJson(s))
    val iceberg = IcebergCompat.boundBytes(s)
    def both[A](lo: Option[A], hi: Option[A]) = (lo, hi) match {
      case (Some(a), Some(b)) => Some((a, b))
      case (None, None) => None
      case _ => fail(s"half a bound rendered: $lo / $hi")
    }
    // jsonBound never maps fp (Delta stats carry no NaN count); decode
    // it at the column's own width, as a type-aware reader would
    def deltaBound(n: com.fasterxml.jackson.databind.JsonNode, t: DataType) =
      t match {
        case FloatType if n != null => Some(n.asDouble.toFloat)
        case DoubleType if n != null => Some(n.asDouble)
        case _ => BoundsPruning.jsonBound(n, t)
      }
    Map(
      "mirror" -> types.flatMap { case (c, _) =>
        both(mirror.rangeOf(c).map(_._1), mirror.rangeOf(c).map(_._2))
          .orElse(both(mirror.strRangeOf(c).map(_._1),
            mirror.strRangeOf(c).map(_._2))).map(c -> _)
      }.toMap,
      "delta" -> types.flatMap { case (c, t) =>
        both(deltaBound(delta.path("minValues").get(c), t),
          deltaBound(delta.path("maxValues").get(c), t)).map(c -> _)
      }.toMap,
      "iceberg" -> types.flatMap { case (c, t) =>
        iceberg.get(c).flatMap { case (lo, hi) =>
          both(IcebergCompat.decodeBound(lo, t),
            IcebergCompat.decodeBound(hi, t))
        }.map(c -> _)
      }.toMap)
  }

  test("footer bounds rendered by the mirror, Delta and Iceberg contain " +
      "every row of a multi-row-group file") {
    val dir = Files.createTempDirectory("footer-stats-prop")
    val checked = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    var files = 0
    val gen = for {
      rows <- Gen.choose(0, 200).flatMap(Gen.listOfN(_, genRow))
      perGroup <- Gen.choose(1, 48)
      dictionary <- Gen.oneOf(true, false)
    } yield (rows, perGroup, dictionary)
    try run(Prop.forAll(gen) { case (rows, perGroup, dictionary) =>
      files += 1
      val p = dir.resolve(s"f$files.parquet")
      val written = FooterStats.of(writeFile(p, rows, perGroup, dictionary))
      val stats = FooterStats.read(p)
      assert(written === stats, "in-memory and on-disk footers disagree")
      assert(stats.rows === rows.size.toLong)
      types.map(_._1).zipWithIndex.foreach { case (c, k) =>
        stats.columns.get(c).foreach(cs => assert(
          cs.nulls === Some(rows.count(_(k).isEmpty).toLong), c))
      }
      renderedBounds(stats).foreach { case (format, bounds) =>
        bounds.foreach { case (c, (lo, hi)) =>
          val k = types.indexWhere(_._1 == c)
          rows.flatMap(_(k)).foreach { v =>
            assert(BoundsPruning.cmp(lo, v).exists(_ <= 0) &&
              BoundsPruning.cmp(hi, v).exists(_ >= 0),
              s"$format $c bounds [$lo, $hi] miss $v")
          }
          checked(s"$format.$c") += 1
        }
      }
      true
    }, "rendered footer bounds", n = 150)
    finally LakeFs.deleteRec(dir)
    // each renderer really bounds the types it maps (a renderer that
    // dropped every bound would pass the containment check vacuously)
    Seq("mirror.s", "mirror.i", "mirror.l", "mirror.d", "delta.s",
      "delta.i", "delta.l", "delta.d", "delta.x", "delta.f", "iceberg.s",
      "iceberg.i", "iceberg.l", "iceberg.d", "iceberg.ts", "iceberg.x",
      "iceberg.f").foreach(k => assert(checked(k) > 0, k))
  }
}
