package graft.lake

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

import graft.SparkSuite

/** Property test (SURVEY.md §5 / FIXTURES.md §3): for ANY sequence of
  * I/U/D batches, the mirror equals a row-store replay of the same ops —
  * the generalization of what sanity.sql checks once. */
class CdcPropertySpec extends SparkSuite {
  import spark.implicits._

  sealed trait Op { def pk: Int }
  case class Ins(pk: Int, v: String) extends Op
  case class Upd(pk: Int, v: String) extends Op
  case class Del(pk: Int) extends Op

  private val genOp: Gen[Op] = for {
    pk <- Gen.choose(0, 15)
    v <- Gen.alphaStr.map(_.take(4))
    op <- Gen.oneOf(Ins(pk, v), Upd(pk, v), Del(pk))
  } yield op

  private val genBatches: Gen[List[List[Op]]] =
    Gen.chooseNum(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1, 6).flatMap(k => Gen.listOfN(k, genOp))))

  private def replay(batches: List[List[Op]]): Map[Int, String] =
    batches.flatten.foldLeft(Map.empty[Int, String]) {
      case (st, Ins(k, v)) => st + (k -> v)
      case (st, Upd(k, v)) => st + (k -> v) // upsert, as CDC apply does
      case (st, Del(k)) => st - k
    }

  test("mirror == row-store replay for random op sequences") {
    var i = 0
    val prop = Prop.forAll(genBatches) { batches =>
      i += 1
      val lake = new Mooncake(tmpDir(s"cdc-prop"))
      val name = s"p$i"
      lake.createTable(spark, name,
        Seq((0, "init")).toDF("a", "b"), Seq("a"))
      var version = 1L
      batches.foreach { ops =>
        version += 1
        val rows = ops.zipWithIndex.map {
          case (Ins(k, v), seq) => (k, v, "I", seq.toLong)
          case (Upd(k, v), seq) => (k, v, "U", seq.toLong)
          case (Del(k), seq) => (k, null: String, "D", seq.toLong)
        }
        lake.applyChanges(spark, name,
          rows.toDF("a", "b", "__op", "__seq"), version)
      }
      val got = lake.read(spark, name, atLeastVersion = Some(version))
        .as[(Int, String)].collect().toMap
      val want = replay(List(List(Ins(0, "init"))) ++ batches)
      got == want
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(15), prop)
    assert(result.passed, result.status.toString)
  }

  test("addColumn mid-stream: mirror == row-store replay under the widened schema") {
    var i = 0
    // Same replay property, but batches AFTER the first carry an added
    // column c. Expected state: rows last touched before the evolution
    // read back with c = null; rows touched after carry their c value.
    val prop = Prop.forAll(genBatches) { batches =>
      i += 1
      val lake = new Mooncake(tmpDir("cdc-evo-prop"))
      val name = s"e$i"
      lake.createTable(spark, name,
        Seq((0, "init")).toDF("a", "b"), Seq("a"))
      var version = 1L
      var widened = false
      batches.zipWithIndex.foreach { case (ops, bi) =>
        version += 1
        val evolve = bi > 0 || batches.size == 1
        if (evolve) widened = true
        val df =
          if (!evolve) ops.zipWithIndex.map {
            case (Ins(k, v), seq) => (k, v, "I", seq.toLong)
            case (Upd(k, v), seq) => (k, v, "U", seq.toLong)
            case (Del(k), seq) => (k, null: String, "D", seq.toLong)
          }.toDF("a", "b", "__op", "__seq")
          else ops.zipWithIndex.map {
            case (Ins(k, v), seq) => (k, v, s"c$k", "I", seq.toLong)
            case (Upd(k, v), seq) => (k, v, s"c$k", "U", seq.toLong)
            case (Del(k), seq) => (k, null: String, null: String, "D", seq.toLong)
          }.toDF("a", "b", "c", "__op", "__seq")
        lake.applyChanges(spark, name, df, version)
      }
      val m = lake.currentManifest(name)
      val hasC = org.apache.spark.sql.types.StructType
        .fromDDL(m.schemaDdl).fieldNames.contains("c")
      if (widened != hasC) false
      else if (!widened) true
      else {
        val got = lake.read(spark, name, atLeastVersion = Some(version))
          .as[(Int, String, Option[String])].collect()
          .map(r => r._1 -> ((r._2, r._3))).toMap
        // row-store replay with per-key evolution tracking
        val want = batches.zipWithIndex.foldLeft(
          Map(0 -> (("init", None: Option[String])))) {
          case (st, (ops, bi)) =>
            val evolve = bi > 0 || batches.size == 1
            ops.foldLeft(st) {
              case (s, Ins(k, v)) =>
                s + (k -> ((v, if (evolve) Some(s"c$k") else None)))
              case (s, Upd(k, v)) =>
                s + (k -> ((v, if (evolve) Some(s"c$k") else None)))
              case (s, Del(k)) => s - k
            }
        }
        got == want
      }
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(result.passed, result.status.toString)
  }

  test("column drops are refused, not silently lost") {
    val lake = new Mooncake(tmpDir("cdc-evo-drop"))
    lake.createTable(spark, "t",
      Seq((0, "init")).toDF("a", "b"), Seq("a"))
    intercept[UnsupportedOperationException] {
      lake.applyChanges(spark, "t",
        Seq((1, "I", 0L)).toDF("a", "__op", "__seq"), 2L)
    }
  }

  test("tableChanges spans a schema evolution with typed null lift") {
    val lake = new Mooncake(tmpDir("cdc-evo-diff"))
    lake.createTable(spark, "t",
      Seq((1, "x"), (2, "y")).toDF("a", "b"), Seq("a"))
    lake.applyChanges(spark, "t",
      Seq((2, "y2", "c2", "U", 0L)).toDF("a", "b", "c", "__op", "__seq"), 2L)
    val diff = lake.tableChanges(spark, "t", 1, 2)
      .as[(Int, String, Option[String], String)].collect().toSet
    assert(diff === Set((2, "y", None, "delete"), (2, "y2", Some("c2"), "insert")))
  }

  test("tableChanges(v, v+1) is exactly the delta between version states") {
    var i = 0
    val prop = Prop.forAll(genBatches) { batches =>
      i += 1
      val lake = new Mooncake(tmpDir("cdc-diff-prop"))
      val name = s"d$i"
      lake.createTable(spark, name,
        Seq((0, "init")).toDF("a", "b"), Seq("a"))
      var version = 1L
      batches.foreach { ops =>
        version += 1
        val rows = ops.zipWithIndex.map {
          case (Ins(k, v), seq) => (k, v, "I", seq.toLong)
          case (Upd(k, v), seq) => (k, v, "U", seq.toLong)
          case (Del(k), seq) => (k, null: String, "D", seq.toLong)
        }
        lake.applyChanges(spark, name,
          rows.toDF("a", "b", "__op", "__seq"), version)
      }
      (1L until version).forall { v =>
        val before = lake.readVersion(spark, name, v)
          .as[(Int, String)].collect().toSet
        val after = lake.readVersion(spark, name, v + 1)
          .as[(Int, String)].collect().toSet
        val diff = lake.tableChanges(spark, name, v, v + 1)
          .as[(Int, String, String)].collect()
        val ins = diff.filter(_._3 == "insert").map(r => (r._1, r._2)).toSet
        val del = diff.filter(_._3 == "delete").map(r => (r._1, r._2)).toSet
        // pk is unique per state, so set algebra is exact here:
        // applying the diff to the old state must give the new state,
        // and the diff must not fabricate rows absent from either side
        (before -- del ++ ins) == after &&
          del.subsetOf(before) && ins.subsetOf(after)
      }
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(result.passed, result.status.toString)
  }

  import CdcPropertySpec.Change

  private val genChange: Gen[Change] = for {
    k1 <- Gen.frequency(9 -> Gen.choose(0, 3).map(Some(_)), 1 -> Gen.const(None))
    k2 <- Gen.frequency(9 -> Gen.oneOf("a", "b").map(Some(_)), 1 -> Gen.const(None))
    v <- Gen.alphaStr.map(_.take(3))
    op <- Gen.oneOf("I", "U", "D")
    seq <- Gen.frequency(4 -> Gen.choose(0L, 1L).map(Some(_)), 1 -> Gen.const(None))
  } yield Change(k1, k2, v, op, seq)

  /** The pk columns and the key columns' expressions of one pk shape. */
  private val shapes: Map[String, (Seq[String], Seq[Column])] = Map(
    "int" -> (Seq("k"), Seq(col("k1").as("k"))),
    "string" -> (Seq("k"), Seq(concat(lit("s"), col("k1")).as("k"))),
    "date" -> (Seq("k"), Seq(date_add(lit("2024-02-28").cast("date"), col("k1")).as("k"))),
    "decimal" -> (Seq("k"), Seq((col("k1").cast("decimal(10,2)") / 4).cast("decimal(10,2)").as("k"))),
    "timestamp" -> (Seq("k"), Seq(timestamp_seconds(col("k1") * 3600 + 1700000000L).as("k"))),
    "int+string" -> (Seq("k1", "k2"), Seq(col("k1"), col("k2"))))

  test("a local batch and the same rows in Spark apply to identical versions") {
    // one table per pk shape on each side, shared by the cases, so each
    // table takes a batch with __seq and one without; case i takes shape
    // i % 6, with __seq in cases 0-5 of every 12
    val shapeOf = shapes.keys.toSeq.sorted
    val lakes = Seq("local", "spark").map(side => new Mooncake(tmpDir(s"cdc-paths-$side")))
    for ((shape, t) <- shapeOf.zipWithIndex; lake <- lakes)
      lake.createTable(spark, s"t$t", (0 to 3).map(k => (k, "a", "init")).toDF("k1", "k2", "v")
        .select(shapes(shape)._2 :+ col("v"): _*), shapes(shape)._1)
    var i = 0
    val prop = Prop.forAll(Gen.chooseNum(1, 10).flatMap(n => Gen.listOfN(n, genChange))) { cs =>
      val (t, withSeq) = (i % shapeOf.size, i % (2 * shapeOf.size) < shapeOf.size)
      i += 1
      val (pk, keyCols) = shapes(shapeOf(t))
      val v = lakes(0).currentManifest(s"t$t").version + 1
      val local = cs.toDF().select(keyCols ++ Seq(col("v"), col("op").as("__op"),
        col("seq").as("__seq")): _*)
      val batch = if (withSeq) local else local.drop("__seq")
      // arrival order decides without __seq: one partition keeps it
      val inSpark = if (withSeq) batch.repartition(3) else batch.coalesce(1)
      lakes(0).applyChanges(spark, s"t$t", batch, v)
      lakes(1).applyChanges(spark, s"t$t", inSpark, v)
      val rows = lakes.map(_.readVersion(spark, s"t$t", v).select(to_json(struct("*"))))
        .zipWithIndex.map { case (df, side) => df.withColumn("side", lit(side)) }
        .reduce(_ union _).as[(String, Int)].collect()
      val Seq(a, b) = (0 to 1).map(side => rows.filter(_._2 == side).map(_._1).sorted.toSeq)
      (a == b) :| s"${shapeOf(t)}, __seq $withSeq: local $a, in Spark $b"
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(result.passed, result.status.toString)
  }

  test("changesBetween equals the two exceptAlls on random frames") {
    // duplicate rows, nulls, NaN and both zeros; `after` gains a column
    // that `before` lacks, which the diff lifts to typed nulls
    val genRow = for {
      a <- Gen.frequency(4 -> Gen.choose(0, 2).map(Some(_)), 1 -> Gen.const(None))
      d <- Gen.oneOf(Some(0.0), Some(-0.0), Some(Double.NaN), Some(1.5), None)
      c <- Gen.oneOf(Some("x"), None)
    } yield (a, d, c)
    val prop = Prop.forAll(Gen.listOf(genRow), Gen.listOf(genRow)) { (bs, as) =>
      val before = bs.map(r => (r._1, r._2)).toDF("a", "d")
      val after = as.toDF("a", "d", "c")
      val lifted = before.withColumn("c", lit(null).cast("string"))
      val want = after.exceptAll(lifted).withColumn("_change", lit("insert"))
        .unionByName(lifted.exceptAll(after).withColumn("_change", lit("delete")))
      val got = Mooncake.changesBetween(before, after)
      got.columns.toSeq == want.columns.toSeq &&
        got.collect().map(_.toString).sorted.sameElements(
          want.collect().map(_.toString).sorted)
    }
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(result.passed, result.status.toString)
  }
}

object CdcPropertySpec {
  /** A change of the local-vs-Spark property: key parts (nullable, from a
    * domain of 4 so batches repeat keys and re-insert deleted ones), a
    * value, the op, and a `__seq` drawn from 0..1 or null so ties and
    * null orders occur. */
  case class Change(k1: Option[Int], k2: Option[String], v: String, op: String,
      seq: Option[Long])
}
