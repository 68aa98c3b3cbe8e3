package graft.lake

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted definition + two-sided maintenance frontier of a JOIN
  * materialized view: the state reflects
  * `SELECT <projection> FROM left ⋈_{leftKeys = rightKeys} right
  * WHERE <where>` at exactly (`leftVersion`, `rightVersion`) of the two
  * base mirrors. `where` (optional, any Spark SQL predicate over the
  * joined columns) and `projection` (optional column subset; the two
  * sides' pk columns — the state's point-update identity — are always
  * kept) make the view a real view definition, not just the raw
  * concatenation. */
case class JoinMviewDef(left: String, right: String,
    leftKeys: Seq[String], rightKeys: Seq[String],
    leftVersion: Long, rightVersion: Long,
    where: Option[String] = None,
    projection: Seq[String] = Seq.empty)

/** One refresh's accounting: the version windows folded per side and
  * the change-proportional work done (affected join pairs, CDC ops
  * applied to the state). */
case class JoinMvRefreshStats(leftFrom: Long, leftTo: Long,
    rightFrom: Long, rightTo: Long, affectedPairs: Long, appliedOps: Long)

/** Incrementally-maintained JOIN materialized view over two Mooncake
  * mirrors — the companion of [[Mview]] (single-base GROUP BY views);
  * together they cover the classic IVM pair: `SELECT … FROM a JOIN b`
  * kept fresh without rejoining, feeding [[Mview]]-class aggregates.
  *
  * Maintenance algebra: with signed deltas ΔA, ΔB (the mirror's
  * [[Mooncake.tableChanges]] insert/delete images), the join delta is
  * bilinear — Δ(A⋈B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB. This implementation
  * uses the delta for DISCOVERY (which (pkL, pkR) pairs can change)
  * and then rebuilds exactly those pairs from the CURRENT sides —
  * sidestepping signed-multiplicity bookkeeping entirely, because a
  * discovered pair's final image is just "what the current sides join
  * to" (absent ⇒ D, present ⇒ U upsert). Both legs agree with the
  * Mview design rule: change-proportional state IO, never a full
  * rejoin.
  *
  * 100 TB shape: the deltas are batch-sized and broadcast; each
  * discovery leg is ONE column-pruned scan of the opposite side probed
  * by the broadcast delta (pair count ∝ |Δ| × join fanout); the
  * rebuild reads both sides semi-filtered to the affected keys
  * (file-skipped via the mirrors' pk bounds); the state apply is a
  * point-update CDC batch ([[Mooncake.applyChanges]] rewrites only the
  * files whose pk range is hit). Nothing scales with |A⋈B|.
  *
  * Crash safety is [[Mview.refresh]]'s exactly: the two base versions
  * the state advances TO ride the SAME manifest commit as the state
  * delta (`appWatermarks`), so a crash between apply and definition
  * write heals on the next refresh from the state itself — a replayed
  * window can never double-apply (the apply is an idempotent upsert of
  * final images, and the healed frontier skips the window anyway). */
class JoinMview(val lake: Mooncake) {

  private def defPath(name: String) =
    Paths.get(lake.warehouse, Identifier.parse(name).fileName + ".jmv.json")

  private def saveDef(name: String, d: JoinMviewDef): Unit =
    ViewDefIo.save(defPath(name), d, ".jmv")

  def definition(name: String): JoinMviewDef =
    ViewDefIo.load(defPath(name), classOf[JoinMviewDef],
      s"join view '$name'")

  private def wmKeyL(name: String): String =
    "jmview:" + Identifier.parse(name).qualified + ":left"
  private def wmKeyR(name: String): String =
    "jmview:" + Identifier.parse(name).qualified + ":right"

  private def keyEq(lk: Seq[String], rk: Seq[String]) =
    lk.zip(rk).map { case (l, r) => col(l) === col(r) }.reduce(_ && _)

  /** Apply the view definition's predicate + projection to a raw joined
    * frame. Filter BEFORE project — the predicate may reference columns
    * the projection drops; the pk pair columns are always kept (the
    * state's point-update identity). Shared by create() and the
    * refresh rebuild leg so the two can never drift. */
  private def shape(joined: DataFrame, pairKey: Seq[String],
      where: Option[String], projection: Seq[String]): DataFrame = {
    val filtered = where.fold(joined)(w => joined.filter(expr(w)))
    if (projection.isEmpty) filtered
    else filtered.select((pairKey ++ projection).distinct.map(col): _*)
  }

  /** Define + fully compute the view (the one full join it ever runs),
    * and record the base versions the state reflects. The state's pk is
    * pkL ++ pkR — the join-pair identity every later point update keys
    * on. Column names across the two sides must be disjoint (the
    * output schema is their concatenation, optionally filtered by
    * `where` and cut to `projection`). */
  def create(spark: SparkSession, name: String, left: String,
      right: String, leftKeys: Seq[String],
      rightKeys: Seq[String],
      where: Option[String] = None,
      projection: Seq[String] = Seq.empty): Manifest = {
    require(leftKeys.nonEmpty && leftKeys.length == rightKeys.length,
      "join keys must be non-empty and pair up")
    val lm = lake.currentManifest(left)
    val rm = lake.currentManifest(right)
    require(lm.pkColumns.nonEmpty && rm.pkColumns.nonEmpty,
      "join views require primary keys on both bases " +
        "(the state's point-update identity)")
    val a = lake.read(spark, left)
    val b = lake.read(spark, right)
    val overlap = a.columns.toSet.intersect(b.columns.toSet)
    require(overlap.isEmpty,
      s"column names must be disjoint across sides: ${overlap.mkString(",")}")
    val pk = lm.pkColumns ++ rm.pkColumns
    val state = shape(a.join(b, keyEq(leftKeys, rightKeys)), pk,
      where, projection)
    val m = lake.createTable(spark, name, state, pk = pk)
    saveDef(name, JoinMviewDef(left, right, leftKeys, rightKeys,
      lm.version, rm.version, where, projection))
    m
  }

  /** The view rows (the state table itself — the definition's shaped
    * output at the recorded versions). */
  def read(spark: SparkSession, name: String): DataFrame = {
    definition(name)
    lake.read(spark, name)
  }

  /** Catch the view up to both bases' current versions.
    * Change-proportional: see the class doc for the plan shape. */
  def refresh(spark: SparkSession, name: String): JoinMvRefreshStats =
    ViewDefIo.refreshLock(Identifier.parse(name).qualified).synchronized {
      refreshImpl(spark, name)
    }

  private def refreshImpl(spark: SparkSession,
      name: String): JoinMvRefreshStats = {
    val d0 = definition(name)
    // heal: the frontier committed WITH the last apply wins over a
    // stale definition (crash between apply and definition write)
    val wms = lake.currentManifest(name).appWatermarks.getOrElse(Map.empty)
    val d = (wms.get(wmKeyL(name)), wms.get(wmKeyR(name))) match {
      case (Some(wl), Some(wr))
          if wl > d0.leftVersion || wr > d0.rightVersion =>
        val healed = d0.copy(leftVersion = wl, rightVersion = wr)
        saveDef(name, healed)
        healed
      case _ => d0
    }
    val lm = lake.currentManifest(d.left)
    val rm = lake.currentManifest(d.right)
    if (lm.version == d.leftVersion && rm.version == d.rightVersion)
      return JoinMvRefreshStats(d.leftVersion, lm.version,
        d.rightVersion, rm.version, 0L, 0L)

    val lPk = lm.pkColumns
    val rPk = rm.pkColumns
    val pairKey = lPk ++ rPk

    // The broadcast hints below assume batch-sized deltas. A
    // backfill-sized window (a full base rewrite) would force the driver
    // to collect it anyway — the applyChanges hazard class — so past the
    // same configurable limit the hint drops and Spark plans a shuffled
    // join, which is the plan you'd want once the delta is table-sized.
    def maybeBroadcast(df: DataFrame, n: Long): DataFrame =
      if (n <= Mooncake.broadcastKeyLimit(spark)) broadcast(df) else df

    // Every persisted frame is tracked so a throw mid-refresh (e.g. a
    // concurrent-writer manifest-version conflict inside applyChanges)
    // releases executor cache in the finally instead of leaking it for
    // the session; the success path still releases EARLY via release().
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def pin(df: DataFrame): DataFrame = { cached += df; df.persist() }
    def release(df: DataFrame): Unit = { cached -= df; df.unpersist() }
    try {
      def delta(base: String, from: Long, to: Long): DataFrame =
        if (from == to) null
        else pin(lake.tableChanges(spark, base, from, to))
      val dA = delta(d.left, d.leftVersion, lm.version)
      val dB = delta(d.right, d.rightVersion, rm.version)
      val nDA = Option(dA).map(_.count()).getOrElse(0L)
      val nDB = Option(dB).map(_.count()).getOrElse(0L)

      // ---- discovery: which join pairs CAN have changed --------------------
      // ΔA (all images) against the opposite side's old rows ∪ ΔB insert
      // images — a superset of B's rows across the window, so no pair
      // escapes; dedup below collapses the overcount. Broadcast the
      // batch-sized delta, stream the base scan.
      def pairs(df: DataFrame): DataFrame = df.select(pairKey.map(col): _*)
      val discovered = pin(Seq(
        Option(dA).map { da =>
          val bSide = lake.readVersion(spark, d.right, d.rightVersion)
            .unionByName(Option(dB).map(_.filter(col("_change") === "insert")
              .drop("_change")).getOrElse(
                lake.readVersion(spark, d.right, d.rightVersion).limit(0)),
              allowMissingColumns = true)
          pairs(bSide.join(maybeBroadcast(da.drop("_change"), nDA),
            keyEq(d.leftKeys, d.rightKeys)))
        },
        Option(dB).map { db =>
          val aSide = lake.readVersion(spark, d.left, d.leftVersion)
            .unionByName(Option(dA).map(_.filter(col("_change") === "insert")
              .drop("_change")).getOrElse(
                lake.readVersion(spark, d.left, d.leftVersion).limit(0)),
              allowMissingColumns = true)
          pairs(aSide.join(maybeBroadcast(db.drop("_change"), nDB),
            keyEq(d.leftKeys, d.rightKeys)))
        }).flatten.reduce(_ unionByName _).distinct())
      val nPairs = discovered.count()
      Option(dA).foreach(release)
      Option(dB).foreach(release)

      if (nPairs == 0) {
        // the window moved but no join pair did (e.g. changes on rows
        // with no partner): advance the frontier only. The state commit
        // still must carry the watermark atomically — an empty CDC batch
        // has no commit, so write the definition directly (safe: there is
        // nothing to double-apply).
        saveDef(name, d.copy(leftVersion = lm.version,
          rightVersion = rm.version))
        release(discovered)
        return JoinMvRefreshStats(d.leftVersion, lm.version,
          d.rightVersion, rm.version, 0L, 0L)
      }

      // ---- rebuild exactly the discovered pairs from the CURRENT sides ----
      val lKeys = discovered.select(lPk.map(c => col(c).as(s"__l_$c")): _*)
        .distinct()
      val rKeys = discovered.select(rPk.map(c => col(c).as(s"__r_$c")): _*)
        .distinct()
      val aNew = lake.read(spark, d.left).join(maybeBroadcast(lKeys, nPairs),
        lPk.map(c => col(c) <=> col(s"__l_$c")).reduce(_ && _), "left_semi")
      val bNew = lake.read(spark, d.right).join(maybeBroadcast(rKeys, nPairs),
        rPk.map(c => col(c) <=> col(s"__r_$c")).reduce(_ && _), "left_semi")
      // A discovered pair whose CURRENT image fails the predicate is
      // simply absent from `rebuilt` — so a predicate-crossing update
      // (row leaves the view without leaving the join) lands as a
      // delete through the ordinary stale diff below. Null-safe field
      // access: definitions written before where/projection existed
      // deserialize those fields as null.
      val viewWhere = Option(d.where).flatten
      val viewProj = Option(d.projection).getOrElse(Seq.empty)
      val rebuilt = pin(shape(
        aNew.join(bNew, keyEq(d.leftKeys, d.rightKeys))
          .join(maybeBroadcast(discovered, nPairs), pairKey, "left_semi"),
        pairKey, viewWhere, viewProj))

      // ---- diff against state, apply as point CDC -------------------------
      val state = lake.read(spark, name)
      val stale = state.join(maybeBroadcast(discovered, nPairs), pairKey, "left_semi")
        .join(rebuilt.select(pairKey.map(col): _*), pairKey, "left_anti")
      val ops = pin(rebuilt.withColumn("__op", lit("U"))
        .unionByName(stale.withColumn("__op", lit("D")),
          allowMissingColumns = true))
      val mvM = lake.currentManifest(name)
      val applied = ops.count()
      if (applied > 0)
        lake.applyChanges(spark, name, ops, version = mvM.commitVersion + 1,
          watermarks = Map(wmKeyL(name) -> lm.version,
            wmKeyR(name) -> rm.version))
      saveDef(name, d.copy(leftVersion = lm.version, rightVersion = rm.version))
      release(discovered)
      release(rebuilt)
      release(ops)
      JoinMvRefreshStats(d.leftVersion, lm.version,
        d.rightVersion, rm.version, nPairs, applied)
    } finally {
      cached.foreach(_.unpersist())
    }
  }
}
