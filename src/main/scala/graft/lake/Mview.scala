package graft.lake

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One aggregate of a materialized view definition.
  *
  * `fn` ∈ count | sum | avg | min | max; `col` is ignored for count
  * (row count); `as` names the output column [[Mview.read]] exposes.
  */
case class MvAgg(fn: String, col: String, as: String)

/** LEGACY (pre-watermark) write-ahead intent of one in-flight refresh.
  * No longer written: the refresh's landed-ness now rides the MV state
  * manifest's own `appWatermarks` entry, committed atomically WITH the
  * apply (the version-arithmetic heal this record fed could be fooled
  * by one out-of-band `optimizeTable` on the state mirror, whose commit
  * also advances commitVersion — promoting the frontier for a delta
  * that never landed). Kept only so definitions written by an older
  * crashed refresh still deserialize; [[Mview.refresh]] gives such a
  * survivor the old arithmetic heal exactly once. */
case class MvPending(baseVersion: Long, mvVersion: Long)

/** Persisted MV definition + maintenance frontier: `baseVersion` is the
  * base-mirror manifest version the state currently reflects; `where` is
  * an optional SQL row predicate over the base's columns (the view's
  * WHERE clause), applied identically to the backfill, the change delta,
  * and the dirty-group re-aggregation — the maintenance algebra is
  * unchanged because filtering commutes with the signed-delta fold. */
case class MviewDef(base: String, groupCols: Seq[String], aggs: Seq[MvAgg],
    baseVersion: Long, where: Option[String] = None,
    pending: Option[MvPending] = None)

/** What one [[Mview.refresh]] did — lets callers (and the spec) assert
  * the cost model: `recomputedGroups` is the number of groups whose
  * min/max had to be re-derived from the base table; everything else was
  * maintained purely from the change delta. */
case class MvRefreshStats(fromVersion: Long, toVersion: Long,
    affectedGroups: Long, recomputedGroups: Long)

/** Incrementally-maintained materialized views over mooncake mirrors —
  * the layer a reference user builds with a follow-up `CREATE MATERIALIZED
  * VIEW` on the columnstore mirror and re-runs by hand; here maintenance
  * is algebraic and incremental, driven by the mirror's own version diff
  * ([[Mooncake.tableChanges]]), so a refresh costs O(change batch), not
  * O(table).
  *
  * Maintenance algebra (the classic IVM split):
  *   - count/sum/avg are ADDITIVE: the signed per-group delta (inserts
  *     minus deletes, nulls skipped) folds into the stored state with no
  *     base access at all;
  *   - min/max are additive on INSERT (fold with least/greatest) but not
  *     on delete: a group is "dirty" only when a deleted value ties the
  *     stored extremum, and ONLY those groups re-aggregate from the base
  *     (a column-pruned scan filtered by a broadcast semi-join on the
  *     dirty keys). A refresh with no extremum deletions never touches
  *     the base table.
  *
  * State is itself a mooncake mirror keyed by the group columns, so MV
  * updates ride the standard CDC apply: only files holding an affected
  * group key rewrite, and the MV is time-travelable like any mirror.
  *
  * Scale: the change delta and per-group fold are batch-sized; the state
  * join streams the MV once per refresh against the broadcast delta. At
  * 100 TB the MV (group cardinality) is orders of magnitude smaller than
  * the base, and the only base access is the dirty-group re-aggregation,
  * proportional to extremum churn, not table size.
  *
  * Spark work: one pinned fold of every affected group (existing and
  * first-seen alike), ONE aggregate over it for the affected and dirty
  * counts, and the state apply, which runs in Spark (its ops are not
  * driver-local). A 1,000-row batch over 200 groups refreshes in 15 jobs.
  */
/** Shared JSON definition store for the view kinds ([[Mview]],
  * [[JoinMview]]): one Jackson mapper and one temp-file + ATOMIC_MOVE
  * write path (the CdcStream.atomicWrite pattern) — a plain write
  * killed mid-flight tears the JSON and parks every later
  * `definition()` on a parse error PERMANENTLY, undoing the watermark
  * heal's crash-safety with its own bookkeeping. */
private[lake] object ViewDefIo {
  val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  def save(p: java.nio.file.Path, value: AnyRef, tmpPrefix: String): Unit = {
    Files.createDirectories(p.getParent)
    val tmp = Files.createTempFile(p.getParent, tmpPrefix, ".tmp")
    Files.write(tmp,
      mapper.writeValueAsString(value).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  def load[T](p: java.nio.file.Path, clazz: Class[T], what: String): T = {
    if (!Files.exists(p))
      throw new NoSuchElementException(s"$what not found")
    mapper.readValue(
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8), clazz)
  }

  /** Per-view refresh serialization WITHIN this JVM: two streams each
    * naming the same view (the CdcStream `maintain`/`maintainJoins`
    * pattern) would otherwise race — both compute
    * `version = commitVersion + 1`, the loser's applyChanges throws and
    * kills its streaming query. Local mode / a single Spark driver (the
    * deployment every attached stream shares) is fully covered by a
    * JVM lock; a SECOND driver refreshing the same view still gets the
    * loud manifest-version conflict, which is the correct cross-process
    * behavior (external coordination required, same as any two
    * concurrent lake writers). */
  private val refreshLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  def refreshLock(qualified: String): Object =
    refreshLocks.computeIfAbsent(qualified, _ => new Object)
}

class Mview(val lake: Mooncake) {

  private def defPath(name: String) =
    Paths.get(lake.warehouse, Identifier.parse(name).fileName + ".mv.json")

  private def saveDef(name: String, d: MviewDef): Unit =
    ViewDefIo.save(defPath(name), d, ".mv")

  def definition(name: String): MviewDef =
    ViewDefIo.load(defPath(name), classOf[MviewDef],
      s"materialized view '$name'")

  // -- state schema ---------------------------------------------------------

  /** Sum state is pinned to a type that cannot overflow under folding:
    * decimals widen to precision 38 (same scale), floats to double,
    * integrals to long. */
  private def sumStateType(dt: DataType): DataType = dt match {
    case d: DecimalType => DecimalType(38, d.scale)
    case FloatType | DoubleType => DoubleType
    case _ => LongType
  }

  private def sumCols(aggs: Seq[MvAgg]): Seq[String] =
    aggs.filter(a => a.fn == "sum" || a.fn == "avg").map(_.col).distinct
  private def minCols(aggs: Seq[MvAgg]): Seq[String] =
    aggs.filter(_.fn == "min").map(_.col).distinct
  private def maxCols(aggs: Seq[MvAgg]): Seq[String] =
    aggs.filter(_.fn == "max").map(_.col).distinct

  /** Full-state aggregation over base rows — used by create() and by the
    * dirty-group re-aggregation (both must agree exactly). */
  private def stateAgg(rows: DataFrame, groupCols: Seq[String],
      aggs: Seq[MvAgg]): DataFrame = {
    val exprs =
      Seq(count(lit(1)).as("__cnt")) ++
      sumCols(aggs).flatMap { c =>
        val t = sumStateType(rows.schema(c).dataType)
        Seq(
          coalesce(sum(col(c).cast(t)), lit(0).cast(t)).cast(t)
            .as(s"__sum_$c"),
          count(col(c)).as(s"__nn_$c"))
      } ++
      minCols(aggs).map(c => min(col(c)).as(s"__min_$c")) ++
      maxCols(aggs).map(c => max(col(c)).as(s"__max_$c"))
    rows.groupBy(groupCols.map(col): _*).agg(exprs.head, exprs.tail: _*)
  }

  // -- API ------------------------------------------------------------------

  /** Rows of `df` the view sees: the optional WHERE predicate applied
    * (NULL predicate rows drop, exactly like SQL WHERE). Used by the
    * backfill, the delta fold, and the dirty re-aggregation — all three
    * MUST agree or the incremental state drifts from the definition. */
  private def viewRows(df: DataFrame, where: Option[String]): DataFrame =
    where.fold(df)(w => df.filter(expr(w)))

  /** Define + fully compute the view (one shuffle on the group key), and
    * record the base version the state reflects. `where` is an optional
    * SQL row predicate — the view's WHERE clause. */
  def create(spark: SparkSession, name: String, base: String,
      groupCols: Seq[String], aggs: Seq[MvAgg],
      where: Option[String] = None): Manifest = {
    require(groupCols.nonEmpty, "materialized views require group columns")
    val bad = aggs.map(_.fn).filterNot(
      Set("count", "sum", "avg", "min", "max"))
    require(bad.isEmpty, s"unsupported aggregate fn(s): ${bad.mkString(",")}")
    val baseM = lake.currentManifest(base)
    val state = stateAgg(viewRows(lake.read(spark, base), where),
      groupCols, aggs)
    val m = lake.createTable(spark, name, state, pk = groupCols)
    saveDef(name, MviewDef(base, groupCols, aggs, baseM.version, where))
    m
  }

  /** User-facing read: the state table with aggregate columns named as
    * defined (avg derived as sum/non-null-count; empty-input sums and
    * extrema surface as SQL NULL). */
  def read(spark: SparkSession, name: String,
      atLeastVersion: Option[Long] = None): DataFrame = {
    val d = definition(name)
    val st = lake.read(spark, name, atLeastVersion)
    val outs = d.groupCols.map(col) ++ d.aggs.map { a =>
      (a.fn match {
        case "count" => col("__cnt")
        case "sum" => when(col(s"__nn_${a.col}") === 0, lit(null))
          .otherwise(col(s"__sum_${a.col}"))
          .cast(st.schema(s"__sum_${a.col}").dataType)
        case "avg" => when(col(s"__nn_${a.col}") === 0, lit(null))
          .otherwise(col(s"__sum_${a.col}").cast(DoubleType) /
            col(s"__nn_${a.col}"))
        case "min" => col(s"__min_${a.col}")
        case "max" => col(s"__max_${a.col}")
      }).as(a.as)
    }
    st.select(outs: _*)
  }

  /** The MV's appId in its state manifest's `appWatermarks`. */
  private def wmKey(name: String): String =
    "mview:" + Identifier.parse(name).qualified

  /** Catch the view up to the base mirror's current version. No-op (and
    * no new MV version) when the base hasn't moved.
    *
    * Crash-safe against the apply/frontier gap: the base version a
    * refresh advances the state TO is committed as an application
    * watermark IN THE SAME manifest write as the state apply
    * ([[Manifest.appWatermarks]] — the Delta SetTransaction shape). A
    * crash after the apply but before the definition write leaves the
    * definition's cached `baseVersion` stale, and without the in-commit
    * watermark the next refresh would fold the same delta into state
    * that already contains it — a silent double-count (the dual of the
    * CDC replay-vs-out-of-band gate, for derived state). The heal reads
    * the watermark from the state manifest itself, so it can NEVER
    * confuse a foreign commit (an `optimizeTable` on the state mirror,
    * which also advances commitVersion) with the apply — the failure
    * mode a version-arithmetic heal has. */
  def refresh(spark: SparkSession, name: String): MvRefreshStats =
    ViewDefIo.refreshLock(Identifier.parse(name).qualified).synchronized {
      refreshImpl(spark, name)
    }

  private def refreshImpl(spark: SparkSession, name: String): MvRefreshStats = {
    val d0 = definition(name)
    val stateWm = lake.currentManifest(name).appWatermarks
      .flatMap(_.get(wmKey(name)))
    val d = stateWm match {
      case Some(wm) if wm > d0.baseVersion =>
        // crash window survivor: the apply landed (its own commit says
        // so) but the definition write didn't — promote and continue
        val healed = d0.copy(baseVersion = wm, pending = None)
        saveDef(name, healed)
        healed
      case _ if d0.pending.isDefined =>
        // legacy intent from a pre-watermark refresh (never written
        // anymore): give it the old arithmetic heal exactly once
        val p = d0.pending.get
        val landed = lake.currentManifest(name).commitVersion >= p.mvVersion
        val healed =
          if (landed) d0.copy(baseVersion = p.baseVersion, pending = None)
          else d0.copy(pending = None)
        saveDef(name, healed)
        healed
      case _ => d0
    }
    val baseM = lake.currentManifest(d.base)
    if (baseM.version == d.baseVersion)
      return MvRefreshStats(d.baseVersion, d.baseVersion, 0L, 0L)
    val mvM = lake.currentManifest(name)
    val stateSchema = StructType.fromDDL(mvM.schemaDdl)
    val groupCols = d.groupCols
    val sums = sumCols(d.aggs)
    val mins = minCols(d.aggs)
    val maxs = maxCols(d.aggs)
    def sumT(c: String): DataType = stateSchema(s"__sum_$c").dataType

    // The WHERE filter applies to each change image independently, so a
    // row UPDATE crossing the predicate boundary degrades correctly: its
    // delete image and insert image are filtered on their own values.
    val delta = viewRows(
      lake.tableChanges(spark, d.base, d.baseVersion, baseM.version), d.where)
    val ins = col("_change") === "insert"
    val del = col("_change") === "delete"

    // Per-group signed fold of the change batch — batch-sized.
    val deltaExprs =
      Seq((count(when(ins, 1)) - count(when(del, 1))).as("__d_cnt")) ++
      sums.flatMap { c =>
        val t = sumT(c)
        Seq(
          (coalesce(sum(when(ins, col(c)).cast(t)), lit(0).cast(t)) -
            coalesce(sum(when(del, col(c)).cast(t)), lit(0).cast(t)))
            .cast(t).as(s"__d_sum_$c"),
          (count(when(ins && col(c).isNotNull, 1)) -
            count(when(del && col(c).isNotNull, 1))).as(s"__d_nn_$c"))
      } ++
      mins.flatMap(c => Seq(min(when(ins, col(c))).as(s"__imin_$c"),
        min(when(del, col(c))).as(s"__dmin_$c"))) ++
      maxs.flatMap(c => Seq(max(when(ins, col(c))).as(s"__imax_$c"),
        max(when(del, col(c))).as(s"__dmax_$c")))
    // Affected-group keys renamed __k_* so the state join is unambiguous.
    val perGroup = groupCols.foldLeft(
      delta.groupBy(groupCols.map(col): _*)
        .agg(deltaExprs.head, deltaExprs.tail: _*))(
      (df, c) => df.withColumnRenamed(c, s"__k_$c"))
    val keyEq = groupCols.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _)

    // ONE pass folds every affected group. The MV scan streams against the
    // broadcast group keys of the change rows (a large state is never
    // shuffled) and keeps the affected groups' state, at most one row per
    // delta group, so it is broadcast in turn to the delta's outer join.
    // The key side reuses the diff's shuffle, so the group delta is
    // aggregated once with nothing pinned (a semi-join on `perGroup` would
    // prune it into a second aggregate). Unaffected state rows are never
    // rewritten, and a group with no prior state (first rows ever seen for
    // the key) meets nulls — its state is its delta. A deleted value tying
    // the stored extremum may have been its last carrier: those groups are
    // dirty and re-aggregate; inserts fold in place.
    val hit = lake.read(spark, name).join(broadcast(delta.select(groupCols.map(c =>
      col(c).as(s"__k_$c")): _*)), keyEq, "left_semi")
    var fold = perGroup.join(broadcast(hit), keyEq, "left_outer")
      .withColumn("__cnt2", coalesce(col("__cnt"), lit(0L)) + col("__d_cnt"))
    for (c <- sums) fold = fold
      .withColumn(s"__sum2_$c", (coalesce(col(s"__sum_$c"), lit(0).cast(sumT(c))) +
        col(s"__d_sum_$c")).cast(sumT(c)))
      .withColumn(s"__nn2_$c", coalesce(col(s"__nn_$c"), lit(0L)) + col(s"__d_nn_$c"))
    for (c <- mins) fold = fold
      .withColumn(s"__dirty_min_$c", col(s"__dmin_$c").isNotNull &&
        col(s"__min_$c").isNotNull && col(s"__dmin_$c") <= col(s"__min_$c"))
      .withColumn(s"__min2_$c", least(col(s"__min_$c"), col(s"__imin_$c")))
    for (c <- maxs) fold = fold
      .withColumn(s"__dirty_max_$c", col(s"__dmax_$c").isNotNull &&
        col(s"__max_$c").isNotNull && col(s"__dmax_$c") >= col(s"__max_$c"))
      .withColumn(s"__max2_$c", greatest(col(s"__max_$c"), col(s"__imax_$c")))
    val dirty = col("__cnt2") > 0 && (mins.map(c => col(s"__dirty_min_$c")) ++
      maxs.map(c => col(s"__dirty_max_$c"))).reduceOption(_ || _).getOrElse(lit(false))
    // Pinned: the stats aggregate, the ops and the dirty keys all read it.
    val folded = fold.withColumn("__dirty", dirty).persist()

    def stateColsOf(prefix2: Boolean): Seq[Column] = {
      def pick(base: String, two: String) =
        if (prefix2) col(two) else col(base)
      Seq(pick("__cnt", "__cnt2").cast(LongType).as("__cnt")) ++
        sums.flatMap(c => Seq(
          pick(s"__sum_$c", s"__sum2_$c").cast(sumT(c)).as(s"__sum_$c"),
          pick(s"__nn_$c", s"__nn2_$c").cast(LongType).as(s"__nn_$c"))) ++
        mins.map(c => pick(s"__min_$c", s"__min2_$c")
          .cast(stateSchema(s"__min_$c").dataType).as(s"__min_$c")) ++
        maxs.map(c => pick(s"__max_$c", s"__max2_$c")
          .cast(stateSchema(s"__max_$c").dataType).as(s"__max_$c"))
    }
    val keyOut = groupCols.map(col)

    try {
      val stats = folded.agg(count(lit(1)), count(when(col("__dirty"), 1))).head()
      val (affected, nDirty) = (stats.getLong(0), stats.getLong(1))
      // Vanished groups (all rows deleted) → D; the others that kept clean
      // extrema → U in place.
      val maintained = folded.filter(!col("__dirty"))
        .select(groupCols.map(c => col(s"__k_$c").as(c)) ++ stateColsOf(prefix2 = true) :+
          when(col("__cnt2") <= 0, "D").otherwise("U").as("__op"): _*)
      // Dirty groups re-aggregate from the base's CURRENT version — the
      // only base access in a refresh, filtered by a broadcast semi-join
      // on the dirty keys (column-pruned scan, batch-proportional work).
      val recomputed = Option.when(nDirty > 0) {
        val dirtyKeys = folded.filter(col("__dirty"))
          .select(groupCols.map(c => col(s"__k_$c")): _*)
        stateAgg(viewRows(lake.read(spark, d.base), d.where)
          .join(broadcast(dirtyKeys), keyEq, "left_semi"), groupCols, d.aggs)
          .select(keyOut ++ stateColsOf(prefix2 = false): _*)
          .withColumn("__op", lit("U"))
      }
      if (affected > 0)
        // the frontier rides the SAME commit as the state delta — the
        // apply and its watermark are atomic, so the heal above can
        // always decide landed-ness from the state itself
        lake.applyChanges(spark, name,
          recomputed.fold(maintained)(maintained.unionByName(_)),
          version = mvM.commitVersion + 1,
          watermarks = Map(wmKey(name) -> baseM.version))
      saveDef(name, d.copy(baseVersion = baseM.version, pending = None))
      MvRefreshStats(d.baseVersion, baseM.version, affected, nDirty)
    } finally folded.unpersist()
  }
}
