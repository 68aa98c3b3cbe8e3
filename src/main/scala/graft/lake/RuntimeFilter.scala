package graft.lake

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{col, lit, max, min}

/** Build-side key collection for runtime semi-join file pruning, shared
  * by the mirror ([[Mooncake.readForKeys]]) and the foreign-lake readers
  * ([[DeltaCompat.readForKeys]], [[IcebergCompat.readForKeys]]).
  *
  * The produced predicate is a SUPERSET contract: build-side [min, max]
  * always, plus the exact key set when the build side holds at most
  * `maxInSet` distinct keys. The caller's subsequent join enforces
  * exactness, so pushing it can only cut IO, never change rows. The
  * collect is bounded by construction — `limit(maxInSet + 1)` tells
  * "small enough to push the exact set" apart from "range-only" without
  * counting (or holding) the whole build side on the driver, the same
  * contract as Spark's own runtime bloom filter.
  */
object RuntimeFilter {

  /** The largest key set pushed (or excluded) as an exact IN set. */
  val MaxInSet = 10000

  /** Superset predicate over fact column `column` derived from the build
    * side, or None when the build side is empty (the caller should
    * return an empty scan without touching any file). `keys` may carry
    * the fact column's name or be any single-column frame.
    *
    * NO Spark job for a build side the optimizer folds to driver-local
    * rows (`Seq(...).toDF`), and ONE action for any other small one (≤
    * `maxInSet` distinct keys — the common case): the collected set IS the
    * predicate, complete by construction for THAT evaluation. Only an
    * over-cap build side pays a second [min, max] aggregation.
    *
    * DETERMINISM REQUIREMENT (both paths): callers re-evaluate the
    * `keys` frame afterwards — readForKeys callers join against it —
    * and a NONDETERMINISTIC frame (sample(), unordered limit, rand())
    * can produce keys on that later evaluation that the collected
    * set/bounds never saw. Since read() re-applies the predicate as a
    * row filter, matching fact rows would then be silently dropped.
    * Pass only deterministic build sides; persist() a nondeterministic
    * one first if you must. */
  def keyPredicate(keys: DataFrame, column: String,
      maxInSet: Int = MaxInSet): Option[Column] = {
    val kcol =
      if (keys.columns.contains(column)) column
      else {
        require(keys.columns.length == 1,
          s"key frame must be single-column or carry '$column' " +
            s"(has: ${keys.columns.mkString(", ")})")
        keys.columns.head
      }
    val nonNull = keys.select(col(kcol)).na.drop()
    val sample =
      if (nonNull.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
        nonNull.collect().map(_.get(0)).distinct.take(maxInSet + 1)
      else nonNull.distinct().limit(maxInSet + 1).collect().map(_.get(0))
    if (sample.isEmpty) None
    else if (sample.length <= maxInSet)
      Some(col(column).isin(sample.toIndexedSeq: _*))
    else {
      val b = nonNull.agg(min(col(kcol)).as("lo"), max(col(kcol)).as("hi")).head()
      Some(col(column) >= lit(b.get(0)) && col(column) <= lit(b.get(1)))
    }
  }
}
