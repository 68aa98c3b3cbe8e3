package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 removed the public Column(Expression) constructor; the
  * supported bridge (ExpressionUtils) is private[sql], so this one-file
  * shim lives in the org.apache.spark.sql package tree — the standard
  * pattern for libraries that define custom Catalyst expressions. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def frame(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame = org.apache.spark.sql.classic.Dataset.ofRows(
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The same frame bound to a CLONED session whose SQLConf holds the
    * given overrides — a library write path can require a conf value
    * without mutating (or racing restores of) the caller's session.
    * cloneSession/Dataset.ofRows are private[sql], hence bridged here. */
  def withSessionConf(df: org.apache.spark.sql.DataFrame,
      confs: (String, String)*): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.classic
    val cloned = df.sparkSession.asInstanceOf[classic.SparkSession]
      .cloneSession()
    confs.foreach { case (k, v) => cloned.conf.set(k, v) }
    classic.Dataset.ofRows(cloned,
      df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
        .queryExecution.logical)
  }

  /** `AbstractDataType` (the `inputTypes` element type of
    * `ExpectsInputTypes`) is `private[sql]`; this public alias lets graft
    * expressions declare input types for analysis-time checking. */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  /** Drop every cached catalog-plugin instance so `spark.sql.catalog.*`
    * changes take effect in THIS session. A catalog is instantiated
    * once per name and cached in the session's CatalogManager, so a
    * long-lived session (a shared test JVM, a notebook) that re-points
    * a catalog's warehouse would otherwise keep talking to the old one.
    * CatalogManager is private[sql], hence bridged here. */
  def resetCatalogs(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalogManager.reset()
}
