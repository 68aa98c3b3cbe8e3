package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max}

/** LIVE remote CDC tailing — the moonlink analog
  * (`/root/reference/src/functions.rs:34-42` starts replication against
  * a remote server; loopback default `:165-177`). Without a WAL wire
  * protocol, the Spark-native restatement is poll-by-watermark: the
  * remote relation (JDBC table, growing parquet/csv location — anything
  * `SparkSession => DataFrame` can load) carries a MONOTONE watermark
  * column (commit LSN, version, strictly-increasing id); each poll
  * reads only rows PAST the persisted frontier (the predicate pushes
  * down to the remote scan — a JDBC source ships it in the WHERE, so a
  * poll never rescans the remote table) and spools them as one parquet
  * change batch. The spool directory is then a STANDARD Structured
  * Streaming file source: [[changes]] hands it to [[CdcStream.attach]],
  * which applies each micro-batch exactly-once into the mirror.
  *
  * Delivery contract: batch-then-frontier ordering makes a crash
  * between the two re-poll the same delta → AT-LEAST-ONCE into the
  * spool, converging because batches apply as keyed upserts/deletes
  * (rows without `__op` are stamped upserts). The watermark must be
  * strictly monotone and complete-at-read (all rows ≤ the observed max
  * are durably visible) — the same contract every incremental
  * poll-based replicator assumes.
  *
  * Restart safety is two-layer: this frontier file resumes POLLING
  * past spooled data, and the attached stream's own checkpoint resumes
  * APPLICATION past committed batches — killing and re-attaching
  * either side never double-applies (RemoteCdcSpec drives the full
  * crash-restart cycle).
  */
class RemoteCdcTailer(remote: SparkSession => DataFrame,
    watermarkCol: String, val spoolDir: String) extends SpoolFrontier {

  /** One poll: spool every remote row past the frontier as one change
    * batch, advance the frontier to the batch's max watermark. Returns
    * the number of rows spooled (0 = remote quiet; nothing written).
    *
    * The delta is pinned for the poll's duration, so the remote is read
    * ONCE per non-quiet poll (the probe materializes the cache, the
    * spool write drains it) and the returned count, the frontier and
    * the written batch all describe the SAME snapshot — without the
    * pin, rows arriving between actions would tear them apart. A quiet
    * poll costs only the pushed-down max/count aggregate. */
  def pollOnce(spark: SparkSession): Long = {
    val src = remote(spark)
    require(src.columns.contains(watermarkCol),
      s"remote source has no watermark column '$watermarkCol'")
    val delta = frontier.fold(src)(f =>
      src.filter(col(watermarkCol).cast("long") > f))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val probe = delta.agg(max(col(watermarkCol).cast("long")),
        count(lit(1))).head()
      if (probe.isNullAt(0)) 0L
      else {
        // __seq = the watermark itself: when several polls' spool files
        // land in ONE downstream micro-batch, applyChanges must order a
        // key's ops by REMOTE commit order — without the stamp it falls
        // back to monotonically_increasing_id, whose cross-file order
        // follows split packing, and an older poll's image could win
        // (the same reason both followers stamp __seq). A watermark
        // COARSER than the op rate (two ops on one key sharing a value)
        // leaves the pair's order unknowable at the tail; downstream
        // (Mooncake.lastOpOrder) breaks such ties on
        // a content fingerprint, so every replay at least converges to
        // the SAME final image.
        val stamped0 =
          if (delta.columns.contains("__op")) delta
          else delta.withColumn("__op", lit("U"))
        val stamped =
          if (stamped0.columns.contains("__seq")) stamped0
          else stamped0.withColumn("__seq", col(watermarkCol).cast("long"))
        stamped.write.mode("append").parquet(batchesDir.toString)
        writeFrontier(probe.getLong(0))
        probe.getLong(1)
      }
    } finally {
      delta.unpersist()
      ()
    }
  }

  /** The spooled change feed as a standard file-source stream — hand
    * this to [[CdcStream.attach]]. Schema comes from the remote
    * relation (plus the stamped `__op`), so the stream starts before
    * any batch exists. */
  def changes(spark: SparkSession): DataFrame = {
    val base = remote(spark)
    val withOp =
      if (base.columns.contains("__op")) base
      else base.withColumn("__op", lit("U"))
    val schema =
      if (withOp.columns.contains("__seq")) withOp.schema
      else withOp.withColumn("__seq",
        col(watermarkCol).cast("long")).schema
    spark.readStream.schema(schema).parquet(batchesDir.toString)
  }
}
