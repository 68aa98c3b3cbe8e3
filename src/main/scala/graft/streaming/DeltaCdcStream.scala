package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.lake.{DeltaCompat, Mooncake}

/** Continuous upsert maintenance for a DELTA table: attach a streaming
  * change feed (rows of table-columns + `__op` in {I, U, D}) and apply
  * each micro-batch as one [[DeltaCompat.merge]] — the Spark
  * restatement of moonlink's ingestion loop with Delta as the mirror
  * format instead of the mooncake manifest (the reference's mirrors
  * speak both, `/root/reference/CHANGELOG.md:25,27`).
  *
  * Exactly-once across crashes comes from the Delta spec's OWN
  * mechanism, not a side file: every batch commit carries a `txn`
  * (SetTransaction) action `(appId, batchId)` in the SAME atomic
  * commit as its data — a no-op batch commits a txn-only action so the
  * watermark still advances — and merge() itself skips any batch at or
  * below the recorded watermark in the single log replay it already
  * performs (no second replay per batch). A foreign Delta reader sees
  * the same idempotency state we do. */
object DeltaCdcStream {

  /** Start merging `changes` into the Delta table at `tableDir`.
    * `keys` are the replica identity. A missing table bootstraps from
    * the first batch's inserts. The app id is pinned per checkpoint
    * ([[CheckpointAppId]]). Returns the running query; caller owns its
    * lifecycle. */
  def attach(tableDir: String, changes: DataFrame, keys: Seq[String],
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val appId = CheckpointAppId.loadOrCreate(checkpointDir)
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // Reduce to the final image per key FIRST: a batch spanning two
        // source transactions (U then U of one key) would otherwise
        // wedge the stream permanently — merge() refuses duplicate
        // source keys, and checkpoint replay re-presents the identical
        // batch forever. The bootstrap path needs the same reduction:
        // writing both an I and its later U verbatim would start the
        // table with two live rows, and an I whose final op is D must
        // not be written at all.
        val finalImage = Mooncake.lastOpPerKey(batch, keys).drop("__seq")
        val exists = DeltaCompat.versions(tableDir).nonEmpty ||
          java.nio.file.Files.exists(java.nio.file.Paths
            .get(tableDir, "_delta_log", "_last_checkpoint"))
        if (!exists) {
          // bootstrap: the first batch's surviving images create the
          // table (a delete against nothing is a no-op, the CDC
          // convention)
          DeltaCompat.write(finalImage.filter(col("__op") =!= "D")
              .drop("__op"), tableDir,
            txn = Some(appId -> batchId))
        } else {
          DeltaCompat.merge(batch.sparkSession, tableDir, finalImage,
            keys,
            deleteWhen = Some(col("__op") === "D"),
            txn = Some(appId -> batchId))
        }
        ()
      }
      .start()
  }
}
