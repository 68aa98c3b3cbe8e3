package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.lake.{IcebergCompat, Mooncake}

/** Continuous upsert maintenance for an ICEBERG v2 table — the shape
  * streaming CDC writers (Flink, moonlink-style ingestion) emit: per
  * micro-batch, one EQUALITY-DELETE snapshot tombstones the old
  * versions of every updated/deleted key, then one append snapshot
  * lands the new rows. The sequence-number rule does the merge at read
  * time: the append outsequences the delete, so updates survive their
  * own tombstone while older copies die.
  *
  * Idempotency across crash replays uses Iceberg's own convention: the
  * append snapshot's SUMMARY carries the per-checkpoint watermark
  * (`graft.watermark.<appId>` = batch id — the same mechanism as
  * Flink's `flink.max-committed-checkpoint-id`), so a replayed batch
  * at or below the recorded watermark is skipped. A crash BETWEEN the
  * delete and append snapshots replays the whole batch: the repeated
  * equality delete is semantically idempotent (same keys, older
  * sequences only) and the append then lands once — the table
  * converges. */
object IcebergCdcStream {

  /** Start applying `changes` (table columns + `__op` in {I, U, D}) to
    * the Iceberg table at `tableDir`. `keys` are the replica identity
    * (the equality-delete columns). Returns the running query; caller
    * owns its lifecycle. */
  def attach(tableDir: String, changes: DataFrame, keys: Seq[String],
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val appId = CheckpointAppId.loadOrCreate(checkpointDir)
    val watermarkKey = s"graft.watermark.$appId"
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val exists = java.nio.file.Files.exists(java.nio.file.Paths
          .get(tableDir, "metadata", "version-hint.text"))
        val applied =
          if (exists)
            IcebergCompat.lastSummaryProperty(tableDir, watermarkKey)
              .map(_.toLong)
          else None
        if (applied.forall(_ < batchId)) {
          // Final image per key FIRST: without it, U+D of one key in
          // one batch leaves the key alive (the U outsequences its own
          // tombstone) and U+U lands two live rows. Then tombstone old
          // versions of EVERY touched key — including final-op-I keys:
          // a D+I (CDC re-insert) or an upsert-spelled-as-I must kill
          // the table's older copy; an equality delete for a key that
          // never existed is a no-op, so over-tombstoning is safe.
          val finalImage = Mooncake.lastOpPerKey(batch, keys).drop("__seq")
          val delKeys = finalImage.select(keys.map(col): _*)
          if (exists && delKeys.take(1).nonEmpty)
            IcebergCompat.writeEqualityDeletes(
              batch.sparkSession, tableDir, delKeys, keys)
          // then land the surviving rows; the watermark rides the
          // append snapshot's summary — the batch's LAST commit, so a
          // crash can never record the batch before its rows are in
          IcebergCompat.write(finalImage.filter(col("__op") =!= "D")
              .drop("__op"), tableDir,
            summary = Map(watermarkKey -> batchId.toString))
        } // else: checkpoint replay of a committed batch — skip
        ()
      }
      .start()
  }
}
