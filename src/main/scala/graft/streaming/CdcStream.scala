package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.lake.Mooncake

/** Continuous mirror maintenance: attach a streaming change feed (any
  * Structured Streaming source producing rows of table-columns + __op
  * [+ __seq]) to a mooncake table.
  *
  * This is the Spark restatement of the reference's moonlink ingestion
  * loop (SURVEY.md §3.2): the WAL/replication stream becomes a streaming
  * DataFrame, each micro-batch is one atomic CDC apply, and the batch id
  * plays the LSN role — after batch N commits, the manifest's
  * commit/flush frontiers cover version `base + N + 1`, so readers can
  * demand read-your-writes freshness exactly as with batch applies.
  *
  * Crash recovery: Structured Streaming's checkpoint replays the last
  * uncommitted batch after restart (the reference restarts its service
  * from ConsistentState, `/root/reference/src/bgworker.rs:13-14`);
  * [[graft.lake.Mooncake.applyChanges]] rejects non-monotone versions, so
  * a replayed batch that already committed is skipped idempotently rather
  * than double-applied.
  */
object CdcStream {

  /** Start applying `changes` to `table`. Returns the running query;
    * caller owns its lifecycle.
    *
    * The version base is recorded ONCE per checkpoint (a `graft-base`
    * file beside the stream's own state): re-reading the manifest on
    * every attach would move the base past already-applied batches, so
    * a post-crash replay would compute a fresh version and re-apply
    * instead of hitting the `version > current` skip — the frontier
    * would advance spuriously and tableChanges would report a phantom
    * batch. With the pinned base, a replayed batch id maps to its
    * original version and is skipped. */
  /** The version base pinned once per checkpoint (see [[attach]] doc) —
    * shared with every foreachBatch-applying stream over a mirror
    * (e.g. [[graft.ops.VectorIndex.attachStream]]). */
  private def atomicWrite(p: java.nio.file.Path, v: Long): Unit = {
    // temp + ATOMIC_MOVE (the writeFrontier pattern): a plain write
    // killed mid-flight leaves a TORN value — a truncated base shifts
    // every batch's version down and new batches would be skipped as
    // replays, silent permanent loss.
    java.nio.file.Files.createDirectories(p.getParent)
    val tmp = java.nio.file.Files.createTempFile(p.getParent, ".tmp", ".txt")
    java.nio.file.Files.write(tmp, v.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  private def readLong(p: java.nio.file.Path): Option[Long] =
    if (java.nio.file.Files.exists(p))
      Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .trim.toLong)
    else None

  private[graft] def pinnedBase(lake: Mooncake, table: String,
      checkpointDir: String): Long = {
    val baseFile = java.nio.file.Paths.get(checkpointDir, "graft-base")
    readLong(baseFile).getOrElse {
      val b = lake.currentManifest(table).commitVersion
      atomicWrite(baseFile, b)
      // arm the applied-batch marker with the base pin, so the very
      // first batch can already distinguish replay from out-of-band
      val marker = java.nio.file.Paths.get(checkpointDir, "graft-applied")
      if (!java.nio.file.Files.exists(marker)) atomicWrite(marker, -1L)
      b
    }
  }

  /** Replay-vs-out-of-band-safe apply gate, shared by every
    * foreachBatch mirror-applying stream. The naive `version > current`
    * check conflates checkpoint REPLAY (skip — already committed) with
    * an OUT-OF-BAND commit (optimizeTable, a manual applyChanges)
    * having consumed the version number — where skipping silently
    * drops the batch's data forever. The `graft-applied` marker (last
    * batch id applied through this checkpoint) tells them apart:
    *   - batchId <= marker          → true replay, skip;
    *   - expected version free      → apply at base + batchId + 1;
    *   - version taken, marker armed→ out-of-band interleave: apply at
    *     current + 1 (versions shift, data survives).
    * A MARKERLESS (pre-marker legacy) checkpoint arms the marker at
    * batchId - 1 on first encounter, BEFORE gating: the old behavior
    * classified a taken version as "only replay can explain it" and
    * skipped — but a legacy checkpoint that had already suffered an
    * out-of-band commit would then silently drop its first post-upgrade
    * batch. Arming first makes the worst legacy case a one-time
    * re-apply of an already-committed batch instead of a one-time drop:
    * applyChanges of an identical change set is row-idempotent (same
    * final image), so re-applying costs one redundant version while a
    * drop loses data forever — the same asymmetry that justifies the
    * crash-between-apply-and-marker-write behavior below.
    *
    * The redundant version is not only cosmetic — tableChanges/CDC-out
    * consumers would see the same change set DELIVERED TWICE. So when
    * the ambiguity actually arises (markerless checkpoint AND the
    * expected version already taken — the only case where replay and
    * out-of-band interleave are indistinguishable by version
    * arithmetic), `alreadyApplied` settles it by CONTENT: the caller
    * compares the batch's net change set against the table's current
    * image (see [[contentNoop]]); a batch whose final images are
    * already exactly reflected can only be the replay — skip it, no
    * redundant version, no duplicate delivery. A batch that WOULD
    * change content is genuinely new (the taken version was an
    * out-of-band commit) and applies at current + 1. The probe runs at
    * most once per upgraded checkpoint's lifetime, never on the normal
    * marker-gated path.
    *
    * A crash between apply and marker write re-applies the batch once
    * at the next version — the mirror converges; the cost is one
    * redundant version in the history, never lost or doubled rows. */
  private[graft] def applyVersioned(lake: Mooncake, table: String,
      checkpointDir: String, base: Long, batchId: Long,
      alreadyApplied: () => Boolean = () => false)
      (apply: Long => Unit): Unit = {
    val marker = java.nio.file.Paths.get(checkpointDir, "graft-applied")
    val markerless = readLong(marker).isEmpty
    if (markerless) atomicWrite(marker, batchId - 1)
    val applied = readLong(marker)
    if (applied.forall(batchId > _)) {
      val current = lake.currentManifest(table).commitVersion
      val expected = base + batchId + 1
      if (expected > current) { apply(expected); atomicWrite(marker, batchId) }
      else if (markerless && alreadyApplied()) atomicWrite(marker, batchId)
      else { apply(current + 1); atomicWrite(marker, batchId) }
    }
  }

  /** Is this CDC batch's net effect already exactly reflected in the
    * table's current image? Used as the [[applyVersioned]] content
    * probe on the legacy-checkpoint ambiguity path. The batch nets to
    * its last op per key (the same [[Mooncake.lastOpPerKey]] rule
    * applyChanges uses), then:
    *   - every final I/U image must be PRESENT verbatim, and
    *   - no OTHER row may exist under an affected key (covers net
    *     deletes: a deleted key still present shows up on the current
    *     side with no matching image).
    * Both directions compare only rows under the batch's affected keys
    * — one semi-join against the mirror (file-skipped by the scan, AQE
    * picks the join build side), proportional to the batch, not the
    * table; and it runs at most once per upgraded checkpoint. A batch
    * that WIDENS the schema is never a no-op (the widened manifest
    * itself is a change). */
  private[graft] def contentNoop(lake: Mooncake, table: String,
      batch: DataFrame): Boolean = {
    val s = batch.sparkSession
    val m = lake.currentManifest(table)
    val pk = m.pkColumns
    val tableCols = org.apache.spark.sql.types.StructType
      .fromDDL(m.schemaDdl).fieldNames.toSeq
    val dataCols = batch.columns.filterNot(c => c == "__op" || c == "__seq")
    if (dataCols.toSet != tableCols.toSet) return false
    import org.apache.spark.sql.functions.col
    val last = Mooncake.lastOpPerKey(batch, pk)
    val keys = last.select(pk.map(col): _*).distinct()
    val current = lake.read(s, table)
      .join(keys, pk, "left_semi")
      .select(tableCols.map(col): _*)
    val images = last.filter(col("__op") =!= "D")
      .select(tableCols.map(col): _*)
    images.exceptAll(current).isEmpty && current.exceptAll(images).isEmpty
  }

  /** `maintain` names materialized views over `table` (same lake) to
    * refresh after every applied micro-batch — the reference's
    * real-time-freshness pitch extended to derived state: the mirror
    * AND its MVs advance together, no manual refresh loop.
    *
    * Restart safety needs no extra machinery: [[graft.lake.Mview
    * .refresh]] is driven by the MV definition's own recorded base
    * version (it diffs base versions, not batch ids), so a replayed
    * batch — skipped by the version gate — leads to a no-op refresh,
    * and a crash BETWEEN apply and refresh heals on the next batch,
    * whose refresh folds the multi-version diff in one pass. */
  def attach(lake: Mooncake, table: String, changes: DataFrame,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow(),
      maintain: Seq[String] = Nil,
      maintainJoins: Seq[String] = Nil): StreamingQuery = {
    val base = pinnedBase(lake, table, checkpointDir)
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyVersioned(lake, table, checkpointDir, base, batchId,
          alreadyApplied = () => contentNoop(lake, table, batch)) { v =>
          lake.applyChanges(batch.sparkSession, table, batch, v)
          ()
        }
        // JOIN views ride the same guarantees: refresh is driven by the
        // view's own recorded base-version pair (replays no-op, a crash
        // between apply and refresh folds the multi-version diff on the
        // next batch) — and a refresh here also folds any OTHER base's
        // commits that landed since, so two attached streams each
        // naming the view keep it fresh from both sides. Join views
        // refresh BEFORE the plain views: an aggregate Mview layered
        // over a JoinMview state (the q_mv_join_agg composition) must
        // see the join state AFTER this batch folded into it, or it
        // ends one batch stale when the stream terminates.
        if (maintainJoins.nonEmpty) {
          val jmv = new graft.lake.JoinMview(lake)
          maintainJoins.foreach(jmv.refresh(batch.sparkSession, _))
        }
        if (maintain.nonEmpty) {
          val mv = new graft.lake.Mview(lake)
          maintain.foreach(mv.refresh(batch.sparkSession, _))
        }
        ()
      }
      .start()
  }
}
