package graft.lake

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ArrayBinarySearch, BoundReference,
  Descending, InSet, InterpretedOrdering, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, DateType, DecimalType, IntegerType, LongType,
  StringType, TimestampNTZType, TimestampType}

/** Thrown when a read demands a fresher snapshot than has been flushed —
  * the engine-side equivalent of the reference's LSN gate (a scan carries
  * the reader's `XactLastCommitEnd` and the snapshot must cover it,
  * `/root/reference/src/duckdb_mooncake.rs:27-29`). */
class StaleSnapshotException(msg: String) extends RuntimeException(msg)

/** The mooncake control plane re-expressed for Spark: columnstore mirror
  * tables stored as Parquet + a versioned JSON manifest (playing Iceberg's
  * role), kept fresh by [[applyChanges]] (the CDC apply operator) with
  * read-your-writes version gating.
  *
  * API parity with `/root/reference/src/functions.rs`:
  *   - `create_table`  (`:24-43`)  → [[createTable]]
  *   - `create_snapshot` (`:9-22`) → [[createSnapshot]]
  *   - `list_tables`   (`:84-116`) → [[listTables]] (same 4 columns)
  *   - `load_files`    (`:118-130`)→ [[loadFiles]] (parquet/csv/json)
  *   - `optimize_table`(`:132-144`)→ [[optimizeTable]] (full / data /
  *     zorder:cols / index[:cols] modes)
  *   - drop trigger    (`:45-82`)  → [[dropTable]]
  *
  * Scale design: copy-on-write with manifest-level file skipping. Every
  * data file records min/max of the leading primary-key column; a CDC
  * batch rewrites only the files whose key range intersects the batch, and
  * the (small) affected-key set is broadcast so the anti-join never
  * shuffles the table. Compaction is explicit, as in the reference (no
  * vacuum — `/root/reference/src/table.rs:421-428`).
  */
class Mooncake(val warehouse: String, val database: String = "main") {

  /** Default data-file size target (the createTable / optimizeTable
    * parameters override it per call). */
  private val targetFileBytes = 128L * 1024 * 1024

  /** Database scoping (`/root/reference/src/functions.rs:104-109`: one
    * moonlink service hosts tables of MANY databases; every management
    * call is filtered to the session's own). Here the scope is a
    * warehouse directory level: the default database `main` keeps the
    * legacy flat layout (tables directly under the warehouse root, so
    * every pre-scoping warehouse reads unchanged) and any other
    * database nests its tables under `db_<percent-encoded-name>/`. A
    * database directory can never be mistaken for a main-database
    * table: table dirs are recognized by holding a manifest, which a
    * database dir does not. */
  private def dbRoot: Path =
    if (database == "main") Paths.get(warehouse)
    else Paths.get(warehouse, "db_" + PathCodec.percentEncode(database))

  /** This warehouse re-scoped to another database — shares the
    * layout; table namespaces are disjoint per database. */
  def inDatabase(db: String): Mooncake = new Mooncake(warehouse, db)

  private[lake] def tableDir(name: String): String =
    dbRoot.resolve(Identifier.parse(name).fileName).toString

  private def dataDir(name: String, version: Long): Path =
    Paths.get(tableDir(name), "data", f"v$version%016d")

  private def require_(m: Option[Manifest], name: String): Manifest =
    m.getOrElse(throw new NoSuchElementException(s"no mooncake table '$name'"))

  /** Integer view of a column for range/point predicates and CDC key
    * bounds: DATE columns compare as epoch days (matching their
    * manifest stats — a plain cast("long") on a date is an
    * AnalysisException), integrals cast directly. */
  private def longView(df: DataFrame, column: String): Column =
    df.schema(column).dataType match {
      case org.apache.spark.sql.types.DateType =>
        datediff(col(column), lit(java.sql.Date.valueOf("1970-01-01")))
          .cast("long")
      case _ => col(column).cast("long")
    }

  // -------------------------------------------------------------------------
  // create / drop / list
  // -------------------------------------------------------------------------

  /** Create a mirror of `source` (schema copied column-for-column, as the
    * reference copies from pg_attribute — `src/functions.rs:204-221`) and
    * run the initial backfill. `pk` is the replica-identity key CDC
    * batches address rows by.
    *
    * A backfill larger than one target file is range-clustered on the
    * leading pk before writing: every data file then owns a tight,
    * non-overlapping key range, so CDC file skipping prunes from day one
    * and the write parallelizes across the cluster instead of following
    * the source's partitioning. Small sources keep their partitioning —
    * range-shuffling 5 rows into N files is pure overhead. */
  def createTable(spark: SparkSession, name: String, source: DataFrame,
      pk: Seq[String], initialVersion: Long = 1L,
      targetFileBytes: Long = 128L * 1024 * 1024,
      bloomColumns: Seq[String] = Seq.empty,
      clusterBy: Seq[String] = Seq.empty,
      targetFileCount: Option[Int] = None,
      config: Map[String, String] = Map.empty): Manifest = {
    ResourceCaps.enforce(spark)
    val dir = tableDir(name)
    // Recreate-after-in-scope-drop: supersede the pending drop NOW
    // instead of (a) throwing "already exists" on a dir whose delete is
    // merely deferred, or (b) letting the stale intent fire at commit
    // and destroy the FRESH mirror. The old mirror is renamed aside and
    // restored if the scope aborts (see cancelPendingDrop) — an aborted
    // scope keeps every mirror, commit nets DROP+CREATE.
    cancelPendingDrop(name)
    if (Manifest.latest(dir).isDefined)
      throw new IllegalStateException(s"mooncake table '$name' already exists")
    // Optimizer stats, not an execution: parquet footer / cache sizes.
    // Stats-less plans (RDD-backed, JDBC) report the defaultSizeInBytes
    // sentinel (Long.MaxValue) — and projections SCALE that sentinel by
    // column-width ratios, so a sentinel-derived estimate can land well
    // below Long.MaxValue. Anything implausible (>= ~920 TB for a
    // single backfill) is treated as "unknown", not "huge": keep the
    // source partitioning rather than range-shuffle into a guessed
    // file count.
    val bytes = source.queryExecution.optimizedPlan.stats.sizeInBytes
    val sizeKnown = bytes < BigInt(Long.MaxValue) / 10000
    val ccols = if (clusterBy.nonEmpty) clusterBy else pk
    // targetFileCount: explicit layout width (honored at ANY size — the
    // caller owns the estimate); otherwise byte-based sizing from plan
    // stats. Either way ONE range shuffle here — callers must not
    // pre-partition (createTable would just re-shuffle the same keys).
    val backfill = targetFileCount match {
      case Some(n) if ccols.nonEmpty =>
        source.repartitionByRange(n, ccols.map(col): _*)
      case Some(n) =>
        // no cluster/pk columns to range on, but the caller's explicit
        // width is still a contract — honor it with a round-robin
        // shuffle rather than silently keeping the source partitioning
        source.repartition(n)
      case _ if ccols.nonEmpty && sizeKnown && bytes > targetFileBytes =>
        val n = ((bytes / targetFileBytes) min BigInt(10000)).toInt + 1
        source.repartitionByRange(n, ccols.map(col): _*)
      case _ => source
    }
    writeVersion(spark, name, backfill, pk, version = initialVersion,
      carryOver = Seq.empty, bloomColumns = bloomColumns,
      clusterColumns = if (clusterBy.nonEmpty) Some(clusterBy) else None,
      tableConfig = if (config.isEmpty) None else Some(config))
  }

  /** Mirror a REMOTE source by URI — the `src_uri` parity path: the
    * reference's `create_table(dst, src, src_uri, ...)` opens a libpq
    * connection to ANOTHER server and backfills the initial snapshot
    * from there (`src/functions.rs:24-43`, loopback default
    * `:165-177`). The Spark-native resolution goes through Spark's own
    * connectors instead of libpq:
    *
    *   - `jdbc:...` URIs load via the built-in JDBC source (`table` in
    *     `options` names the remote relation; driver jars come from the
    *     deployment, exactly as libpq does for the reference) — the
    *     backfill then PARALLELIZES with partitionColumn/numPartitions
    *     options instead of a single COPY stream;
    *   - anything else is a file location, format from `format` or the
    *     path extension (parquet/csv/json).
    *
    * The loaded frame feeds the same [[createTable]] backfill:
    * range-clustered on the pk, manifest-committed, CDC-ready. */
  def createTableFromUri(spark: SparkSession, name: String, srcUri: String,
      pk: Seq[String], format: String = "auto",
      options: Map[String, String] = Map.empty,
      bloomColumns: Seq[String] = Seq.empty,
      config: Map[String, String] = Map.empty): Manifest = {
    val source =
      if (srcUri.startsWith("jdbc:")) {
        val table = options.getOrElse("table", options.getOrElse("dbtable",
          throw new IllegalArgumentException(
            s"jdbc source for '$name' needs options(\"table\") — the " +
              "remote relation to mirror")))
        spark.read.format("jdbc")
          .options(options - "table").option("url", srcUri)
          .option("dbtable", table).load()
      } else {
        val fmt =
          if (format != "auto") format
          else srcUri.replaceAll("/+$", "").split('.').last match {
            case "csv" => "csv"
            case "json" => "json"
            case _ => "parquet"
          }
        val reader = spark.read.format(fmt).options(options)
        (if (fmt == "csv") reader.option("header",
          options.getOrElse("header", "true")).option("inferSchema",
          options.getOrElse("inferSchema", "true"))
        else reader).load(srcUri.stripPrefix("file:"))
      }
    createTable(spark, name, source, pk, bloomColumns = bloomColumns,
      config = config)
  }

  /** Scope intents registered inside an [[inTransaction]] scope on this
    * thread; commit actions run at top-level scope exit iff every body
    * completed normally, abort actions run (newest-first) for intents
    * whose registering scope threw. */
  private sealed trait Intent
  /** Plain deferred drop: commit deletes the dir, abort is a no-op
    * (the mirror was never touched). */
  private final case class DropIntent(name: String) extends Intent
  /** A create that superseded a pending drop of the same name: the OLD
    * mirror dir was renamed aside (never deleted in-scope), the FRESH
    * mirror now owns the name. Commit deletes the aside (net
    * DROP+CREATE); abort deletes the fresh dir and renames the aside
    * back, so an aborted scope still keeps every mirror. The intent is
    * APPENDED at recreate time (it belongs to the scope that created —
    * a nested abort must undo it even when the drop came from an outer
    * scope); `dropIdx` is the buffer slot the superseded [[DropIntent]]
    * held, tombstoned in place so positions never shift under nested
    * rollback marks. When a nested scope aborts a recreate whose drop
    * sits BELOW its mark (outer scope's drop), that slot is re-armed to
    * [[DropIntent]] — Postgres subtransaction semantics: the outer DROP
    * survives the aborted subxact's CREATE. */
  private final case class RecreateIntent(name: String, aside: Path,
      dropIdx: Int) extends Intent
  /** Slot of a superseded drop — keeps indices stable; no-op on both
    * commit and abort (unless re-armed, see above). */
  private case object Tombstone extends Intent
  private val pendingDrops =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[Intent]]()

  /** Abort the slice of `buf` at indices ≥ `mark` (the scope that
    * threw), newest-first: restore renamed-aside mirrors over their
    * fresh replacements and re-arm outer-scope drop slots their
    * recreates had tombstoned. */
  private def abortIntents(
      buf: scala.collection.mutable.ArrayBuffer[Intent], mark: Int): Unit = {
    val aborted = buf.slice(mark, buf.length).toSeq
    buf.remove(mark, buf.length - mark)
    aborted.reverse.foreach {
      case RecreateIntent(name, aside, dropIdx) =>
        val dir = Paths.get(tableDir(name))
        LakeFs.deleteRec(dir)
        Files.move(aside, dir)
        if (dropIdx < mark) buf(dropIdx) = DropIntent(name)
      case _ => ()
    }
  }

  private def commitIntent(i: Intent): Unit = i match {
    case DropIntent(name) => LakeFs.deleteRec(Paths.get(tableDir(name)))
    case RecreateIntent(_, aside, _) => LakeFs.deleteRec(aside)
    case Tombstone => ()
  }

  /** Drop a mirror table (≈ the reference's drop event trigger,
    * `/root/reference/src/functions.rs:45-82`). The reference does NOT
    * destroy the mirror at DROP time: the event trigger registers the
    * moonlink `drop_table` RPC as a PRE-COMMIT callback, so a rolled-
    * back `DROP TABLE` keeps the mirror intact. Outside a transaction
    * scope Spark has no commit boundary and this deletes immediately
    * (indistinguishable from deferred for any committed program);
    * inside [[inTransaction]] the delete is deferred to scope exit and
    * DISCARDED if the body throws — the reference's rollback window,
    * reproduced. */
  def dropTable(name: String): Unit = {
    val buf = pendingDrops.get()
    if (buf != null) buf += DropIntent(name)
    else LakeFs.deleteRec(Paths.get(tableDir(name)))
  }

  /** Transaction scope for drop deferral — the Spark-side analogue of
    * the reference's event-trigger + pre-commit callback pair
    * (`functions.rs:56-80`). `dropTable` calls inside `body` register
    * intents; they execute (in call order) only when `body` returns
    * normally — the pre-commit callback — and are discarded when it
    * throws, so an aborted scope keeps every mirror. Scopes are
    * per-thread; a nested scope joins the outer one (subtransactions
    * commit with their top level) but keeps SUBTRANSACTION abort
    * semantics: intents registered inside a nested body that throws
    * are truncated away even when the outer scope catches the throw
    * and commits — Postgres discards a rolled-back subxact's
    * pre-commit callbacks, not just the top-level abort's. */
  def inTransaction[T](body: => T): T = {
    val outer = pendingDrops.get()
    val buf = if (outer != null) outer
      else scala.collection.mutable.ArrayBuffer.empty[Intent]
    pendingDrops.set(buf)
    val mark = buf.length // nested-scope rollback point
    var ok = false
    try { val r = body; ok = true; r }
    finally {
      // subxact abort: undo the aborted slice's physical effects
      // (restore renamed-aside mirrors) and re-arm any outer-scope
      // drops its recreates had superseded
      if (!ok && buf.length > mark) abortIntents(buf, mark)
      if (outer == null) {
        pendingDrops.remove()
        if (ok) buf.foreach(commitIntent)
      }
    }
  }

  /** A table (re)created inside a scope supersedes any pending drop of
    * the same name: executing the stale intent at commit would delete
    * the FRESH mirror the create just wrote (physical dirs are reused
    * by name). The old mirror is RENAMED ASIDE (to `dbRoot/.trash/`,
    * invisible to listings — no top-level `manifest/`), never deleted
    * in-scope, and the drop slot becomes a [[RecreateIntent]]: commit
    * nets DROP+CREATE, abort restores the old mirror byte-for-byte —
    * Postgres DROP-then-CREATE-in-one-transaction semantics on both
    * exits. Returns true when a pending drop was superseded (the
    * caller's create proceeds onto the now-vacant dir). */
  private def cancelPendingDrop(name: String): Boolean = {
    val buf = pendingDrops.get()
    if (buf == null) return false
    val idx = buf.indexWhere {
      case DropIntent(n) => n == name
      case _ => false
    }
    if (idx < 0) return false
    // duplicate drops of the same name would fire at commit and delete
    // the FRESH mirror — tombstone them (in place: indices must stay
    // stable under nested rollback marks) along with the superseded one
    buf.indices.foreach { i =>
      if (i != idx && buf(i) == DropIntent(name)) buf(i) = Tombstone
    }
    val dir = Paths.get(tableDir(name))
    val aside = dbRoot.resolve(".trash")
      .resolve(Identifier.parse(name).fileName + ".pending-" +
        java.util.UUID.randomUUID())
    Files.createDirectories(aside.getParent)
    Files.move(dir, aside)
    buf(idx) = Tombstone
    buf += RecreateIntent(name, aside, idx)
    true
  }

  /** Engine reset — the analog of the reference's "command to reset
    * DuckDB" (`/root/reference/CHANGELOG.md:13`): drop every piece of
    * SESSION-scoped engine state so the next read re-derives everything
    * from the on-disk manifests. Concretely: uncache all cached/
    * persisted relations (a long-lived session's pinned frames can
    * otherwise serve pre-CDC data forever) and invalidate Spark's
    * file-status/listing caches under this warehouse (stale listings
    * could name compacted-away files). Durable state — manifests, data
    * files, snapshots — is untouched. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.catalog.refreshByPath(warehouse)
  }

  /** Names of every table in the warehouse (driver-side walk of the
    * manifest dirs) — the SQL catalog's SHOW TABLES backing. */
  def tableNames: Seq[String] = {
    val root = dbRoot
    if (!Files.isDirectory(root)) Seq.empty
    else Manifest.withListing(root)(_.flatMap(p =>
      Manifest.latest(p.toString).map(_.table)).toSeq).sorted
  }

  /** Every database hosted by this warehouse (the scoping dual of
    * [[tableNames]]): `main` when the flat root holds any table, plus
    * one entry per `db_*` scope directory. */
  def databaseNames: Seq[String] = {
    val root = Paths.get(warehouse)
    if (!Files.isDirectory(root)) Seq.empty
    else Manifest.withListing(root) { ps =>
      val dirs = ps.toSeq
      val hasMain = dirs.exists(p => Manifest.latest(p.toString).nonEmpty)
      val scoped = dirs.map(_.getFileName.toString)
        .filter(_.startsWith("db_"))
        .map(d => PathCodec.percentDecode(d.stripPrefix("db_")))
      ((if (hasMain) Seq("main") else Seq.empty) ++ scoped).sorted
    }
  }

  /** Same four columns as `mooncake.list_tables()`
    * (`/root/reference/src/functions.rs:84-116`), and the same scoping:
    * the reference filters the service-wide listing to the session's
    * own database (`functions.rs:106`); here the walk itself is scoped
    * to this instance's [[database]] directory, so another database's
    * tables never appear — host two corpora in one warehouse and each
    * session lists only its own. */
  def listTables(spark: SparkSession): DataFrame = {
    val root = dbRoot
    val rows =
      if (!Files.isDirectory(root)) Seq.empty
      else Manifest.withListing(root)(_.flatMap(p =>
        Manifest.latest(p.toString).map(m =>
          (m.table, m.commitVersion, m.flushVersion, p.toString,
            // canonical sorted k=v form — deterministic across JVMs so
            // the listing is golden-testable
            m.tableConfig.getOrElse(Map.empty).toSeq.sorted
              .map { case (k, v) => s"$k=$v" }.mkString(";"))))
        .toSeq).sortBy(_._1)
    import spark.implicits._
    rows.toDF("table", "commit_lsn", "flush_lsn",
      "iceberg_warehouse_location", "table_config")
  }

  // -------------------------------------------------------------------------
  // read path
  // -------------------------------------------------------------------------

  /** Scan the current snapshot. `atLeastVersion` is the reader's
    * read-your-writes demand: if the flushed frontier hasn't covered it
    * yet the scan must not proceed on stale files.
    *
    * `prune` generalizes [[readRange]]/[[readRangeOn]]/[[readPoint]]'s
    * manifest file skipping to an arbitrary predicate: its range
    * conjuncts are tested against each file's per-column footer min/max
    * from the manifest (leading-pk conjuncts fall back to the pk range)
    * and files that provably cannot match are never opened. The full
    * predicate still applies row-level — pruning only cuts IO. The
    * specialized readers remain for callers that know their shape (the
    * point reader adds the bloom tier this general path does not). */
  def read(spark: SparkSession, name: String,
      atLeastVersion: Option[Long] = None,
      prune: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    ResourceCaps.enforce(spark)
    val m = require_(Manifest.latest(tableDir(name)), name)
    atLeastVersion.foreach { v =>
      if (m.flushVersion < v)
        throw new StaleSnapshotException(
          s"table '$name': reader requires version >= $v but flushVersion " +
            s"is ${m.flushVersion}")
    }
    val files = prune match {
      case None => m.files
      case Some(p) =>
        val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
        Mooncake.pruneFiles(m, BoundsPruning.conjuncts(spark, schema, p))
    }
    val base = readFiles(spark, m, files)
    prune.fold(base)(base.filter)
  }

  /** Key-range scan with manifest-level file skipping — the reference's
    * "no indexes; point lookups become columnar scans + file skipping"
    * contract (`/root/reference/src/table.rs:172-199` + CHANGELOG.md:26).
    * Files whose [minKey, maxKey] cannot intersect [lo, hi] are never
    * opened; the residual predicate still applies row-level (and pushes
    * into the parquet row-group stats). On a range-clustered mirror a
    * point lookup touches one file regardless of table size. */
  def readRange(spark: SparkSession, name: String, lo: Long, hi: Long,
      atLeastVersion: Option[Long] = None): DataFrame = {
    ResourceCaps.enforce(spark)
    val m = require_(Manifest.latest(tableDir(name)), name)
    val key = m.pkColumns.headOption.getOrElse(
      throw new IllegalStateException(s"table '$name' has no key to range-scan"))
    rangeOnManifest(spark, name, m, key, lo, hi, atLeastVersion)
  }

  /** Key-range scan on ANY integer column with manifest-level file
    * skipping — the manifest carries footer min/max for every integer
    * column, so pruning is not limited to the leading pk. On a
    * z-ordered mirror (`optimizeTable("zorder:a,b")`) BOTH clustering
    * dimensions prune: a range on either column opens ~sqrt of the
    * files a linear clustering would. Columns the manifest has no stats
    * for degrade to a full scan with a pushed-down predicate — never a
    * wrong answer. */
  def readRangeOn(spark: SparkSession, name: String, column: String,
      lo: Long, hi: Long, atLeastVersion: Option[Long] = None): DataFrame =
    rangeOnManifest(spark, name,
      require_(Manifest.latest(tableDir(name)), name),
      column, lo, hi, atLeastVersion)

  private def rangeOnManifest(spark: SparkSession, name: String, m: Manifest,
      column: String, lo: Long, hi: Long,
      atLeastVersion: Option[Long]): DataFrame = {
    ResourceCaps.enforce(spark)
    atLeastVersion.foreach { v =>
      if (m.flushVersion < v)
        throw new StaleSnapshotException(
          s"table '$name': reader requires version >= $v but flushVersion " +
            s"is ${m.flushVersion}")
    }
    val files = m.files.filter { f =>
      f.rangeOf(column, m.pkColumns).forall { case (fLo, fHi) =>
        fLo <= hi && fHi >= lo
      }
    }
    val base = readFiles(spark, m, files)
    base.filter(longView(base, column) >= lo && longView(base, column) <= hi)
  }

  /** Point lookup on an integer column, with two pruning tiers before
    * any data page is read:
    *   1. manifest min/max (free — already in the manifest JSON);
    *   2. parquet bloom-filter probe on the survivors, when the table
    *      declares blooms for the column (`createTable(bloomColumns=)`).
    * Tier 2 is what makes point lookups on a NON-clustered column cheap:
    * on a pk-range-clustered mirror every file's secondary-column range
    * overlaps every other's, so min/max keeps everything — the bloom
    * keeps only files that actually contain the value (false positives
    * only, never false negatives, so correctness never depends on it:
    * the row filter still applies). Probing reads footer + bitset only.
    * A handful of survivors probe on the driver; larger sets fan out to
    * the executors — at 100 TB the probe is a metadata job over file
    * paths, never a data scan. */
  def readPoint(spark: SparkSession, name: String, column: String,
      value: Long, atLeastVersion: Option[Long] = None): DataFrame = {
    ResourceCaps.enforce(spark)
    val m = require_(Manifest.latest(tableDir(name)), name)
    atLeastVersion.foreach { v =>
      if (m.flushVersion < v)
        throw new StaleSnapshotException(
          s"table '$name': reader requires version >= $v but flushVersion " +
            s"is ${m.flushVersion}")
    }
    val ranged = m.files.filter { f =>
      f.rangeOf(column, m.pkColumns).forall { case (lo, hi) =>
        lo <= value && value <= hi
      }
    }
    val kept =
      if (!m.bloomColumns.exists(_.contains(column))) ranged
      else if (ranged.lengthCompare(32) <= 0)
        ranged.filter(f =>
          Manifest.bloomMightContain(Paths.get(f.path), column, value))
      else {
        val paths = spark.sparkContext
          .parallelize(ranged.map(_.path), math.max(1, ranged.size / 8))
          .filter(p => Manifest.bloomMightContain(Paths.get(p), column, value))
          .collect().toSet
        ranged.filter(f => paths(f.path))
      }
    val base = readFiles(spark, m, kept)
    base.filter(longView(base, column) === value)
  }

  /** Runtime semi-join file pruning — the "runtime filter" a warehouse
    * applies when a selective dimension drives a fact scan: the join-key
    * domain is derived from the (already filtered) build side AT RUN
    * TIME and only fact files whose per-file bounds can intersect it are
    * opened. Returns a SUPERSET of the semi-join — the exact key set
    * when the build side is small, its [min, max] bounds otherwise —
    * pushed as the scan predicate; the caller's subsequent join
    * enforces exactness, so pruning can only cut IO, never change
    * rows. `keys` must be DETERMINISTIC (no sample()/unordered limit):
    * the predicate comes from one evaluation and the caller's join
    * re-evaluates the frame — see [[RuntimeFilter.keyPredicate]].
    *
    * The build side is collected only up to `maxInSet` distinct keys —
    * the same bounded-collect contract as Spark's own runtime bloom
    * filter (a selective build side is broadcast-sized by definition);
    * the common small case pays ONE action, a driver-local `keys` none.
    * Above the cap, the key set is NOT pushed; a second [min, max]
    * aggregation still prunes clustered fact layouts. */
  def readForKeys(spark: SparkSession, name: String, column: String,
      keys: DataFrame, atLeastVersion: Option[Long] = None,
      maxInSet: Int = 10000): DataFrame = {
    ResourceCaps.enforce(spark)
    RuntimeFilter.keyPredicate(keys, column, maxInSet) match {
      case None => read(spark, name, atLeastVersion).filter(lit(false))
      case Some(pred) => read(spark, name, atLeastVersion, prune = Some(pred))
    }
  }

  private[lake] def manifestAt(name: String, version: Long): Manifest = {
    val p = Paths.get(tableDir(name), "manifest", f"v$version%016d.json")
    if (!Files.exists(p))
      throw new NoSuchElementException(s"table '$name' has no version $version")
    Manifest.fromJson(new String(Files.readAllBytes(p), "UTF-8"))
  }

  /** Time travel: scan an explicit manifest version. */
  def readVersion(spark: SparkSession, name: String, version: Long): DataFrame = {
    ResourceCaps.enforce(spark)
    val m = manifestAt(name, version)
    readFiles(spark, m, m.files)
  }

  /** The newest manifest committed at or before `timestampMs` — what SQL
    * `TIMESTAMP AS OF` resolves through ([[MooncakeCatalog]]). */
  private[lake] def manifestAsOf(name: String, timestampMs: Long): Manifest = {
    val eligible = Manifest.versionsWithTime(tableDir(name))
      .filter(_._2 <= timestampMs)
    if (eligible.isEmpty)
      throw new NoSuchElementException(
        s"table '$name' has no version committed at or before $timestampMs")
    manifestAt(name, eligible.last._1)
  }

  /** Changed rows between two committed versions — the `table_changes` /
    * Delta-CDF class: rows present only at `toVersion` tagged 'insert',
    * rows present only at `fromVersion` tagged 'delete'; an UPDATE shows
    * as its delete+insert pair, exactly how the CDC stream carries it
    * (SURVEY.md §3.2). Files shared by both manifests are pruned from the
    * diff BEFORE any row is read — copy-on-write means their rows are
    * byte-identical on both sides and would only cancel out. At 100 TB a
    * small CDC delta therefore diffs only the rewritten files, not the
    * table, in one shuffle ([[Mooncake.changesBetween]]). */
  def tableChanges(spark: SparkSession, name: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    ResourceCaps.enforce(spark)
    val mFrom = manifestAt(name, fromVersion)
    val mTo = manifestAt(name, toVersion)
    if (org.apache.spark.sql.types.StructType.fromDDL(mTo.schemaDdl)
        .fieldNames.contains("_change"))
      throw new IllegalArgumentException(
        s"table '$name' has a '_change' column — it would collide with " +
          "the change-type tag this diff appends")
    val shared = mFrom.files.map(_.path).toSet
      .intersect(mTo.files.map(_.path).toSet)
    Mooncake.changesBetween(
      readFiles(spark, mFrom, mFrom.files.filterNot(f => shared(f.path))),
      readFiles(spark, mTo, mTo.files.filterNot(f => shared(f.path))))
  }

  private def readFiles(spark: SparkSession, m: Manifest,
      files: Seq[DataFile]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    if (files.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema)
    // Explicit manifest schema, not file-inferred: after a CDC schema
    // evolution the manifest may carry files written before a column
    // existed — the parquet reader null-fills them, which is exactly the
    // evolution semantic (and matches Iceberg/Delta readers). The
    // manifest-carried exact sizes feed the planner directly
    // (StaticParquet): no per-path filesystem discovery at plan time —
    // minutes of driver work at 10⁴-10⁶ files.
    } else org.apache.spark.sql.graft.StaticParquet.read(spark,
      files.map(f => (f.path, f.bytes)).sortBy(_._1), schema)
  }

  def currentManifest(name: String): Manifest =
    require_(Manifest.latest(tableDir(name)), name)

  // -------------------------------------------------------------------------
  // CDC apply (SURVEY.md §2.8) — the distinctive operator
  // -------------------------------------------------------------------------

  /** Apply one CDC batch. `changes` carries the table's columns plus:
    *   - `__op`: 'I' | 'U' | 'D' (UPDATE is delete+insert at the columnar
    *     layer, as in the reference — SURVEY.md §3.2 step 3);
    *   - optional `__seq`: intra-batch order; the last op per key wins
    *     (so I→U→D of one key within a batch nets to absent).
    *
    * Execution shape (the part that must survive 100 TB), in as few Spark
    * jobs as it can — per-job overhead dominates a small batch's apply:
    *   1. the batch side — the last op per key, the key count and, for an
    *      int, long or date leading pk, its range — is found on the DRIVER
    *      when the batch folds to local rows (`Seq(...).toDF`,
    *      `createDataFrame` of rows) and its pk columns are int, long,
    *      date, timestamp, decimal or binary-collated string
    *      ([[localSide]]: no job, nothing cached);
    *      any other batch (a stream's micro-batch, a view's state ops) is
    *      pinned and ONE aggregate over it gives the same (2 jobs, plus one
    *      to broadcast the keys);
    *   2. manifest file skipping on that range → only files that can
    *      contain an affected key are rewritten;
    *   3. survivors = touched-file rows without the batch keys (a local
    *      batch: an IN-set filter for one pk column, else a broadcast
    *      anti-join of its key rows; in Spark: a broadcast anti-join; no
    *      table shuffle either way), unioned with the batch's final I/U
    *      images;
    *   4. the rewrite is range-clustered by cuts from the touched files'
    *      manifest ranges and the batch's ([[Mooncake.rangeCuts]]) when the
    *      layout is that integer leading pk; other layouts (another column,
    *      several columns, string keys) by repartitionByRange's sampling;
    *   5. new files written, untouched files carried over, one atomic
    *      manifest commit with commitVersion = flushVersion = `version`.
    * The rewrite is 2 jobs (its shuffle and the write), so a local batch
    * applies in 2 jobs (3 when its keys are broadcast) and one in Spark in
    * about 7.
    */
  def applyChanges(spark: SparkSession, name: String, changes: DataFrame,
      version: Long, watermarks: Map[String, Long] = Map.empty): Manifest = {
    ResourceCaps.enforce(spark)
    val dir = tableDir(name)
    val m = require_(Manifest.latest(dir), name)
    if (version <= m.commitVersion)
      throw new IllegalArgumentException(
        s"batch version $version not after commitVersion ${m.commitVersion}")
    val pk = m.pkColumns
    val dataCols = changes.columns.filterNot(c => c == "__op" || c == "__seq")

    // Schema evolution: a batch may APPEND columns (upstream ALTER TABLE
    // ADD COLUMN mid-stream) — the manifest schema widens and files
    // written before the column existed read back null-filled (see
    // readFiles). Column drops/renames would silently lose data and are
    // refused.
    val tableSchema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    val droppedCols = tableSchema.fieldNames.filterNot(dataCols.contains)
    if (droppedCols.nonEmpty)
      throw new UnsupportedOperationException(
        s"CDC batch for '$name' lacks table columns " +
          s"(${droppedCols.mkString(", ")}) — column drops are out of " +
          "this operator's scope")
    val addedCols = dataCols.filterNot(tableSchema.fieldNames.contains)

    // The batch side: the last op per key ([[Mooncake.lastOpOrder]]), the
    // final I/U images, the key count, the integer leading pk's range and
    // the exclusion of the batch keys from the touched files' rows.
    val order = Mooncake.lastOpOrder(changes)
    val keyed = changes.select((dataCols :+ "__op").toIndexedSeq.map(col) ++
      order.zipWithIndex.map { case (c, i) => c.as(s"__o$i") }: _*)
    val lead = pk.headOption.filter(c =>
      Seq(IntegerType, LongType, DateType).contains(changes.schema(c).dataType))
    val local = Some(keyed.queryExecution.optimizedPlan).collect {
      case l: LocalRelation if pk.forall(c => Mooncake.driverKey(l.schema(c).dataType)) => l
    }
    // A batch in Spark is pinned once: it feeds the batch aggregate, the
    // key side and the insert images, and recomputing the dedup window
    // per consumer would repeat the batch-side work. Released however the
    // apply ends.
    val pinned = Option.when(local.isEmpty)(
      Mooncake.lastOpPerKey(changes, pk).drop("__seq").persist())
    try {
      val (inserts, nKeys, keyRange, exclude) = local match {
        case Some(l) => localSide(spark, l, pk, dataCols.toSeq, lead)
        case None =>
          val lastOps = pinned.get
          // The one batch aggregate; the window leaves one row per pk
          // tuple, nulls included, so its row count is the key count.
          val stats = lastOps.agg(count(lit(1)), lead.toSeq.flatMap(c =>
            Seq(min(longView(lastOps, c)), max(longView(lastOps, c)))): _*).head()
          val nKeys = stats.getLong(0)
          // A bulk backfill replayed through this path can carry tens of
          // millions of keys — broadcasting that OOMs the driver, so past the
          // limit the anti-join shuffles, as it should at table size anyway.
          val keys = lastOps.select(pk.map(col): _*)
          val keySide =
            if (nKeys <= Mooncake.broadcastKeyLimit(spark)) broadcast(keys) else keys
          (lastOps.filter(col("__op") =!= "D").select(dataCols.map(col).toIndexedSeq: _*),
            nKeys, Option.when(lead.nonEmpty && !stats.isNullAt(1))(
              (stats.getLong(1), stats.getLong(2))),
            (df: DataFrame) => df.join(keySide, pk, "left_anti"))
      }

      // An EMPTY batch (a stream tick with nothing surviving upstream
      // filters) touches nothing — its null key range would otherwise
      // conservatively match every file and rewrite the whole table to
      // apply zero rows.
      val skippable = m.files.size > 1 && m.files.exists(_.minKey.isDefined)
      val (touched, untouched) =
        if (nKeys == 0) (Seq.empty[DataFile], m.files)
        else if (!skippable) (m.files, Seq.empty[DataFile])
        else m.files.partition { f =>
          (for { (lo, hi) <- keyRange; fLo <- f.minKey; fHi <- f.maxKey }
            yield fLo <= hi && fHi >= lo).getOrElse(true)
        }

      val survivors =
        if (touched.isEmpty) None
        else Some(exclude(readFiles(spark, m, touched)))
      // allowMissingColumns null-fills the added columns on the survivor
      // side; the explicit select pins the widened column order (table
      // schema, then additions in batch order).
      val newRows = survivors
        .map(_.unionByName(inserts, allowMissingColumns = addedCols.nonEmpty))
        .getOrElse(inserts)
        .select((tableSchema.fieldNames ++ addedCols).map(col).toIndexedSeq: _*)

      // Re-cluster the rewritten region: output file count is sized by the
      // touched bytes (exact, from the manifest — no optimizer guessing)
      // PLUS the insert side's optimizer estimate when one is known — a
      // bulk insert-only batch (backfill replay, initial corpus append)
      // touches zero files, and sizing from touched bytes alone would
      // funnel the whole batch through ONE task into ONE oversized file.
      // A normal small CDC batch keeps its exact touched-bytes sizing
      // (its insert estimate rounds to zero extra files).
      val rewriteBytes = touched.map(_.bytes).sum
      val insertEst = inserts.queryExecution.optimizedPlan.stats.sizeInBytes
      val insertBytes =
        if (insertEst < BigInt(Long.MaxValue) / 10000) insertEst.toLong else 0L
      val targetFB = spark.conf.getOption("spark.graft.targetFileBytes")
        .map(_.toLong).getOrElse(targetFileBytes)
      val nFiles =
        (((rewriteBytes + insertBytes) / targetFB) min 10000L).toInt + 1
      val ccols = m.clusterColumns.getOrElse(pk)
      val clustered =
        if (ccols.isEmpty) newRows
        // single file: plain shuffle — range partitioning would add a
        // sampling pass over the anti-join for bounds it doesn't need;
        // the write-side in-partition sort already clusters the file
        else if (nFiles == 1) newRows.repartition(1)
        else (lead, keyRange) match {
          case (Some(c), Some(batch))
              if ccols == Seq(c) && touched.forall(_.rangeOf(c, pk).isDefined) =>
            val spans =
              touched.map(f => (f.rangeOf(c, pk).get, f.rows)) :+ (batch, nKeys)
            // partition = count of cuts below the key, nulls first; a typed array
            // literal is a reference object in generated code: batches share classes
            val at = ColumnBridge.column(ArrayBinarySearch(ColumnBridge.expression(
              typedLit(Mooncake.rangeCuts(spans, nFiles))),
              ColumnBridge.expression(longView(newRows, c))))
            newRows.repartitionById(nFiles,
              coalesce(when(at < 0, -at - 1).otherwise(at), lit(0)))
          case _ => newRows.repartitionByRange(nFiles, ccols.map(col): _*)
        }

      writeVersion(spark, name, clustered, pk, version,
        carryOver = untouched, bloomColumns = m.bloomColumns.getOrElse(Nil),
        clusterColumns = m.clusterColumns, addWatermarks = watermarks)
    } finally pinned.foreach(_.unpersist(blocking = false))
  }

  /** The batch side of [[applyChanges]] for a batch that folds to rows on
    * the driver, with no Spark job: the same last op per key as the window
    * (Catalyst's ordering on the folded order columns, one group per pk
    * tuple, nulls included), the final I/U images as a local relation, the
    * key count, the range of `lead` under [[longView]]'s rule, and the key
    * exclusion: `pk IS NULL OR pk NOT IN set` for a single-column pk of up
    * to [[RuntimeFilter.MaxInSet]] keys (an integer or date pk compares
    * as long, so the set is a reference object in generated code, not a
    * per-batch switch), else an anti-join of a local key frame, broadcast
    * up to [[Mooncake.broadcastKeyLimit]] keys as on the Spark path. */
  private def localSide(spark: SparkSession, l: LocalRelation, pk: Seq[String],
      dataCols: Seq[String], lead: Option[String])
      : (DataFrame, Long, Option[(Long, Long)], DataFrame => DataFrame) = {
    val out = l.output
    def at(c: String): Int = out.indexWhere(_.name == c)
    val order = new InterpretedOrdering((dataCols.size + 1 until out.size).map(i =>
      SortOrder(BoundReference(i, out(i).dataType, out(i).nullable), Descending)))
    val last = scala.collection.mutable.HashMap.empty[Seq[Any], InternalRow]
    for (r <- l.data; k = pk.map(c => r.get(at(c), out(at(c)).dataType)))
      if (last.get(k).forall(order.compare(r, _) < 0)) last(k) = r
    val rows = last.values.toSeq
    def frame(rs: Seq[InternalRow], cols: Seq[String]): DataFrame =
      ColumnBridge.frame(spark, l.copy(data = rs).newInstance()).select(cols.map(col): _*)
    val op = at("__op")
    val inserts = frame(rows.filter(r =>
      !r.isNullAt(op) && r.getUTF8String(op).toString != "D"), dataCols)
    val longs = lead.map { c =>
      val i = at(c)
      rows.filterNot(_.isNullAt(i)).map(r =>
        if (out(i).dataType == LongType) r.getLong(i) else r.getInt(i).toLong)
    }
    val exclude: DataFrame => DataFrame = pk match {
      case Seq(c) if rows.size <= RuntimeFilter.MaxInSet =>
        val set: Set[Any] = longs.getOrElse(
          rows.map(_.get(at(c), out(at(c)).dataType)).filter(_ != null)).toSet
        df => if (set.isEmpty) df else df.filter(col(c).isNull || !ColumnBridge.column(
          InSet(ColumnBridge.expression(if (lead.isDefined) longView(df, c) else col(c)), set)))
      case _ =>
        val keys = frame(rows, pk)
        val side = if (rows.size <= Mooncake.broadcastKeyLimit(spark)) broadcast(keys) else keys
        df => df.join(side, pk, "left_anti")
    }
    (inserts, rows.size.toLong, longs.filter(_.nonEmpty).map(ks => (ks.min, ks.max)), exclude)
  }

  // -------------------------------------------------------------------------
  // snapshots, file load, compaction
  // -------------------------------------------------------------------------

  /** Force a durable named snapshot of the current state
    * (≈ `mooncake.create_snapshot`, `src/functions.rs:9-22`). */
  def createSnapshot(name: String): Long = {
    val m = currentManifest(name)
    val snapDir = Paths.get(tableDir(name), "snapshots")
    Files.createDirectories(snapDir)
    Files.write(snapDir.resolve(f"v${m.version}%016d.json"),
      Manifest.toJson(m).getBytes("UTF-8"))
    m.version
  }

  /** Export the mirror's current snapshot as an Iceberg table — the
    * reference's mirrors ARE Iceberg (`iceberg_warehouse_location`,
    * `src/functions.rs:89,98`); here the versioned JSON manifest is the
    * primary format and this materializes the interop copy any Iceberg
    * reader can scan. Returns the Iceberg snapshot id. */
  def exportIceberg(spark: SparkSession, name: String,
      destDir: String): Long =
    IcebergCompat.write(read(spark, name), destDir, mode = "overwrite")

  /** Export the mirror's current snapshot as a Delta table (same
    * interop role as [[exportIceberg]] for Delta-speaking consumers).
    * Returns the Delta version. */
  def exportDelta(spark: SparkSession, name: String,
      destDir: String): Long =
    DeltaCompat.write(read(spark, name), destDir, mode = "overwrite")

  /** Bulk-append external files (≈ `mooncake.load_files`,
    * `src/functions.rs:118-130`; formats per CHANGELOG.md:24, plus ORC —
    * Spark-native, common in Hive-era lakes). Columns are aligned by
    * name and cast to the table schema. */
  def loadFiles(spark: SparkSession, name: String, files: Seq[String],
      format: String = "parquet"): Manifest = {
    val m = currentManifest(name)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    val raw = format match {
      case "parquet" => spark.read.parquet(files: _*)
      case "csv" => spark.read.option("header", "true").schema(schema).csv(files: _*)
      case "json" => spark.read.schema(schema).json(files: _*)
      case "orc" => spark.read.orc(files: _*)
      case other => throw new IllegalArgumentException(s"format $other")
    }
    val aligned = raw.select(schema.fields.map(f =>
      col(f.name).cast(f.dataType)).toIndexedSeq: _*)
    writeVersion(spark, name, aligned, m.pkColumns, m.version + 1,
      carryOver = m.files, bloomColumns = m.bloomColumns.getOrElse(Nil),
      clusterColumns = m.clusterColumns)
  }

  /** Explicit compaction (≈ `mooncake.optimize_table`,
    * `src/functions.rs:132-144`; no vacuum exists, `src/table.rs:421-428`).
    *   - "full": rewrite the whole table range-clustered by pk → restores
    *     tight per-file key ranges, maximizing future file skipping;
    *   - "data": bin-pack only files smaller than the target size,
    *     leaving well-sized files untouched (the 100 TB-friendly mode —
    *     cost proportional to fragmentation, not table size);
    *   - "zorder:c1,c2[,c3,c4]": re-cluster on the interleaved z-value
    *     so range scans prune on any listed dimension;
    *   - "index" / "index:c1,c2": rebuild parquet bloom filters and
    *     footer stats, optionally rotating the declared bloom columns
    *     (blooms are baked into data files, so rotation needs the
    *     rewrite). */
  def optimizeTable(spark: SparkSession, name: String, mode: String = "data",
      targetFileBytes: Long = 128L * 1024 * 1024): Manifest = {
    ResourceCaps.enforce(spark)
    val m = currentManifest(name)
    mode match {
      case "full" =>
        val totalBytes = m.files.map(_.bytes).sum
        val nFiles = math.max(1, (totalBytes / targetFileBytes).toInt)
        val df = readFiles(spark, m, m.files)
        val ccols = m.clusterColumns.getOrElse(m.pkColumns)
        val clustered =
          if (ccols.nonEmpty) df.repartitionByRange(nFiles, ccols.map(col): _*)
          else df.repartition(nFiles)
        writeVersion(spark, name, clustered, m.pkColumns, m.version + 1,
          carryOver = Seq.empty, alreadyPartitioned = true,
          bloomColumns = m.bloomColumns.getOrElse(Nil),
          clusterColumns = m.clusterColumns)
      case "data" =>
        val (small, big) = m.files.partition(_.bytes < targetFileBytes / 2)
        if (small.size <= 1) m // nothing to compact
        else {
          val packed = readFiles(spark, m, small)
            .coalesce(math.max(1, (small.map(_.bytes).sum / targetFileBytes).toInt))
          writeVersion(spark, name, packed, m.pkColumns, m.version + 1,
            carryOver = big, alreadyPartitioned = true,
            bloomColumns = m.bloomColumns.getOrElse(Nil),
            clusterColumns = m.clusterColumns)
        }
      case z if z.startsWith("zorder:") =>
        // Z-order re-clustering on 2-4 non-negative integer columns:
        // interleave their bits and range-partition + sort on the z
        // value, so every file owns a hyper-rectangle of the column
        // space — range scans on ANY dimension then prune to
        // ~files^((k-1)/k) via the per-column footer stats, where
        // linear clustering prunes only its one leading dimension.
        val cols = z.stripPrefix("zorder:").split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
        val frame = readFiles(spark, m, m.files)
        Mooncake.validateZorderColumns(frame.schema, cols, name)
        val totalBytes = m.files.map(_.bytes).sum
        val nFiles = Mooncake.fileBudget(totalBytes, targetFileBytes)
        val clustered = Mooncake.zCluster(frame, cols, nFiles)
        writeVersion(spark, name, clustered, m.pkColumns, m.version + 1,
          carryOver = Seq.empty, alreadyPartitioned = true,
          bloomColumns = m.bloomColumns.getOrElse(Nil),
          clusterColumns = m.clusterColumns)
      case idx if idx == "index" || idx.startsWith("index:") =>
        // Index maintenance — the reference's remaining optimize-mode
        // class (`src/functions.rs:132-144`): rebuild the parquet bloom
        // filters and refresh footer stats. "index" rebuilds under the
        // currently-declared bloom columns; "index:c1,c2" ROTATES the
        // declaration first — the one operation a bare rewrite can't
        // express, since blooms are baked into data files at write
        // time. The rewrite keeps the file count and re-clusters by pk
        // range (same recipe as "full"), so pk locality and per-file
        // stats stay tight after the rebuild.
        val newBlooms =
          if (idx == "index") m.bloomColumns.getOrElse(Nil)
          else idx.stripPrefix("index:").split(",").map(_.trim)
            .filter(_.nonEmpty).toSeq
        val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
        val missing = newBlooms.filterNot(schema.fieldNames.contains)
        if (missing.nonEmpty)
          throw new IllegalArgumentException(
            s"$name: bloom column(s) ${missing.mkString(", ")} not in schema")
        val nFiles = math.max(1, m.files.size)
        val df = readFiles(spark, m, m.files)
        val idxCcols = m.clusterColumns.getOrElse(m.pkColumns)
        val rebuilt =
          if (idxCcols.nonEmpty)
            df.repartitionByRange(nFiles, idxCcols.map(col): _*)
          else df.repartition(nFiles)
        writeVersion(spark, name, rebuilt, m.pkColumns, m.version + 1,
          carryOver = Seq.empty, alreadyPartitioned = true,
          bloomColumns = newBlooms,
          clusterColumns = m.clusterColumns)
      case other =>
        throw new IllegalArgumentException(s"unknown optimize mode '$other'")
    }
  }


  // -------------------------------------------------------------------------
  // write path
  // -------------------------------------------------------------------------

  /** Write `df` as the data files of manifest `version` (plus carried-over
    * files) and commit atomically. Per-file bounds come from the parquet
    * FOOTERS ([[FooterStats]]) — metadata-only, no second data scan (the
    * same way Iceberg collects file stats at commit time). */
  private def writeVersion(spark: SparkSession, name: String, df: DataFrame,
      pk: Seq[String], version: Long, carryOver: Seq[DataFile],
      alreadyPartitioned: Boolean = false,
      bloomColumns: Seq[String] = Seq.empty,
      clusterColumns: Option[Seq[String]] = None,
      addWatermarks: Map[String, Long] = Map.empty,
      tableConfig: Option[Map[String, String]] = None): Manifest = {
    val dir = tableDir(name)
    // Application watermarks survive EVERY rewrite (CDC apply, load,
    // optimize/index rebuilds) — an applier's exactly-once frontier must
    // not vanish under maintenance, exactly as Delta checkpoints carry
    // txn actions. New entries override same-appId old ones.
    val prior = Manifest.latest(dir)
    val appWm = prior.flatMap(_.appWatermarks)
      .getOrElse(Map.empty) ++ addWatermarks
    // table_config is create-time state: every later rewrite (CDC,
    // load, optimize) preserves the existing value verbatim
    val cfg = tableConfig.orElse(prior.flatMap(_.tableConfig))
    val out = dataDir(name, version)
    val sortCols = clusterColumns.getOrElse(pk)
    val toWrite =
      if (alreadyPartitioned || sortCols.isEmpty) df
      else df.sortWithinPartitions(sortCols.map(col): _*)
    // Parquet-native bloom filters on the declared columns: built by the
    // writer per row group, stored after the data pages, probed at point-
    // lookup time (readPoint) without touching data pages. Only columns
    // the schema actually has — a stale declaration must not fail writes.
    val writer = bloomColumns.filter(df.columns.contains)
      .foldLeft(toWrite.write.mode("errorifexists")) { (w, c) =>
        w.option(s"parquet.bloom.filter.enabled#$c", "true")
      }
    writer.parquet(out.toString)

    val written = Manifest.withListing(out)(_.filter(
      _.getFileName.toString.endsWith(".parquet")).toSeq).sortBy(_.toString)
    val newFiles = Manifest.parFiles(written) { p =>
      DataFile.fromStats(p.toString, Files.size(p), pk.headOption,
        FooterStats.read(p))
    }.filter(_.rows > 0)

    val manifest = Manifest(
      table = Identifier.parse(name).qualified,
      version = version,
      commitVersion = version,
      flushVersion = version,
      schemaDdl = df.schema.toDDL,
      pkColumns = pk,
      files = carryOver ++ newFiles,
      bloomColumns = if (bloomColumns.isEmpty) None else Some(bloomColumns),
      clusterColumns = clusterColumns,
      appWatermarks = if (appWm.isEmpty) None else Some(appWm),
      tableConfig = cfg)
    Manifest.commit(dir, manifest)
    manifest
  }
}

object Mooncake {
  /** Default warehouse under the working dir (overridable per instance). */
  def apply(warehouse: String = "target/mooncake-warehouse"): Mooncake =
    new Mooncake(warehouse)

  /** `spark.graft.cdc.broadcastKeyLimit`: the key count up to which a CDC
    * apply or a join view refresh broadcasts. */
  private[lake] def broadcastKeyLimit(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.cdc.broadcastKeyLimit")
      .map(_.toLong).getOrElse(4000000L)

  /** The multiset difference of two frames as change rows: each row of
    * `after` beyond its count in `before` tagged 'insert', each row of
    * `before` beyond its count in `after` tagged 'delete' — the same rows
    * as two `exceptAll`s, in ONE signed aggregate (+1 per `after` row, -1
    * per `before` row, grouped by every column, a nonzero sum replicated
    * |sum| times). Across a schema evolution the two sides disagree on
    * columns; both lift to the union schema with typed nulls ("column did
    * not exist" ≡ null, the same lift readFiles applies to old files). */
  private[lake] def changesBetween(before: DataFrame, after: DataFrame): DataFrame = {
    val fields = after.schema.fields ++
      before.schema.fields.filterNot(f => after.columns.contains(f.name))
    def signed(df: DataFrame, w: Long): DataFrame =
      df.select(fields.map(f =>
        if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)).toIndexedSeq :+ lit(w).as("_change"): _*)
    signed(after, 1L).unionByName(signed(before, -1L))
      .groupBy(fields.map(f => col(f.name)).toIndexedSeq: _*)
      .agg(sum("_change").as("_change"))
      .filter(col("_change") =!= 0)
      .withColumn("_change", explode(array_repeat(
        when(col("_change") > 0, "insert").otherwise("delete"),
        abs(col("_change")).cast("int"))))
  }

  /** The last-op-per-key rule of a CDC batch, as the descending sort
    * columns whose first row per key wins: `__seq` (nulls last) when the
    * feed stamps one, else arrival order (monotonically_increasing_id:
    * the later row of a local batch). `__seq` ties (a watermark coarser
    * than the feed's op rate) break on a content fingerprint over the data
    * columns in batch order, then `__op` — arbitrary but deterministic, so
    * a replayed batch converges to the SAME final image; to_json covers
    * map columns xxhash64-on-struct cannot. The mirror apply (in Spark or
    * on the driver) and the Delta/Iceberg sinks all use this one rule. */
  private[graft] def lastOpOrder(batch: DataFrame): Seq[Column] =
    if (!batch.columns.contains("__seq")) Seq(monotonically_increasing_id())
    else Seq(col("__seq"), xxhash64(to_json(struct((batch.columns.filterNot(c =>
      c == "__op" || c == "__seq") :+ "__op").toIndexedSeq.map(col): _*))))

  /** The last op per key of `batch` under [[lastOpOrder]], in Spark (a
    * window); the batch's columns, `__seq` included, are kept. */
  private[graft] def lastOpPerKey(batch: DataFrame, pk: Seq[String]): DataFrame =
    batch.withColumn("__rn", row_number().over(Window.partitionBy(pk.map(col): _*)
      .orderBy(lastOpOrder(batch).map(_.desc): _*)))
      .filter(col("__rn") === 1).drop("__rn")

  /** Key types whose driver-side grouping (value equality of the internal
    * row values) is Spark's: not float or double (NaN, -0.0 normalise),
    * not a collated string. */
  private def driverKey(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case s: StringType => s.collationId == 0 // UTF8_BINARY
    case _ => false
  }

  /** Up to `n - 1` ascending cuts splitting `spans` — key ranges [lo, hi],
    * each with its rows spread evenly — into `n` parts of near-equal rows.
    * Keys sit in doubles, so `hi - lo + 1` cannot overflow at the ends of
    * Long, and the final toLong saturates. */
  private[lake] def rangeCuts(spans: Seq[((Long, Long), Long)],
      n: Int): Array[Long] = {
    // the row density steps up at each span's lo and down just past its hi
    val steps = spans.filter(_._2 > 0).flatMap { case ((lo, hi), rows) =>
      val d = rows / (hi.toDouble - lo.toDouble + 1)
      Seq(lo.toDouble -> d, (hi.toDouble + 1) -> -d)
    }.sortBy(_._1)
    val total = spans.map(_._2).filter(_ > 0).sum.toDouble
    val cuts = Array.newBuilder[Long]
    var (done, density, j) = (0.0, 0.0, 1)
    steps.zip(steps.drop(1)).foreach { case ((a, step), (b, _)) =>
      density += step
      while (j < n && density > 0 && done + density * (b - a) >= total * j / n) {
        cuts += (a + (total * j / n - done) / density).toLong
        j += 1
      }
      done += density * (b - a)
    }
    cuts.result().distinct
  }

  /** Manifest file skipping on extracted range conjuncts — one
    * implementation behind [[Mooncake.read]]'s Column prune and the SQL
    * catalog's pushed-filter prune ([[MooncakeCatalog]]), so the two
    * entry points can never drift. Integer and date conjuncts test the
    * integer stats (dates are epoch days on both sides), string
    * conjuncts the truncated string stats; leading-pk conjuncts fall
    * back to the file's pk range; columns without stats keep the file
    * (type-mismatched pairs fall out of [[BoundsPruning.cmp]] as
    * incomparable → keep). */
  private[lake] def pruneFiles(m: Manifest,
      cs: Seq[(String, String, Any)]): Seq[DataFile] =
    if (cs.isEmpty) m.files
    else m.files.filter { f =>
      cs.forall { case (n, op, v) =>
        val range: Option[(Any, Any)] = f.rangeOf(n, m.pkColumns)
          .map(t => (Long.box(t._1): Any, Long.box(t._2): Any))
          .orElse(f.strRangeOf(n).map(t => (t._1: Any, t._2: Any)))
        range.forall { case (lo, hi) =>
          BoundsPruning.keeps(Some(lo), Some(hi), op, v)
        }
      }
    }

  /** Code-point budget for string bounds kept in the manifest. */
  private val MaxStrBound = 64

  /** Manifest-safe LOWER bound of a string column min: a plain prefix —
    * in unsigned-UTF-8 order a prefix never exceeds the original. */
  private[lake] def truncLower(s: String): String =
    if (s.codePointCount(0, s.length) <= MaxStrBound) s
    else s.substring(0, s.offsetByCodePoints(0, MaxStrBound))

  /** Manifest-safe UPPER bound of a string column max: the full string
    * when short; otherwise the kept prefix with its LAST code point
    * incremented (UTF-8 encoding is order-preserving and prefix-free
    * across distinct code points, so the result strictly exceeds every
    * string under the original prefix). Surrogate-range and overflow
    * code points step over / carry left; an all-0x10FFFF prefix cannot
    * be bounded → None, and the column simply doesn't prune. */
  private[lake] def truncUpper(s: String): Option[String] =
    if (s.codePointCount(0, s.length) <= MaxStrBound) Some(s)
    else {
      val cps = s.codePoints().limit(MaxStrBound).toArray
      var i = cps.length - 1
      while (i >= 0 && cps(i) >= 0x10FFFF) i -= 1
      if (i < 0) None
      else {
        val bumped = cps(i) + 1 match {
          case c if c >= 0xD800 && c <= 0xDFFF => 0xE000 // skip surrogates
          case c => c
        }
        Some(new String(cps.take(i) :+ bumped, 0, i + 1))
      }
    }

  /** Bit-interleaved z-value of k integer columns (2 ≤ k ≤ 4). Each
    * column contributes `62 / k` bits (k=2 → 31, k=3 → 20, k=4 → 15)
    * so the interleave always fits one positive long; values past the
    * per-column budget SATURATE at the top bucket (dropping high bits
    * instead would wrap far-apart values onto the same z-prefix) and
    * negatives clamp to 0 — clustering quality only, never
    * correctness, since pruning reads the real footer stats. Pure
    * codegen'd bit arithmetic — no UDF. Shared by the mirror's zorder
    * compaction, Delta's OPTIMIZE ZORDER and Iceberg's compact. */
  private[lake] def zValue(cols: Seq[Column]): Column = {
    val k = cols.length
    require(k >= 2 && k <= 4, s"z-order interleave takes 2-4 columns, got $k")
    val bits = 62 / k
    val cap = (1L << bits) - 1
    val clamped = cols.map(c => least(greatest(c, lit(0L)), lit(cap)))
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      clamped.zipWithIndex.foldLeft(acc) { case (a, (c, j)) =>
        // column j's bit i lands at position i*k + (k-1-j): round-robin
        // interleave, first column most significant within each round
        // (k=2 reproduces the historical (2i+1, 2i) layout exactly)
        a.bitwiseOR(shiftleft(shiftright(c, i).bitwiseAND(lit(1L)),
          i * k + (k - 1 - j)))
      }
    }
  }

  /** The ONE z-clustering recipe the mirror's zorder compaction,
    * Delta's OPTIMIZE ZORDER and Iceberg's compact use (so the three
    * can never drift): range-partition + sort on (`prefixCols`..., z)
    * and drop the helper column. `prefixCols` (hive partition columns)
    * keep each partition's rows contiguous, so z-order holds WITHIN
    * every partition's files after the writer re-splits by dir. */
  private[lake] def zCluster(df: org.apache.spark.sql.DataFrame,
      zCols: Seq[String], nOut: Int,
      prefixCols: Seq[String] = Seq.empty): org.apache.spark.sql.DataFrame = {
    val keys = prefixCols.map(col) :+ col("__z")
    df.withColumn("__z", zValue(zCols.map(c => col(c).cast("long"))))
      .repartitionByRange(nOut, keys: _*)
      .sortWithinPartitions(keys: _*)
      .drop("__z")
  }

  /** The ONE z-order column check (arity, existence, integer type) for
    * every z-clustering caller — a string column would silently cast
    * to null and degenerate the clustering to one dimension. */
  private[lake] def validateZorderColumns(
      schema: org.apache.spark.sql.types.StructType,
      cols: Seq[String], context: String): Unit = {
    require(cols.length >= 2 && cols.length <= 4,
      s"zorderBy takes 2-4 columns, got (${cols.mkString(", ")})")
    require(cols.distinct.length == cols.length,
      s"zorderBy columns must be distinct, got (${cols.mkString(", ")})")
    cols.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"$context has no column '$c' to z-order on"))
      f.dataType match {
        case org.apache.spark.sql.types.IntegerType |
          org.apache.spark.sql.types.LongType |
          org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.ByteType => ()
        case other => throw new IllegalArgumentException(
          s"z-order needs integer columns; '$c' is $other")
      }
    }
  }

  /** Output-file budget for a rewrite of `totalBytes`: ceil division,
    * clamped to [1, 1e6] so a tiny target on a huge table can never
    * overflow Int or ask for an absurd partition count. */
  private[lake] def fileBudget(totalBytes: Long, targetBytes: Long): Int =
    if (targetBytes <= 0 || targetBytes >= totalBytes) 1
    else math.min(1000000L,
      totalBytes / targetBytes +
        (if (totalBytes % targetBytes == 0) 0L else 1L)).toInt
}

/** Schema-qualified identifier parsing, same lexical rules the reference
  * applies (`/root/reference/src/functions.rs:146-163`): unquoted idents
  * `[A-Za-z_][A-Za-z0-9_$]*` are lowercased; `"quoted"` idents preserve
  * case with `""` as an escaped quote; default schema is `main`. */
case class Identifier(schema: String, table: String) {
  def qualified: String = s"$schema.$table"
  def fileName: String = s"$schema.$table".replaceAll("[^A-Za-z0-9._-]", "_")
}

/** Percent-encoding for warehouse/URI path segments — the reference
  * encodes non-unreserved bytes when building S3-style URIs
  * (`/root/reference/src/functions.rs:165-196`); same contract here:
  * RFC 3986 unreserved characters pass through, everything else becomes
  * %XX (uppercase hex) over the UTF-8 bytes. */
object PathCodec {
  private def unreserved(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
      (c >= '0' && c <= '9') || c == '-' || c == '.' || c == '_' || c == '~'

  def percentEncode(s: String): String = {
    val sb = new StringBuilder(s.length)
    s.getBytes("UTF-8").foreach { b =>
      val c = (b & 0xff).toChar
      if (unreserved(c)) sb.append(c)
      else sb.append(f"%%${b & 0xff}%02X")
    }
    sb.toString
  }

  def percentDecode(s: String): String = {
    val out = new java.io.ByteArrayOutputStream(s.length)
    val lit = new StringBuilder
    // literal runs are flushed as UTF-8 BYTES (a char-at-a-time write
    // would truncate non-ASCII and split surrogate pairs); a '%' not
    // followed by two hex digits passes through as a literal instead of
    // crashing on third-party paths like "100%x.parquet"
    def flush(): Unit = if (lit.nonEmpty) {
      out.write(lit.toString.getBytes("UTF-8")); lit.clear()
    }
    def hex(c: Char): Boolean =
      (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          hex(s.charAt(i + 1)) && hex(s.charAt(i + 2))) {
        flush()
        out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
        i += 3
      } else { lit.append(c); i += 1 }
    }
    flush()
    new String(out.toByteArray, "UTF-8")
  }

  /** Spark's hive-layout staging escapes partition values in dir names
    * with the same %XX scheme as this codec, and spells null as the
    * hive default sentinel — shared by the Delta and Iceberg writers. */
  val HiveNullPartition = "__HIVE_DEFAULT_PARTITION__"

  /** Parse a `col=value` partition dir segment to (column, value);
    * None = the hive null sentinel. */
  def parseHiveSegment(seg: String): (String, Option[String]) = {
    val eq = seg.indexOf('=')
    require(eq > 0, s"not a partition dir segment: $seg")
    val v = seg.substring(eq + 1)
    (percentDecode(seg.substring(0, eq)),
      if (v == HiveNullPartition) None else Some(percentDecode(v)))
  }
}

object Identifier {
  private val Unquoted = "([A-Za-z_][A-Za-z0-9_$]*)"
  private val Quoted = "\"((?:[^\"]|\"\")+)\""
  private val Part = s"(?:$Unquoted|$Quoted)"
  private val Full = s"^$Part(?:\\.$Part)?$$".r

  /** Schema a bare table name resolves against: the reference uses the
    * session's `current_schema` (`src/functions.rs:150-152`), not a
    * constant. The Spark analog is the active session's current database
    * (`USE <db>`), with Spark's built-in "default" database mapped to
    * this catalog's default schema name "main" (the reference's own
    * catalog default) — so an untouched session resolves exactly as the
    * reference does, and a session that switched schema is followed. */
  private def currentSchema: String =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .flatMap(s => scala.util.Try(s.catalog.currentDatabase).toOption)
      .filter(_ != "default")
      .getOrElse("main")

  def parse(s: String): Identifier = parse(s, currentSchema)

  def parse(s: String, defaultSchema: String): Identifier = s.trim match {
    case Full(u1, q1, u2, q2) =>
      def norm(u: String, q: String): String =
        if (u != null) u.toLowerCase else q.replace("\"\"", "\"")
      val first = norm(u1, q1)
      if (u2 == null && q2 == null) Identifier(defaultSchema, first)
      else Identifier(first, norm(u2, q2))
    case other =>
      throw new IllegalArgumentException(s"invalid table identifier: '$other'")
  }
}
