package graft.lake

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.LocalDate
import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession, functions}
import org.apache.spark.sql.types.{DataType, DateType, StructType, TimestampNTZType,
  TimestampType}

/** Minimal Delta Lake log interop — the reference reads Delta tables and
  * writes them (`/root/reference/CHANGELOG.md:25,27`); this container has
  * no Delta jars, but the Delta transaction log is just newline-delimited
  * JSON actions over parquet files, and Spark's own `StructType.json` IS
  * Delta's `schemaString` format. So the interop layer speaks the
  * protocol directly:
  *
  *   - `read` replays `_delta_log/%020d.json` in version order
  *     (add/remove actions → live file set, latest metaData → schema)
  *     and scans the surviving parquet with the declared schema.
  *   - `write` produces a log any Delta reader at protocol (1,2) accepts:
  *     parquet part files at the table root + a commit of add actions
  *     (plus protocol/metaData on the first commit, remove actions on
  *     overwrite).
  *
  * Scope: reader versions 1-3. Deletion vectors (reader feature
  * `deletionVectors`) are applied on read — each add's DV is the set of
  * deleted row indexes of its file, matched against the scan's
  * `_metadata.row_index` (never by rewriting files) — and written by
  * [[delete]]. Column mapping (`columnMapping`, modes `name`/`id`) is
  * handled by scanning with the physical schema and casting back to
  * logical names; [[write]] can create `name`-mapped tables. Reader
  * features beyond these two are refused rather than mis-read.
  * Checkpoints ARE supported: replay starts
  * from the `_last_checkpoint`-named parquet checkpoint (single or
  * multi-part) and applies only newer JSON commits — real-world Delta
  * tables checkpoint every 10 commits and vacuum old JSON, so a
  * JSON-only reader cannot read any table older than a day.
  * Partitioned tables are supported on both sides: reads take partition
  * values from `add.partitionValues` (never parsed from paths) and
  * attach them as typed literal columns per file group; writes stage
  * with Spark's hive layout and emit the partition tuple of every file
  * into its add action.
  * At 100 TB the log replay is manifest-sized work, exactly like the
  * mooncake manifest; the data scan is the same pruned parquet scan.
  */
object DeltaCompat {

  private val mapper = new ObjectMapper()

  private def logDir(table: String): Path = Paths.get(table, "_delta_log")

  private def versionFile(table: String, v: Long): Path =
    logDir(table).resolve(f"$v%020d.json")

  /** All committed versions, ascending. */
  def versions(table: String): Seq[Long] = {
    val dir = logDir(table)
    if (!Files.isDirectory(dir)) return Seq.empty
    Manifest.withListing(dir)(_.map(_.getFileName.toString)
      .filter(_.matches("\\d{20}\\.json"))
      .map(_.stripSuffix(".json").toLong).toSeq).sorted
  }

  private case class AddFile(partitionValues: Map[String, Option[String]],
      size: Long = 0L,
      dv: Option[DeletionVectors.Descriptor] = None,
      stats: Option[String] = None) // raw add.stats JSON, parsed on prune

  private case class LogState(schemaJson: Option[String],
      partitionColumns: Seq[String],
      files: Map[String, AddFile], // decoded path -> add info
      columnMappingMode: String = "none",
      dvEnabled: Boolean = false,
      config: Map[String, String] = Map.empty,
      metaId: Option[String] = None,
      txns: Map[String, Long] = Map.empty) { // appId -> last version
    def cdfEnabled: Boolean =
      config.get("delta.enableChangeDataFeed").contains("true")
  }

  /** Reader features this layer implements; anything else in a
    * minReaderVersion-3 protocol action is refused loudly (the spec's
    * required behavior for unknown reader features). */
  private val SupportedReaderFeatures =
    Set("deletionVectors", "columnMapping", "v2Checkpoint")

  private def checkProtocol(table: String, mrv: Int,
      readerFeatures: Set[String]): Unit = {
    if (mrv == 3) {
      val unknown = readerFeatures -- SupportedReaderFeatures
      if (unknown.nonEmpty) throw new UnsupportedOperationException(
        s"$table requires unsupported Delta reader features " +
          unknown.toSeq.sorted.mkString("[", ", ", "]"))
    } else if (mrv > 3) throw new UnsupportedOperationException(
      s"$table requires Delta reader version $mrv — up to 3 supported")
    // mrv 2 = column mapping capable; mode comes from table metadata
  }

  /** `_last_checkpoint` content: the checkpoint version and (for
    * multi-part checkpoints) the part count. */
  private def lastCheckpoint(table: String): Option[(Long, Int)] = {
    val f = logDir(table).resolve("_last_checkpoint")
    if (!Files.exists(f)) None
    else {
      val node = mapper.readTree(Files.readString(f))
      Some((node.get("version").asLong(), node.path("parts").asInt(1)))
    }
  }

  private def checkpointFiles(table: String, v: Long, parts: Int): Seq[Path] =
    if (parts <= 1) {
      val classic = logDir(table).resolve(f"$v%020d.checkpoint.parquet")
      if (Files.exists(classic)) Seq(classic)
      else {
        // V2 checkpoints are UUID-named: n.checkpoint.<uuid>.parquet
        // (the newer writers' default once the v2Checkpoint feature is
        // on). _last_checkpoint carries only the version — resolve by
        // listing. Several UUID files for one version are equivalent
        // per spec; take the lexicographically last deterministically.
        val re = (f"$v%020d" +
          "\\.checkpoint\\.[0-9a-fA-F-]{36}\\.parquet").r
        val named = Manifest.withListing(logDir(table))(_.filter(p =>
          re.pattern.matcher(p.getFileName.toString).matches()).toSeq)
          .sortBy(_.getFileName.toString)
        if (named.nonEmpty) Seq(named.last) else Seq(classic)
      }
    }
    else (1 to parts).map(p => logDir(table)
      .resolve(f"$v%020d.checkpoint.$p%010d.$parts%010d.parquet"))

  /** Sidecar files a V2 checkpoint references ({"sidecar":{...}} rows):
    * resolved under `_delta_log/_sidecars/`, where the spec places
    * them. Empty for classic checkpoints (no sidecar column). */
  private def sidecarFiles(table: String,
      df: DataFrame): Seq[Path] =
    if (!df.schema.fieldNames.contains("sidecar")) Seq.empty
    else df.filter(functions.col("sidecar").isNotNull)
      .select("sidecar.path").collect()
      .flatMap(r => Option(r.getString(0))).toSeq
      .map(p => logDir(table).resolve("_sidecars")
        .resolve(PathCodec.percentDecode(p)))

  /** Load replay state from a parquet checkpoint: one row per action,
    * exactly one of the protocol/metaData/add/remove structs non-null.
    * Checkpoint rows are manifest metadata — collected driver-side like
    * the JSON replay; the data files they point at never move. */
  private def checkpointState(spark: SparkSession, table: String,
      v: Long, parts: Int): LogState = {
    val paths = checkpointFiles(table, v, parts)
    paths.filterNot(Files.exists(_)).foreach(p =>
      throw new IllegalStateException(
        s"$table: _last_checkpoint names missing file $p"))
    val df = spark.read.parquet(paths.map(_.toString): _*)
    val names = df.schema.fieldNames.toSet
    val cols = Seq("protocol", "metaData", "add", "txn")
      .filter(names.contains)
    // ONE collect over the action columns: a checkpointed read is the
    // per-query hot path, and every extra Spark action here is a full
    // job-scheduling round trip for manifest-sized data.
    val rows = df.select(cols.map(df.col): _*).collect()
    val idx = cols.zipWithIndex.toMap
    var state = LogState(None, Seq.empty, Map.empty)
    for (r <- rows) {
      idx.get("protocol").filterNot(r.isNullAt).foreach { i =>
        val p = r.getStruct(i)
        val mrv = Option(p.getAs[Integer]("minReaderVersion"))
          .fold(1)(_.intValue)
        val feats =
          if (!p.schema.fieldNames.contains("readerFeatures")) Set.empty[String]
          else {
            val fi = p.fieldIndex("readerFeatures")
            if (p.isNullAt(fi)) Set.empty[String]
            else p.getSeq[String](fi).toSet
          }
        checkProtocol(table, mrv, feats)
        state = state.copy(dvEnabled =
          state.dvEnabled || feats.contains("deletionVectors"))
      }
      idx.get("metaData").filterNot(r.isNullAt).foreach { i =>
        val md = r.getStruct(i)
        val pcIdx = md.fieldIndex("partitionColumns")
        val confIdx = md.fieldIndex("configuration")
        val conf =
          if (md.isNullAt(confIdx)) Map.empty[String, String]
          else md.getMap[String, String](confIdx).toMap
        state = state.copy(
          schemaJson = Option(md.getAs[String]("schemaString")),
          partitionColumns =
            if (md.isNullAt(pcIdx)) Seq.empty
            else md.getSeq[String](pcIdx).toSeq,
          columnMappingMode =
            conf.getOrElse("delta.columnMapping.mode", "none"),
          config = conf,
          metaId = Option(md.getAs[String]("id")))
      }
      // A checkpoint's add set IS the live file set at its version
      // (remove rows are only vacuum tombstones — not applied to
      // liveness). Map values may be null for null partitions.
      idx.get("add").filterNot(r.isNullAt).foreach { i =>
        state = state.copy(files = state.files + parseAdd(r.getStruct(i)))
      }
      idx.get("txn").filterNot(r.isNullAt).foreach { i =>
        val t = r.getStruct(i)
        val v = Option(t.getAs[java.lang.Long]("version"))
          .fold(0L)(_.longValue)
        state = state.copy(txns = state.txns +
          (t.getAs[String]("appId") -> v))
      }
    }
    // V2 checkpoints move file actions into SIDECAR parquet files; the
    // main UUID-named file then carries only protocol/metaData/txn plus
    // the sidecar pointers (handled above as absent/null add columns).
    val sidecars = sidecarFiles(table, df)
    sidecars.filterNot(Files.exists(_)).foreach(p =>
      throw new IllegalStateException(
        s"$table: v2 checkpoint names missing sidecar file $p"))
    if (sidecars.nonEmpty) {
      val sdf = spark.read.parquet(sidecars.map(_.toString): _*)
      if (sdf.schema.fieldNames.contains("add"))
        sdf.select("add").filter(functions.col("add").isNotNull)
          .collect()
          .foreach(r => state =
            state.copy(files = state.files + parseAdd(r.getStruct(0))))
    }
    state
  }

  /** One checkpoint `add` struct row → (decoded path, AddFile). Shared
    * by the classic in-file adds and V2 sidecar adds. */
  private def parseAdd(a: org.apache.spark.sql.Row): (String, AddFile) = {
    val pvIdx = a.fieldIndex("partitionValues")
    val pv =
      if (a.isNullAt(pvIdx)) Map.empty[String, Option[String]]
      else a.getMap[String, String](pvIdx).toMap
        .map { case (k, value) => k -> Option(value) }
    val size = Option(a.getAs[java.lang.Long]("size")).fold(0L)(_.longValue)
    val dv =
      if (!a.schema.fieldNames.contains("deletionVector")) None
      else {
        val di = a.fieldIndex("deletionVector")
        if (a.isNullAt(di)) None
        else {
          val d = a.getStruct(di)
          Some(DeletionVectors.Descriptor(
            d.getAs[String]("storageType"),
            d.getAs[String]("pathOrInlineDv"),
            Option(d.getAs[Integer]("offset")).map(_.intValue),
            d.getAs[Integer]("sizeInBytes").intValue,
            d.getAs[java.lang.Long]("cardinality").longValue))
        }
      }
    val stats =
      if (!a.schema.fieldNames.contains("stats")) None
      else Option(a.getAs[String]("stats")).filter(_.nonEmpty)
    PathCodec.percentDecode(a.getAs[String]("path")) ->
      AddFile(pv, size, dv, stats)
  }

  private def replay(spark: SparkSession, table: String,
      upTo: Option[Long]): LogState = {
    // Start from the checkpoint when one exists and the requested
    // version is not older than it; JSON commits before the checkpoint
    // may already be vacuumed, so time travel behind it only requires
    // the pre-checkpoint JSON to still exist.
    val lastCp = lastCheckpoint(table)
    val cp = lastCp.filter { case (v, _) => upTo.forall(v <= _) }
    val vs = versions(table)
    if (vs.isEmpty && cp.isEmpty)
      throw new NoSuchElementException(s"no Delta log at $table")
    val after = cp.map(_._1).getOrElse(-1L)
    // Refuse-over-misread: the JSON being replayed must be CONTIGUOUS
    // from the replay base to the target version — a gap (vacuumed or
    // lost commits) replayed silently would return a state that never
    // existed. Without a usable checkpoint the base is v0.
    val target = upTo.getOrElse((vs ++ cp.map(_._1)).max)
    val needed = (after + 1) to target
    val have = vs.toSet
    val missing = needed.filterNot(have)
    if (missing.nonEmpty)
      throw new UnsupportedOperationException(
        s"$table: commits ${missing.take(3).mkString(", ")}" +
          (if (missing.size > 3) ", …" else "") +
          s" missing for replay to v$target" +
          (if (cp.isEmpty && lastCp.nonEmpty)
            " (they predate the checkpoint and were vacuumed)" else ""))
    var state = cp.map { case (v, parts) =>
      checkpointState(spark, table, v, parts)
    }.getOrElse(LogState(None, Seq.empty, Map.empty))
    for (v <- vs if v > after && upTo.forall(v <= _)) {
      val lines = Files.readAllLines(versionFile(table, v)).asScala
      // One commit is a SET of actions: a DV update is remove+add of the
      // SAME path in one commit, in either line order — so removes apply
      // before adds within each commit, never interleaved by line.
      val adds = Seq.newBuilder[(String, AddFile)]
      val removes = Seq.newBuilder[String]
      for (line <- lines if line.trim.nonEmpty) {
        val node = mapper.readTree(line)
        if (node.has("protocol")) {
          val p = node.get("protocol")
          val feats = p.path("readerFeatures").elements().asScala
            .map(_.asText()).toSet
          checkProtocol(table, p.path("minReaderVersion").asInt(1), feats)
          state = state.copy(dvEnabled =
            state.dvEnabled || feats.contains("deletionVectors"))
        }
        if (node.has("metaData")) {
          val md = node.get("metaData")
          val conf = md.path("configuration").properties().asScala
            .map(e => e.getKey -> e.getValue.asText()).toMap
          state = state.copy(
            schemaJson = Some(md.get("schemaString").asText()),
            partitionColumns = md.path("partitionColumns").elements()
              .asScala.map(_.asText()).toSeq,
            columnMappingMode =
              conf.getOrElse("delta.columnMapping.mode", "none"),
            config = conf,
            metaId = Option(md.path("id").asText(null)))
        }
        // Per the Delta spec, add/remove paths are percent-encoded
        // relative paths — decode before resolving against the root.
        if (node.has("add")) {
          val a = node.get("add")
          val pv = a.path("partitionValues").properties().asScala
            .map(e => e.getKey ->
              (if (e.getValue.isNull) None else Some(e.getValue.asText())))
            .toMap
          val dv =
            if (!a.has("deletionVector") || a.get("deletionVector").isNull) None
            else {
              val d = a.get("deletionVector")
              Some(DeletionVectors.Descriptor(
                d.get("storageType").asText(),
                d.get("pathOrInlineDv").asText(),
                if (d.has("offset")) Some(d.get("offset").asInt()) else None,
                d.get("sizeInBytes").asInt(),
                d.get("cardinality").asLong()))
            }
          adds += (PathCodec.percentDecode(a.get("path").asText()) ->
            AddFile(pv, a.path("size").asLong(0L), dv,
              Option(a.path("stats").asText(null)).filter(_.nonEmpty)))
        }
        if (node.has("remove"))
          removes += PathCodec.percentDecode(
            node.get("remove").get("path").asText())
        // SetTransaction: streaming writers' idempotency watermark
        if (node.has("txn")) {
          val t = node.get("txn")
          state = state.copy(txns = state.txns +
            (t.get("appId").asText() -> t.path("version").asLong(0L)))
        }
      }
      state = state.copy(files =
        (state.files -- removes.result()) ++ adds.result())
    }
    state
  }

  // --- column mapping helpers (modes `name` and `id`: both store the
  // physical column names in field metadata; physical-name scans read
  // files from either mode, since writers emit stable physical names) ---

  private def physicalFieldName(f: org.apache.spark.sql.types.StructField): String =
    if (f.metadata.contains("delta.columnMapping.physicalName"))
      f.metadata.getString("delta.columnMapping.physicalName")
    else f.name

  private def physicalType(dt: DataType): DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => StructType(st.fields.map(f =>
        StructField(physicalFieldName(f), physicalType(f.dataType), f.nullable)))
      case ArrayType(e, n) => ArrayType(physicalType(e), n)
      case MapType(k, v, n) => MapType(physicalType(k), physicalType(v), n)
      case other => other
    }
  }

  /** Logical type stripped of mapping metadata — the cast-back target
    * (casting a struct renames its fields positionally). */
  private def cleanType(dt: DataType): DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case st: StructType => StructType(st.fields.map(f =>
        StructField(f.name, cleanType(f.dataType), f.nullable)))
      case ArrayType(e, n) => ArrayType(cleanType(e), n)
      case MapType(k, v, n) => MapType(cleanType(k), cleanType(v), n)
      case other => other
    }
  }

  /** `_metadata.file_path` is a URI; DV keys are filesystem paths —
    * shared with the scan-side probe so both sides can never drift. */
  private[lake] def uriToPath(fp: String): String =
    DeletionVectors.uriToPath(fp)

  /** Resolve an add.path against the table root. The spec allows
    * absolute paths (the shallow-clone form, [[shallowClone]]) — those
    * pass through; relative paths resolve under the root. */
  private def absPath(table: String, rel: String): String = {
    val p = Paths.get(rel)
    if (p.isAbsolute) p.normalize.toString
    else Paths.get(table, rel).toAbsolutePath.normalize.toString
  }

  /** Read the table head (or an explicit version — time travel).
    *
    * Partition-column values live only in `add.partitionValues` (the
    * parquet data files do not contain them), so partitioned tables are
    * read as: group the live files by partition tuple, scan each group
    * with the data-column schema, attach the partition values as typed
    * literal columns, and union in the declared column order. The
    * grouping count is the table's live-partition count — manifest-sized
    * driver work, same as the log replay itself. */
  def read(spark: SparkSession, table: String,
      version: Option[Long] = None,
      prune: Option[org.apache.spark.sql.Column] = None): DataFrame =
    scan(spark, table, version, keepMeta = false, prune = prune)._1

  /** Runtime semi-join file pruning on a FOREIGN Delta table: before a
    * fact-side scan that will be joined on `column`, push the build
    * side's [min, max] (plus the exact key set when ≤ maxInSet distinct
    * keys) into add.stats file skipping — a selective dimension filter
    * prunes fact files from the log alone, before any footer opens. The
    * predicate is a superset contract (see [[RuntimeFilter]]); the
    * caller's join enforces exactness, so this only cuts IO. */
  def readForKeys(spark: SparkSession, table: String, column: String,
      keys: DataFrame, version: Option[Long] = None,
      maxInSet: Int = 10000): DataFrame =
    RuntimeFilter.keyPredicate(keys, column, maxInSet) match {
      case None =>
        read(spark, table, version)
          .filter(org.apache.spark.sql.functions.lit(false))
      case Some(pred) => read(spark, table, version, prune = Some(pred))
    }

  /** Timestamp time travel (`TIMESTAMP AS OF`): the newest version
    * committed at or before `timestampMs`, commit time being the log
    * file's modification time — the same source real Delta falls back
    * to when commitInfo carries no timestamp. Vacuumed history refuses
    * through the same contiguity check as version travel. */
  def readAsOf(spark: SparkSession, table: String,
      timestampMs: Long): DataFrame = {
    val vs = versions(table)
    if (vs.isEmpty)
      throw new NoSuchElementException(s"no Delta log at $table")
    val eligible = vs.filter(v =>
      Files.getLastModifiedTime(versionFile(table, v)).toMillis <= timestampMs)
    if (eligible.isEmpty)
      throw new IllegalArgumentException(
        s"$table: no commit at or before $timestampMs " +
          s"(earliest surviving commit is v${vs.min})")
    read(spark, table, Some(eligible.max))
  }

  /** Core scan. With `keepMeta`, the frame carries `__fp` (file path
    * URI) and `__pos` (row index within the file) past the logical
    * columns — the coordinates [[delete]] needs to build DVs.
    *
    * Deletion vectors apply as a scan-side filter: the per-file deleted
    * index sets broadcast to executors, and each row's
    * `_metadata.row_index` is binary-searched against its file's set.
    * Rows are skipped at the scan, files are never rewritten — at 100 TB
    * the cost is the broadcast of manifest-scale bitmap state, not IO. */
  private def scan(spark: SparkSession, table: String,
      version: Option[Long], keepMeta: Boolean,
      prune: Option[org.apache.spark.sql.Column] = None)
      : (DataFrame, LogState) = {
    val state = replay(spark, table, version)
    (assemble(spark, table, state, keepMeta, prune), state)
  }

  /** Assemble the scan frame for an explicit state — [[scan]] for a
    * replayed version, [[purge]] for the DV-carrying file subset.
    *
    * With `prune`, files whose `add.stats` bounds (or partition values
    * — exact [v,v] bounds) provably exclude every range conjunct of the
    * predicate are skipped before the parquet scan, and the full
    * predicate is re-applied to surviving rows — data skipping from the
    * log alone, the same manifest-sized driver work real Delta readers
    * do. Loose bounds (tightBounds:false on DV'd files) still bound a
    * SUPERSET of the live rows, so they can only under-prune, never
    * drop a match. */
  private def assemble(spark: SparkSession, table: String,
      state: LogState, keepMeta: Boolean,
      prune: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val schema = DataType.fromJson(state.schemaJson.getOrElse(
      throw new IllegalStateException(s"$table has no metaData action")))
      .asInstanceOf[StructType]
    val cmap = state.columnMappingMode != "none"
    val root = Paths.get(table)
    val prunedState = prune match {
      case None => state
      case Some(p) =>
        val cs = BoundsPruning.conjuncts(
          spark, cleanType(schema).asInstanceOf[StructType], p)
        if (cs.isEmpty) state
        else {
          // stats keys and partitionValues keys are PHYSICAL names on
          // column-mapped tables
          val physByLogical = schema.fields
            .map(f => f.name -> physicalFieldName(f)).toMap
          val typeByLogical = schema.fields
            .map(f => f.name -> cleanType(f.dataType)).toMap
          state.copy(files = state.files.filter { case (_, add) =>
            lazy val statsNode = add.stats.map(mapper.readTree)
            cs.forall { case (n, op, v) =>
              val phys = physByLogical.getOrElse(n, n)
              val t = typeByLogical.getOrElse(n,
                org.apache.spark.sql.types.NullType)
              val pvBound = add.partitionValues.get(phys).flatten
                .flatMap(BoundsPruning.partitionBound(_, t))
              val lo = statsNode
                .flatMap(s => BoundsPruning.jsonBound(
                  s.path("minValues").path(phys), t))
                .orElse(pvBound)
              val hi = statsNode
                .flatMap(s => BoundsPruning.jsonBound(
                  s.path("maxValues").path(phys), t))
                .orElse(pvBound)
              BoundsPruning.keeps(lo, hi, op, v)
            }
          })
        }
    }

    // DV content is manifest-scale metadata (bounded by deleted rows per
    // live file) — loaded driver-side exactly like the log replay.
    val dvMap: Map[String, Array[Long]] = prunedState.files.toSeq.collect {
      case (rel, add) if add.dv.isDefined =>
        absPath(table, rel) -> DeletionVectors.read(root, add.dv.get)
    }.toMap
    val needMeta = keepMeta || dvMap.nonEmpty

    // Scan a file group: physical-schema read, optional row coordinates,
    // cast back to logical names. The file list goes to the planner
    // DIRECTLY with the log-carried exact sizes (StaticParquet) — no
    // per-path filesystem discovery, which is minutes of driver time at
    // 10⁴-10⁶ adds (the metadata-scale axis a 100-TB table lives on).
    def scanFiles(files: Seq[(String, Long)],
        dataSchema: StructType): DataFrame = {
      val readSchema =
        if (cmap) physicalType(dataSchema).asInstanceOf[StructType]
        else dataSchema
      val base = org.apache.spark.sql.graft.StaticParquet.read(
        spark, files.sortBy(_._1), readSchema)
      val withMeta =
        if (needMeta) base
          .withColumn("__fp", col("_metadata.file_path"))
          .withColumn("__pos", col("_metadata.row_index"))
        else base
      if (!cmap) withMeta
      else {
        val metaCols = if (needMeta) Seq(col("__fp"), col("__pos")) else Nil
        val renamed = dataSchema.fields.map { f =>
          col(s"`${physicalFieldName(f)}`").cast(cleanType(f.dataType)).as(f.name)
        }
        withMeta.select(renamed.toIndexedSeq ++ metaCols: _*)
      }
    }

    def emptyDf = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      cleanType(schema).asInstanceOf[StructType])
    val metaNames = if (needMeta) Seq("__fp", "__pos") else Nil

    val assembled: DataFrame =
      if (state.partitionColumns.isEmpty) {
        val files = prunedState.files.toSeq
          .map { case (p, add) => (absPath(table, p), add.size) }
        if (files.isEmpty) emptyDf
        else scanFiles(files, schema)
      } else {
        val partCols = state.partitionColumns
        // add.partitionValues is keyed by PHYSICAL partition-column names
        // on column-mapped tables
        val physByLogical = schema.fields
          .map(f => f.name -> physicalFieldName(f)).toMap
        val dataSchema = StructType(
          schema.filterNot(f => partCols.contains(f.name)))
        val partType = schema.fields.map(f => f.name -> f.dataType).toMap
        val groups = prunedState.files.toSeq
          .groupBy { case (_, add) =>
            partCols.map(c => add.partitionValues.get(physByLogical(c))) }
          .toSeq.sortBy(_._1.toString)
        val parts = groups.map { case (_, files) =>
          val pv = files.head._2.partitionValues
          val paths = files.map(f => (absPath(table, f._1), f._2.size))
          val base = scanFiles(paths, dataSchema)
          val withParts = partCols.foldLeft(base) { (df, c) =>
            val v = pv.getOrElse(physByLogical(c), None)
            df.withColumn(c,
              v.map(lit(_)).getOrElse(lit(null)).cast(cleanType(partType(c))))
          }
          withParts.select((schema.fieldNames.toSeq ++ metaNames).map(col): _*)
        }
        if (parts.isEmpty) emptyDf else LakeFs.unionAll(parts)
      }

    val dvFiltered =
      if (dvMap.isEmpty) assembled
      else {
        // codegen'd predicate — bitmaps ship in the stage's reference
        // array (task-binary broadcast), per-row cost is one memoized
        // lookup + binary search, and the scan stage stays whole-stage
        // compiled (a UDF here would break codegen for the entire scan)
        import org.apache.spark.sql.graft.ColumnBridge
        assembled.filter(ColumnBridge.column(DeletionVectors.DvLive(
          ColumnBridge.expression(col("__fp")),
          ColumnBridge.expression(col("__pos")), dvMap)))
      }
    val shaped =
      if (keepMeta) dvFiltered
      else if (needMeta)
        dvFiltered.select(schema.fieldNames.map(col).toIndexedSeq: _*)
      else dvFiltered
    // file skipping is best-effort; the FULL predicate re-applies to
    // the surviving rows, so prune can never change results — only IO
    prune.fold(shaped)(shaped.filter)
  }

  // replay keys are DECODED paths; the log stores percent-encoded
  // paths (per segment — '/' separators stay) so the next replay's
  // decode round-trips exactly.
  private def encodePath(p: String): String =
    p.split("/", -1).map(PathCodec.percentEncode).mkString("/")

  /** Stage `df` as parquet under `root` (hive layout when `partCols`
    * nonEmpty) and move every part file under `root/<subdir>/` keeping
    * its partition dirs. Returns (relative decoded path — including
    * `subdir` — , size, partition tuple) per file. */
  private def stageFiles(df: DataFrame, root: Path, partCols: Seq[String],
      subdir: Seq[String] = Seq.empty)
      : Seq[(String, Long, Seq[(String, Option[String])])] = {
    val tmp = Files.createTempDirectory(root, ".stage")
    val stage = df.write.mode("overwrite")
    (if (partCols.nonEmpty) stage.partitionBy(partCols: _*) else stage)
      .parquet(tmp.toString)
    val parts = LakeFs.parquetFilesUnder(tmp)
    val out = parts.zipWithIndex.map { case (p, i) =>
      val rel = tmp.relativize(p)
      val dirSegs = (0 until rel.getNameCount - 1)
        .map(rel.getName(_).toString)
      val pv = dirSegs.map(PathCodec.parseHiveSegment)
      val name = f"part-$i%05d-${UUID.randomUUID()}-c000.snappy.parquet"
      val targetDir = (subdir ++ dirSegs).foldLeft(root)(_ resolve _)
      Files.createDirectories(targetDir)
      val target = targetDir.resolve(name)
      Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
      (((subdir ++ dirSegs) :+ name).mkString("/"), Files.size(target), pv)
    }
    LakeFs.deleteRec(tmp)
    out
  }

  /** Stage `cdf` (table columns + `_change_type`) under _change_data/
    * and append one `cdc` action per staged file — the ONE place the
    * cdc action shape lives, shared by every writer that records
    * change data so the sites can never drift. Columns re-map to
    * physical names on mapped tables; files partition like the data
    * (`stagePartCols` are physical names). */
  private def emitCdc(cdf: DataFrame, root: Path,
      physByLogical: Map[String, String], stagePartCols: Seq[String],
      actions: scala.collection.mutable.Builder[ObjectNode, Seq[ObjectNode]])
      : Unit = {
    val staged = cdf.select(cdf.columns.map(c =>
      cdf.col(c).as(physByLogical.getOrElse(c, c))).toIndexedSeq: _*)
    stageFiles(staged, root, stagePartCols, Seq("_change_data"))
      .foreach { case (rel, size, pv) =>
        val n = mapper.createObjectNode()
        val c = n.putObject("cdc").put("path", encodePath(rel))
          .put("size", size).put("dataChange", false)
        val pvNode = c.putObject("partitionValues")
        pv.foreach { case (k, v) =>
          v.fold[Unit](pvNode.putNull(k))(pvNode.put(k, _))
        }
        actions += n
      }
  }

  /** Append (or overwrite) `df` as one Delta commit. `partitionBy`
    * hive-partitions the table (identity partitioning — the only kind
    * Delta has); an existing table's partitioning is inherited and a
    * conflicting spec is refused. `columnMapping = "name"` or `"id"` on
    * table creation assigns every top-level column a field id and a
    * `col-<uuid>` physical name (protocol (2,5)) — id mode additionally
    * relies on the parquet field ids the staged files carry; appends to
    * a mapped table inherit its physical names and ids. `replacing`
    * names live files the
    * same commit removes (the purge/rewrite shape). `properties` lands
    * in the table's `configuration` on creation (v0 only) — set
    * `delta.enableChangeDataFeed=true` there to turn on CDF. Returns
    * the new version. */
  def write(df: DataFrame, table: String,
      mode: String = "append", partitionBy: Seq[String] = Seq.empty,
      columnMapping: String = "none",
      replacing: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty,
      txn: Option[(String, Long)] = None,
      generated: Map[String, String] = Map.empty): Long =
    writeImpl(df, table, mode, partitionBy, columnMapping, replacing,
      properties, changeData = None, operation = None, txn = txn,
      generated = generated)

  private[lake] def writeImpl(df0: DataFrame, table: String,
      mode: String, partitionBy: Seq[String],
      columnMapping: String,
      replacing: Seq[String],
      properties: Map[String, String],
      changeData: Option[DataFrame],
      operation: Option[String],
      dataChange: Boolean = true,
      txn: Option[(String, Long)] = None,
      generated: Map[String, String] = Map.empty): Long = {
    require(mode == "append" || mode == "overwrite", s"mode $mode")
    require(replacing.isEmpty || mode == "append",
      "replacing composes with append commits only")
    require(Set("none", "name", "id").contains(columnMapping),
      s"columnMapping $columnMapping (none|name|id)")
    val root = Paths.get(table)
    Files.createDirectories(root)
    // JSON commits at or before a checkpoint may be vacuumed — the next
    // version is one past the max of surviving JSON and the checkpoint.
    val version = (versions(table) ++ lastCheckpoint(table).map(_._1))
      .maxOption.map(_ + 1).getOrElse(0L)
    val priorState =
      if (version > 0L) Some(replay(df0.sparkSession, table, None)) else None
    val partCols = priorState.map(_.partitionColumns) match {
      case Some(existing) =>
        require(partitionBy.isEmpty || partitionBy == existing,
          s"$table is partitioned by (${existing.mkString(", ")}) — " +
            s"cannot write with (${partitionBy.mkString(", ")})")
        existing
      case None => partitionBy
    }

    // GENERATED COLUMNS (Delta spec: column metadata key
    // `delta.generationExpression`, minWriterVersion 4). Expressions are
    // fixed at creation (`generated` on the v0 write); on every later
    // data write the writer obligation applies: a MISSING generated
    // column is computed from its expression (the partition-by-derived-
    // date pattern — computation runs BEFORE the partition-column
    // check), a PROVIDED one is validated null-safe cell-exact in one
    // limit(1) early-exit job, and a divergent batch refuses naming the
    // column. Maintenance rewrites (dataChange = false) re-add
    // already-conforming rows and skip the pass.
    require(generated.isEmpty || priorState.isEmpty,
      s"$table exists — generation expressions are fixed at creation")
    val genExprs: Seq[(String, String)] = priorState match {
      case Some(st) => st.schemaJson.toSeq
        .map(j => DataType.fromJson(j).asInstanceOf[StructType])
        .flatMap(_.fields.toSeq.collect {
          case f if f.metadata.contains("delta.generationExpression") =>
            f.name -> f.metadata.getString("delta.generationExpression")
        })
      case None => generated.toSeq.sortBy(_._1)
    }
    if (priorState.isEmpty) genExprs.foreach { case (n, e) =>
      // creation-time gates: the expression must analyze against the
      // batch (catching typos now, not on write #2) and be deterministic
      // (the spec's requirement — a rand() generation could never be
      // validated). Analysis only; no job runs.
      val probe = df0.limit(0).select(functions.expr(e).as(n))
      require(!probe.queryExecution.analyzed.expressions
          .exists(ex => !ex.deterministic),
        s"generation expression for '$n' ($e) is non-deterministic")
      // Expression.deterministic marks current_timestamp()/current_date()
      // deterministic (they're per-QUERY foldable), but a generation
      // expression lives across writes — time-dependent expressions
      // yield different values every write and would trip the provided-
      // column divergence check later. Reject them at creation.
      val timeDep = probe.queryExecution.analyzed.expressions
        .flatMap(_.collect {
          case t @ (_: org.apache.spark.sql.catalyst.expressions.CurrentTimestamp |
                    _: org.apache.spark.sql.catalyst.expressions.CurrentDate |
                    _: org.apache.spark.sql.catalyst.expressions.Now |
                    _: org.apache.spark.sql.catalyst.expressions.LocalTimestamp) =>
            t.prettyName
        })
      require(timeDep.isEmpty,
        s"generation expression for '$n' ($e) is time-dependent " +
          s"(${timeDep.mkString(", ")}) — it would compute different " +
          "values on every later write")
    }
    val df: DataFrame =
      if (genExprs.isEmpty || !dataChange) df0
      else genExprs.foldLeft(df0) { case (d, (n, e)) =>
        if (d.columns.contains(n)) d
        else d.withColumn(n, functions.expr(e))
      }
    // generated columns the caller PROVIDED — validated inside the
    // try below (so a refusal releases the pinned batch)
    val genProvided: Seq[(String, String)] =
      if (!dataChange) Seq.empty
      else genExprs.filter { case (n, _) => df0.columns.contains(n) }
    require(partCols.forall(df.columns.contains),
      s"partition columns (${partCols.mkString(", ")}) missing from input")

    // CHECK constraints: every incoming row must satisfy each
    // `delta.constraints.*` predicate (TRUE or NULL passes — SQL CHECK
    // semantics). One validation job over the BATCH (never the table),
    // all constraints fused into a single disjunction with limit(1)
    // early-exit; the one fetched row re-evaluates the per-constraint
    // flags so the refusal can name the violated constraint(s).
    // Maintenance rewrites (dataChange = false) re-add already-validated
    // rows and skip the pass.
    var pinnedBatch = false
    val checkCons = priorState.map(_.config).getOrElse(Map.empty).collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        k.stripPrefix("delta.constraints.") -> v
    }
    if (dataChange && (checkCons.nonEmpty || genProvided.nonEmpty)) {
      // A non-deterministic batch (rand(), a re-read mutable source)
      // could pass a validation evaluation and then stage DIFFERENT
      // rows — pin it so the validated rows ARE the staged rows, for
      // BOTH validation classes (CHECK constraints and provided
      // generated columns). The deterministic common case skips the
      // cache. Pinning happens BEFORE any validation job runs.
      pinnedBatch = df.queryExecution.analyzed.exists(
        _.expressions.exists(e => !e.deterministic))
      if (pinnedBatch) df.persist()
    }
    // From validation through commit, a throw (generated-column or
    // constraint hit, schema refusal, commit conflict) must still
    // release the pinned batch — the unpersist rides a finally, not the
    // success path.
    try {
      // ONE fused validation job for both classes (provided generated
      // columns + CHECK constraints): every violation flag joins a
      // single disjunction with limit(1) early-exit, so a conforming
      // batch pays exactly one pass no matter how many obligations the
      // table carries; the one fetched row re-evaluates the per-flag
      // verdicts so the refusal names what failed, generated columns
      // first (the narrower, cheaper-to-fix error).
      val genFlags = genProvided.map { case (n, e) =>
        n -> !(functions.col(n) <=> functions.expr(e))
      }
      val consFlags =
        if (dataChange) checkCons.toSeq.sortBy(_._1).map { case (n, e) =>
          n -> (functions.coalesce(functions.expr(e),
            functions.lit(true)) === false)
        } else Seq.empty
      val allFlags = genFlags ++ consFlags
      if (allFlags.nonEmpty) {
        val hit = df.filter(allFlags.map(_._2).reduce(_ || _)).limit(1)
          .select(allFlags.map { case (n, c) => c.as(n) }: _*).collect()
        if (hit.nonEmpty) {
          val badGen = genFlags.map(_._1).zipWithIndex
            .collect { case (n, i) if hit(0).getBoolean(i) => n }
          if (badGen.nonEmpty)
            throw new IllegalArgumentException(
              s"$table: generated column${if (badGen.size > 1) "s" else ""} " +
                badGen.map(n => s"'$n' (${genExprs.toMap.apply(n)})")
                  .mkString(", ") +
                " provided with values diverging from the generation " +
                "expression — nothing committed")
          val bad = consFlags.map(_._1).zipWithIndex
            .collect { case (n, i)
                if hit(0).getBoolean(genFlags.length + i) => n }
          throw new IllegalArgumentException(
            s"$table: CHECK constraint${if (bad.size > 1) "s" else ""} " +
              bad.map(n => s"'$n' (${checkCons(n)})").mkString(", ") +
              " violated by the incoming batch — nothing committed")
        }
      }

      // Column mapping: the LOG keeps logical names (schemaString field
      // names, partitionColumns); the FILES carry physical names (parquet
      // columns, hive partition dirs → partitionValues keys).
      // Generation expressions stamp into the v0 schema as the spec's
      // per-field metadata key.
      def stampGenerated(s: StructType): StructType =
        if (generated.isEmpty) s
        else {
          val missing = generated.keySet.diff(s.fieldNames.toSet)
          require(missing.isEmpty,
            s"generated column(s) ${missing.mkString(", ")} absent from " +
              "the created schema")
          StructType(s.fields.map(f => generated.get(f.name) match {
            case Some(e) => f.copy(metadata =
              new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
                .putString("delta.generationExpression", e).build())
            case None => f
          }))
        }
      val logSchema: StructType = priorState match {
        case Some(st) => DataType.fromJson(st.schemaJson.getOrElse(
            throw new IllegalStateException(s"$table has no metaData action")))
          .asInstanceOf[StructType]
        case None if columnMapping != "none" =>
          // Both mapping modes store a field id AND a physical name per
          // the protocol; they differ only in how READERS resolve parquet
          // columns (name → by physical name, id → by parquet field id).
          stampGenerated(StructType(
            df.schema.fields.zipWithIndex.map { case (f, i) =>
              f.copy(metadata =
                new org.apache.spark.sql.types.MetadataBuilder()
                  .withMetadata(f.metadata)
                  .putLong("delta.columnMapping.id", i + 1L)
                  .putString("delta.columnMapping.physicalName",
                    s"col-${UUID.randomUUID()}")
                  .build())
            }))
        case None => stampGenerated(df.schema)
      }
      val cmapMode = priorState.map(_.columnMappingMode).getOrElse(columnMapping)
      val cmapActive = cmapMode != "none"
      val physByLogical = logSchema.fields
        .map(f => f.name -> physicalFieldName(f)).toMap
      // Field ids ride the staged columns as parquet.field.id metadata, so
      // Spark's writer stamps them into the files (fieldId.write is on by
      // default) — REQUIRED for id-mode readers, harmless extra metadata
      // under name mode.
      val idByLogical = logSchema.fields.flatMap(f =>
        if (f.metadata.contains("delta.columnMapping.id"))
          Some(f.name -> f.metadata.getLong("delta.columnMapping.id"))
        else None).toMap
      val staged =
        if (!cmapActive) df
        else df.select(df.columns.map { c =>
          val phys = physByLogical.getOrElse(c, c)
          idByLogical.get(c) match {
            case Some(id) => df.col(c).as(phys,
              new org.apache.spark.sql.types.MetadataBuilder()
                .putLong("parquet.field.id", id).build())
            case None => df.col(c).as(phys)
          }
        }.toIndexedSeq: _*)
      val stagePartCols =
        if (cmapActive) partCols.map(c => physByLogical.getOrElse(c, c))
        else partCols

      // Stage part files via Spark (hive layout when partitioned), then
      // move them under the table root keeping their partition dirs.
      val added = Manifest.parFiles(stageFiles(staged, root, stagePartCols)) {
        case (rel, size, pv) =>
          (rel, size, pv, statsJson(FooterStats.read(root.resolve(rel))))
      }

      val cdfActive = priorState.map(_.cdfEnabled).getOrElse(
        properties.get("delta.enableChangeDataFeed").contains("true"))
      val now = System.currentTimeMillis()
      val actions = Seq.newBuilder[ObjectNode]
      if (version == 0L) {
        val protocol = mapper.createObjectNode()
        protocol.putObject("protocol")
          .put("minReaderVersion", if (cmapActive) 2 else 1)
          .put("minWriterVersion",
            if (cmapActive) 5
            else if (cdfActive || generated.nonEmpty) 4
            else 2)
        actions += protocol
        val meta = mapper.createObjectNode()
        val m = meta.putObject("metaData")
        m.put("id", UUID.randomUUID().toString)
        m.putObject("format").put("provider", "parquet")
          .putObject("options")
        m.put("schemaString", logSchema.json)
        val pcArr = m.putArray("partitionColumns")
        partCols.foreach(pcArr.add)
        val confNode = m.putObject("configuration")
        if (cmapActive) {
          confNode.put("delta.columnMapping.mode", cmapMode)
          confNode.put("delta.columnMapping.maxColumnId",
            logSchema.fields.length.toLong)
        }
        properties.foreach { case (k, v) => confNode.put(k, v) }
        m.put("createdTime", now)
        actions += meta
      }
      // CHANGE DATA FEED: the commit's row-level changes land as parquet
      // under _change_data/ with `cdc` actions (dataChange=false — CDF
      // readers use them INSTEAD of the add/remove reconstruction). The
      // frame carries the table columns plus `_change_type`.
      changeData.filter(_ => cdfActive).foreach(cdf =>
        emitCdc(cdf, root,
          if (cmapActive) physByLogical else Map.empty,
          stagePartCols, actions))
      val removePaths =
        if (mode == "overwrite" && version > 0L)
          priorState.map(_.files.keys.toSeq).getOrElse(Seq.empty)
        else replacing
      removePaths.sorted.foreach { p =>
        val rm = mapper.createObjectNode()
        rm.putObject("remove").put("path", encodePath(p))
          .put("deletionTimestamp", now).put("dataChange", dataChange)
        actions += rm
      }
      added.foreach { case (relPath, size, pv, stats) =>
        val add = mapper.createObjectNode()
        val a = add.putObject("add").put("path", encodePath(relPath))
          .put("size", size)
          .put("modificationTime", now).put("dataChange", dataChange)
        val pvNode = a.putObject("partitionValues")
        pv.foreach { case (k, v) =>
          v.fold[Unit](pvNode.putNull(k))(pvNode.put(k, _))
        }
        a.put("stats", stats)
        actions += add
      }

      // SetTransaction: the streaming idempotency watermark — landed in
      // the SAME commit as the data, so a crash can never record the
      // batch without its rows (or vice versa)
      txn.foreach { case (appId, v) =>
        val t = mapper.createObjectNode()
        t.putObject("txn").put("appId", appId).put("version", v)
        actions += t
      }
      commit(table, version, actions.result(), operation.getOrElse(
        if (mode == "overwrite") "OVERWRITE" else "WRITE"))
      version
    } finally {
      if (pinnedBatch) df.unpersist()
    }
  }

  /** The last `txn` (SetTransaction) version committed for `appId` —
    * what a streaming writer consults to skip replayed batches. */
  def lastTransactionVersion(spark: SparkSession, table: String,
      appId: String): Option[Long] =
    replay(spark, table, None).txns.get(appId)

  /** A commit carrying ONLY a SetTransaction — what a no-op streaming
    * batch lands so its watermark still advances (real Delta sinks do
    * the same for empty batches). */
  private def txnOnlyCommit(table: String, head: Long,
      txn: Option[(String, Long)], operation: String): Long =
    txn match {
      case None => head
      case Some((appId, v)) =>
        val t = mapper.createObjectNode()
        t.putObject("txn").put("appId", appId).put("version", v)
        commit(table, head + 1, Seq(t), operation)
        head + 1
    }

  /** REORG ... APPLY (PURGE): rewrite ONLY the files carrying deletion
    * vectors, materializing their live rows into clean files; files
    * without DVs carry over untouched. delete() keeps deletes bitmap-
    * cheap; purge is the explicit compaction once the dead fraction
    * makes scanning wasteful — the same economics as the mirror's
    * optimizeTable. Old versions still time-travel (their DV files are
    * never deleted). Returns the new version (the current head when
    * nothing carries a DV). */
  def purge(spark: SparkSession, table: String): Long = {
    val state = replay(spark, table, None)
    val dvPaths = state.files.collect {
      case (p, a) if a.dv.isDefined => p
    }.toSeq.sorted
    if (dvPaths.isEmpty)
      return (versions(table) ++ lastCheckpoint(table).map(_._1)).max
    val subset = state.copy(files = state.files.filter {
      case (_, a) => a.dv.isDefined })
    val live = assemble(spark, table, subset, keepMeta = false)
    // dataChange=false: a purge moves no logical rows, and a CDF reader
    // must not re-derive its rewrites as inserts
    writeImpl(live, table, "append", Seq.empty, "none", dvPaths,
      Map.empty, changeData = None, operation = Some("PURGE"),
      dataChange = false)
  }

  /** OPTIMIZE (bin-packing compaction): rewrite live files smaller
    * than `smallFileBytes` into consolidated ones — the small-file
    * debt a CDC-fed table accumulates. One commit removes the small
    * files and adds their replacements; partitioned tables re-stage
    * through the hive layout so files never cross partitions;
    * dataChange=false (no logical rows move — time travel keeps every
    * prior version and the change feed stays silent). Files carrying
    * deletion vectors rewrite clean as a side effect (their DVs are
    * applied during the scan), same as purge.
    *
    * `zorderBy` (2-4 non-negative integer columns) switches to
    * OPTIMIZE ZORDER: ALL live files rewrite, range-partitioned +
    * sorted on the bit-interleaved z-value, so every file owns a
    * rectangle of the (a, b) space — `read(prune)` over `add.stats`
    * then skips on EITHER dimension, where linear clustering prunes
    * only its leading one (the same economics as the mirror's
    * `optimizeTable("zorder:a,b")`).
    *
    * Returns the new version (the current head when nothing
    * qualifies). */
  def optimize(spark: SparkSession, table: String,
      smallFileBytes: Long = 32L * 1024 * 1024,
      targetFileBytes: Long = 128L * 1024 * 1024,
      zorderBy: Seq[String] = Seq.empty): Long = {
    import org.apache.spark.sql.functions.col
    val state = replay(spark, table, None)
    val head = (versions(table) ++ lastCheckpoint(table).map(_._1)).max
    if (zorderBy.nonEmpty) {
      // existence + integer-type check UP FRONT (shared with the other
      // z-clustering callers): a silent cast of a string column to null
      // would rewrite the whole table with the clustering degenerated
      // to one dimension
      val schema = DataType.fromJson(state.schemaJson.getOrElse(
        throw new IllegalStateException(s"$table has no metaData action")))
        .asInstanceOf[StructType]
      Mooncake.validateZorderColumns(
        cleanType(schema).asInstanceOf[StructType], zorderBy, table)
      val all = state.files.keys.toSeq.sorted
      if (all.isEmpty) return head
      val totalBytes = state.files.valuesIterator.map(_.size).sum
      val nOut = Mooncake.fileBudget(totalBytes, targetFileBytes)
      // partition columns lead the range keys so hive re-splitting
      // keeps z-order intact WITHIN every partition's files
      val clustered = Mooncake.zCluster(
        assemble(spark, table, state, keepMeta = false),
        zorderBy, nOut,
        prefixCols = state.partitionColumns)
      return writeImpl(clustered, table, "append", Seq.empty, "none",
        all, Map.empty, changeData = None,
        operation = Some("OPTIMIZE ZORDER"), dataChange = false)
    }
    // bin-packing is PER PARTITION (files never merge across hive
    // dirs): a partition must hold at least two qualifying files to be
    // worth rewriting — else a steady-state table with one small file
    // per partition would be rewritten in full on every call and never
    // converge
    val smallMap = state.files
      .filter { case (_, a) => a.size < smallFileBytes }
      .groupBy(_._2.partitionValues)
      .filter(_._2.size >= 2)
      .flatMap(_._2)
    val small = smallMap.keys.toSeq.sorted
    if (small.size < 2) return head
    val subset = state.copy(files = smallMap)
    val totalBytes = smallMap.valuesIterator.map(_.size).sum
    val nOut = Mooncake.fileBudget(totalBytes, targetFileBytes)
    val live = assemble(spark, table, subset, keepMeta = false)
      .coalesce(nOut)
    writeImpl(live, table, "append", Seq.empty, "none", small,
      Map.empty, changeData = None, operation = Some("OPTIMIZE"),
      dataChange = false)
  }

  /** VACUUM: physically delete data files whose LAST log action is a
    * remove older than `retentionMs` (the spec's tombstone-retention
    * contract — a re-added path is live again and never eligible).
    * Files the head still references are always kept; DV files are left
    * in place (they are bitmap-sized and may be shared by commits that
    * remain time-travelable). After a vacuum, time travel behind the
    * retention window fails on missing files — exactly Delta's
    * documented behavior, which is why the default retention is 7 days.
    * Returns the deleted relative paths. */
  def vacuum(table: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000): Seq[String] = {
    val cutoff = System.currentTimeMillis() - retentionMs
    // Last action per path, folded in TRUE VERSION ORDER: JSON commits
    // at or below the checkpoint first, then the checkpoint (it IS the
    // compacted head of that prefix — its liveness verdict overrides
    // pre-checkpoint JSON, which on a foreign table may survive only
    // partially after log cleanup; folding a stale pre-checkpoint
    // remove AFTER the checkpoint's add would tombstone a file the
    // head still references and vacuum would destroy live data), then
    // JSON above the checkpoint. Checkpoint REMOVE tombstones (real
    // engines persist in-retention tombstones there) apply before its
    // adds, so a path in both stays conservatively live.
    val lastAction = scala.collection.mutable.Map[String, (Long, Long)]()
    // path -> (version, removeTimestamp or -1 for add)
    val cp = lastCheckpoint(table)
    val cpV = cp.map(_._1).getOrElse(-1L)
    def foldJson(v: Long): Unit = {
      val lines = Files.readAllLines(versionFile(table, v)).asScala
      // A commit is a SET of actions: removes apply before adds within
      // each commit regardless of line order (same semantics as
      // replay()). A DV update is remove+add of the SAME path in one
      // commit — if the remove's line happens to come after the add's,
      // taking the last LINE would tombstone a file the head still
      // references and vacuum would destroy live data. So: collect per
      // commit, then let an add of a path win over a remove of it.
      val adds = Seq.newBuilder[String]
      val removes = Seq.newBuilder[(String, Long)]
      for (line <- lines if line.trim.nonEmpty) {
        val node = mapper.readTree(line)
        if (node.has("add"))
          adds += PathCodec.percentDecode(
            node.get("add").get("path").asText())
        if (node.has("remove")) {
          val rm = node.get("remove")
          removes += (PathCodec.percentDecode(rm.get("path").asText()) ->
            rm.path("deletionTimestamp").asLong(0L))
        }
      }
      removes.result().foreach { case (p, ts) => lastAction(p) = (v, ts) }
      adds.result().foreach(p => lastAction(p) = (v, -1L))
    }
    val vs = versions(table)
    vs.filter(_ <= cpV).foreach(foldJson)
    cp.foreach { case (v, parts) =>
      val (cpAdds, cpRemoves) = checkpointActions(table, v, parts)
      cpRemoves.foreach { case (p, ts) => lastAction(p) = (v, ts) }
      cpAdds.foreach(p => lastAction(p) = (v, -1L))
    }
    vs.filter(_ > cpV).foreach(foldJson)
    // <= cutoff: a tombstone stamped in the same millisecond the vacuum
    // runs is already past a zero retention — strict < made retention 0
    // skip removes committed within the cutoff millisecond (timing
    // flake caught by DeltaRestoreSpec on a fast machine).
    val deletable = lastAction.collect {
      case (p, (_, ts)) if ts >= 0 && ts <= cutoff => p
    }.toSeq.sorted
    // Absolute-path adds (shallow clones) reference storage the table
    // does NOT own — its vacuum must never reach into the source table.
    deletable.filter { rel =>
      if (Paths.get(rel).isAbsolute) false
      else Files.deleteIfExists(Paths.get(table, rel))
    }
  }

  /** Paths the checkpoint declares live (add rows) and tombstoned
    * (remove rows with their deletionTimestamp), V2 sidecars included —
    * vacuum must never sweep files a sidecar still names, and real
    * engines persist in-retention remove tombstones in checkpoints. */
  private def checkpointActions(table: String, v: Long,
      parts: Int): (Seq[String], Seq[(String, Long)]) = {
    val spark = SparkSession.active
    val paths = checkpointFiles(table, v, parts).filter(Files.exists(_))
    if (paths.isEmpty) return (Seq.empty, Seq.empty)
    def actionsOf(df: DataFrame): (Seq[String], Seq[(String, Long)]) = {
      val adds =
        if (!df.schema.fieldNames.contains("add")) Seq.empty[String]
        else df.select("add.path").collect()
          .flatMap(r => Option(r.getString(0))).toSeq
      val removes =
        if (!df.schema.fieldNames.contains("remove"))
          Seq.empty[(String, Long)]
        else {
          val hasTs = df.select("remove.*").schema.fieldNames
            .contains("deletionTimestamp")
          val cols =
            if (hasTs) Seq("remove.path", "remove.deletionTimestamp")
            else Seq("remove.path")
          df.select(cols.head, cols.tail: _*).collect().flatMap { r =>
            Option(r.getString(0)).map(_ -> (
              if (hasTs && !r.isNullAt(1)) r.getLong(1) else 0L))
          }.toSeq
        }
      (adds, removes)
    }
    val df = spark.read.parquet(paths.map(_.toString): _*)
    val (ownAdds, ownRemoves) = actionsOf(df)
    val (scAdds, scRemoves) =
      sidecarFiles(table, df).filter(Files.exists(_)) match {
        case Seq() => (Seq.empty[String], Seq.empty[(String, Long)])
        case sc => actionsOf(spark.read.parquet(sc.map(_.toString): _*))
      }
    ((ownAdds ++ scAdds).map(PathCodec.percentDecode),
      (ownRemoves ++ scRemoves).map { case (p, ts) =>
        PathCodec.percentDecode(p) -> ts
      })
  }

  /** `add.stats` JSON rendering of one file's [[FooterStats]]:
    * numRecords, per-column min/max, per-column nullCount — the pruning
    * signal real Delta readers use for data skipping, and (numRecords)
    * what DV-aware engines answer count(*) from. Stats are keyed by the
    * FILE's column names, which on column-mapped tables are the physical
    * names — exactly what the protocol wants. Dates spell as ISO calendar
    * dates (what real writers emit and [[BoundsPruning.jsonBound]]
    * decodes back to epoch days). Timestamps are omitted: the protocol's
    * JSON form is millisecond text, and a max cut to millis would
    * under-bound the file.
    *
    * `tight = Some(false)` marks the bounds as covering rows a deletion
    * vector has since killed (the protocol's tightBounds flag — required
    * false once a DV is attached, since footer min/max still span the
    * deleted rows); absent means the default, true. */
  private[lake] def statsJson(s: FooterStats,
      tight: Option[Boolean] = None): String = {
    val stats = mapper.createObjectNode()
    stats.put("numRecords", s.rows)
    tight.foreach(stats.put("tightBounds", _))
    val minV = stats.putObject("minValues")
    val maxV = stats.putObject("maxValues")
    val nullC = stats.putObject("nullCount")
    s.columns.foreach { case (name, c) =>
      c.bounds.foreach {
        case Bounds(TimestampType | TimestampNTZType, _, _) => ()
        case Bounds(DateType, lo: Integer, hi: Integer) =>
          minV.put(name, LocalDate.ofEpochDay(lo.longValue).toString)
          maxV.put(name, LocalDate.ofEpochDay(hi.longValue).toString)
        // boxed numbers, booleans and strings serialize as JSON scalars
        case Bounds(_, lo, hi) =>
          minV.putPOJO(name, lo)
          maxV.putPOJO(name, hi)
      }
      c.nulls.foreach(nullC.put(name, _))
    }
    mapper.writeValueAsString(stats)
  }

  /** Atomically land one commit's action list as the next JSON log
    * file, led by a `commitInfo` action naming the operation — what
    * DESCRIBE HISTORY reads back. */
  private def commit(table: String, version: Long,
      actions: Seq[ObjectNode], operation: String): Unit = {
    Files.createDirectories(logDir(table))
    val target = versionFile(table, version)
    if (Files.exists(target))
      throw new IllegalStateException(
        s"Delta version $version already exists (concurrent writer?)")
    val info = mapper.createObjectNode()
    info.putObject("commitInfo")
      .put("timestamp", System.currentTimeMillis())
      .put("operation", operation)
      .put("engineInfo", "graft-deltacompat")
    val tmpLog = Files.createTempFile(logDir(table), ".tmp", ".json")
    Files.write(tmpLog, (info +: actions).map(mapper.writeValueAsString)
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmpLog, target, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Delete rows matching `condition` by WRITING DELETION VECTORS — the
    * modern Delta delete: data files are untouched; the commit re-adds
    * each affected file with a DV naming its dead row indexes (merged
    * with any DV it already had), and upgrades the protocol to (3,7)
    * with the `deletionVectors` feature on first use.
    *
    * The matched row coordinates come back to the driver: DV content is
    * log metadata by definition (every reader must hold it), so a delete
    * whose coordinates don't fit the driver is one that should compact/
    * rewrite files instead — and that is ENFORCED, not just documented:
    * the match count is taken first (a distributed count, no collect)
    * and a delete above `spark.graft.delta.dvMaxDeleteRows` (default
    * 10M coordinates ≈ a few hundred MB of driver arrays) refuses loudly
    * with rewrite advice instead of silently OOMing the driver.
    * Returns the new version (or the current one if nothing matched). */
  def delete(spark: SparkSession, table: String,
      condition: org.apache.spark.sql.Column): Long = {
    val (df, state) = scan(spark, table, None, keepMeta = true)
    // empty live set: the scan frame has no __fp/__pos columns to select
    // — and nothing to delete; report the current head as the no-op
    if (state.files.isEmpty)
      return (versions(table) ++ lastCheckpoint(table).map(_._1)).max
    val head = (versions(table) ++ lastCheckpoint(table).map(_._1)).max
    val matchedDf = df.filter(condition).select("__fp", "__pos")
    val maxRows = math.min(Int.MaxValue - 1L,
      spark.conf.getOption("spark.graft.delta.dvMaxDeleteRows")
        .map(_.toLong).getOrElse(10000000L)).toInt
    // The guard must not itself OOM: a take(limit+1) of raw (path, pos)
    // Rows repeats the full path string per row — multi-GB of driver
    // heap at the default 10M limit. Instead the limit check is a
    // PER-FILE COUNT aggregate (≤ live-file-count rows, manifest-sized,
    // nothing row-sized reaches the driver), and positions are pulled
    // only after the total passes — grouped per file, so each path
    // string crosses once and the payload is ~maxRows boxed longs.
    val perFile = matchedDf.groupBy("__fp")
      .agg(functions.count(functions.lit(1)).as("__n")).collect()
    if (perFile.isEmpty) return head
    val total = perFile.map(_.getLong(1)).sum
    if (total > maxRows)
      throw new UnsupportedOperationException(
        s"$table: delete matched $total rows, over " +
          s"spark.graft.delta.dvMaxDeleteRows=$maxRows. DV " +
          "coordinates are log metadata every reader must hold — a " +
          "delete this large should rewrite files instead: write() the " +
          "filtered table (or purge() after raising the limit " +
          "deliberately).")
    val matched: Seq[(String, Seq[Long])] = matchedDf.groupBy("__fp")
      .agg(functions.collect_list("__pos").as("__ps")).collect().toSeq
      .map(r => (uriToPath(r.getString(0)),
        r.getSeq[Long](1)))
    val root = Paths.get(table)
    val relByAbs = state.files.keys.map(rel => absPath(table, rel) -> rel).toMap
    val affected = matched.map { case (abs, rows) =>
      val rel = relByAbs.getOrElse(abs,
        throw new IllegalStateException(s"$abs not in the live file set"))
      val add = state.files(rel)
      val existing = add.dv
        .map(DeletionVectors.read(root, _)).getOrElse(Array.empty[Long])
      (rel, add, (existing ++ rows).distinct.sorted)
    }.sortBy(_._1)
    val descriptors = DeletionVectors.write(root, affected.map(_._3))

    val now = System.currentTimeMillis()
    val actions = Seq.newBuilder[ObjectNode]
    if (!state.dvEnabled) {
      val cmap = state.columnMappingMode != "none"
      val node = mapper.createObjectNode()
      val p = node.putObject("protocol")
      p.put("minReaderVersion", 3).put("minWriterVersion", 7)
      val rf = p.putArray("readerFeatures")
      rf.add("deletionVectors")
      if (cmap) rf.add("columnMapping")
      val wf = p.putArray("writerFeatures")
      // carry the legacy writer-v2 implications forward per the spec's
      // protocol-upgrade rule
      (Seq("deletionVectors", "appendOnly", "invariants") ++
        (if (cmap) Seq("columnMapping") else Nil) ++
        (if (state.cdfEnabled) Seq("changeDataFeed") else Nil)).foreach(wf.add)
      actions += node
    }
    // CDF: the deleted rows themselves land under _change_data, so a
    // change reader never has to diff deletion vectors. One extra pass
    // over the matched predicate — deletes are not the hot path.
    if (state.cdfEnabled) {
      import org.apache.spark.sql.functions.{col, lit}
      val schema = DataType.fromJson(state.schemaJson.getOrElse(
        throw new IllegalStateException(s"$table has no metaData action")))
        .asInstanceOf[StructType]
      val physByLogical = schema.fields
        .map(f => f.name -> physicalFieldName(f)).toMap
      val cdf = df.filter(condition)
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
        .withColumn("_change_type", lit("delete"))
      emitCdc(cdf, root,
        if (state.columnMappingMode == "none") Map.empty else physByLogical,
        state.partitionColumns.map(c => physByLogical.getOrElse(c, c)),
        actions)
    }
    affected.zip(descriptors).foreach { case ((rel, add, merged), d) =>
      val rmNode = mapper.createObjectNode()
      rmNode.putObject("remove").put("path", encodePath(rel))
        .put("deletionTimestamp", now).put("dataChange", true)
      actions += rmNode
      val addNode = mapper.createObjectNode()
      val a = addNode.putObject("add").put("path", encodePath(rel))
        .put("size", add.size)
        .put("modificationTime", now).put("dataChange", true)
      val pvNode = a.putObject("partitionValues")
      add.partitionValues.foreach { case (k, v) =>
        v.fold[Unit](pvNode.putNull(k))(pvNode.put(k, _))
      }
      // The protocol requires stats.numRecords on adds carrying a
      // deletionVector (readers compute the logical row count as
      // numRecords - cardinality), and tightBounds:false because the
      // footer min/max still cover the DV'd rows.
      a.put("stats", statsJson(FooterStats.read(Paths.get(absPath(table, rel))),
        tight = Some(false)))
      val dvNode = a.putObject("deletionVector")
      dvNode.put("storageType", d.storageType)
        .put("pathOrInlineDv", d.pathOrInlineDv)
      d.offset.foreach(dvNode.put("offset", _))
      dvNode.put("sizeInBytes", d.sizeInBytes)
        .put("cardinality", merged.length.toLong)
      actions += addNode
    }
    commit(table, head + 1, actions.result(), "DELETE")
    head + 1
  }

  /** RESTORE TABLE ... TO VERSION AS OF `version` — roll the table's
    * CONTENT back by committing a new version whose live file set (and
    * per-file DV state) equals the target's: files added since are
    * removed, files removed since are re-added with their recorded
    * metadata (partition values, stats, deletion vector), and a file
    * whose DV changed in place is re-added through the remove+add
    * convention every reader understands. History is PRESERVED — the
    * rolled-back versions still time-travel until vacuum reclaims them
    * — and the operation is log-metadata-sized: zero data IO at any
    * table size. Schema and protocol are NOT rolled back (the spec's
    * RESTORE behavior); a schema change since the target refuses
    * loudly rather than re-exposing old data under a new schema. A
    * target whose data (or DV) files were already vacuumed refuses
    * with the missing paths. Returns the new version; a no-op restore
    * (content unchanged) returns the current head without committing. */
  def restore(spark: SparkSession, table: String, version: Long): Long = {
    val target = replay(spark, table, Some(version))
    val current = replay(spark, table, None)
    val head = (versions(table) ++ lastCheckpoint(table).map(_._1)).max
    if (target.files == current.files) return head
    if (target.schemaJson != current.schemaJson)
      throw new UnsupportedOperationException(
        s"$table: schema changed since v$version — RESTORE rolls back " +
          "data, not schema")
    val root = Paths.get(table)
    val missing = target.files.toSeq.flatMap { case (rel, add) =>
      val dataGone =
        if (Files.exists(Paths.get(absPath(table, rel)))) Nil else Seq(rel)
      val dvGone = add.dv.flatMap(_.filePath(root))
        .filterNot(Files.exists(_)).map(_.toString).toSeq
      dataGone ++ dvGone
    }.sorted
    if (missing.nonEmpty)
      throw new UnsupportedOperationException(
        s"$table: cannot RESTORE to v$version — files were vacuumed: " +
          missing.take(3).mkString(", ") +
          (if (missing.size > 3) ", …" else ""))
    val now = System.currentTimeMillis()
    val actions = Seq.newBuilder[ObjectNode]
    current.files.keys.toSeq.sorted
      .filterNot(target.files.contains).foreach { rel =>
        val n = mapper.createObjectNode()
        n.putObject("remove").put("path", encodePath(rel))
          .put("deletionTimestamp", now).put("dataChange", true)
        actions += n
      }
    target.files.toSeq.sortBy(_._1).foreach { case (rel, add) =>
      if (!current.files.get(rel).contains(add)) {
        if (current.files.contains(rel)) {
          val r = mapper.createObjectNode()
          r.putObject("remove").put("path", encodePath(rel))
            .put("deletionTimestamp", now).put("dataChange", true)
          actions += r
        }
        val n = mapper.createObjectNode()
        val a = n.putObject("add").put("path", encodePath(rel))
          .put("size", add.size).put("modificationTime", now)
          .put("dataChange", true)
        val pv = a.putObject("partitionValues")
        add.partitionValues.foreach { case (k, v) =>
          v.fold[Unit](pv.putNull(k))(pv.put(k, _))
        }
        add.stats.foreach(a.put("stats", _))
        add.dv.foreach { d =>
          val dn = a.putObject("deletionVector")
          dn.put("storageType", d.storageType)
            .put("pathOrInlineDv", d.pathOrInlineDv)
          d.offset.foreach(dn.put("offset", _))
          dn.put("sizeInBytes", d.sizeInBytes)
            .put("cardinality", d.cardinality)
        }
        actions += n
      }
    }
    commit(table, head + 1, actions.result(), "RESTORE")
    head + 1
  }

  /** SHALLOW CLONE: create `target` at version 0 as a zero-copy view
    * of `source`'s current version — ONE metadata commit whose add
    * actions reference the source's live data files by ABSOLUTE path
    * (the spec's absolute-path add form; reference: the CLONE surface
    * of real Delta engines). No data bytes move, so cloning a 100 TB
    * table costs one log write regardless of size.
    *
    * Isolation is log-level by construction: commits to the clone
    * (appends, DV deletes, restore) land in the clone's own log and
    * never touch the source; later commits to the source are invisible
    * to the clone. File-backed DV descriptors rewrite to the spec's
    * `p` (absolute-path) storage so the clone reads the source's DV
    * sidecars in place; inline DVs carry over verbatim. The clone's
    * own VACUUM skips absolute-path tombstones (storage it does not
    * own); as with real engines, a VACUUM/PURGE on the SOURCE that
    * drops a still-referenced file breaks the clone — the snapshot
    * contract is log-level, not storage-level. */
  def shallowClone(spark: SparkSession, source: String,
      target: String): Long = {
    val state = replay(spark, source, None)
    val schemaJson = state.schemaJson.getOrElse(throw
      new IllegalStateException(s"$source has no metaData action"))
    require(versions(target).isEmpty && lastCheckpoint(target).isEmpty,
      s"cannot CLONE into $target — a Delta log already exists there")
    val srcRoot = Paths.get(source)
    val now = System.currentTimeMillis()
    val cmapActive = state.columnMappingMode != "none"
    val hasDv = state.dvEnabled ||
      state.files.values.exists(_.dv.isDefined)
    val actions = Seq.newBuilder[ObjectNode]
    val protocol = mapper.createObjectNode()
    if (hasDv) {
      val p = protocol.putObject("protocol")
      p.put("minReaderVersion", 3).put("minWriterVersion", 7)
      val rf = p.putArray("readerFeatures")
      rf.add("deletionVectors")
      if (cmapActive) rf.add("columnMapping")
      val wf = p.putArray("writerFeatures")
      (Seq("deletionVectors", "appendOnly", "invariants") ++
        (if (cmapActive) Seq("columnMapping") else Nil) ++
        (if (state.cdfEnabled) Seq("changeDataFeed") else Nil)).foreach(wf.add)
    } else {
      protocol.putObject("protocol")
        .put("minReaderVersion", if (cmapActive) 2 else 1)
        .put("minWriterVersion",
          if (cmapActive) 5 else if (state.cdfEnabled) 4 else 2)
    }
    actions += protocol
    val meta = mapper.createObjectNode()
    val m = meta.putObject("metaData")
    m.put("id", UUID.randomUUID().toString) // a clone is a NEW table
    m.putObject("format").put("provider", "parquet").putObject("options")
    m.put("schemaString", schemaJson)
    val pcArr = m.putArray("partitionColumns")
    state.partitionColumns.foreach(pcArr.add)
    val confNode = m.putObject("configuration")
    state.config.foreach { case (k, v) => confNode.put(k, v) }
    m.put("createdTime", now)
    actions += meta
    state.files.toSeq.sortBy(_._1).foreach { case (rel, add) =>
      val n = mapper.createObjectNode()
      val a = n.putObject("add").put("path", encodePath(absPath(source, rel)))
        .put("size", add.size).put("modificationTime", now)
        .put("dataChange", true)
      val pv = a.putObject("partitionValues")
      add.partitionValues.foreach { case (k, v) =>
        v.fold[Unit](pv.putNull(k))(pv.put(k, _))
      }
      add.stats.foreach(a.put("stats", _))
      add.dv.foreach { d =>
        val pd = d.storageType match {
          case "u" => d.copy(storageType = "p",
            pathOrInlineDv = d.filePath(srcRoot).get.toAbsolutePath
              .normalize.toString)
          case _ => d
        }
        val dn = a.putObject("deletionVector")
        dn.put("storageType", pd.storageType)
          .put("pathOrInlineDv", pd.pathOrInlineDv)
        pd.offset.foreach(dn.put("offset", _))
        dn.put("sizeInBytes", pd.sizeInBytes)
          .put("cardinality", pd.cardinality)
      }
      actions += n
    }
    Files.createDirectories(Paths.get(target))
    commit(target, 0L, actions.result(), "CLONE")
    0L
  }

  /** MERGE INTO `table` USING `source` ON the `keys` equi-condition —
    * the upsert primitive (commitInfo operation "MERGE"). Semantics:
    *
    *   - a matched target row UPDATEs to its source row's values for
    *     every table column (update-all), or is DELETED when
    *     `deleteWhen` evaluates true on that source row;
    *   - an unmatched source row INSERTs (unless its `deleteWhen`
    *     fires — a delete for an absent key is a no-op, the CDC
    *     convention);
    *   - unmatched target rows are untouched.
    *
    * Only data files containing at least one matched row are rewritten
    * (file-level merge-on-write): the key join finds the touched file
    * set via `_metadata.file_path`, survivors + updated rows + inserts
    * stage as new files, and ONE commit removes the touched files and
    * adds the new ones. At 100 TB the cost is the key join (broadcast
    * when the source is small — Catalyst's call) plus a rewrite
    * proportional to the TOUCHED files, never the table.
    *
    * Duplicate `keys` tuples in `source` are refused (the spec's
    * multiple-source-matches error — the merge result would be
    * nondeterministic). `source` must carry every table column; extra
    * columns may feed `deleteWhen` and are never written. On a
    * CDF-enabled table the commit carries the full change set
    * (update_preimage/update_postimage/delete/insert). Returns the new
    * version (the current head when the merge is a no-op). */
  def merge(spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String],
      deleteWhen: Option[org.apache.spark.sql.Column] = None,
      txn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, when}
    val (df, state) = scan(spark, table, None, keepMeta = true)
    val head = (versions(table) ++ lastCheckpoint(table).map(_._1)).max
    // idempotency in ONE replay: a merge carrying a txn at or below the
    // recorded watermark is a checkpoint replay — skip without a commit
    txn.foreach { case (appId, v) =>
      if (state.txns.get(appId).exists(_ >= v)) return head
    }
    val schema = DataType.fromJson(state.schemaJson.getOrElse(
      throw new IllegalStateException(s"$table has no metaData action")))
      .asInstanceOf[StructType]
    val tableCols = schema.fieldNames.toSeq
    require(keys.nonEmpty && keys.forall(tableCols.contains),
      s"merge keys (${keys.mkString(", ")}) must be table columns")
    val missingCols = tableCols.filterNot(source.columns.contains)
    require(missingCols.isEmpty,
      s"merge source is missing table columns (${missingCols.mkString(", ")})")
    if (source.groupBy(keys.map(source.col): _*)
        .agg(count(lit(1)).as("__cnt"))
        .filter(col("__cnt") > 1).take(1).nonEmpty)
      throw new IllegalArgumentException(
        s"merge source has duplicate (${keys.mkString(", ")}) tuples — " +
          "a target row would match more than one source row")
    val typeByName = schema.fields
      .map(f => f.name -> cleanType(f.dataType)).toMap
    // source columns renamed __s_* so the join frame never collides
    // with target names; the delete flag evaluates over the RAW source
    // frame (it may reference extra, non-table columns) and a NULL
    // verdict means false — never a silent delete
    val srcPrep = source.select(tableCols.map(c =>
      source.col(c).cast(typeByName(c)).as(s"__s_$c")) ++ Seq(
      coalesce(deleteWhen.getOrElse(lit(false)).cast("boolean"), lit(false))
        .as("__s_del"),
      lit(true).as("__s_m")): _*)
    def withType(d: DataFrame, t: String): DataFrame =
      d.withColumn("_change_type", lit(t))
    if (state.files.isEmpty) {
      val ins = srcPrep.filter(!col("__s_del"))
        .select(tableCols.map(c => col(s"__s_$c").as(c)): _*)
      if (ins.isEmpty) return txnOnlyCommit(table, head, txn, "MERGE")
      return writeImpl(ins, table, "append", Seq.empty, "none", Seq.empty,
        Map.empty, Some(withType(ins, "insert")), Some("MERGE"),
        txn = txn)
    }
    // ONE full-outer key join feeds every leg (touched files, survivors,
    // inserts, change set) — persisted, so the scan+join runs once, not
    // once per leg. Source-only rows have a null __fp; __m marks the
    // target side the same way __s_m marks the source side, because on
    // an all-null-column target row __fp alone could not distinguish.
    val joinCond = keys.map(c => df(c) === srcPrep(s"__s_$c")).reduce(_ && _)
    val joined = df.withColumn("__m", lit(true))
      .join(srcPrep, joinCond, "full_outer")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the touched FILE set — manifest-sized driver state, like the log
      val touchedUris = joined
        .filter(col("__m").isNotNull && col("__s_m").isNotNull)
        .select("__fp").distinct().collect().map(_.getString(0)).sorted
      val relByAbs = state.files.keys
        .map(rel => absPath(table, rel) -> rel).toMap
      val touchedRel = touchedUris.map(u => relByAbs.getOrElse(uriToPath(u),
        throw new IllegalStateException(s"$u not in the live file set")))
        .sorted
      val insertRows = joined
        .filter(col("__m").isNull && !col("__s_del"))
        .select(tableCols.map(c => col(s"__s_$c").as(c)): _*)
      if (touchedRel.isEmpty) {
        if (insertRows.isEmpty)
          return txnOnlyCommit(table, head, txn, "MERGE")
        return writeImpl(insertRows, table, "append", Seq.empty, "none",
          Seq.empty, Map.empty,
          Some(withType(insertRows, "insert")), Some("MERGE"),
          txn = txn)
      }
      val inTouched = joined.filter(col("__m").isNotNull &&
        col("__fp").isInCollection(touchedUris))
      val survivors = inTouched
        .filter(col("__s_m").isNull || !col("__s_del"))
        .select(tableCols.map(c =>
          when(col("__s_m").isNotNull, col(s"__s_$c"))
            .otherwise(df(c)).as(c)): _*)
      val newData = survivors.union(insertRows)
      val changes =
        if (!state.cdfEnabled) None
        else {
          val matched = inTouched.filter(col("__s_m").isNotNull)
          val updated = matched.filter(!col("__s_del"))
          Some(LakeFs.unionAll(Seq(
            withType(updated.select(tableCols.map(c => df(c).as(c)): _*),
              "update_preimage"),
            withType(updated.select(tableCols.map(c =>
              col(s"__s_$c").as(c)): _*), "update_postimage"),
            withType(matched.filter(col("__s_del"))
              .select(tableCols.map(c => df(c).as(c)): _*), "delete"),
            withType(insertRows, "insert"))))
        }
      writeImpl(newData, table, "append", Seq.empty, "none",
        touchedRel.toSeq, Map.empty, changes, Some("MERGE"), txn = txn)
    } finally joined.unpersist()
  }

  /** CHANGE DATA FEED read: the row-level changes committed in
    * versions `fromVersion..toVersion` (inclusive; default the head),
    * as the table columns plus `_change_type` (insert /
    * update_preimage / update_postimage / delete) and
    * `_commit_version`. Per the spec, a commit carrying `cdc` actions
    * is read from its _change_data files EXCLUSIVELY; a commit without
    * them derives inserts from its dataChange adds (a plain append). A
    * commit that removed data without change files (a non-CDF writer's
    * overwrite) refuses loudly rather than fabricating changes;
    * dataChange=false commits (purge, checkpointing) contribute
    * nothing. Requires `delta.enableChangeDataFeed=true`. */
  def readChanges(spark: SparkSession, table: String, fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types.{StringType, StructField}
    val state = replay(spark, table, None)
    if (!state.cdfEnabled)
      throw new UnsupportedOperationException(
        s"$table: delta.enableChangeDataFeed is not set — no change feed")
    val vs = versions(table)
    if (fromVersion < vs.min)
      throw new UnsupportedOperationException(
        s"$table: change feed from v$fromVersion unavailable — earliest " +
          s"surviving commit is v${vs.min} (older JSON vacuumed)")
    val to = toVersion.getOrElse(vs.max)
    val schemaM = DataType.fromJson(state.schemaJson.getOrElse(
      throw new IllegalStateException(s"$table has no metaData action")))
      .asInstanceOf[StructType]
    val partCols = state.partitionColumns
    val physByLogical = schemaM.fields
      .map(f => f.name -> physicalFieldName(f)).toMap
    val partTypeOf = schemaM.fields.map(f => f.name -> f.dataType).toMap
    val dataFieldsM = schemaM.fields.filterNot(f => partCols.contains(f.name))

    // one scan per (commit, partition tuple, kind) group; each group's
    // rows come back as logical columns + _change_type + version
    def readGroup(paths: Seq[String], pv: Map[String, Option[String]],
        hasTypeCol: Boolean, version: Long): DataFrame = {
      val readSchema = StructType(dataFieldsM.map(f =>
        StructField(physicalFieldName(f), physicalType(f.dataType))).toSeq ++
        (if (hasTypeCol) Seq(StructField("_change_type", StringType))
         else Nil))
      val base = spark.read.schema(readSchema)
        .parquet(paths.sorted: _*)
      val dataCols = dataFieldsM.toSeq.map(f =>
        col(s"`${physicalFieldName(f)}`")
          .cast(cleanType(f.dataType)).as(f.name))
      val typeCol =
        if (hasTypeCol) col("_change_type")
        else lit("insert").as("_change_type")
      val typed = base.select(dataCols :+ typeCol: _*)
      val withParts = partCols.foldLeft(typed) { (d, c) =>
        val v = pv.getOrElse(physByLogical(c), None)
        d.withColumn(c, v.map(lit(_)).getOrElse(lit(null))
          .cast(cleanType(partTypeOf(c))))
      }
      withParts.select(schemaM.fieldNames.map(col).toIndexedSeq :+
        col("_change_type"): _*)
        .withColumn("_commit_version", lit(version))
    }

    val frames = for (v <- vs if v >= fromVersion && v <= to) yield {
      val lines = Files.readAllLines(versionFile(table, v)).asScala
      val cdc = Seq.newBuilder[(String, Map[String, Option[String]])]
      val addsDc = Seq.newBuilder[(String, Map[String, Option[String]])]
      var removesDc = false
      for (line <- lines if line.trim.nonEmpty) {
        val node = mapper.readTree(line)
        def pvOf(a: com.fasterxml.jackson.databind.JsonNode) =
          a.path("partitionValues").properties().asScala
            .map(e => e.getKey ->
              (if (e.getValue.isNull) None else Some(e.getValue.asText())))
            .toMap
        if (node.has("cdc")) {
          val a = node.get("cdc")
          cdc += (PathCodec.percentDecode(a.get("path").asText()) -> pvOf(a))
        }
        if (node.has("add")) {
          val a = node.get("add")
          if (a.path("dataChange").asBoolean(true))
            addsDc += (PathCodec.percentDecode(a.get("path").asText()) ->
              pvOf(a))
        }
        if (node.has("remove") &&
            node.get("remove").path("dataChange").asBoolean(true))
          removesDc = true
      }
      val cdcFiles = cdc.result()
      if (cdcFiles.nonEmpty)
        cdcFiles.groupBy(_._2).toSeq.sortBy(_._1.toString).map {
          case (pv, fs) =>
            readGroup(fs.map(f => absPath(table, f._1)), pv,
              hasTypeCol = true, v)
        }
      else if (removesDc)
        throw new UnsupportedOperationException(
          s"$table: commit v$v removed data without change files " +
            "(written before CDF was enabled, or by a non-CDF writer) — " +
            "its changes cannot be reconstructed")
      else
        addsDc.result().groupBy(_._2).toSeq.sortBy(_._1.toString).map {
          case (pv, fs) =>
            readGroup(fs.map(f => absPath(table, f._1)), pv,
              hasTypeCol = false, v)
        }
    }
    val flat = frames.flatten
    if (flat.nonEmpty) LakeFs.unionAll(flat)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(cleanType(schemaM).asInstanceOf[StructType].fields.toSeq ++
        Seq(StructField("_change_type", StringType),
          StructField("_commit_version",
            org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** SCHEMA EVOLUTION — a metaData-only commit (ALTER TABLE class):
    * `adds` append optional columns — old files null-fill at scan, and
    * on mapped tables each new column gets a fresh id + physical name;
    * `renames` / `drops` change only the LOGICAL schema and REQUIRE
    * column mapping (the protocol's rule — without mapping, parquet
    * columns are addressed by logical name and every old file would
    * detach from a renamed column). Partition columns rename with the
    * table but can never drop. No data IO. Returns the new version. */
  def evolveSchema(spark: SparkSession, table: String,
      adds: Seq[org.apache.spark.sql.types.StructField] = Seq.empty,
      renames: Map[String, String] = Map.empty,
      drops: Seq[String] = Seq.empty): Long = {
    require(adds.nonEmpty || renames.nonEmpty || drops.nonEmpty,
      "nothing to evolve")
    val state = replay(spark, table, None)
    val head = (versions(table) ++ lastCheckpoint(table).map(_._1)).max
    val schema = DataType.fromJson(state.schemaJson.getOrElse(
      throw new IllegalStateException(s"$table has no metaData action")))
      .asInstanceOf[StructType]
    val cmap = state.columnMappingMode != "none"
    if ((renames.nonEmpty || drops.nonEmpty) && !cmap)
      throw new UnsupportedOperationException(
        s"$table: rename/drop require column mapping — create the " +
          "table with columnMapping = \"name\" or \"id\"")
    val names = schema.fieldNames.toSeq
    (renames.keys ++ drops).foreach(n => require(names.contains(n),
      s"$table has no column '$n'"))
    require((renames.keySet & drops.toSet).isEmpty,
      "rename and drop of the same column")
    require(!state.partitionColumns.exists(drops.contains),
      "cannot drop a partition column")
    // A CHECK constraint referencing a renamed/dropped column would
    // survive in config naming the OLD column, and then every later
    // write dies resolving it — the table bricks through a supported
    // ALTER. Real Delta refuses the ALTER; so do we (drop the
    // constraint first).
    // Spark resolves columns case-INsensitively by default, so the
    // reference/rename compare must too — else `RENAME Price` slips past
    // a constraint on `price` and bricks every later write.
    def lc(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val touchedLc = (renames.keySet ++ drops.toSet).map(lc)
    for ((cname, cexpr) <- state.config
        if cname.startsWith("delta.constraints.")) {
      val refs = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(cexpr).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.name
        }.toSet
      val touched = refs.filter(r => touchedLc.contains(lc(r)))
      if (touched.nonEmpty) throw new IllegalArgumentException(
        s"$table: column(s) ${touched.mkString(", ")} are referenced by " +
          s"CHECK constraint '${cname.stripPrefix("delta.constraints.")}' " +
          s"($cexpr) — drop the constraint before renaming/dropping")
    }
    // Same bricking hazard for GENERATED columns: a generation
    // expression referencing a renamed/dropped SOURCE column would fail
    // analysis on every later write. (Renaming or dropping the generated
    // column itself is fine — its metadata rides or leaves with the
    // field.)
    for (f <- schema.fields
        if f.metadata.contains("delta.generationExpression")) {
      val gexpr = f.metadata.getString("delta.generationExpression")
      val refs = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseExpression(gexpr).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            a.name
        }.toSet
      val touched = refs.filter(r => touchedLc.contains(lc(r)))
      if (touched.nonEmpty) throw new IllegalArgumentException(
        s"$table: column(s) ${touched.mkString(", ")} are referenced by " +
          s"the generation expression of '${f.name}' ($gexpr) — " +
          "generated columns pin their sources")
    }
    val maxId = math.max(
      state.config.get("delta.columnMapping.maxColumnId")
        .map(_.toLong).getOrElse(0L),
      schema.fields.flatMap(f =>
        if (f.metadata.contains("delta.columnMapping.id"))
          Some(f.metadata.getLong("delta.columnMapping.id"))
        else None).maxOption.getOrElse(0L))
    var nextId = maxId
    val kept = schema.fields.toSeq.filterNot(f => drops.contains(f.name))
      .map(f => renames.get(f.name).fold(f)(nn => f.copy(name = nn)))
    val added = adds.map { sf =>
      if (!cmap) sf.copy(nullable = true)
      else {
        nextId += 1
        sf.copy(nullable = true,
          metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(sf.metadata)
            .putLong("delta.columnMapping.id", nextId)
            .putString("delta.columnMapping.physicalName",
              s"col-${UUID.randomUUID()}")
            .build())
      }
    }
    val newSchema = StructType(kept ++ added)
    val newNames = newSchema.fieldNames.toSeq
    require(newNames.distinct == newNames,
      s"evolved schema has duplicate columns " +
        s"(${newNames.diff(newNames.distinct).mkString(", ")})")
    val newConf =
      if (cmap)
        state.config + ("delta.columnMapping.maxColumnId" -> nextId.toString)
      else state.config
    commitConfig(table, state, newConf, "ALTER TABLE",
      schemaJson = Some(newSchema.json),
      partitionColumns =
        Some(state.partitionColumns.map(c => renames.getOrElse(c, c))))
  }

  /** CHECK constraints (Delta spec: `delta.constraints.<name>` table
    * configuration; ALTER TABLE ADD CONSTRAINT … CHECK (…)). The
    * predicate must hold for every row of every future write; per the
    * spec a row passes when the expression is TRUE **or NULL** (SQL
    * CHECK semantics), and fails only on FALSE. Adding a constraint
    * first validates EXISTING data — a distributed scan whose plan is
    * `filter(violation).limit(1)` (early-exit: one surviving row stops
    * the scan; at 100 TB a clean table still pays one full read, which
    * is what the real ALTER TABLE pays too) — then lands a
    * metadata-only commit. Enforcement for writes lives in
    * [[writeImpl]], which covers append/overwrite, [[merge]] and the
    * followers; maintenance rewrites (`dataChange = false`) skip the
    * check — they move bytes, not logical rows, so the data was already
    * validated when it entered. */
  def addConstraint(spark: SparkSession, table: String, name: String,
      sqlExpr: String): Long = {
    require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"constraint name '$name' (identifier expected)")
    val state = replay(spark, table, None)
    val key = s"delta.constraints.${name.toLowerCase}"
    if (state.config.contains(key))
      throw new IllegalArgumentException(
        s"$table already has constraint '$name': ${state.config(key)}")
    val viol = read(spark, table).filter(
      functions.coalesce(functions.expr(sqlExpr),
        functions.lit(true)) === false)
    if (viol.limit(1).count() > 0)
      throw new IllegalArgumentException(
        s"$table: existing rows violate CHECK ($sqlExpr) — " +
          "constraint not added")
    commitConfig(table, state, state.config + (key -> sqlExpr),
      s"ADD CONSTRAINT $name")
  }

  /** ALTER TABLE DROP CONSTRAINT — metadata-only. */
  def dropConstraint(spark: SparkSession, table: String,
      name: String): Long = {
    val state = replay(spark, table, None)
    val key = s"delta.constraints.${name.toLowerCase}"
    if (!state.config.contains(key))
      throw new IllegalArgumentException(
        s"$table has no constraint '$name'")
    commitConfig(table, state, state.config - key,
      s"DROP CONSTRAINT $name")
  }

  /** Active CHECK constraints: name → SQL predicate. */
  def constraints(spark: SparkSession, table: String): Map[String, String] =
    replay(spark, table, None).config.collect {
      case (k, v) if k.startsWith("delta.constraints.") =>
        k.stripPrefix("delta.constraints.") -> v
    }

  /** Metadata-only commit replacing the table configuration (the
    * evolveSchema commit shape: same id/schema/partitioning, new
    * config). */
  private def commitConfig(table: String, state: LogState,
      newConf: Map[String, String], operation: String,
      schemaJson: Option[String] = None,
      partitionColumns: Option[Seq[String]] = None): Long = {
    val head = (versions(table) ++ lastCheckpoint(table).map(_._1)).max
    val meta = mapper.createObjectNode()
    val m = meta.putObject("metaData")
    m.put("id", state.metaId.getOrElse(UUID.randomUUID().toString))
    m.putObject("format").put("provider", "parquet").putObject("options")
    m.put("schemaString", schemaJson.orElse(state.schemaJson).getOrElse(
      throw new IllegalStateException(s"$table has no metaData action")))
    val pcArr = m.putArray("partitionColumns")
    partitionColumns.getOrElse(state.partitionColumns).foreach(pcArr.add)
    val confNode = m.putObject("configuration")
    newConf.foreach { case (k, v) => confNode.put(k, v) }
    commit(table, head + 1, Seq(meta), operation)
    head + 1
  }

  /** DESCRIBE HISTORY: one row per surviving commit — (version,
    * timestamp, operation, engine_info) from each commit's commitInfo
    * action; commits written without one (foreign writers) carry
    * nulls. Driver-side log walk, manifest-sized. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    versions(table).map { v =>
      val lines = Files.readAllLines(versionFile(table, v)).asScala
      val info = lines.filter(_.trim.nonEmpty).map(mapper.readTree)
        .find(_.has("commitInfo")).map(_.get("commitInfo"))
      (v,
        info.map(_.path("timestamp").asLong()),
        info.map(_.path("operation").asText()),
        info.map(_.path("engineInfo").asText(null)).flatMap(Option(_)))
    }.toDF("version", "timestamp", "operation", "engine_info")
  }

  /** Write a parquet checkpoint of the table head and point
    * `_last_checkpoint` at it — what a Delta writer does every 10
    * commits so readers replay O(1) JSON files instead of the whole
    * history (and old JSON can be vacuumed). One row per action:
    * protocol, metaData, and one add per live file. Returns the
    * checkpointed version.
    *
    * `v2 = true` writes the V2-spec shape instead of classic: a
    * UUID-named `n.checkpoint.<uuid>.parquet` holding protocol /
    * metaData / txn / checkpointMetadata plus `sidecar` pointers, with
    * the add actions in a sidecar parquet under `_delta_log/_sidecars/`
    * — and a protocol carrying the `v2Checkpoint` table feature, so a
    * newer engine following one of our long-history exports resumes
    * from the checkpoint instead of re-replaying vacuumable JSON.
    * Classic stays the default (readable by every Delta reader). */
  def checkpoint(spark: SparkSession, table: String,
      v2: Boolean = false): Long = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val vs = versions(table)
    val cpPrior = lastCheckpoint(table).map(_._1)
    val version = (vs ++ cpPrior).maxOption.getOrElse(
      throw new NoSuchElementException(s"no Delta log at $table"))
    val state = replay(spark, table, None)
    val schemaJson = state.schemaJson.getOrElse(
      throw new IllegalStateException(s"$table has no metaData action"))

    val protocolT = StructType(Seq(
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))))
    val formatT = StructType(Seq(
      StructField("provider", StringType),
      StructField("options", MapType(StringType, StringType))))
    val metaT = StructType(Seq(
      StructField("id", StringType),
      StructField("format", formatT),
      StructField("schemaString", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("configuration", MapType(StringType, StringType)),
      StructField("createdTime", LongType)))
    val dvT = StructType(Seq(
      StructField("storageType", StringType),
      StructField("pathOrInlineDv", StringType),
      StructField("offset", IntegerType),
      StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType)))
    val addT = StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues",
        MapType(StringType, StringType, valueContainsNull = true)),
      StructField("size", LongType),
      StructField("modificationTime", LongType),
      StructField("dataChange", BooleanType),
      StructField("stats", StringType),
      StructField("deletionVector", dvT)))
    val txnT = StructType(Seq(
      StructField("appId", StringType),
      StructField("version", LongType)))
    val rowT = StructType(Seq(
      StructField("protocol", protocolT),
      StructField("metaData", metaT),
      StructField("add", addT),
      StructField("txn", txnT)))

    val cmap = state.columnMappingMode != "none"
    val protoRow =
      if (v2) {
        // The v2Checkpoint table feature requires the feature-vector
        // protocol (3/7); carry every feature the table actually uses.
        val rf = Seq("v2Checkpoint") ++
          (if (state.dvEnabled) Seq("deletionVectors") else Nil) ++
          (if (cmap) Seq("columnMapping") else Nil)
        Row(3, 7, rf, rf ++ Seq("appendOnly", "invariants") ++
          (if (state.cdfEnabled) Seq("changeDataFeed") else Nil))
      } else if (state.dvEnabled) {
        val rf = Seq("deletionVectors") ++ (if (cmap) Seq("columnMapping") else Nil)
        Row(3, 7, rf, rf ++ Seq("appendOnly", "invariants") ++
          (if (state.cdfEnabled) Seq("changeDataFeed") else Nil))
      } else if (cmap) Row(2, 5, null, null)
      else if (state.cdfEnabled) Row(1, 4, null, null)
      else Row(1, 2, null, null)
    // the FULL configuration survives the checkpoint — dropping a key
    // (CDF, mapping mode) would silently change table behavior once the
    // pre-checkpoint JSON is vacuumed
    val conf = state.config
    val now = System.currentTimeMillis()
    // the table id is STABLE — re-minting one per checkpoint would
    // make readers see a different table identity after vacuum
    val metaRow = Row(state.metaId.getOrElse(UUID.randomUUID().toString),
      Row("parquet", Map.empty[String, String]), schemaJson,
      state.partitionColumns, conf, now)
    // streaming writers' txn watermarks survive the checkpoint (the
    // spec keeps SetTransaction state live) — dropping them would
    // break exactly-once resume after old JSON is vacuumed
    val txnRows = state.txns.toSeq.sorted.map { case (appId, v) =>
      Row(appId, v)
    }
    val addRows = Manifest.parFiles(state.files.toSeq.sortBy(_._1)) {
      case (path, add) =>
      // A live file that cannot be stat'ed means the table is already
      // corrupt — fail NOW, not after the JSON that could explain it
      // has been vacuumed and the checkpoint is the only truth.
      val onDisk = Paths.get(absPath(table, path))
      if (!Files.exists(onDisk))
        throw new IllegalStateException(
          s"$table: live file $path missing on disk — refusing to " +
            "checkpoint a corrupt table")
      val dvRow = add.dv.map(d => Row(d.storageType, d.pathOrInlineDv,
        d.offset.map(Int.box).orNull, d.sizeInBytes, d.cardinality)).orNull
      // Stats CARRY from the log when the add action has them (the spec
      // semantics — a checkpoint is a compaction of the log, and every
      // writer path here keeps add.stats current, DV tightness
      // included); the footer recompute is only the fallback for
      // foreign logs written without stats. Sequentially recomputing
      // 10⁴ footers was 70 s of a 10k-file checkpoint (MetaScaleProbe);
      // carrying is O(1) per file and the fallback runs on the pool.
      val stats = add.stats.getOrElse(statsJson(FooterStats.read(onDisk),
        tight = if (add.dv.isDefined) Some(false) else None))
      Row(encodePath(path),
        add.partitionValues.map { case (k, v) => k -> v.orNull },
        if (add.size > 0L) add.size else Files.size(onDisk), now, true,
        stats, dvRow)
    }
    // One file per role: the action list is manifest-sized. (Readers
    // handle multi-part checkpoints; writing them only matters once the
    // manifest itself outgrows one parquet file.)
    def writeOneParquet(rows: Seq[Row], schema: StructType,
        target: Path): Unit = {
      val tmp = Files.createTempDirectory(Paths.get(table), ".ckpt")
      spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = Manifest.withListing(tmp)(_.find(
        _.getFileName.toString.endsWith(".parquet")).get)
      Files.createDirectories(target.getParent)
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
      LakeFs.deleteRec(tmp)
    }
    val nActions =
      if (v2) {
        // Sidecar carries the file actions; the UUID-named main file
        // carries everything else plus checkpointMetadata + the pointer.
        val sidecarName = s"${UUID.randomUUID()}.parquet"
        val sidecarPath = logDir(table).resolve("_sidecars")
          .resolve(sidecarName)
        val sidecarT = StructType(Seq(StructField("add", addT)))
        writeOneParquet(addRows.map(Row(_)), sidecarT, sidecarPath)
        val cpMetaT = StructType(Seq(
          StructField("version", LongType),
          StructField("tags", MapType(StringType, StringType))))
        val sidecarPtrT = StructType(Seq(
          StructField("path", StringType),
          StructField("sizeInBytes", LongType),
          StructField("modificationTime", LongType),
          StructField("tags", MapType(StringType, StringType))))
        val rowT2 = StructType(Seq(
          StructField("protocol", protocolT),
          StructField("metaData", metaT),
          StructField("txn", txnT),
          StructField("checkpointMetadata", cpMetaT),
          StructField("sidecar", sidecarPtrT)))
        val mainRows =
          Seq(Row(protoRow, null, null, null, null),
            Row(null, metaRow, null, null, null)) ++
          txnRows.map(t => Row(null, null, t, null, null)) ++
          Seq(Row(null, null, null, Row(version, null), null),
            Row(null, null, null, null,
              Row(sidecarName, Files.size(sidecarPath), now, null)))
        writeOneParquet(mainRows, rowT2, logDir(table)
          .resolve(f"$version%020d.checkpoint.${UUID.randomUUID()}.parquet"))
        mainRows.size + addRows.size
      } else {
        val rows =
          Seq(Row(protoRow, null, null, null),
            Row(null, metaRow, null, null)) ++
          txnRows.map(t => Row(null, null, null, t)) ++
          addRows.map(a => Row(null, null, a, null))
        writeOneParquet(rows, rowT,
          logDir(table).resolve(f"$version%020d.checkpoint.parquet"))
        rows.size
      }
    val lcTmp = Files.createTempFile(logDir(table), ".tmp", ".json")
    Files.write(lcTmp,
      s"""{"version":$version,"size":$nActions}"""
        .getBytes(StandardCharsets.UTF_8))
    Files.move(lcTmp, logDir(table).resolve("_last_checkpoint"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    version
  }
}
