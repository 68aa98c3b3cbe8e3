package graft.lake

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader,
  GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Read-only Iceberg table support — the reference reads existing
  * Iceberg tables (`/root/reference/CHANGELOG.md:25`) and stores its own
  * mirrors as Iceberg. No Iceberg runtime jars exist in this
  * environment, but the format is open: JSON table metadata + Avro
  * manifest lists + Avro manifests over parquet data, and the Avro core
  * jars ship with Spark. This reader walks the real layout:
  *
  *   metadata/version-hint.text → vN.metadata.json → current snapshot →
  *   manifest list (Avro) → manifests (Avro) → live parquet files,
  *
  * maps the Iceberg primitive schema to Spark types, and scans with the
  * declared schema. Scope: primitive columns; unpartitioned or
  * identity-partitioned data; v2 merge-on-read with position-delete
  * files AND global equality-delete files (sequence-scoped). Out of
  * scope and refused, never mis-read (same discipline as
  * [[DeltaCompat]]): non-identity transforms, spec evolution,
  * partition-scoped equality deletes, entries without resolvable
  * sequence numbers when deletes depend on them. Snapshot selection
  * enables time travel by id.
  */
object IcebergCompat {

  private val mapper = new ObjectMapper()

  private def avroRecords(path: String): Seq[GenericRecord] = {
    val reader = new DataFileReader[GenericRecord](
      new File(path), new GenericDatumReader[GenericRecord]())
    try reader.iterator().asScala.toList
    finally reader.close()
  }

  private def localPath(uri: String): String =
    uri.stripPrefix("file:").replaceAll("^//+", "/")

  /** Latest metadata JSON for the table. */
  private def currentMetadata(tableDir: String): JsonNode = {
    val metaDir = Paths.get(tableDir, "metadata")
    if (!Files.isDirectory(metaDir))
      throw new NoSuchElementException(s"no Iceberg metadata at $tableDir")
    val hint = metaDir.resolve("version-hint.text")
    val metaFile =
      if (Files.exists(hint)) {
        val v = new String(Files.readAllBytes(hint), "UTF-8").trim
        metaDir.resolve(s"v$v.metadata.json")
      } else {
        Manifest.withListing(metaDir)(_.filter(
          _.getFileName.toString.endsWith(".metadata.json")).toSeq)
          .sortBy(_.getFileName.toString).lastOption
          .getOrElse(throw new NoSuchElementException(
            s"no *.metadata.json under $metaDir"))
      }
    mapper.readTree(new String(Files.readAllBytes(metaFile), "UTF-8"))
  }

  private def toSparkType(t: String): DataType = t match {
    case "boolean" => BooleanType
    case "int" => IntegerType
    case "long" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "string" => StringType
    case "binary" => BinaryType
    case "date" => DateType
    case "timestamp" => TimestampNTZType
    case "timestamptz" => TimestampType
    case dec if dec.startsWith("decimal(") =>
      val Array(p, s) = dec.stripPrefix("decimal(").stripSuffix(")")
        .split(",").map(_.trim.toInt)
      DecimalType(p, s)
    case other => throw new UnsupportedOperationException(
      s"Iceberg type '$other' out of this reader's scope")
  }

  private def currentSchemaNode(meta: JsonNode): JsonNode =
    if (meta.has("schemas")) {
      val id = meta.path("current-schema-id").asInt(0)
      meta.get("schemas").elements().asScala
        .find(_.path("schema-id").asInt(-1) == id)
        .getOrElse(meta.get("schemas").get(0))
    } else meta.get("schema")

  private def toStructType(meta: JsonNode): StructType =
    StructType(currentSchemaNode(meta).get("fields").elements().asScala
      .map { f =>
        val t = f.get("type")
        if (!t.isTextual) throw new UnsupportedOperationException(
          "nested Iceberg types out of this reader's scope")
        StructField(f.get("name").asText(), toSparkType(t.asText()),
          nullable = !f.path("required").asBoolean(false))
      }.toSeq)

  /** Iceberg schema field id → column name (equality_ids reference
    * fields by id, which for evolved schemas is NOT the position). */
  private def fieldIdToName(meta: JsonNode): Map[Int, String] =
    currentSchemaNode(meta).get("fields").elements().asScala
      .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap

  private[lake] case class SpecField(name: String, transform: String,
      sourceId: Int)

  /** Every partition spec in the metadata, by spec-id — spec evolution
    * keeps all historical specs and manifests reference theirs. */
  private def partitionSpecs(meta: JsonNode): Map[Int, Seq[SpecField]] =
    if (!meta.has("partition-specs")) Map.empty
    else meta.get("partition-specs").elements().asScala.map { s =>
      s.path("spec-id").asInt(0) ->
        s.path("fields").elements().asScala.map(f =>
          SpecField(f.get("name").asText(),
            f.path("transform").asText("identity"),
            f.path("source-id").asInt(-1))).toSeq
    }.toMap

  /** Default-spec fields as (sourceColumnName, transform), for write-side
    * inheritance checks. */
  private def defaultSpec(meta: JsonNode): Seq[(String, String)] = {
    val byId = fieldIdToName(meta)
    partitionSpecs(meta)
      .getOrElse(meta.path("default-spec-id").asInt(0), Seq.empty)
      .map(f => (byId.getOrElse(f.sourceId,
        throw new UnsupportedOperationException(
          s"partition spec references unknown source field id ${f.sourceId}")),
        f.transform))
  }

  /** Top-level parquet columns with their field-id annotations (the
    * spec's projection handles; absent on files written before the
    * writer annotated them). Footer-only — also the shape probe for
    * reconstruction-vs-direct scans. */
  private def parquetFields(p: Path): Seq[(String, Option[Int])] =
    Manifest.withFooter(p)(_.getFileMetaData.getSchema
      .getFields.asScala.map(t =>
        t.getName -> Option(t.getId).map(_.intValue)).toSeq)

  /** First live data file of the current snapshot, if any — the write
    * path's shape probe (one Avro read + one footer). */
  private def firstLiveDataFile(meta: JsonNode): Option[String] = {
    val current = meta.path("current-snapshot-id").asLong(-1)
    meta.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong(-2) == current)
      .map(_.get("manifest-list").asText())
      .toSeq.flatMap(ml => avroRecords(localPath(ml)))
      .filter { r =>
        r.getSchema.getField("content") == null || (r.get("content") match {
          case i: java.lang.Integer => i.intValue == 0
          case l: java.lang.Long => l.intValue == 0
          case _ => true
        })
      }
      .iterator
      .flatMap(r => avroRecords(localPath(r.get("manifest_path").toString)))
      .find(_.get("status").asInstanceOf[Int] != 2)
      .map(rec => localPath(rec.get("data_file")
        .asInstanceOf[GenericRecord].get("file_path").toString))
  }

  /** Unwrap an Avro partition-struct value to a plain JVM value. */
  private def avroValue(v: AnyRef): Any = v match {
    case null => null
    case u: org.apache.avro.util.Utf8 => u.toString
    case other => other
  }

  /** `_metadata.file_path` is a URI; manifest entries may carry either a
    * URI or a plain path. Normalize both sides to a plain local path
    * before the delete anti-join. */
  private def normPathCol(c: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions.regexp_replace
    regexp_replace(c, "^file:(//)?", "")
  }

  // --- manifest-bounds file skipping -----------------------------------

  /** Decode one spec single-value-binary bound (little-endian numerics,
    * raw UTF-8 strings, 1-byte booleans). Unknown type/width → None —
    * an undecodable bound must never prune. */
  private[lake] def decodeBound(b: Array[Byte], t: DataType): Option[Any] = {
    def bb = java.nio.ByteBuffer.wrap(b)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    t match {
      case IntegerType if b.length == 4 => Some(bb.getInt)
      case LongType if b.length == 8 => Some(bb.getLong)
      case FloatType if b.length == 4 => Some(bb.getFloat)
      case DoubleType if b.length == 8 => Some(bb.getDouble)
      case BooleanType if b.length == 1 => Some(b(0) != 0)
      case StringType =>
        Some(new String(b, java.nio.charset.StandardCharsets.UTF_8))
      // spec single-value encodings: date = 4-byte LE epoch days,
      // timestamp(tz) = 8-byte LE epoch micros — exactly the integral
      // values catalyst literals evaluate to, so BoundsPruning compares
      // them exactly (and tz-free: both sides are UTC-anchored micros)
      case DateType if b.length == 4 => Some(bb.getInt)
      case TimestampType | TimestampNTZType if b.length == 8 =>
        Some(bb.getLong)
      case _ => None
    }
  }

  /** The (field-id → bytes) bounds array of a manifest data_file record
    * as (columnName → decoded value). Absent field / foreign shape →
    * empty (never prune on what we cannot read). */
  private def boundsOf(df: GenericRecord, field: String,
      idToName: Map[Int, String],
      types: Map[String, DataType]): Map[String, Any] =
    if (df.getSchema.getField(field) == null) Map.empty
    else df.get(field) match {
      case arr: java.util.Collection[_] => arr.asScala.flatMap {
        case r: GenericRecord =>
          val id = r.get("key") match {
            case i: java.lang.Integer => i.intValue
            case l: java.lang.Long => l.intValue
            case _ => -1
          }
          for {
            name <- idToName.get(id)
            t <- types.get(name)
            bytes <- r.get("value") match {
              case bb: java.nio.ByteBuffer =>
                val d = new Array[Byte](bb.remaining())
                bb.duplicate().get(d)
                Some(d)
              case ba: Array[Byte] => Some(ba)
              case _ => None
            }
            v <- decodeBound(bytes, t)
          } yield name -> v
        case _ => None
      }.toMap
      case _ => Map.empty
    }

  /** The (field-id → long) counts array of a manifest data_file record
    * (value_counts / nan_value_counts shape) as (columnName → count).
    * Absent field / foreign shape → empty (unknown, never prune). */
  private def countsOf(df: GenericRecord, field: String,
      idToName: Map[Int, String]): Map[String, Long] =
    if (df.getSchema.getField(field) == null) Map.empty
    else df.get(field) match {
      case arr: java.util.Collection[_] => arr.asScala.flatMap {
        case r: GenericRecord =>
          val id = r.get("key") match {
            case i: java.lang.Integer => i.intValue
            case l: java.lang.Long => l.intValue
            case _ => -1
          }
          r.get("value") match {
            case n: java.lang.Number =>
              idToName.get(id).map(_ -> n.longValue)
            case _ => None
          }
        case _ => None
      }.toMap
      case _ => Map.empty
    }

  // range-conjunct extraction + bound comparison live in
  // [[BoundsPruning]], shared with DeltaCompat's stats-based skipping

  /** Scan the current (or an explicit) snapshot of an Iceberg table.
    *
    * Identity-partition columns are reconstructed from each file's
    * `partition` tuple in the manifest (the spec says readers take them
    * from metadata; data files written by hive-layout writers do not
    * contain them at all) — grouped per tuple, attached as typed
    * literals, never parsed from paths.
    *
    * V2 merge-on-read, both delete shapes, as anti-joins (the
    * Spark-native application — delete sets shuffle at delete-row
    * granularity, the data scan stays a plain pruned parquet scan):
    *   - POSITION deletes (content=1): left-anti on (file_path, pos)
    *     against the scan's `_metadata` columns; path-match is exact
    *     because file names are never reused.
    *   - EQUALITY deletes (content=2, what CDC writers emit): left-anti
    *     on the equality columns (null-safe, per spec) with the
    *     sequence rule — a delete applies only to rows whose data file
    *     has a STRICTLY OLDER data sequence number, so a re-insert of
    *     the same key in a later snapshot survives. Per-entry sequence
    *     numbers inherit from the manifest-list entry when absent. */
  def read(spark: SparkSession, tableDir: String,
      snapshotId: Option[Long] = None,
      prune: Option[org.apache.spark.sql.Column] = None,
      fileFilter: Option[Set[String]] = None): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    val meta = currentMetadata(tableDir)
    val schema = toStructType(meta)
    val fieldType = schema.fields.map(f => f.name -> f.dataType).toMap
    val idToName = fieldIdToName(meta)
    val specsById = partitionSpecs(meta)
    val wantId = snapshotId.getOrElse(meta.path("current-snapshot-id").asLong(-1))
    val snapshot = meta.get("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong(-2) == wantId)
      .getOrElse(throw new NoSuchElementException(
        s"snapshot $wantId not found in $tableDir"))
    val listRecords = avroRecords(localPath(
      snapshot.get("manifest-list").asText()))
    // content 0 = data manifests, 1 = delete manifests (absent field on
    // pre-v2 lists means data)
    def listContent(r: GenericRecord): Int =
      if (r.getSchema.getField("content") == null) 0
      else r.get("content") match {
        case i: java.lang.Integer => i.intValue
        case l: java.lang.Long => l.intValue
        case _ => 0
      }
    val (deleteManifests, dataManifests) =
      listRecords.partition(listContent(_) == 1)

    def numField(r: GenericRecord, f: String): Option[Long] =
      if (r.getSchema.getField(f) == null) None
      else r.get(f) match {
        case l: java.lang.Long => Some(l.longValue)
        case i: java.lang.Integer => Some(i.longValue)
        case _ => None // null = inherit
      }
    // Data sequence number: explicit on the entry, else inherited from
    // the manifest-list entry — and per the spec inheritance applies
    // ONLY to ADDED (status=1) entries; an EXISTING entry with a null
    // sequence number is malformed and would mis-scope equality deletes
    // (old data stamped with a new sequence silently survives its
    // deletes), so it resolves to None and is refused if sequence
    // numbers end up mattering.
    def seqOf(rec: GenericRecord, listRec: GenericRecord,
        status: Int): Option[Long] =
      numField(rec, "sequence_number").orElse(
        if (status == 1) numField(listRec, "sequence_number") else None)

    // Pushed-predicate conjuncts, extracted ONCE for both pruning
    // tiers: manifest-level (the list entry's `partitions` summaries,
    // below) and file-level (per-file bounds, further down).
    val pruneCs: Seq[(String, String, Any)] =
      prune.map(BoundsPruning.conjuncts(spark, schema, _))
        .getOrElse(Seq.empty)

    // MANIFEST SKIPPING on the list entry's partition summaries: a
    // data manifest whose identity-field summary range provably
    // excludes a conjunct is dropped before its Avro is ever opened.
    // This is the tier that matters at 100 TB — the manifest LIST is
    // one file, the manifests are ~10⁵; file-level bounds alone still
    // pay a metadata read per manifest. Strictly conservative: absent
    // summaries, foreign shapes, arity drift, non-identity transforms,
    // undecodable bounds, NaN-possible fp fields all keep the manifest
    // (and the surviving rows re-filter below, so pruning only cuts IO).
    def manifestMayMatch(listRec: GenericRecord): Boolean = {
      if (pruneCs.isEmpty) return true
      if (listRec.getSchema.getField("partitions") == null) return true
      listRec.get("partitions") match {
        case arr: java.util.Collection[_] if !arr.isEmpty =>
          val specId =
            numField(listRec, "partition_spec_id").getOrElse(0L).toInt
          specsById.get(specId) match {
            case Some(fields) if fields.size == arr.size =>
              val colBounds: Map[String, (Option[Any], Option[Any])] =
                fields.zip(arr.asScala.toSeq).flatMap {
                  case (f, sr: GenericRecord) if f.transform == "identity" =>
                    for {
                      col <- idToName.get(f.sourceId)
                      t <- fieldType.get(col)
                    } yield {
                      def bound(name: String): Option[Any] = {
                        // spec: summary bounds EXCLUDE NaN while Spark
                        // orders NaN above everything — prune on an fp
                        // bound only when contains_nan proves absence
                        val nanSafe = t match {
                          case FloatType | DoubleType =>
                            sr.getSchema.getField("contains_nan") != null &&
                              (sr.get("contains_nan") match {
                                case b: java.lang.Boolean => !b.booleanValue
                                case _ => false
                              })
                          case _ => true
                        }
                        if (!nanSafe) None
                        else if (sr.getSchema.getField(name) == null) None
                        else sr.get(name) match {
                          case bb: java.nio.ByteBuffer =>
                            val d = new Array[Byte](bb.remaining())
                            bb.duplicate().get(d)
                            decodeBound(d, t)
                          case ba: Array[Byte] => decodeBound(ba, t)
                          case _ => None
                        }
                      }
                      col -> (bound("lower_bound"), bound("upper_bound"))
                    }
                  case _ => None
                }.toMap
              pruneCs.forall { case (n, op, v) =>
                colBounds.get(n) match {
                  case Some((lo, hi)) => BoundsPruning.keeps(lo, hi, op, v)
                  case None => true
                }
              }
            case _ => true
          }
        case _ => true
      }
    }
    val keptDataManifests = dataManifests.filter(manifestMayMatch)

    // data files with their manifest partition values + data sequence +
    // the spec their manifest was written under + decoded column bounds
    case class DataFileInfo(path: String, partVals: Map[String, Any],
        seq: Option[Long], specId: Int, lower: Map[String, Any],
        upper: Map[String, Any], sizeBytes: Long)
    val allDataFiles: Seq[DataFileInfo] =
      keptDataManifests.flatMap { listRec =>
        val m = listRec.get("manifest_path").toString
        val specId = numField(listRec, "partition_spec_id").getOrElse(0L).toInt
        avroRecords(localPath(m)).flatMap { rec =>
          val status = rec.get("status").asInstanceOf[Int]
          if (status == 2) None // DELETED
          else {
            val df = rec.get("data_file").asInstanceOf[GenericRecord]
            val fmt = df.get("file_format").toString
            if (!fmt.equalsIgnoreCase("parquet"))
              throw new UnsupportedOperationException(
                s"Iceberg data file format $fmt out of scope")
            val pr = // fabricated/minimal manifests may omit the struct
              if (df.getSchema.getField("partition") == null) null
              else df.get("partition").asInstanceOf[GenericRecord]
            val pv =
              if (pr == null) Map.empty[String, Any]
              else pr.getSchema.getFields.asScala
                .map(f => f.name -> avroValue(pr.get(f.name))).toMap
            // bounds decode only when a prune predicate will consult
            // them — the common unpruned read keeps the manifest walk
            // allocation-free. Float/double bounds EXCLUDE NaN per
            // spec, while Spark orders NaN greater than everything —
            // so a file with rows [1.0, NaN] and upper bound 1.0 DOES
            // hold rows matching `x > 5`. An fp bound may prune only
            // when nan_value_counts proves the file NaN-free; absent
            // or nonzero count → drop the bound (keep the file).
            def fpSafe(m: Map[String, Any]): Map[String, Any] =
              if (m.isEmpty) m
              else {
                lazy val nan = countsOf(df, "nan_value_counts", idToName)
                m.filter { case (n, _) =>
                  fieldType.get(n) match {
                    case Some(FloatType) | Some(DoubleType) =>
                      nan.get(n).contains(0L)
                    case _ => true
                  }
                }
              }
            Some(DataFileInfo(localPath(df.get("file_path").toString), pv,
              seqOf(rec, listRec, status), specId,
              if (pruneCs.isEmpty) Map.empty
              else fpSafe(boundsOf(df, "lower_bounds", idToName, fieldType)),
              if (pruneCs.isEmpty) Map.empty
              else fpSafe(boundsOf(df, "upper_bounds", idToName, fieldType)),
              // spec field file_size_in_bytes: exact by contract; 0
              // (fabricated/minimal manifests may omit it) degrades the
              // scan to filesystem discovery in StaticParquet.read
              (if (df.getSchema.getField("file_size_in_bytes") == null) 0L
              else Option(df.get("file_size_in_bytes"))
                .collect { case n: java.lang.Number => n.longValue }
                .getOrElse(0L))))
          }
        }
      }
    // FILE SKIPPING on the pushed predicate: per-column lower/upper
    // bounds from the manifests (the r5 writer emits them; real engines'
    // manifests carry them too), with an identity partition value
    // standing in as an exact [v, v] bound when column bounds are
    // absent. A file is kept unless a conjunct PROVABLY excludes it —
    // undecodable bounds, unknown columns, foreign ops all keep.
    // Manifest-sized driver work that can cut a 100 TB scan to the
    // matching files before any parquet footer is opened.
    // Optional hard restriction to a caller-supplied file set (localPath
    // form) — [[readChanges]] uses it to diff two snapshots touching only
    // the files that differ between them. Orthogonal to prune: filter
    // first, bounds-prune what survives.
    val scopedDataFiles = fileFilter match {
      case None => allDataFiles
      case Some(keep) => allDataFiles.filter(f => keep.contains(f.path))
    }
    val dataFiles: Seq[DataFileInfo] =
      if (pruneCs.isEmpty) scopedDataFiles
      else {
        scopedDataFiles.filter { f =>
          pruneCs.forall { case (n, op, v) =>
            val lo = f.lower.get(n).orElse(
              Option(f.partVals.getOrElse(n, null)))
            val hi = f.upper.get(n).orElse(
              Option(f.partVals.getOrElse(n, null)))
            BoundsPruning.keeps(lo, hi, op, v)
          }
        }
      }

    // delete files: positional (content 1) and equality (content 2)
    case class EqDelete(path: String, seq: Long, cols: Seq[String],
        scope: Option[(Int, Map[String, Any])])
    val posFiles = Seq.newBuilder[String]
    val eqFiles = Seq.newBuilder[EqDelete]
    deleteManifests.foreach { listRec =>
      val m = listRec.get("manifest_path").toString
      val delSpecId = numField(listRec, "partition_spec_id")
        .getOrElse(0L).toInt
      avroRecords(localPath(m)).foreach { rec =>
        val status = rec.get("status").asInstanceOf[Int]
        if (status != 2) {
          val df = rec.get("data_file").asInstanceOf[GenericRecord]
          val content =
            if (df.getSchema.getField("content") == null) 0
            else df.get("content") match {
              case i: java.lang.Integer => i.intValue
              case _ => 0
            }
          // Delete files are consumed as parquet below — an Avro/ORC
          // delete file (legal per spec) must be refused here, not as
          // an opaque parquet footer error at read time.
          val fmt =
            if (df.getSchema.getField("file_format") == null) "PARQUET"
            else String.valueOf(df.get("file_format"))
          if (content != 0 && !fmt.equalsIgnoreCase("parquet"))
            throw new UnsupportedOperationException(
              s"Iceberg ${if (content == 1) "position" else "equality"}" +
                s"-delete file format $fmt out of scope")
          if (content == 1)
            posFiles += localPath(df.get("file_path").toString)
          else if (content == 2) {
            val ids =
              if (df.getSchema.getField("equality_ids") == null) null
              else df.get("equality_ids")
            val cols = ids match {
              case l: java.util.List[_] => l.asScala.toSeq.map {
                case i: java.lang.Integer => idToName.getOrElse(i.intValue,
                  throw new UnsupportedOperationException(
                    s"equality delete references unknown field id $i"))
                case other => throw new UnsupportedOperationException(
                  s"malformed equality_ids entry $other")
              }
              case _ => throw new UnsupportedOperationException(
                "equality delete file without equality_ids — cannot " +
                  "apply safely, refusing")
            }
            // Scope, per spec: an equality delete stored with a
            // PARTITIONED spec (its partition struct has fields)
            // applies only within that partition; one stored under an
            // unpartitioned spec (empty struct) applies globally —
            // exactly what streaming CDC writers (Flink) emit per
            // partition. The tuple is matched against data files of
            // the same spec at file granularity below.
            val pr =
              if (df.getSchema.getField("partition") == null) null
              else df.get("partition").asInstanceOf[GenericRecord]
            val scope =
              if (pr == null || pr.getSchema.getFields.isEmpty) None
              else Some((delSpecId, pr.getSchema.getFields.asScala
                .map(f => f.name -> avroValue(pr.get(f.name))).toMap))
            val seq = seqOf(rec, listRec,
              rec.get("status").asInstanceOf[Int]).getOrElse(
              throw new UnsupportedOperationException(
                "equality delete entry without a resolvable sequence " +
                  "number — cannot scope it, refusing"))
            eqFiles += EqDelete(localPath(df.get("file_path").toString),
              seq, cols, scope)
          }
        }
      }
    }
    val deleteFiles = posFiles.result()
    val eqDeletes = eqFiles.result()

    def emptyDf = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    if (dataFiles.isEmpty) return emptyDf

    val needPos = deleteFiles.nonEmpty
    val needEq = eqDeletes.nonEmpty
    val needMeta = needPos || needEq
    // One scan of a file group sharing a projection: `fileNameOf` maps
    // each current column to the column name CARRYING it in these files
    // (identical pre-evolution; the historical name after a rename);
    // columns absent from the map come from `fill` (identity partition
    // tuples) or null-fill (columns added after the files were written).
    def scanGroup(files: Seq[(String, Long)],
        fileNameOf: Map[String, String],
        fill: Seq[(String, Any)]): DataFrame = {
      val dataSchema = StructType(schema.fields.toSeq
        .filter(f => fileNameOf.contains(f.name))
        .map(f => StructField(fileNameOf(f.name), f.dataType, f.nullable)))
      // manifest-carried exact sizes -> StaticParquet: the planner gets
      // the file list directly, no per-path discovery at 10^5 entries
      val raw = org.apache.spark.sql.graft.StaticParquet.read(spark,
        files.distinct.sortBy(_._1), dataSchema)
      val base = // metadata columns only materialize when deletes exist
        if (needMeta) raw
          .withColumn("__file", normPathCol(col("_metadata.file_path")))
          .withColumn("__pos", col("_metadata.row_index"))
        else raw
      val fillMap = fill.toMap
      val outCols = schema.fields.toSeq.map { f =>
        fileNameOf.get(f.name) match {
          case Some(fn) if fn == f.name => col(s"`$fn`")
          case Some(fn) => col(s"`$fn`").as(f.name)
          case None =>
            val v = fillMap.getOrElse(f.name, null)
            val t = fieldType(f.name)
            (if (v == null) lit(null).cast(t)
            else t match {
              // date identity tuples are epoch-day ints (avro date
              // logical type) — lit(int).cast(date) is not a valid
              // Spark cast, so rebuild the calendar date explicitly
              case DateType => org.apache.spark.sql.functions.date_add(
                lit(java.sql.Date.valueOf("1970-01-01")),
                v.asInstanceOf[Number].intValue())
              case _ => lit(v).cast(t)
            }).as(f.name)
        }
      } ++ (if (needMeta) Seq(col("__file"), col("__pos")) else Nil)
      base.select(outCols: _*)
    }
    val idByName = idToName.map(_.swap)
    val schemasCount = meta.path("schemas").size()
    // Missing columns: identity partition fields reconstruct from the
    // manifest tuple (resolved to CURRENT names by source id —
    // rename-proof); on an EVOLVED table any other absence is a column
    // added after the files were written and null-fills per spec; on a
    // single-schema table it is corruption and refuses.
    def reconstructGroups(fs: Seq[DataFileInfo], specId: Int,
        fileNameOf: Map[String, String],
        missing: Seq[String]): Seq[DataFrame] = {
      val spec = specsById.getOrElse(specId,
        throw new UnsupportedOperationException(
          s"data files lack columns (${missing.mkString(", ")}) and " +
            s"reference partition spec $specId absent from metadata — " +
            "cannot reconstruct"))
      val identityPairs = spec.filter(_.transform == "identity")
        .flatMap(sf => idToName.get(sf.sourceId).map(out => sf.name -> out))
      val reconPairs = identityPairs.filter(p => missing.contains(p._2))
      val nonRecon = missing.filterNot(reconPairs.map(_._2).toSet)
      if (nonRecon.nonEmpty && schemasCount <= 1)
        throw new UnsupportedOperationException(
          s"data files lack columns (${nonRecon.mkString(", ")}) that " +
            "are not identity partition fields — cannot reconstruct, " +
            "refusing")
      // Identity values come back from Avro as plain JVM scalars; date
      // is the epoch-day int the fill path rebuilds explicitly;
      // timestamp/decimal are epoch-micros/unscaled encodings whose
      // lit().cast() would mis-read — refuse those.
      reconPairs.map(p => fieldType(p._2)).foreach {
        case StringType | IntegerType | LongType | BooleanType |
          FloatType | DoubleType | DateType => ()
        case other => throw new UnsupportedOperationException(
          s"Iceberg identity partition over $other out of this " +
            "reader's scope (epoch/unscaled encodings)")
      }
      fs.groupBy(f => reconPairs.map { case (specName, _) =>
          f.partVals.getOrElse(specName, null) })
        .toSeq.sortBy(_._1.toString)
        .map { case (tuple, group) =>
          scanGroup(group.map(f => (f.path, f.sizeBytes)), fileNameOf,
            reconPairs.map(_._2).zip(tuple))
        }
    }
    // Shape decision PER SPEC (one footer probe each): Iceberg data
    // files normally contain every column — identity values duplicated,
    // derived transforms (bucket/truncate/days) being pruning metadata
    // only — so those files scan directly with the full schema; that is
    // what makes non-identity transforms and spec evolution readable
    // with no per-transform code. Hive-style identity tables (files
    // WITHOUT the partition columns) reconstruct them from each file's
    // manifest partition tuple, grouped one scan per tuple; per-file
    // sequence numbers attach afterwards through a broadcast
    // (file → seq) lookup, so a long CDC history does NOT grow the plan
    // by one union branch per snapshot.
    //
    // An EVOLVED table (more than one schema in the metadata) resolves
    // every file by FIELD ID instead — parquet footer annotations, with
    // a name-mapping fallback over historical schema names for files
    // written before annotation — grouping files by (spec, resolution)
    // so each distinct projection scans once. That is one footer probe
    // per file at plan time: the cost evolution brings; real engines
    // pay the same probes, distributed.
    val parts: Seq[DataFrame] =
      if (schemasCount <= 1)
        dataFiles.groupBy(_.specId).toSeq.sortBy(_._1)
          .flatMap { case (specId, fs) =>
            val present = parquetFields(Paths.get(fs.head.path)).map(_._1)
            val fileNameOf = schema.fieldNames.filter(present.contains)
              .map(n => n -> n).toMap
            val missing = schema.fieldNames
              .filterNot(present.contains).toSeq
            if (missing.isEmpty)
              Seq(scanGroup(fs.map(f => (f.path, f.sizeBytes)), fileNameOf, Nil))
            else reconstructGroups(fs, specId, fileNameOf, missing)
          }
      else {
        // Every historical (id → name) schema version, newest first.
        // The name-mapping fallback for UNANNOTATED files resolves all
        // fields JOINTLY against one version — per-field greedy
        // matching silently swap-binds under swapped or chained
        // renames (A→B plus B→A leaves both names present and both
        // bindings plausible field-by-field; only whole-version
        // consistency can tell them apart).
        val schemaVersions: Seq[Map[Int, String]] = {
          val nodes = meta.path("schemas").elements().asScala.toSeq.reverse
          val vs = nodes.map(_.path("fields").elements().asScala
            .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap)
            .filter(_.nonEmpty)
          if (vs.nonEmpty) vs
          else Seq(schema.fields.map(f => idByName(f.name) -> f.name).toMap)
        }
        def resolve(path: String): Seq[Option[String]] = {
          val info = parquetFields(Paths.get(path))
          val byId = info.collect { case (n, Some(id)) => id -> n }.toMap
          if (byId.nonEmpty)
            schema.fields.toSeq.map(f => byId.get(idByName(f.name)))
          else {
            val fileNames = info.map(_._1).toSet
            // candidate signature per schema version: current field →
            // that version's name for its id, if present in the file
            val sigs = schemaVersions.map(v =>
              schema.fields.toSeq.map(f =>
                v.get(idByName(f.name)).filter(fileNames.contains)))
            val best = sigs.map(_.count(_.isDefined)).max
            val winners = sigs.filter(_.count(_.isDefined) == best).distinct
            if (best == 0) schema.fields.toSeq.map(_ => None)
            else if (winners.size > 1)
              throw new UnsupportedOperationException(
                s"$path has no field-id annotations and its column names " +
                  s"(${fileNames.mkString(", ")}) resolve ambiguously " +
                  "against multiple historical schema versions (e.g. " +
                  "swapped renames) — cannot bind columns safely; " +
                  "rewrite the file with field ids")
            else winners.head
          }
        }
        dataFiles.groupBy(f => (f.specId, resolve(f.path))).toSeq
          .sortBy(_._1.toString)
          .flatMap { case ((specId, sig), fs) =>
            val fileNameOf = schema.fields.toSeq.zip(sig)
              .collect { case (f, Some(n)) => f.name -> n }.toMap
            val missing = schema.fields.toSeq.zip(sig)
              .collect { case (f, None) => f.name }
            if (missing.isEmpty)
              Seq(scanGroup(fs.map(f => (f.path, f.sizeBytes)), fileNameOf, Nil))
            else reconstructGroups(fs, specId, fileNameOf, missing)
          }
      }
    val scanned = LakeFs.unionAll(parts)
    import spark.implicits._
    val withSeq =
      if (!needEq) scanned
      else {
        val unresolved = dataFiles.filter(_.seq.isEmpty)
        if (unresolved.nonEmpty) throw new UnsupportedOperationException(
          s"${unresolved.size} data file(s) without a resolvable data " +
            "sequence number but equality deletes present — cannot " +
            "scope the deletes, refusing (e.g. " +
            unresolved.head.path + ")")
        val lookup = dataFiles.map(f => (f.path, f.seq.get))
          .toDF("__file", "__dseq")
        scanned.join(broadcast(lookup), Seq("__file"))
      }
    val afterPos =
      if (!needPos) withSeq
      else {
        // Position deletes name data files explicitly and file names
        // are never reused, so path-match application is exact without
        // the sequence-number dance.
        val dels = spark.read.parquet(deleteFiles.sorted.distinct: _*)
          .select(normPathCol(col("file_path")).as("__file"),
            col("pos").cast("long").as("__pos"))
        withSeq.join(dels, Seq("__file", "__pos"), "left_anti")
      }
    val afterEq =
      if (!needEq) afterPos
      else {
        // one anti-join per distinct (equality-column set, partition
        // scope), each group's delete files read in ONE multi-path scan
        // with the per-file sequence joined from a broadcast lookup;
        // null-safe match per spec, scoped to strictly older data
        // sequences. A PARTITION-SCOPED group additionally restricts
        // the match to rows of data files whose manifest partition
        // tuple equals the delete's tuple under the same spec — file
        // granularity, resolved driver-side from the manifests we
        // already hold, applied as an InSet on the row's __file (O(1)
        // hash probe per row in codegen, manifest-sized set).
        eqDeletes.groupBy(d => (d.cols, d.scope)).toSeq
          .sortBy { case ((cols, scope), _) =>
            (cols.mkString(","), scope.toString) }
          .foldLeft(afterPos) { case (acc, ((cols, scope), group)) =>
            val scopePaths = scope.map { case (sid, tuple) =>
              dataFiles.filter(f => f.specId == sid &&
                tuple.forall { case (k, v) =>
                  val fv = f.partVals.getOrElse(k, null)
                  if (v == null) fv == null else v == fv
                }).map(_.path)
            }
            if (scopePaths.exists(_.isEmpty)) acc // nothing in scope
            else {
              val seqLookup = group.map(d => (d.path, d.seq))
                .toDF("__dfile", "__eqseq")
              val delDf = spark.read
                .parquet(group.map(_.path).distinct.sorted: _*)
                .withColumn("__dfile", normPathCol(col("_metadata.file_path")))
                .select(cols.map(c =>
                  col(c).cast(fieldType(c)).as(s"__d_$c")) :+
                  col("__dfile"): _*)
                .join(broadcast(seqLookup), Seq("__dfile")).drop("__dfile")
              val cond = cols.map(c => acc(c) <=> delDf(s"__d_$c"))
                .reduce(_ && _) && delDf("__eqseq") > acc("__dseq") &&
                scopePaths.fold(lit(true))(ps =>
                  acc("__file").isInCollection(ps))
              acc.join(delDf, cond, "left_anti")
            }
          }
      }
    val result = afterEq.drop("__file", "__pos", "__dseq")
    // File skipping is best-effort; the FULL predicate re-applies to the
    // surviving rows, so prune can never change results — only IO.
    prune.fold(result)(result.filter)
  }

  /** Runtime semi-join file pruning on a FOREIGN Iceberg table: push the
    * build side's [min, max] (plus the exact key set when ≤ maxInSet
    * distinct keys) into manifest-bounds file skipping before a
    * fact-side scan joined on `column` — a selective dimension filter
    * prunes fact files from metadata alone, before any footer opens.
    * Superset contract (see [[RuntimeFilter]]); the caller's join
    * enforces exactness, so this only cuts IO. */
  def readForKeys(spark: SparkSession, tableDir: String, column: String,
      keys: DataFrame, snapshotId: Option[Long] = None,
      maxInSet: Int = 10000): DataFrame =
    RuntimeFilter.keyPredicate(keys, column, maxInSet) match {
      case None =>
        read(spark, tableDir, snapshotId)
          .filter(org.apache.spark.sql.functions.lit(false))
      case Some(pred) => read(spark, tableDir, snapshotId, prune = Some(pred))
    }

  /** Timestamp time travel: the newest snapshot whose `timestamp-ms` is
    * at or before `timestampMs` (what `FOR TIMESTAMP AS OF` resolves
    * through the snapshot log). */
  def readAsOf(spark: SparkSession, tableDir: String,
      timestampMs: Long): DataFrame = {
    val meta = currentMetadata(tableDir)
    val eligible = meta.path("snapshots").elements().asScala.toSeq
      .filter(_.path("timestamp-ms").asLong(Long.MaxValue) <= timestampMs)
    if (eligible.isEmpty)
      throw new IllegalArgumentException(
        s"$tableDir: no snapshot at or before $timestampMs")
    val chosen = eligible.maxBy(_.path("timestamp-ms").asLong(0))
    read(spark, tableDir, Some(chosen.path("snapshot-id").asLong(-1)))
  }

  /** The table's current snapshot id (-1 when the table has no
    * snapshot yet) — the follower's poll probe: one metadata-JSON read,
    * no manifest IO. */
  def currentSnapshotId(tableDir: String): Long =
    currentMetadata(tableDir).path("current-snapshot-id").asLong(-1)

  // -------------------------------------------------------------------------
  // Refs: branches and tags (table-spec v2 `refs` map)
  // -------------------------------------------------------------------------
  // All ref operations are METADATA-ONLY commits — a new metadata.json
  // version flipping the refs map, zero data/manifest IO — so they cost
  // the same at 100 TB as on a toy table. Branch WRITES go through
  // write(..., ref = name): the snapshot chains off the branch head and
  // only that ref advances; `main` is just the default branch.

  /** The refs map: name → (snapshot-id, "branch"|"tag"). `main` is
    * always present (mirroring current-snapshot-id), including on
    * pre-refs metadata. */
  def refs(tableDir: String): Map[String, (Long, String)] = {
    val meta = currentMetadata(tableDir)
    val fromMeta = meta.path("refs") match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode =>
        o.properties().asScala.map(e =>
          e.getKey -> ((e.getValue.path("snapshot-id").asLong(-1),
            e.getValue.path("type").asText("branch")))).toMap
      case _ => Map.empty[String, (Long, String)]
    }
    fromMeta + ("main" ->
      ((meta.path("current-snapshot-id").asLong(-1), "branch")))
  }

  def createBranch(tableDir: String, name: String,
      snapshotId: Option[Long] = None): Unit =
    createRef(tableDir, name, "branch", snapshotId)

  /** Tags are immutable names for a snapshot (release pinning); a
    * write to a tag refuses. */
  def createTag(tableDir: String, name: String,
      snapshotId: Option[Long] = None): Unit =
    createRef(tableDir, name, "tag", snapshotId)

  private def createRef(tableDir: String, name: String, tpe: String,
      snapshotId: Option[Long]): Unit = {
    require(name != "main", "main is implicit — it cannot be re-created")
    val meta = currentMetadata(tableDir)
    val root = meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    val sid = snapshotId.getOrElse(
      meta.path("current-snapshot-id").asLong(-1))
    val known = meta.path("snapshots").elements().asScala
      .map(_.path("snapshot-id").asLong(-2)).toSet
    if (!known.contains(sid)) throw new NoSuchElementException(
      s"snapshot $sid not found on $tableDir")
    val refsNode = root.path("refs") match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode => o
      case _ => root.putObject("refs")
    }
    if (!refsNode.path(name).isMissingNode)
      throw new IllegalArgumentException(
        s"ref '$name' already exists on $tableDir")
    refsNode.putObject(name).put("snapshot-id", sid).put("type", tpe)
    commitMetadataVersion(tableDir, root)
  }

  def dropRef(tableDir: String, name: String): Unit = {
    require(name != "main", "cannot drop main")
    val meta = currentMetadata(tableDir)
    val root = meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    root.path("refs") match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode
          if !o.path(name).isMissingNode => o.remove(name)
      case _ => throw new NoSuchElementException(
        s"ref '$name' does not exist on $tableDir")
    }
    commitMetadataVersion(tableDir, root)
  }

  /** Read a branch or tag head (time travel by name). */
  def readRef(spark: SparkSession, tableDir: String,
      name: String): DataFrame = {
    val (sid, _) = refs(tableDir).getOrElse(name,
      throw new NoSuchElementException(
        s"ref '$name' does not exist on $tableDir"))
    read(spark, tableDir, snapshotId = Some(sid))
  }

  /** Fast-forward main to a branch head. Refuses when main has
    * DIVERGED (its head is not an ancestor of the branch head) — that
    * needs a merge, which copy-on-write branches don't define. The
    * branch's commits join main's snapshot-log in parent order. */
  def fastForward(tableDir: String, branch: String): Long = {
    val meta = currentMetadata(tableDir)
    val (target, tpe) = refs(tableDir).getOrElse(branch,
      throw new NoSuchElementException(
        s"ref '$branch' does not exist on $tableDir"))
    if (tpe != "branch") throw new UnsupportedOperationException(
      s"ref '$branch' is a tag — fast-forward targets a branch")
    val mainHead = meta.path("current-snapshot-id").asLong(-1)
    val byId = meta.path("snapshots").elements().asScala
      .map(s => s.path("snapshot-id").asLong(-2) -> s).toMap
    // walk target's parent chain back to main's head, collecting the
    // branch-only lineage (newest first)
    var chain = List.empty[JsonNode]
    var cur = target
    while (cur != mainHead && cur >= 0 && byId.contains(cur)) {
      val s = byId(cur)
      chain = s :: chain
      cur = s.path("parent-snapshot-id").asLong(-1)
    }
    if (cur != mainHead) throw new IllegalStateException(
      s"main ($mainHead) is not an ancestor of '$branch' ($target) — " +
        "fast-forward would lose main's commits")
    val root = meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    root.put("current-snapshot-id", target)
    root.path("refs") match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode =>
        o.putObject("main").put("snapshot-id", target).put("type", "branch")
      case _ =>
        root.putObject("refs").putObject("main")
          .put("snapshot-id", target).put("type", "branch")
    }
    root.path("snapshot-log") match {
      case a: com.fasterxml.jackson.databind.node.ArrayNode =>
        chain.foreach(s => a.addObject()
          .put("timestamp-ms", s.path("timestamp-ms").asLong(0))
          .put("snapshot-id", s.path("snapshot-id").asLong(-1)))
      case _ => ()
    }
    commitMetadataVersion(tableDir, root)
    target
  }

  /** ROLLBACK to an ancestor snapshot (the `rollback_to_snapshot`
    * procedure): main's head moves BACK to `snapshotId`, recorded as a
    * new snapshot-log entry — so `history` shows the abandoned commits
    * with `is_current_ancestor = false`, exactly how real catalogs
    * surface a rollback. Metadata-only: the snapshots list keeps every
    * abandoned snapshot (time travel to them still works until
    * [[expireSnapshots]]), refs other than main are untouched, and a
    * non-ancestor target refuses (that operation is
    * `set_current_snapshot`'s cross-lineage move — for publishing a
    * staged snapshot use [[cherryPick]], which re-sequences safely). */
  def rollback(tableDir: String, snapshotId: Long): Long = {
    val meta = currentMetadata(tableDir)
    val mainHead = meta.path("current-snapshot-id").asLong(-1)
    if (snapshotId == mainHead) return mainHead // content no-op
    val byId = meta.path("snapshots").elements().asScala
      .map(s => s.path("snapshot-id").asLong(-2) -> s).toMap
    require(byId.contains(snapshotId),
      s"snapshot $snapshotId does not exist on $tableDir")
    // ancestor check: walk main's parent chain down to the target
    // (visited-set guard: corrupt/cyclic parent links must refuse, not
    // hang the driver — same guard as the history walk)
    var cur = mainHead
    var found = false
    var seen = Set.empty[Long]
    while (!found && cur >= 0 && byId.contains(cur) && !seen(cur)) {
      seen += cur
      found = cur == snapshotId
      cur = byId(cur).path("parent-snapshot-id").asLong(-1)
    }
    if (!found) throw new IllegalArgumentException(
      s"snapshot $snapshotId is not an ancestor of main ($mainHead) — " +
        "rollback only rewinds a lineage; use cherryPick to publish " +
        "cross-lineage changes")
    val root = meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    root.put("current-snapshot-id", snapshotId)
    root.path("refs") match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode =>
        o.putObject("main").put("snapshot-id", snapshotId)
          .put("type", "branch")
      case _ =>
        root.putObject("refs").putObject("main")
          .put("snapshot-id", snapshotId).put("type", "branch")
    }
    root.path("snapshot-log") match {
      case a: com.fasterxml.jackson.databind.node.ArrayNode =>
        a.addObject().put("timestamp-ms", System.currentTimeMillis())
          .put("snapshot-id", snapshotId)
      case _ => ()
    }
    commitMetadataVersion(tableDir, root)
    snapshotId
  }

  /** CHERRY-PICK: publish ONE snapshot's appended files onto main's
    * head as a NEW commit — the write-audit-publish publish path when
    * main has moved on and [[fastForward]] refuses (diverged). Only
    * `append` snapshots re-apply cleanly (their whole change is "these
    * manifests were added"); replace/delete snapshots depend on the
    * branch's full file state and refuse.
    *
    * The new commit takes the table's NEXT sequence number and the
    * picked manifests are REWRITTEN at it (entries in this layout
    * carry explicit sequence numbers, so list-entry inheritance cannot
    * re-stamp them): equality deletes committed on main between stage
    * and publish scope at a LOWER sequence and therefore do NOT shadow
    * the published rows — the spec semantics a real engine's
    * cherrypick_snapshot gives WAP. Cost is manifest-sized (entry
    * records rewritten, data files untouched) at any table size.
    * Cherry-pick across schema evolution refuses: the staged manifests
    * were written under a schema the rewrite would have to translate. */
  def cherryPick(tableDir: String, snapshotId: Long): Long = {
    val metaDir = Paths.get(tableDir, "metadata")
    val prior = currentMetadata(tableDir)
    val snaps = prior.path("snapshots").elements().asScala.toSeq
    val byId = snaps.map(s => s.path("snapshot-id").asLong(-2) -> s).toMap
    val s = byId.getOrElse(snapshotId, throw new NoSuchElementException(
      s"snapshot $snapshotId not found on $tableDir"))
    val op = s.path("summary").path("operation").asText("")
    if (op != "append") throw new UnsupportedOperationException(
      s"cherry-pick supports append snapshots only — $snapshotId is " +
        s"'$op' (publish replace/delete work via fastForward)")
    val mainHead = prior.path("current-snapshot-id").asLong(-1L)
    if (mainHead == snapshotId) throw new IllegalStateException(
      s"snapshot $snapshotId is already main's head")
    val curSchemaId = prior.path("current-schema-id").asInt(0)
    if (s.path("schema-id").asInt(curSchemaId) != curSchemaId)
      throw new UnsupportedOperationException(
        s"snapshot $snapshotId was staged under schema " +
          s"${s.path("schema-id").asInt(-1)}, main is at $curSchemaId — " +
          "cherry-pick across schema evolution is undefined")
    // the snapshot's OWN manifests = its list minus its parent's list.
    // An EXPIRED parent must refuse, not degrade to "no parent": with
    // an empty parent set the whole self-contained list looks staged
    // and a publish would duplicate main's base content. parent = -1
    // (the staged commit was the table's first) is the one legitimate
    // empty case.
    val parentId = s.path("parent-snapshot-id").asLong(-1L)
    if (parentId >= 0 && !byId.contains(parentId))
      throw new IllegalStateException(
        s"snapshot $snapshotId's parent $parentId has been expired — " +
          "cherry-pick cannot isolate the staged manifests; re-stage " +
          "the change or publish via fastForward")
    val parentPaths: Set[String] =
      byId.get(parentId)
        .map(p => avroRecords(localPath(p.get("manifest-list").asText()))
          .map(_.get("manifest_path").toString).toSet)
        .getOrElse(Set.empty)
    val picked = avroRecords(localPath(s.get("manifest-list").asText()))
      .filter(r => !parentPaths.contains(r.get("manifest_path").toString))
    if (picked.isEmpty) throw new IllegalStateException(
      s"snapshot $snapshotId added no manifests relative to its parent")
    def intOf(r: GenericRecord, f: String, d: Int): Int =
      if (r.getSchema.getField(f) == null) d
      else r.get(f) match {
        case i: java.lang.Integer => i.intValue
        case l: java.lang.Long => l.intValue
        case _ => d
      }
    if (picked.exists(intOf(_, "content", 0) != 0))
      throw new UnsupportedOperationException(
        s"snapshot $snapshotId carries delete manifests — not an " +
          "append in spec terms; refusing")
    val mainRecords = byId.get(mainHead).toSeq.flatMap(m =>
      avroRecords(localPath(m.get("manifest-list").asText())))
    val mainPaths = mainRecords.map(_.get("manifest_path").toString).toSet
    if (picked.exists(r => mainPaths.contains(
        r.get("manifest_path").toString)))
      throw new IllegalStateException(
        s"snapshot $snapshotId is already published on main")
    // a prior publish rewrote the manifests (paths differ), so the
    // path check can't see it — the summary marker is the durable
    // record, exactly what real engines' wap/source-snapshot-id is for
    if (snaps.exists(_.path("summary").path("cherry-picked-from")
        .asText("") == snapshotId.toString))
      throw new IllegalStateException(
        s"snapshot $snapshotId was already cherry-picked onto main")

    val prevVersion = new String(Files.readAllBytes(
      metaDir.resolve("version-hint.text")), "UTF-8").trim.toLong
    val version = prevVersion + 1
    val newSnapshotId = version * 100
    val sequenceNumber = prior.path("last-sequence-number").asLong(0L) + 1
    val schemaNode = currentSchemaNode(prior)

    // rewrite each picked manifest's entries at the publish sequence
    val newEntries = picked.zipWithIndex.flatMap { case (lr, i) =>
      val specId = intOf(lr, "partition_spec_id", 0)
      val entries = avroRecords(localPath(lr.get("manifest_path").toString))
      if (entries.isEmpty) None else Some {
      val entrySchema = entries.head.getSchema
      val rewritten: Seq[GenericRecord] = entries.map { e =>
        val n = new GenericData.Record(entrySchema)
        n.put("status", 1) // ADDED — this commit (re-)adds them to main
        n.put("snapshot_id", newSnapshotId)
        n.put("sequence_number", sequenceNumber)
        n.put("file_sequence_number", sequenceNumber)
        n.put("data_file", e.get("data_file"))
        n
      }
      val specFieldsJson = prior.path("partition-specs").elements().asScala
        .find(_.path("spec-id").asInt(0) == specId)
        .map(sp => mapper.writeValueAsString(sp.path("fields")))
        .getOrElse("[]")
      val manifestPath = metaDir.resolve(f"m-$newSnapshotId%d-cp$i%02d.avro")
      writeAvro(manifestPath, entrySchema, rewritten,
        Map("schema" -> mapper.writeValueAsString(schemaNode),
          "partition-spec" -> specFieldsJson,
          "partition-spec-id" -> specId.toString,
          "format-version" -> "2", "content" -> "data"))
      val le = carryManifest(lr, newSnapshotId)
      le.put("manifest_path", manifestPath.toString)
      le.put("manifest_length", Files.size(manifestPath))
      le.put("sequence_number", sequenceNumber)
      le.put("min_sequence_number", sequenceNumber)
      le.put("added_snapshot_id", newSnapshotId)
      le: GenericRecord
      }
    }
    val listPath = metaDir.resolve(f"ml-$newSnapshotId%d.avro")
    writeAvro(listPath, manifestFileSchema,
      mainRecords.map(carryManifest(_, mainHead)) ++ newEntries,
      Map("format-version" -> "2"))

    val specsArr = prior.path("partition-specs") match {
      case a: com.fasterxml.jackson.databind.node.ArrayNode => a
      case _ => mapper.createArrayNode()
    }
    val schemasArr = prior.path("schemas") match {
      case a: com.fasterxml.jackson.databind.node.ArrayNode =>
        val copy = mapper.createArrayNode()
        a.elements().asScala.foreach(copy.add)
        copy
      case _ =>
        val copy = mapper.createArrayNode()
        copy.add(schemaNode)
        copy
    }
    commitMetadataJson(metaDir, tableDir, version,
      prior.path("table-uuid").asText(), sequenceNumber,
      prior.path("last-column-id").asInt(0), schemasArr, curSchemaId,
      specsArr, prior.path("default-spec-id").asInt(0),
      prior.path("last-partition-id").asInt(999),
      snaps, newSnapshotId, mainHead, listPath, "append",
      Map("cherry-picked-from" -> snapshotId.toString,
        "manifests-published" -> newEntries.size.toString),
      prior = Some(prior))
    newSnapshotId
  }

  /** Commit a mutated metadata root as the next version (tmp +
    * ATOMIC_MOVE for both the json and the hint — the expire pattern). */
  private def commitMetadataVersion(tableDir: String,
      root: com.fasterxml.jackson.databind.node.ObjectNode): Long = {
    val metaDir = Paths.get(tableDir, "metadata")
    root.put("last-updated-ms", System.currentTimeMillis())
    val prevVersion = new String(Files.readAllBytes(
      metaDir.resolve("version-hint.text")), "UTF-8").trim.toLong
    val version = prevVersion + 1
    val tmp = Files.createTempFile(metaDir, ".tmp-meta", ".json")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(root).getBytes("UTF-8"))
    Files.move(tmp, metaDir.resolve(s"v$version.metadata.json"),
      StandardCopyOption.ATOMIC_MOVE)
    val tmpHint = Files.createTempFile(metaDir, ".tmp-hint", ".txt")
    Files.write(tmpHint, version.toString.getBytes("UTF-8"))
    Files.move(tmpHint, metaDir.resolve("version-hint.text"),
      StandardCopyOption.ATOMIC_MOVE)
    version
  }

  /** Live data-file paths of a snapshot (default current) — the
    * `files` metadata-table analog: localPath-normalized, driver-side
    * manifest walk only, no parquet IO. Empty for an empty table. */
  def liveDataFiles(tableDir: String,
      snapshotId: Option[Long] = None): Seq[String] = {
    val meta = currentMetadata(tableDir)
    val id = snapshotId.getOrElse(meta.path("current-snapshot-id").asLong(-1))
    if (id < 0) Seq.empty else snapshotFiles(meta, id).data.toSeq.sorted
  }

  /** One live manifest entry from the light walk: localPath-normalized
    * file path, data sequence number (spec inheritance rule applied),
    * the spec id of its manifest, and its partition values. */
  private case class ManifestEntry(path: String, seq: Option[Long],
      specId: Int, partVals: Map[String, Any])

  /** Live file sets of one snapshot, from a light manifest walk (no
    * parquet IO): data entries, position-delete file paths,
    * equality-delete entries — all localPath-normalized. */
  private case class SnapshotFiles(dataEntries: Seq[ManifestEntry],
      posDeletes: Set[String], eqEntries: Seq[ManifestEntry]) {
    lazy val data: Set[String] = dataEntries.map(_.path).toSet
    lazy val eqDeletes: Set[String] = eqEntries.map(_.path).toSet
  }
  private object SnapshotFiles {
    val empty: SnapshotFiles =
      SnapshotFiles(Seq.empty, Set.empty, Seq.empty)
  }

  private def snapshotFiles(meta: JsonNode, snapshotId: Long): SnapshotFiles = {
    val snapshot = meta.get("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong(-2) == snapshotId)
      .getOrElse(throw new NoSuchElementException(
        s"snapshot $snapshotId not found"))
    val listRecords = avroRecords(localPath(
      snapshot.get("manifest-list").asText()))
    def numOf(r: GenericRecord, f: String): Option[Long] =
      if (r.getSchema.getField(f) == null) None
      else r.get(f) match {
        case l: java.lang.Long => Some(l.longValue)
        case i: java.lang.Integer => Some(i.longValue)
        case _ => None // null = inherit
      }
    val data = Seq.newBuilder[ManifestEntry]
    val pos = Set.newBuilder[String]
    val eq = Seq.newBuilder[ManifestEntry]
    listRecords.foreach { listRec =>
      val specId = numOf(listRec, "partition_spec_id").getOrElse(0L).toInt
      avroRecords(localPath(listRec.get("manifest_path").toString))
        .foreach { rec =>
          val status = rec.get("status").asInstanceOf[Int]
          if (status != 2) { // not DELETED
            val df = rec.get("data_file").asInstanceOf[GenericRecord]
            val content =
              if (df.getSchema.getField("content") == null) 0
              else df.get("content") match {
                case i: java.lang.Integer => i.intValue
                case l: java.lang.Long => l.intValue
                case _ => 0
              }
            val p = localPath(df.get("file_path").toString)
            // spec inheritance: explicit sequence on the entry, else the
            // manifest-list entry's — for ADDED (status=1) entries only
            val seq = numOf(rec, "sequence_number").orElse(
              if (status == 1) numOf(listRec, "sequence_number") else None)
            def partVals: Map[String, Any] =
              if (df.getSchema.getField("partition") == null)
                Map.empty[String, Any]
              else df.get("partition") match {
                case pr: GenericRecord => pr.getSchema.getFields.asScala
                  .map(f => f.name -> avroValue(pr.get(f.name))).toMap
                case _ => Map.empty[String, Any]
              }
            // Data-file formats are enforced on the read path; DELETE
            // entries are only ever consumed as parquet (readChanges'
            // posTargets scan), so refuse foreign formats here with the
            // same explicit out-of-scope error instead of an opaque
            // parquet footer failure later.
            def fmt =
              if (df.getSchema.getField("file_format") == null) "PARQUET"
              else String.valueOf(df.get("file_format"))
            content match {
              case 0 => data += ManifestEntry(p, seq, specId, partVals)
              case 1 =>
                if (!fmt.equalsIgnoreCase("parquet"))
                  throw new UnsupportedOperationException(
                    s"Iceberg position-delete file format $fmt out of scope")
                pos += p
              case 2 =>
                if (!fmt.equalsIgnoreCase("parquet"))
                  throw new UnsupportedOperationException(
                    s"Iceberg equality-delete file format $fmt out of scope")
                eq += ManifestEntry(p, seq, specId, partVals)
              case _ => ()
            }
          }
        }
    }
    SnapshotFiles(data.result(), pos.result(), eq.result())
  }

  /** CDC over the snapshot log — the Iceberg analog of
    * [[DeltaCompat.readChanges]], computed writer-agnostically: for each
    * snapshot past `fromSnapshotId` (exclusive; -1 = from the first
    * snapshot) up to `toSnapshotId` (default current), the row-level
    * delta vs its parent as `_change_type` insert/delete rows, tagged
    * with `_snapshot_id` and the monotone `_sequence_number` commit
    * order. An update surfaces as delete(old)+insert(new) in the same
    * snapshot.
    *
    * Scale: the diff is `exceptAll` over both snapshots RESTRICTED to
    * the files that can differ — data files added or removed by the
    * snapshot, data files named by changed position-delete files (read
    * from the delete files themselves: delete-volume IO), and, for
    * equality-delete commits only, the both-sides-live files each
    * changed delete can actually reach under the spec's sequence rule
    * (data sequence strictly below the delete's) and partition scope.
    * Rows in files on
    * neither list are bitwise identical on both sides and never read.
    * A pure compaction (rewrite, same rows) nets ZERO change rows at
    * the cost of reading the rewritten files once on each side. */
  def readChanges(spark: SparkSession, tableDir: String,
      fromSnapshotId: Long,
      toSnapshotId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val meta = currentMetadata(tableDir)
    // Commit ordering (_sequence_number, and the follower's __seq built
    // on it) is only defined when the log carries monotone sequence
    // numbers. A format-v1 table has none — asLong's silent 0 would let
    // an older snapshot's insert outrank a newer one's delete under
    // applyChanges' last-op-per-key rule, resurrecting deleted rows —
    // so v1 is followed ONLY while the walked range is INSERT-ONLY
    // (no delete files, no data-file removals), with the snapshot's
    // strictly-increasing timestamp standing in for the sequence; the
    // moment a delete appears (or timestamps stop increasing) the
    // follow refuses loudly rather than guessing an order. That is the
    // case a user tailing an old append-only v1 warehouse table needs.
    val fmtV1 = meta.path("format-version").asInt(1) < 2
    val byId = meta.path("snapshots").elements().asScala
      .map(s => s.path("snapshot-id").asLong(-1) -> s).toMap
    val toId = toSnapshotId.getOrElse(
      meta.path("current-snapshot-id").asLong(-1))
    val schema = toStructType(meta)
    def tagged(df: DataFrame, change: String, snapId: Long,
        seq: Long): DataFrame =
      df.withColumn("_change_type", lit(change))
        .withColumn("_snapshot_id", lit(snapId))
        .withColumn("_sequence_number", lit(seq))
    def emptyChanges = tagged(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      "insert", -1L, -1L).limit(0)
    if (toId == fromSnapshotId || toId < 0) return emptyChanges
    // walk the parent chain down from toId until fromSnapshotId
    var chain = List.empty[JsonNode]
    var cur = Option(toId)
    while (cur.exists(_ != fromSnapshotId)) {
      val node = byId.getOrElse(cur.get,
        throw new IllegalStateException(
          s"$tableDir: snapshot ${cur.get} missing from the log — " +
            s"cannot trace lineage back to $fromSnapshotId (expired?)"))
      chain ::= node
      cur =
        if (node.has("parent-snapshot-id"))
          Some(node.path("parent-snapshot-id").asLong(-1))
        else if (fromSnapshotId < 0) None // reached the first snapshot
        else throw new IllegalStateException(
          s"$tableDir: snapshot $fromSnapshotId is not an ancestor of " +
            s"$toId")
    }
    // Adjacent chain elements share a side (snapshot N is snapshot
    // N+1's parent) — memoize the manifest walks so a poll spanning N
    // snapshots does N+1 walks, not 2N.
    val walked = scala.collection.mutable.Map.empty[Long, SnapshotFiles]
    def filesOf(id: Long): SnapshotFiles =
      walked.getOrElseUpdate(id, snapshotFiles(meta, id))
    // v1 guard: chain is oldest-first; timestamps must strictly
    // increase so the synthesized ordering is total across polls.
    if (fmtV1) {
      val ts = chain.map(_.path("timestamp-ms").asLong(0))
      if (ts.zip(ts.drop(1)).exists { case (a, b) => b <= a })
        throw new UnsupportedOperationException(
          s"$tableDir: format-v1 follow needs strictly increasing " +
            "snapshot timestamps to stand in for sequence numbers — " +
            "this range's are not")
    }
    val parts = chain.map { snap =>
      val snapId = snap.path("snapshot-id").asLong(-1)
      if (!fmtV1 && !snap.has("sequence-number"))
        throw new UnsupportedOperationException(
          s"$tableDir: snapshot $snapId carries no sequence-number — " +
            "row-level commit ordering is undefined for CDC")
      val seq =
        if (fmtV1) snap.path("timestamp-ms").asLong(0)
        else snap.path("sequence-number").asLong(0)
      val parentId =
        if (snap.has("parent-snapshot-id"))
          Some(snap.path("parent-snapshot-id").asLong(-1))
        else None
      val sf = filesOf(snapId)
      val pf = parentId.map(filesOf).getOrElse(SnapshotFiles.empty)
      if (fmtV1 && (sf.posDeletes.nonEmpty || sf.eqEntries.nonEmpty ||
          (pf.data diff sf.data).nonEmpty))
        throw new UnsupportedOperationException(
          s"$tableDir: snapshot $snapId removes data files or carries " +
            "delete files — a format-v1 table can only be followed " +
            "while insert-only (v1 snapshots have no sequence numbers, " +
            "so delete ordering is undefined)")
      val dataChanged = (sf.data diff pf.data) union (pf.data diff sf.data)
      val posChanged = (sf.posDeletes diff pf.posDeletes) union
        (pf.posDeletes diff sf.posDeletes)
      val posTargets =
        if (posChanged.isEmpty) Set.empty[String]
        else // paths named inside the changed delete files: small reads
          spark.read.parquet(posChanged.toSeq.sorted: _*)
            .select("file_path").distinct().collect()
            .map(r => localPath(r.getString(0))).toSet
      // An equality delete with data sequence S reaches only data files
      // with data sequence < S — and, when its manifest is partition-
      // scoped, only files of the same partition under the same spec.
      // Both-sides-live files outside every changed delete's reach are
      // bitwise identical on both sides and never read — so a streaming
      // upsert writer's per-commit equality deletes cost change-volume
      // reads, not two near-full-table reads per commit. Unknown
      // sequence or cross-spec partitions degrade conservatively
      // (treated as reachable).
      val eqChangedEntries = {
        val sfEq = sf.eqEntries.map(e => e.path -> e).toMap
        val pfEq = pf.eqEntries.map(e => e.path -> e).toMap
        ((sfEq.keySet diff pfEq.keySet).toSeq.map(sfEq) ++
          (pfEq.keySet diff sfEq.keySet).toSeq.map(pfEq))
      }
      val eqAffected: Set[String] =
        if (eqChangedEntries.isEmpty) Set.empty
        else sf.dataEntries.filter(d => pf.data.contains(d.path))
          .filter { d =>
            eqChangedEntries.exists { del =>
              val seqReaches = (d.seq, del.seq) match {
                case (Some(ds), Some(es)) => ds < es
                case _ => true
              }
              val partReaches =
                del.partVals.isEmpty || del.specId != d.specId ||
                  del.partVals.forall { case (k, v) =>
                    d.partVals.get(k) match {
                      case Some(dv) => if (v == null) dv == null else v == dv
                      case None => true
                    }
                  }
              seqReaches && partReaches
            }
          }.map(_.path).toSet
      val affected = dataChanged ++
        posTargets.intersect(sf.data union pf.data) ++ eqAffected
      if (affected.isEmpty) emptyChanges
      else {
        val newSide = read(spark, tableDir, Some(snapId),
          fileFilter = Some(affected))
        val oldSide = parentId match {
          case Some(p) => read(spark, tableDir, Some(p),
            fileFilter = Some(affected))
          case None => newSide.limit(0)
        }
        tagged(newSide.exceptAll(oldSide), "insert", snapId, seq)
          .unionAll(tagged(oldSide.exceptAll(newSide), "delete", snapId, seq))
      }
    }
    parts.reduceOption(_ unionAll _).getOrElse(emptyChanges)
  }

  /** Fold merge-on-read state back into clean data files: read the
    * current snapshot (position + equality deletes applied), write it
    * as one replace snapshot under the same spec. The Iceberg analog of
    * rewrite_data_files + rewrite_position_delete_files — after a long
    * CDC run the scan stops paying per-query delete anti-joins. Prior
    * snapshots still time-travel (their manifests and delete files
    * remain). Returns the new snapshot id. */
  def compact(spark: SparkSession, tableDir: String,
      zorderBy: Seq[String] = Seq.empty,
      targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    // Scans and delete anti-joins relax NOT NULL; the replace snapshot
    // must keep the declared schema, so rebuild the frame against it
    // (an RDD-backed re-assertion — compact is a whole-table rewrite
    // anyway, one extra serde pass is noise next to the parquet IO).
    val meta = currentMetadata(tableDir)
    val declared = toStructType(meta)
    val live = read(spark, tableDir)
    val asserted = spark.createDataFrame(live.rdd, declared)
    // The file budget sizes from the LIVE snapshot's data entries —
    // data/ also holds dead files of time-travelable prior snapshots
    // and delete parquet, and sizing from the directory would inflate
    // the budget a little more after every compaction.
    val nOut = Mooncake.fileBudget(liveDataBytes(meta), targetFileBytes)
    // `zorderBy` (2-4 integer columns) re-clusters the rewrite on the
    // interleaved z-value — the SAME recipe as the mirror's zorder
    // compaction and Delta's OPTIMIZE ZORDER (Mooncake.zCluster) — so
    // `read(prune)` over the manifest bounds skips on EITHER dimension.
    val clustered =
      if (zorderBy.isEmpty) asserted.coalesce(nOut)
      else {
        Mooncake.validateZorderColumns(declared, zorderBy, tableDir)
        val spec = defaultSpec(meta)
        val nonIdentity = spec.filter(_._2 != "identity")
        if (nonIdentity.nonEmpty)
          throw new UnsupportedOperationException(
            s"z-order compact under non-identity transforms " +
              s"(${nonIdentity.map(p => s"${p._2}(${p._1})").mkString(", ")})" +
              " out of this writer's scope — the staged bucket/truncate" +
              " dirs would fragment every z-slice")
        Mooncake.zCluster(asserted, zorderBy, nOut,
          prefixCols = spec.map(_._1))
      }
    write(clustered, tableDir, mode = "overwrite")
  }

  /** Total bytes of the CURRENT snapshot's live data files, from the
    * manifests alone (the budget input for [[compact]]). */
  private def liveDataBytes(meta: JsonNode): Long = {
    val currentId = meta.path("current-snapshot-id").asLong(-1)
    meta.path("snapshots").elements().asScala
      .find(_.path("snapshot-id").asLong(-2) == currentId)
      .map(_.get("manifest-list").asText()).toSeq
      .flatMap(ml => avroRecords(localPath(ml)))
      .filter { r =>
        r.getSchema.getField("content") == null || (r.get("content") match {
          case i: java.lang.Integer => i.intValue == 0
          case l: java.lang.Long => l.intValue == 0
          case _ => true
        })
      }
      .flatMap(r => avroRecords(localPath(r.get("manifest_path").toString)))
      .filter(_.get("status").asInstanceOf[Int] != 2)
      .map { e =>
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        if (df.getSchema.getField("file_size_in_bytes") == null) 0L
        else df.get("file_size_in_bytes") match {
          case l: java.lang.Long => l.longValue
          case i: java.lang.Integer => i.longValue
          case _ => 0L
        }
      }.sum
  }

  /** Consolidate the CURRENT snapshot's data manifests — the Iceberg
    * `rewrite_manifests` maintenance action, METADATA-ONLY: no data
    * file is read or moved. Every commit here (and in real appenders)
    * adds one manifest and carries the rest, so after N commits the
    * list holds N entries and every plan opens N Avro files; at the
    * 100 TB design point manifests number ~1e5 and planning cost is
    * manifest-bound. The rewrite regroups live entries by (spec id,
    * entry schema) into ONE consolidated manifest per group whose
    * entries are status=EXISTING with EXPLICIT sequence/snapshot ids
    * (inheritance only covers ADDED entries — an implicit sequence
    * would be re-stamped with the rewrite's own and silently mis-scope
    * equality deletes), recomputes the `partitions` summaries per new
    * manifest (so the manifest-skip tier keeps working), carries
    * delete manifests untouched, and commits a replace snapshot.
    * Prior snapshots still reference the old manifests — time travel
    * is intact and [[expireSnapshots]] reclaims them later.
    *
    * Returns the new snapshot id, or the current one unchanged when
    * there is nothing to consolidate (≤ 1 data manifest). */
  def rewriteManifests(tableDir: String): Long = {
    val metaDir = Paths.get(tableDir, "metadata")
    val prior = currentMetadata(tableDir)
    val parentId = prior.path("current-snapshot-id").asLong(-1L)
    if (parentId < 0)
      throw new NoSuchElementException(s"$tableDir has no current snapshot")
    val prevSnapshotNodes = prior.path("snapshots").elements().asScala.toSeq
    val prevManifestRecords: Seq[GenericRecord] =
      prevSnapshotNodes.find(_.path("snapshot-id").asLong(-2) == parentId)
        .map(_.get("manifest-list").asText())
        .toSeq.flatMap(ml => avroRecords(localPath(ml)))
    def contentOf(r: GenericRecord): Int =
      if (r.getSchema.getField("content") == null) 0
      else r.get("content") match {
        case i: java.lang.Integer => i.intValue
        case l: java.lang.Long => l.intValue
        case _ => 0
      }
    val (deleteMs, dataMs) = prevManifestRecords.partition(contentOf(_) == 1)
    if (dataMs.size <= 1) return parentId

    val prevVersion = new String(Files.readAllBytes(
      metaDir.resolve("version-hint.text")), "UTF-8").trim.toLong
    val tableUuid = Option(prior.get("table-uuid")).map(_.asText())
      .getOrElse(UUID.randomUUID().toString)
    val lastSeq = prior.path("last-sequence-number").asLong(0L)
    val version = prevVersion + 1
    val snapshotId = version * 100
    val sequenceNumber = lastSeq + 1

    def numOf(r: GenericRecord, f: String): Option[Long] =
      if (r.getSchema.getField(f) == null) None
      else r.get(f) match {
        case l: java.lang.Long => Some(l.longValue)
        case i: java.lang.Integer => Some(i.longValue)
        case _ => None
      }

    // live entries with RESOLVED ids, grouped by (spec, entry schema) —
    // manifests of one spec share the entry shape our writer (and any
    // single real writer) emits, so N appends collapse to one group;
    // a foreign manifest with a different shape forms its own group
    // rather than forcing a risky cross-schema record rebuild
    case class Entry(rec: GenericRecord, seq: Long, fileSeq: Option[Long],
        snap: Long)
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[(Int, String), scala.collection.mutable.Buffer[Entry]]
    dataMs.foreach { listRec =>
      val specId = numOf(listRec, "partition_spec_id").getOrElse(0L).toInt
      val listSeq = numOf(listRec, "sequence_number")
      val listSnap = numOf(listRec, "added_snapshot_id")
      avroRecords(localPath(listRec.get("manifest_path").toString))
        .foreach { rec =>
          val status = rec.get("status").asInstanceOf[Int]
          if (status != 2) {
            val seq = numOf(rec, "sequence_number")
              .orElse(if (status == 1) listSeq else None)
              .getOrElse(throw new UnsupportedOperationException(
                s"$tableDir: EXISTING manifest entry with no resolvable " +
                  "data sequence number — rewriting it would mis-scope " +
                  "equality deletes; refusing"))
            val snap = numOf(rec, "snapshot_id").orElse(listSnap)
              .getOrElse(parentId)
            groups.getOrElseUpdate((specId, rec.getSchema.toString),
              scala.collection.mutable.Buffer.empty) +=
              Entry(rec, seq, numOf(rec, "file_sequence_number"), snap)
          }
        }
    }

    val schemaNode = currentSchemaNode(prior)
    val specsById = partitionSpecs(prior)
    val newListEntries = groups.zipWithIndex.map {
      case (((specId, _), entries), gi) =>
        val entrySchema = entries.head.rec.getSchema
        val rewritten: Seq[GenericRecord] = entries.toSeq.map { e =>
          val n = new GenericData.Record(entrySchema)
          n.put("status", 0) // EXISTING
          n.put("snapshot_id", e.snap)
          n.put("sequence_number", e.seq)
          n.put("file_sequence_number", e.fileSeq.getOrElse(e.seq))
          n.put("data_file", e.rec.get("data_file"))
          n
        }
        val specFieldsJson = prior.path("partition-specs").elements().asScala
          .find(_.path("spec-id").asInt(0) == specId)
          .map(s => mapper.writeValueAsString(s.path("fields")))
          .getOrElse("[]")
        val manifestPath =
          metaDir.resolve(f"m-$snapshotId%d-rw$gi%02d.avro")
        writeAvro(manifestPath, entrySchema, rewritten,
          Map("schema" -> mapper.writeValueAsString(schemaNode),
            "partition-spec" -> specFieldsJson,
            "partition-spec-id" -> specId.toString,
            "format-version" -> "2", "content" -> "data"))
        // summaries recomputed over the group's partition tuples (the
        // spec's field order IS the struct's field order)
        val arity = specsById.get(specId).map(_.size).getOrElse(-1)
        val tuples: Seq[Seq[Any]] = rewritten.map { r =>
          val df = r.get("data_file").asInstanceOf[GenericRecord]
          val pr =
            if (df.getSchema.getField("partition") == null) null
            else df.get("partition").asInstanceOf[GenericRecord]
          if (pr == null) Seq.empty
          else pr.getSchema.getFields.asScala.toSeq
            .map(f => avroValue(pr.get(f.name)))
        }
        val rowCount = rewritten.map { r =>
          numOf(r.get("data_file").asInstanceOf[GenericRecord],
            "record_count").getOrElse(0L)
        }.sum
        val le = new GenericData.Record(manifestFileSchema)
        le.put("manifest_path", manifestPath.toString)
        le.put("manifest_length", Files.size(manifestPath))
        le.put("partition_spec_id", specId)
        le.put("content", 0)
        le.put("sequence_number", sequenceNumber)
        le.put("min_sequence_number", entries.map(_.seq).min)
        le.put("added_snapshot_id", snapshotId)
        le.put("added_files_count", 0)
        le.put("existing_files_count", rewritten.size)
        le.put("deleted_files_count", 0)
        le.put("added_rows_count", 0L)
        le.put("existing_rows_count", rowCount)
        le.put("deleted_rows_count", 0L)
        if (arity >= 0 && tuples.forall(_.size == arity))
          le.put("partitions", fieldSummaries(arity, tuples))
        le: GenericRecord
    }.toSeq

    val listPath = metaDir.resolve(f"ml-$snapshotId%d.avro")
    writeAvro(listPath, manifestFileSchema,
      newListEntries ++ deleteMs.map(carryManifest(_, parentId)),
      Map("format-version" -> "2"))

    val specsArr = prior.path("partition-specs") match {
      case a: com.fasterxml.jackson.databind.node.ArrayNode => a
      case _ => mapper.createArrayNode()
    }
    val schemasArr = prior.path("schemas") match {
      case a: com.fasterxml.jackson.databind.node.ArrayNode =>
        val copy = mapper.createArrayNode()
        a.elements().asScala.foreach(copy.add)
        copy
      case _ =>
        val copy = mapper.createArrayNode()
        copy.add(schemaNode)
        copy
    }
    commitMetadataJson(metaDir, tableDir, version, tableUuid,
      sequenceNumber, prior.path("last-column-id").asInt(0), schemasArr,
      schemaNode.path("schema-id").asInt(0),
      specsArr, prior.path("default-spec-id").asInt(0),
      prior.path("last-partition-id").asInt(999),
      prevSnapshotNodes, snapshotId, parentId, listPath, "replace",
      Map("manifests-replaced" -> dataMs.size.toString,
        "manifests-created" -> newListEntries.size.toString),
      prior = Some(prior))
    snapshotId
  }

  /** Expire snapshots older than `olderThanMs` — the Iceberg
    * maintenance lifecycle's other half (compact folds merge-on-read
    * state; expire bounds history). A long-lived CDC mirror otherwise
    * accumulates snapshots, manifest lists and overwritten data files
    * without bound. Mirrors `expire_snapshots` semantics:
    *
    *   - the CURRENT snapshot is never expired, regardless of age;
    *   - files (data, delete, manifest, manifest-list) are physically
    *     deleted only when NO retained snapshot can reach them — a
    *     data manifest carried across many snapshots survives until
    *     the last carrier goes;
    *   - a new metadata version is committed with the retained
    *     snapshots only, so time travel behind the cutoff now refuses
    *     (snapshot not found) instead of reading missing files.
    *
    * Reachability is judged conservatively: ANY file_path mentioned by
    * a retained snapshot's manifests (any entry status) is kept.
    * Returns the physically deleted paths. */
  def expireSnapshots(tableDir: String, olderThanMs: Long): Seq[String] = {
    val metaDir = Paths.get(tableDir, "metadata")
    val meta = currentMetadata(tableDir)
    val currentId = meta.path("current-snapshot-id").asLong(-1)
    val snaps = meta.path("snapshots").elements().asScala.toSeq
    // Ref heads (branches AND tags) are pinned: a named ref must stay
    // readable after maintenance (the spec's branch/tag retention
    // floor). Heads only — manifest lists are self-contained (carried
    // entries), so reading a ref never needs its ancestors; branch
    // INTERIOR history expires exactly like main's.
    val refHeads: Set[Long] = meta.path("refs") match {
      case o: com.fasterxml.jackson.databind.node.ObjectNode =>
        o.properties().asScala
          .map(_.getValue.path("snapshot-id").asLong(-1)).toSet
      case _ => Set.empty
    }
    val pinned = refHeads + currentId
    val (expired, retained) = snaps.partition(s =>
      !pinned.contains(s.path("snapshot-id").asLong(-2)) &&
        s.path("timestamp-ms").asLong(Long.MaxValue) < olderThanMs)
    if (expired.isEmpty) return Seq.empty

    val deletable =
      (reachablePaths(expired) -- reachablePaths(retained)).toSeq.sorted

    // Commit the shrunk history as a new metadata version FIRST — a
    // crash between the commit and the physical deletes leaves only
    // unreferenced garbage (removable by removeOrphanFiles), never a
    // metadata file naming deleted data.
    val keepIds = retained.map(_.path("snapshot-id").asLong(-1)).toSet
    val root = meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    val newSnaps = mapper.createArrayNode()
    retained.foreach(newSnaps.add)
    root.set[JsonNode]("snapshots", newSnaps)
    // Streaming watermarks (graft.watermark.<appId>, see
    // IcebergCdcStream) must SURVIVE expiry: if the snapshot carrying
    // the newest value for a key expires, a committed batch would look
    // unapplied after maintenance and replay — duplicating rows. Stamp
    // the retained head with the newest value of every watermark key
    // (they are monotone, so the global max is always correct there).
    val latestWm = scala.collection.mutable.Map[String, String]()
    snaps.sortBy(_.path("sequence-number").asLong(0L)).foreach { s =>
      s.path("summary").properties().asScala.foreach { e =>
        if (e.getKey.startsWith("graft.watermark."))
          latestWm(e.getKey) = e.getValue.asText()
      }
    }
    if (latestWm.nonEmpty)
      newSnaps.elements().asScala
        .find(_.path("snapshot-id").asLong(-2) == currentId)
        .foreach { head =>
          head.path("summary") match {
            case o: com.fasterxml.jackson.databind.node.ObjectNode =>
              latestWm.foreach { case (k, v) => o.put(k, v) }
            case _ => ()
          }
        }
    val newLog = mapper.createArrayNode()
    meta.path("snapshot-log").elements().asScala
      .filter(e => keepIds.contains(e.path("snapshot-id").asLong(-2)))
      .foreach(newLog.add)
    root.set[JsonNode]("snapshot-log", newLog)
    root.put("last-updated-ms", System.currentTimeMillis())
    val prevVersion = new String(Files.readAllBytes(
      metaDir.resolve("version-hint.text")), "UTF-8").trim.toLong
    val version = prevVersion + 1
    val tmp = Files.createTempFile(metaDir, ".tmp-meta", ".json")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(root).getBytes("UTF-8"))
    Files.move(tmp, metaDir.resolve(s"v$version.metadata.json"),
      StandardCopyOption.ATOMIC_MOVE)
    val tmpHint = Files.createTempFile(metaDir, ".tmp-hint", ".txt")
    Files.write(tmpHint, version.toString.getBytes("UTF-8"))
    Files.move(tmpHint, metaDir.resolve("version-hint.text"),
      StandardCopyOption.ATOMIC_MOVE)

    deletable.filter(p => Files.deleteIfExists(Paths.get(p)))
  }

  /** Every path (manifest lists, manifests, data/delete files)
    * reachable from `snapshots` — the one shared reachability walk
    * behind [[expireSnapshots]] and [[removeOrphanFiles]], so their
    * keep/delete decisions can never drift. Paths come back normalized
    * absolute; ANY entry status counts (a DELETED entry's file may
    * still be read through an older snapshot). Driver-side Avro walks,
    * manifest-sized like every other metadata operation here. */
  private def reachablePaths(snapshots: Seq[JsonNode]): Set[String] = {
    def norm(p: String): String =
      Paths.get(p).toAbsolutePath.normalize.toString
    val seen = scala.collection.mutable.Set[String]()
    snapshots.foreach { s =>
      val ml = localPath(s.get("manifest-list").asText())
      seen += norm(ml)
      avroRecords(ml).foreach { r =>
        val m = localPath(r.get("manifest_path").toString)
        if (seen.add(norm(m)))
          avroRecords(m).foreach { e =>
            val df = e.get("data_file").asInstanceOf[GenericRecord]
            seen += norm(localPath(df.get("file_path").toString))
          }
      }
    }
    seen.toSet
  }

  /** Delete files under `data/` and `metadata/` that NO snapshot in the
    * current metadata reaches — crash-leftover staging output, files
    * orphaned by an interrupted [[expireSnapshots]]. Only files older
    * than `graceMs` are touched (default 3 days, the same guard real
    * Iceberg's remove_orphan_files defaults to): an in-flight write()
    * moves parquet into data/ BEFORE committing its manifest, and a
    * concurrent sweep without the grace window would delete files a
    * commit is about to reference. Metadata JSON and the version hint
    * are never touched (they are the history real catalogs roll back
    * through). Returns the deleted paths. */
  def removeOrphanFiles(tableDir: String,
      graceMs: Long = 3L * 24 * 3600 * 1000): Seq[String] = {
    val meta = currentMetadata(tableDir)
    val cutoff = System.currentTimeMillis() - graceMs
    val live = reachablePaths(
      meta.path("snapshots").elements().asScala.toSeq)
    val candidates = Seq(Paths.get(tableDir, "data"),
        Paths.get(tableDir, "metadata"))
      .filter(Files.isDirectory(_))
      .flatMap { d => // recursive: partitioned data nests hive-style dirs
        val stream = Files.walk(d)
        try stream.iterator().asScala.filter(p =>
          Files.isRegularFile(p) && {
            val n = p.getFileName.toString
            n.endsWith(".parquet") || n.endsWith(".avro")
          } && Files.getLastModifiedTime(p).toMillis < cutoff).toList
        finally stream.close()
      }
    candidates.map(_.toAbsolutePath.normalize.toString)
      .filterNot(live.contains).sorted
      .filter(p => Files.deleteIfExists(Paths.get(p)))
  }

  // --------------------------------------------------------------------------
  // write path (append / overwrite, one snapshot per commit)
  // --------------------------------------------------------------------------

  /** Attach Iceberg `field-id` props (numeric, as the spec's Avro schema
    * mapping requires) to every field of a record schema. */
  private def withFieldIds(schema: Schema, ids: Map[String, Int]): Schema = {
    schema.getFields.asScala.foreach(f =>
      ids.get(f.name).foreach(id => f.addProp("field-id", id: Integer)))
    schema
  }

  /** Avro type for an identity-partition value in the `r102` struct. */
  private def partitionAvroType(t: DataType): Schema = t match {
    case StringType => Schema.create(Schema.Type.STRING)
    case IntegerType => Schema.create(Schema.Type.INT)
    case LongType => Schema.create(Schema.Type.LONG)
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case FloatType => Schema.create(Schema.Type.FLOAT)
    case DoubleType => Schema.create(Schema.Type.DOUBLE)
    // spec: date partition values are epoch-day ints, annotated with
    // the avro `date` logical type so real readers type them back
    case DateType =>
      org.apache.avro.LogicalTypes.date()
        .addToSchema(Schema.create(Schema.Type.INT))
    case other => throw new UnsupportedOperationException(
      s"Spark type $other out of scope as an Iceberg partition column")
  }

  /** The `r102` partition struct: one optional field per partition
    * field (identity or derived), with each field's spec-assigned
    * partition-field id. Empty for unpartitioned tables. */
  private def mkPartitionStruct(partFields: Seq[(StructField, Int)]): Schema = {
    var b = SchemaBuilder.record("r102").fields()
    partFields.foreach { case (f, _) =>
      b = b.name(f.name)
        .`type`(Schema.createUnion(Schema.create(Schema.Type.NULL),
          partitionAvroType(f.dataType)))
        .withDefault(null)
    }
    withFieldIds(b.endRecord(),
      partFields.map { case (f, id) => f.name -> id }.toMap)
  }

  /** The spec's array-of-kv representation of a `map<int, binary>`
    * bounds field (Avro maps require string keys): array of records
    * (key, value) annotated logicalType=map, with the given field-ids. */
  private def boundsMapSchema(name: String, keyId: Int, valueId: Int): Schema = {
    val kv = withFieldIds(SchemaBuilder.record(s"k${keyId}_v$valueId").fields()
      .requiredInt("key")
      .requiredBytes("value")
      .endRecord(), Map("key" -> keyId, "value" -> valueId))
    val arr = Schema.createArray(kv)
    arr.addProp("logicalType", "map")
    arr
  }

  /** Same array-of-kv map shape with LONG values — the spec's
    * `map<int, long>` counts fields (value_counts, nan_value_counts). */
  private def countsMapSchema(keyId: Int, valueId: Int): Schema = {
    val kv = withFieldIds(SchemaBuilder.record(s"k${keyId}_v$valueId").fields()
      .requiredInt("key")
      .requiredLong("value")
      .endRecord(), Map("key" -> keyId, "value" -> valueId))
    val arr = Schema.createArray(kv)
    arr.addProp("logicalType", "map")
    arr
  }

  /** manifest_entry per spec v2: status + inheritance-eligible ids written
    * explicitly + the required data_file struct (content, path, format,
    * partition, record_count, file_size_in_bytes, per-column
    * lower/upper bounds). The `partition` struct carries the file's
    * identity-partition tuple (empty struct for unpartitioned tables
    * and global delete files). */
  private def mkManifestEntrySchema(partFields: Seq[(StructField, Int)]): Schema = {
    val dataFile = withFieldIds(SchemaBuilder.record("data_file").fields()
      .requiredInt("content")
      .requiredString("file_path")
      .requiredString("file_format")
      .name("partition").`type`(mkPartitionStruct(partFields)).noDefault()
      .requiredLong("record_count")
      .requiredLong("file_size_in_bytes")
      .name("lower_bounds").`type`(Schema.createUnion(
        Schema.create(Schema.Type.NULL), boundsMapSchema("lower", 126, 127)))
      .withDefault(null)
      .name("upper_bounds").`type`(Schema.createUnion(
        Schema.create(Schema.Type.NULL), boundsMapSchema("upper", 129, 130)))
      .withDefault(null)
      .name("nan_value_counts").`type`(Schema.createUnion(
        Schema.create(Schema.Type.NULL), countsMapSchema(138, 139)))
      .withDefault(null)
      .name("equality_ids").`type`(Schema.createUnion(
        Schema.create(Schema.Type.NULL),
        Schema.createArray(Schema.create(Schema.Type.INT))))
      .withDefault(null)
      .endRecord(),
      Map("content" -> 134, "file_path" -> 100, "file_format" -> 101,
        "partition" -> 102, "record_count" -> 103,
        "file_size_in_bytes" -> 104, "lower_bounds" -> 125,
        "upper_bounds" -> 128, "nan_value_counts" -> 137,
        "equality_ids" -> 135))
    withFieldIds(SchemaBuilder.record("manifest_entry").fields()
      .requiredInt("status")
      .requiredLong("snapshot_id")
      .requiredLong("sequence_number")
      .requiredLong("file_sequence_number")
      .name("data_file").`type`(dataFile).noDefault()
      .endRecord(),
      Map("status" -> 0, "snapshot_id" -> 1, "sequence_number" -> 3,
        "file_sequence_number" -> 4, "data_file" -> 2))
  }

  /** field_summary per spec v2 (one element of a manifest-list entry's
    * `partitions` array, aligned with the manifest's spec fields by
    * position): null/NaN presence plus lower/upper bounds of the
    * partition values across every entry in the manifest. This is the
    * TWO-TIER skip's upper tier — at 100 TB a table holds ~10⁵
    * manifests, and these summaries let [[read]] drop a manifest from
    * metadata the manifest LIST already holds, never opening the
    * manifest Avro at all (file-level bounds then prune what survives). */
  private val fieldSummarySchema: Schema = withFieldIds(SchemaBuilder
    .record("r508").fields()
    .requiredBoolean("contains_null")
    .name("contains_nan").`type`().optional().booleanType()
    .name("lower_bound").`type`().optional().bytesType()
    .name("upper_bound").`type`().optional().bytesType()
    .endRecord(),
    Map("contains_null" -> 509, "contains_nan" -> 518,
      "lower_bound" -> 510, "upper_bound" -> 511))

  /** manifest_file per spec v2 (manifest-list entry): path, length,
    * spec id, content, sequence numbers, added snapshot, file and row
    * counts, and the optional per-spec-field partition summaries —
    * everything a real reader resolves before opening the manifest. */
  private val manifestFileSchema: Schema = withFieldIds(SchemaBuilder
    .record("manifest_file").fields()
    .requiredString("manifest_path")
    .requiredLong("manifest_length")
    .requiredInt("partition_spec_id")
    .requiredInt("content")
    .requiredLong("sequence_number")
    .requiredLong("min_sequence_number")
    .requiredLong("added_snapshot_id")
    .requiredInt("added_files_count")
    .requiredInt("existing_files_count")
    .requiredInt("deleted_files_count")
    .requiredLong("added_rows_count")
    .requiredLong("existing_rows_count")
    .requiredLong("deleted_rows_count")
    .name("partitions").`type`().optional().array().items(fieldSummarySchema)
    .endRecord(),
    Map("manifest_path" -> 500, "manifest_length" -> 501,
      "partition_spec_id" -> 502, "content" -> 517,
      "sequence_number" -> 515, "min_sequence_number" -> 516,
      "added_snapshot_id" -> 503, "added_files_count" -> 504,
      "existing_files_count" -> 505, "deleted_files_count" -> 506,
      "added_rows_count" -> 512, "existing_rows_count" -> 513,
      "deleted_rows_count" -> 514, "partitions" -> 507))

  /** The non-null branch of the optional `partitions` array schema. */
  private val partitionsArraySchema: Schema =
    manifestFileSchema.getField("partitions").schema().getTypes.get(1)

  /** Inverse of [[decodeBound]] for manifest partition-tuple values:
    * the spec's single-value binary encoding (little-endian numerics,
    * raw UTF-8 strings, 1-byte booleans; date tuples are already
    * epoch-day ints and timestamps epoch-micros longs, so the integral
    * encodings cover them). Unmapped runtime type → None (no bound —
    * a summary without bounds never prunes). */
  private def encodeBound(v: Any): Option[Array[Byte]] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int)(f: ByteBuffer => Unit): Option[Array[Byte]] = {
      val b = ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
      f(b)
      Some(b.array())
    }
    v match {
      case i: java.lang.Integer => le(4)(_.putInt(i.intValue))
      case l: java.lang.Long => le(8)(_.putLong(l.longValue))
      case f: java.lang.Float => le(4)(_.putFloat(f.floatValue))
      case d: java.lang.Double => le(8)(_.putDouble(d.doubleValue))
      case b: java.lang.Boolean => Some(Array[Byte](if (b) 1 else 0))
      case s: CharSequence => Some(s.toString.getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      case _ => None
    }
  }

  /** Build the `partitions` summary array for a freshly-written
    * manifest from its entries' partition tuples (position-aligned with
    * the spec's fields). Bounds EXCLUDE NaN per spec — `contains_nan`
    * carries the NaN evidence instead — and min/max follow
    * [[BoundsPruning.cmp]] (unsigned-UTF-8 strings), the same order the
    * read side prunes with. Empty spec → null (field stays absent). */
  private def fieldSummaries(arity: Int,
      tuples: Seq[Seq[Any]]): AnyRef =
    if (arity == 0) null
    else {
      val elems = (0 until arity).map { i =>
        val vals = tuples.map(t => if (i < t.size) t(i) else null)
        val nonNull = vals.filter(_ != null)
        def isNan(v: Any): Boolean = v match {
          case f: java.lang.Float => f.isNaN
          case d: java.lang.Double => d.isNaN
          case _ => false
        }
        val isFp = nonNull.exists {
          case _: java.lang.Float | _: java.lang.Double => true
          case _ => false
        }
        val bounded = nonNull.filterNot(isNan)
        val r = new GenericData.Record(fieldSummarySchema)
        r.put("contains_null",
          java.lang.Boolean.valueOf(vals.exists(_ == null)))
        if (isFp)
          r.put("contains_nan",
            java.lang.Boolean.valueOf(nonNull.exists(isNan)))
        if (bounded.nonEmpty) {
          def pick(keepLeft: Int => Boolean): Option[Any] =
            bounded.tail.foldLeft(Option(bounded.head)) { (acc, v) =>
              acc.flatMap(a =>
                BoundsPruning.cmp(a, v).map(c => if (keepLeft(c)) a else v))
            }
          for {
            lo <- pick(_ <= 0); hi <- pick(_ >= 0)
            lob <- encodeBound(lo); hib <- encodeBound(hi)
          } {
            r.put("lower_bound", java.nio.ByteBuffer.wrap(lob))
            r.put("upper_bound", java.nio.ByteBuffer.wrap(hib))
          }
        }
        r: AnyRef
      }
      new GenericData.Array[AnyRef](partitionsArraySchema, elems.asJava)
    }

  /** Carry a prior list entry's `partitions` summaries into a new list
    * record. Foreign/unparseable shapes drop the whole array (null) —
    * a manifest without summaries is simply never skipped. */
  private def carrySummaries(r: GenericRecord): AnyRef =
    if (r.getSchema.getField("partitions") == null) null
    else r.get("partitions") match {
      case arr: java.util.Collection[_] =>
        try {
          val out = arr.asScala.map {
            case e: GenericRecord =>
              val n = new GenericData.Record(fieldSummarySchema)
              n.put("contains_null", e.get("contains_null") match {
                case b: java.lang.Boolean => b
                case other => throw new IllegalArgumentException(
                  String.valueOf(other))
              })
              def opt(f: String): Unit =
                if (e.getSchema.getField(f) != null) e.get(f) match {
                  case null => ()
                  case b: java.lang.Boolean => n.put(f, b)
                  case bb: java.nio.ByteBuffer =>
                    val d = new Array[Byte](bb.remaining())
                    bb.duplicate().get(d)
                    n.put(f, java.nio.ByteBuffer.wrap(d))
                  case ba: Array[Byte] =>
                    n.put(f, java.nio.ByteBuffer.wrap(ba.clone()))
                  case other => throw new IllegalArgumentException(
                    String.valueOf(other))
                }
              opt("contains_nan"); opt("lower_bound"); opt("upper_bound")
              n: AnyRef
            case other => throw new IllegalArgumentException(
              String.valueOf(other))
          }
          new GenericData.Array[AnyRef](partitionsArraySchema,
            out.toSeq.asJava)
        } catch { case _: IllegalArgumentException => null }
      case _ => null
    }

  private def writeAvro(path: Path, schema: Schema,
      rows: Seq[GenericRecord], meta: Map[String, String] = Map.empty): Unit = {
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    meta.foreach { case (k, v) => w.setMeta(k, v) }
    w.create(schema, new File(path.toString))
    try rows.foreach(w.append) finally w.close()
  }

  /** Per-column (lower, upper) bound bytes of one file's [[FooterStats]],
    * in the spec's single-value binary encoding ([[encodeBound]]). */
  private[lake] def boundBytes(
      s: FooterStats): Map[String, (Array[Byte], Array[Byte])] =
    s.columns.flatMap { case (name, c) =>
      for {
        b <- c.bounds
        lo <- encodeBound(b.min)
        hi <- encodeBound(b.max)
      } yield name -> (lo, hi)
    }

  /** Carry a prior manifest-list entry (data or delete) into a new
    * list; entries written by a pre-upgrade layout get their length
    * recomputed and neutral counts. */
  private def carryManifest(r: GenericRecord,
      parentId: Long): GenericRecord = {
    // default is by-name: current-layout entries always carry the
    // field, so fallbacks (a filesystem stat per manifest) only run
    // for pre-upgrade tables
    def num(f: String, d: => Long): Long =
      if (r.getSchema.getField(f) == null) d
      else r.get(f) match {
        case l: java.lang.Long => l.longValue
        case i: java.lang.Integer => i.longValue
        case _ => d
      }
    val mPath = r.get("manifest_path").toString
    val n = new GenericData.Record(manifestFileSchema)
    n.put("manifest_path", mPath)
    n.put("manifest_length",
      num("manifest_length", Files.size(Paths.get(localPath(mPath)))))
    n.put("partition_spec_id", num("partition_spec_id", 0L).toInt)
    n.put("content", num("content", 0L).toInt)
    n.put("sequence_number", num("sequence_number", 0L))
    n.put("min_sequence_number", num("min_sequence_number", 0L))
    n.put("added_snapshot_id", num("added_snapshot_id", parentId))
    n.put("added_files_count", num("added_files_count", 0L).toInt)
    n.put("existing_files_count", num("existing_files_count", 0L).toInt)
    n.put("deleted_files_count", num("deleted_files_count", 0L).toInt)
    n.put("added_rows_count", num("added_rows_count", 0L))
    n.put("existing_rows_count", num("existing_rows_count", 0L))
    n.put("deleted_rows_count", num("deleted_rows_count", 0L))
    n.put("partitions", carrySummaries(r))
    n
  }

  private def toIcebergType(t: DataType): String = t match {
    case BooleanType => "boolean"
    case IntegerType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case BinaryType => "binary"
    case DateType => "date"
    case TimestampNTZType => "timestamp"
    case TimestampType => "timestamptz"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case other => throw new UnsupportedOperationException(
      s"Spark type $other out of this writer's Iceberg scope")
  }

  /** Append (or overwrite) `df` as one Iceberg snapshot; returns the new
    * snapshot id. Produces a spec-complete v2 layout — parquet under
    * data/, one Avro manifest of ADDED files per commit (real record
    * counts and byte sizes from the parquet footers, field-id'd Avro
    * schema, schema/spec key-value metadata), a manifest list per
    * snapshot carrying lengths, sequence numbers and file/row counts
    * (prior manifests carried on append), and versioned metadata JSON
    * with location / table-uuid / last-column-id / partition-specs /
    * sort-orders / snapshot summaries + version-hint.
    *
    * `partitionBy` identity-partitions the table: files stage in hive
    * layout, each file's partition tuple lands typed in its manifest
    * `partition` struct, and the metadata declares the identity spec —
    * readers (ours and real Iceberg alike) reconstruct the columns from
    * that metadata. `transforms` adds derived partition fields
    * ((sourceCol, "bucket[N]" | "truncate[W]") pairs, spec-exact
    * murmur3 bucketing via [[IcebergTransforms]]); their source columns
    * stay in the data files, the tuple holds the transformed value. An
    * existing table's spec is inherited when none is given; a different
    * spec is refused unless `evolveSpec` — then it records SPEC
    * EVOLUTION (new spec-id, historical specs kept, old manifests still
    * reference theirs). */
  def write(df: DataFrame, tableDir: String, mode: String = "append",
      partitionBy: Seq[String] = Seq.empty,
      transforms: Seq[(String, String)] = Seq.empty,
      evolveSpec: Boolean = false,
      summary: Map[String, String] = Map.empty,
      ref: String = "main"): Long = {
    require(mode == "append" || mode == "overwrite", s"mode $mode")
    val metaDir = Paths.get(tableDir, "metadata")
    Files.createDirectories(metaDir)
    Files.createDirectories(Paths.get(tableDir, "data"))

    // A table with metadata but no version-hint is an EXTERNAL layout
    // (our writer always emits the hint): its metadata file names don't
    // follow our vN scheme, so continuing would silently rename over the
    // current metadata and orphan every existing file. Refuse.
    val hasHint = Files.exists(metaDir.resolve("version-hint.text"))
    if (!hasHint && Manifest.withListing(metaDir)(_.exists(
        _.getFileName.toString.endsWith(".metadata.json"))))
      throw new UnsupportedOperationException(
        s"$tableDir has Iceberg metadata but no version-hint.text — " +
          "refusing to write into an externally-managed table")
    val prior = if (hasHint) Some(currentMetadata(tableDir)) else None
    // No schema evolution: carried snapshots/manifests were written
    // under the prior schema, and this metadata keeps exactly one
    // schema entry — a drifted append/overwrite would misread them.
    prior.map(toStructType).foreach { prev =>
      // names and types must match positionally; nullability may only
      // NARROW (a never-null input into an optional column is safe —
      // the frame an evolveSchema add produces is exactly that)
      val ok = df.schema.fields.length == prev.fields.length &&
        df.schema.fields.zip(prev.fields).forall { case (now, was) =>
          now.name == was.name && now.dataType == was.dataType &&
            (was.nullable || !now.nullable)
        }
      if (!ok)
        throw new UnsupportedOperationException(
          s"schema mismatch writing $tableDir: table has " +
            s"${prev.toDDL}, DataFrame has ${df.schema.toDDL} — use " +
            "evolveSchema for column changes")
    }
    val prevVersion = prior.map(_ => new String(Files.readAllBytes(
      metaDir.resolve("version-hint.text")), "UTF-8").trim.toLong)
      .getOrElse(0L)
    val tableUuid = prior.flatMap(m => Option(m.get("table-uuid"))
      .map(_.asText())).getOrElse(UUID.randomUUID().toString)
    val lastSeq = prior.map(_.path("last-sequence-number").asLong(0L))
      .getOrElse(0L)
    val prevSnapshotNodes = prior.toSeq.flatMap(
      _.path("snapshots").elements().asScala.toSeq)
    val mainHeadPrior = prior.map(_.path("current-snapshot-id").asLong(-1L))
      .getOrElse(-1L)
    // A branch commit chains off the BRANCH head (its manifests carry,
    // its ref advances); main's head and snapshot-log are untouched.
    // The branch must exist (createBranch) and be a branch, not a tag —
    // a tag is immutable by spec.
    val parentId =
      if (ref == "main") mainHeadPrior
      else {
        val r = prior.getOrElse(throw new NoSuchElementException(
          s"cannot write to ref '$ref' of an empty table")).path("refs")
          .path(ref)
        if (r.isMissingNode) throw new NoSuchElementException(
          s"ref '$ref' does not exist on $tableDir — createBranch first")
        if (r.path("type").asText() != "branch")
          throw new UnsupportedOperationException(
            s"ref '$ref' is a tag — tags are immutable")
        r.path("snapshot-id").asLong(-1L)
      }
    val prevManifestRecords: Seq[GenericRecord] =
      prevSnapshotNodes.find(_.path("snapshot-id").asLong(-2) == parentId)
        .map(_.get("manifest-list").asText())
        .toSeq.flatMap(ml => avroRecords(localPath(ml)))

    val version = prevVersion + 1
    val snapshotId = version * 100
    val sequenceNumber = lastSeq + 1

    // Partition spec: `partitionBy` = identity fields, `transforms` =
    // derived fields ((sourceCol, "bucket[N]"|"truncate[W]") pairs). An
    // existing table's spec is inherited when none is given; a DIFFERENT
    // spec is SPEC EVOLUTION — recorded as a new spec-id alongside the
    // historical ones (manifests keep referencing theirs).
    val requested: Seq[(String, String)] =
      partitionBy.map(_ -> "identity") ++ transforms
    val priorDefaultSpec = prior.map(defaultSpec)
    val specCols: Seq[(String, String)] = priorDefaultSpec match {
      case Some(existing) if requested.isEmpty => existing
      case Some(existing) if requested != existing && !evolveSpec =>
        throw new IllegalArgumentException(
          s"$tableDir is partitioned by ${existing.mkString("(", ", ", ")")}" +
            s" — cannot write with ${requested.mkString("(", ", ", ")")}" +
            " (pass evolveSpec = true to evolve the spec)")
      case _ => requested
    }
    val specChanged = priorDefaultSpec.exists(_ != specCols)
    val priorSpecsNodes = prior.toSeq
      .flatMap(_.path("partition-specs").elements().asScala.toSeq)
    val priorMaxSpecId = priorSpecsNodes
      .map(_.path("spec-id").asInt(0)).maxOption.getOrElse(-1)
    val specId = if (specChanged) priorMaxSpecId + 1
      else prior.map(_.path("default-spec-id").asInt(0)).getOrElse(0)
    require(specCols.forall { case (c, _) => df.columns.contains(c) },
      s"partition source columns (${specCols.map(_._1).mkString(", ")}) " +
        "missing from input")

    case class PartField(source: String, transform: String, name: String,
        resultType: DataType)
    // An INHERITED spec keeps its RECORDED field names: after a source
    // column rename, the spec node (and every existing manifest's
    // partition struct) still carries the original field name, and a
    // freshly derived name would write manifests whose tuples the
    // reader (keyed by spec name) can never find.
    val inheritedNames: Option[Seq[String]] =
      if (!specChanged && prior.nonEmpty)
        priorSpecsNodes.find(_.path("spec-id").asInt(0) == specId)
          .map(_.path("fields").elements().asScala
            .map(_.path("name").asText()).toSeq)
      else None
    val partFields = specCols.zipWithIndex.map { case ((c, t), i) =>
      PartField(c, t,
        inheritedNames.flatMap(_.lift(i))
          .getOrElse(IcebergTransforms.fieldName(t, c)),
        IcebergTransforms.resultType(t, df.schema(c).dataType))
    }
    val basePartFieldId = prior
      .map(_.path("last-partition-id").asInt(999)).getOrElse(999)
    // Inherited unchanged spec keeps its field-ids; a new spec numbers
    // past last-partition-id so ids stay unique across evolution.
    val partFieldIds: Seq[Int] =
      if (!specChanged && prior.nonEmpty)
        priorSpecsNodes.find(_.path("spec-id").asInt(0) == specId)
          .map(_.path("fields").elements().asScala
            .map(_.path("field-id").asInt(1000)).toSeq)
          .getOrElse(partFields.indices.map(1000 + _))
      else partFields.indices.map(basePartFieldId + 1 + _)

    // Iceberg schema JSON (shared by the metadata file and the manifest
    // Avro's key-value metadata). An existing table's CURRENT schema is
    // reused verbatim — after evolveSchema its field ids are NOT
    // positional, and every id-keyed surface below (parquet
    // annotations, bounds maps, spec source-ids) must agree with it.
    val schemaNode: JsonNode = prior.map(currentSchemaNode).getOrElse {
      val node = mapper.createObjectNode()
      node.put("type", "struct")
      node.put("schema-id", 0)
      val fieldsArr = node.putArray("fields")
      df.schema.fields.zipWithIndex.foreach { case (f, i) =>
        val fn = fieldsArr.addObject()
        fn.put("id", i + 1)
        fn.put("name", f.name)
        fn.put("required", !f.nullable)
        fn.put("type", toIcebergType(f.dataType))
      }
      node
    }
    val currentSchemaId = schemaNode.path("schema-id").asInt(0)
    val idByName: Map[String, Int] = schemaNode.get("fields").elements()
      .asScala.map(f => f.get("name").asText() -> f.get("id").asInt()).toMap
    val lastColumnId = prior
      .map(_.path("last-column-id").asInt(df.schema.length))
      .getOrElse(df.schema.length)

    // Staging: identity fields hive-partition by the column itself
    // (stripped from the files — readers reconstruct from the manifest
    // tuple); derived fields partition by a __p__-prefixed computed
    // column so the SOURCE columns stay in the data files (they are the
    // only place a reader can get them — the tuple holds only the
    // transformed value).
    //
    // SHAPE CONTINUITY: if the table's EXISTING files contain the
    // identity columns (the layout every real Iceberg writer produces —
    // identity values are duplicated into the files), appended files
    // must too. The reader decides reconstruct-vs-direct per spec from
    // one footer probe, so mixing stripped and complete files under one
    // spec would null-fill the stripped ones. One footer read per append
    // buys that invariant.
    val identityFields = partFields.filter(_.transform == "identity")
    val keepIdentityInFiles = identityFields.nonEmpty && prior.exists { m =>
      firstLiveDataFile(m).exists { p =>
        val cols = parquetFields(Paths.get(p)).map(_._1)
        identityFields.forall(f => cols.contains(f.source))
      }
    }
    val stagedDf = partFields
      .filter(pf => pf.transform != "identity" || keepIdentityInFiles)
      .foldLeft(df) { (acc, pf) =>
        acc.withColumn(s"__p__${pf.name}",
          IcebergTransforms.expr(pf.transform, pf.source,
            df.schema(pf.source).dataType))
      }
    val stageCols = partFields.map(pf =>
      if (pf.transform == "identity" && !keepIdentityInFiles) pf.source
      else s"__p__${pf.name}")
    // Field-id annotations in the parquet footers (the spec requires
    // them): Spark writes `parquet.field.id` from field metadata, and
    // both our reader and real engines then project by id — the
    // mechanism that makes renamed columns resolve in old files.
    val annotated = stagedDf.select(stagedDf.columns.toIndexedSeq.map { c =>
      idByName.get(c) match {
        case Some(id) => stagedDf.col(c).as(c,
          new org.apache.spark.sql.types.MetadataBuilder()
            .putLong("parquet.field.id", id.toLong).build())
        case None => stagedDf.col(c) // __p__ staging columns
      }
    }: _*)
    val stage = Files.createTempDirectory(Paths.get(tableDir), ".stage")
    // The flag must hold for THIS write only. The writer option is
    // ignored (prepareWrite re-reads the session conf — verified
    // empirically), and flipping the caller's session conf leaks state
    // into concurrent jobs and races restores — so the staging frame is
    // rebound to a CLONED session carrying the override.
    val isolated = org.apache.spark.sql.graft.ColumnBridge.withSessionConf(
      annotated, "spark.sql.parquet.fieldId.write.enabled" -> "true",
      // the Iceberg spec stores timestamps as int64 MICROS; Spark's
      // default INT96 physical type is not a legal Iceberg data-file
      // encoding (real readers reject or mis-type it) and carries no
      // usable stats for manifest bounds
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    val stageW = isolated.write.mode("overwrite")
    (if (stageCols.nonEmpty) stageW.partitionBy(stageCols: _*) else stageW)
      .parquet(stage.toString)
    val parts = LakeFs.parquetFilesUnder(stage)
    // (absolute path, partition tuple) per moved file
    val moved: Seq[(String, Seq[Any])] = parts.zipWithIndex.map {
      case (p, i) =>
        val rel = stage.relativize(p)
        val dirSegs = (0 until rel.getNameCount - 1)
          .map(rel.getName(_).toString)
        val byCol = dirSegs.map(PathCodec.parseHiveSegment).toMap
        val tuple = partFields.zip(stageCols).map { case (pf, sc) =>
          IcebergTransforms.parseStaged(byCol.getOrElse(sc, None),
            pf.resultType)
        }
        val targetDir = dirSegs.foldLeft(Paths.get(tableDir, "data"))(
          _ resolve _)
        Files.createDirectories(targetDir)
        val target = targetDir.resolve(
          f"$snapshotId%d-$i%05d-${UUID.randomUUID()}.parquet")
        Files.move(p, target, StandardCopyOption.ATOMIC_MOVE)
        (target.toString, tuple)
    }
    LakeFs.deleteRec(stage)

    val schemaJson = mapper.writeValueAsString(schemaNode)

    // partition spec JSON — shared by the manifest key-value metadata
    // and the table metadata's partition-specs entry
    val specFieldsArr = mapper.createArrayNode()
    partFields.zip(partFieldIds).foreach { case (pf, id) =>
      val f = specFieldsArr.addObject()
      f.put("name", pf.name)
      f.put("transform", pf.transform)
      f.put("source-id", idByName(pf.source))
      f.put("field-id", id)
    }
    val specFieldsJson = mapper.writeValueAsString(specFieldsArr)

    val entrySchema = mkManifestEntrySchema(
      partFields.map(pf => StructField(pf.name, pf.resultType))
        .zip(partFieldIds))
    val dataFileSchema = entrySchema.getField("data_file").schema()
    val partStructSchema = dataFileSchema.getField("partition").schema()
    // schema field ids (from the table's current schema — NOT positional
    // after evolution) for the per-column bound maps
    val fieldIdByName = idByName
    // a data_file `map<int, _>` field: (field id → value) records,
    // id-ordered, for the columns the table schema knows
    def idMap(fieldName: String, values: Map[String, AnyRef]): AnyRef = {
      val arrSchema = dataFileSchema.getField(fieldName).schema().getTypes.get(1)
      val entries = values.toSeq
        .flatMap { case (col, v) => fieldIdByName.get(col).map(id => (id, v)) }
        .sortBy(_._1)
        .map { case (id, v) =>
          val r = new GenericData.Record(arrSchema.getElementType)
          r.put("key", id)
          r.put("value", v)
          r: AnyRef
        }
      new GenericData.Array[AnyRef](arrSchema, entries.asJava)
    }
    val fileStats = Manifest.parFiles(moved.map(_._1)) { p =>
      val path = Paths.get(p)
      (FooterStats.read(path), Files.size(path))
    }
    val entriesWithRows = moved.zip(fileStats).map {
      case ((p, tuple), (stats, fsize)) =>
      val bounds = boundBytes(stats)
      val d = new GenericData.Record(dataFileSchema)
      d.put("content", 0) // DATA
      d.put("file_path", p)
      d.put("file_format", "PARQUET")
      val pr = new GenericData.Record(partStructSchema)
      partFields.map(_.name).zip(tuple).foreach { case (c, v) => pr.put(c, v) }
      d.put("partition", pr)
      d.put("record_count", stats.rows)
      d.put("file_size_in_bytes", fsize)
      def side(pick: ((Array[Byte], Array[Byte])) => Array[Byte]) =
        bounds.map { case (c, b) => c -> java.nio.ByteBuffer.wrap(pick(b)) }
      d.put("lower_bounds", idMap("lower_bounds", side(_._1)))
      d.put("upper_bounds", idMap("upper_bounds", side(_._2)))
      // Per spec, float/double bounds EXCLUDE NaN, so readers (ours at
      // read():fpSafe, real engines alike) may only prune on them when
      // the file provably holds no NaN. A NaN poisons the footer stats
      // and FooterStats drops poisoned bounds, so a surviving fp bound
      // proves NaN-absence → count 0.
      val nanZero = stats.columns.collect {
        case (c, ColumnStats(_, Some(Bounds(FloatType | DoubleType, _, _)))) =>
          c -> Long.box(0L)
      }
      if (nanZero.nonEmpty)
        d.put("nan_value_counts", idMap("nan_value_counts", nanZero))
      val e = new GenericData.Record(entrySchema)
      e.put("status", 1) // ADDED
      e.put("snapshot_id", snapshotId)
      e.put("sequence_number", sequenceNumber)
      e.put("file_sequence_number", sequenceNumber)
      e.put("data_file", d)
      (e: GenericRecord, stats.rows)
    }
    val manifestPath = metaDir.resolve(f"m-$snapshotId%d.avro")
    writeAvro(manifestPath, entrySchema, entriesWithRows.map(_._1),
      Map("schema" -> schemaJson, "partition-spec" -> specFieldsJson,
        "partition-spec-id" -> specId.toString, "format-version" -> "2",
        "content" -> "data"))

    def carry(r: GenericRecord): GenericRecord = carryManifest(r, parentId)
    val newListEntry = {
      val r = new GenericData.Record(manifestFileSchema)
      r.put("manifest_path", manifestPath.toString)
      r.put("manifest_length", Files.size(manifestPath))
      r.put("partition_spec_id", specId)
      r.put("content", 0) // data manifests
      r.put("sequence_number", sequenceNumber)
      r.put("min_sequence_number", sequenceNumber)
      r.put("added_snapshot_id", snapshotId)
      r.put("added_files_count", entriesWithRows.size)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", entriesWithRows.map(_._2).sum)
      r.put("existing_rows_count", 0L)
      r.put("deleted_rows_count", 0L)
      // partition summaries over this manifest's tuples: the upper
      // pruning tier — read(prune) skips the whole manifest when a
      // conjunct excludes the summary range
      r.put("partitions", fieldSummaries(partFields.size, moved.map(_._2)))
      r: GenericRecord
    }
    val listPath = metaDir.resolve(f"ml-$snapshotId%d.avro")
    val listRecords =
      (if (mode == "append") prevManifestRecords.map(carry)
       else Seq.empty) :+ newListEntry
    writeAvro(listPath, manifestFileSchema, listRecords,
      Map("format-version" -> "2"))

    // complete partition-specs array: every historical spec verbatim,
    // plus this commit's spec when it is new
    val specsArr = mapper.createArrayNode()
    priorSpecsNodes.foreach(specsArr.add)
    if (specChanged || prior.isEmpty) {
      val s = specsArr.addObject()
      s.put("spec-id", specId)
      s.set[JsonNode]("fields", specFieldsArr)
    }
    val lastPartitionId =
      math.max(basePartFieldId, partFieldIds.maxOption.getOrElse(999))
    // every historical schema carries over — older manifests/files were
    // written under them and evolution resolution walks their names
    val schemasArr = mapper.createArrayNode()
    prior.map(_.path("schemas")) match {
      case Some(a: com.fasterxml.jackson.databind.node.ArrayNode) =>
        a.elements().asScala.foreach(schemasArr.add)
      case _ => schemasArr.add(schemaNode)
    }
    commitMetadataJson(metaDir, tableDir, version, tableUuid,
      sequenceNumber, lastColumnId, schemasArr, currentSchemaId,
      specsArr, specId, lastPartitionId, prevSnapshotNodes, snapshotId,
      parentId, listPath, mode, summary, prior, ref, mainHeadPrior)
    snapshotId
  }

  /** The last value recorded for summary property `key` across the
    * retained snapshot history (newest snapshot wins) — how streaming
    * writers (Flink-style) read back their per-checkpoint watermark. */
  def lastSummaryProperty(tableDir: String, key: String): Option[String] = {
    val meta = currentMetadata(tableDir)
    meta.path("snapshots").elements().asScala.toSeq
      .sortBy(_.path("sequence-number").asLong(0L))
      .flatMap(s => Option(s.path("summary").path(key).asText(null)))
      .lastOption
  }

  /** Metadata inspection tables — the `table$snapshots` / `$manifests`
    * / `$files` / `$partitions` surfaces real engines expose for
    * debugging and maintenance planning. Driver-side metadata walks
    * (manifest-sized, no data IO) returned as DataFrames so they
    * compose with queries. `files`/`partitions` describe the CURRENT
    * snapshot; partition values render as strings (the inspection
    * convention — the typed values live in the scan path). */
  def inspect(spark: SparkSession, tableDir: String,
      kind: String): DataFrame = {
    import spark.implicits._
    val meta = currentMetadata(tableDir)
    def listRecords: Seq[GenericRecord] = {
      val currentId = meta.path("current-snapshot-id").asLong(-1)
      meta.path("snapshots").elements().asScala
        .find(_.path("snapshot-id").asLong(-2) == currentId)
        .map(_.get("manifest-list").asText())
        .toSeq.flatMap(ml => avroRecords(localPath(ml)))
    }
    def num(r: GenericRecord, f: String): Long =
      if (r.getSchema.getField(f) == null) 0L
      else r.get(f) match {
        case l: java.lang.Long => l.longValue
        case i: java.lang.Integer => i.longValue
        case _ => 0L
      }
    def dataEntries: Seq[(GenericRecord, Int)] = listRecords
      .filter(r => num(r, "content") == 0L)
      .flatMap { lr =>
        val specId = num(lr, "partition_spec_id").toInt
        avroRecords(localPath(lr.get("manifest_path").toString))
          .filter(_.get("status").asInstanceOf[Int] != 2)
          .map(e => (e.get("data_file").asInstanceOf[GenericRecord], specId))
      }
    def partStr(df: GenericRecord): Seq[(String, String)] =
      if (df.getSchema.getField("partition") == null) Seq.empty
      else df.get("partition") match {
        case pr: GenericRecord => pr.getSchema.getFields.asScala.toSeq
          .map(f => f.name ->
            Option(avroValue(pr.get(f.name))).map(_.toString).orNull)
        case _ => Seq.empty
      }
    kind match {
      case "snapshots" =>
        meta.path("snapshots").elements().asScala.toSeq.map { s =>
          (s.path("snapshot-id").asLong(-1),
            if (s.has("parent-snapshot-id"))
              Some(s.path("parent-snapshot-id").asLong(-1)) else None,
            s.path("sequence-number").asLong(0),
            s.path("timestamp-ms").asLong(0),
            s.path("summary").path("operation").asText(""),
            s.path("manifest-list").asText(""))
        }.toDF("snapshot_id", "parent_id", "sequence_number",
          "committed_at_ms", "operation", "manifest_list")
      case "refs" =>
        refs(Paths.get(tableDir).toString).toSeq.sortBy(_._1).map {
          case (name, (sid, tpe)) => (name, tpe, sid)
        }.toDF("name", "type", "snapshot_id")
      case "manifests" =>
        listRecords.map { r =>
          (r.get("manifest_path").toString, num(r, "manifest_length"),
            num(r, "partition_spec_id").toInt, num(r, "content").toInt,
            num(r, "added_snapshot_id"),
            num(r, "added_files_count"), num(r, "existing_files_count"),
            num(r, "deleted_files_count"))
        }.toDF("path", "length", "partition_spec_id", "content",
          "added_snapshot_id", "added_files_count",
          "existing_files_count", "deleted_files_count")
      case "files" =>
        dataEntries.map { case (df, specId) =>
          (localPath(df.get("file_path").toString), specId,
            num(df, "record_count"), num(df, "file_size_in_bytes"),
            partStr(df).map { case (k, v) => s"$k=$v" }.mkString("/"))
        }.toDF("file_path", "spec_id", "record_count",
          "file_size_in_bytes", "partition")
      case "partitions" =>
        // keyed by the default spec's FIELD names — what the manifest
        // partition structs carry (bucket/truncate fields included);
        // source-column names would miss every derived transform
        val specNames = meta.path("partition-specs").elements().asScala
          .find(_.path("spec-id").asInt(0) ==
            meta.path("default-spec-id").asInt(0))
          .map(_.path("fields").elements().asScala
            .map(_.path("name").asText()).toSeq)
          .getOrElse(Seq.empty)
        val rows = dataEntries.map { case (df, _) =>
          val pv = partStr(df).toMap
          (specNames.map(pv.getOrElse(_, null)),
            num(df, "record_count"))
        }.groupBy(_._1).toSeq.sortBy(_._1.toString).map {
          case (tuple, group) =>
            org.apache.spark.sql.Row.fromSeq(tuple ++
              Seq(group.map(_._2).sum, group.size.toLong))
        }
        val schema = StructType(specNames.map(n =>
          StructField(n, StringType)) ++ Seq(
          StructField("record_count", LongType, nullable = false),
          StructField("file_count", LongType, nullable = false)))
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), schema)
      case "history" =>
        // the history metadata table: snapshot-log order (every
        // made-current event, INCLUDING a rollback's re-point), with
        // is_current_ancestor = reachable from the current head via
        // parent links — false marks abandoned lineage segments
        val byId = meta.path("snapshots").elements().asScala
          .map(s => s.path("snapshot-id").asLong(-2) -> s).toMap
        var ancestors = Set.empty[Long]
        var cur = meta.path("current-snapshot-id").asLong(-1)
        while (cur >= 0 && byId.contains(cur) && !ancestors(cur)) {
          ancestors += cur
          cur = byId(cur).path("parent-snapshot-id").asLong(-1)
        }
        meta.path("snapshot-log").elements().asScala.toSeq.zipWithIndex
          .map { case (e, i) =>
            val sid = e.path("snapshot-id").asLong(-1)
            (i.toLong, e.path("timestamp-ms").asLong(0), sid,
              ancestors.contains(sid))
          }.toDF("entry", "made_current_at_ms", "snapshot_id",
            "is_current_ancestor")
      case other => throw new IllegalArgumentException(
        s"unknown inspection table '$other' " +
          "(snapshots|manifests|files|partitions|refs|history)")
    }
  }

  /** SCHEMA EVOLUTION — the spec's metadata-only column changes:
    * rename (field id kept — data files resolve through it), add
    * (fresh id past last-column-id, always optional: old files carry
    * no values and null-fill), drop (field removed from the current
    * schema; old files' column is simply no longer projected). Commits
    * a new metadata version with the evolved schema appended to
    * `schemas` and `current-schema-id` moved — no snapshot, no data
    * IO. Readers resolve every file by field id (parquet annotations,
    * with a name-mapping fallback over historical schema names for
    * files written before annotation). Partition source columns can be
    * renamed (specs reference ids) but not dropped. Returns the new
    * metadata version. */
  def evolveSchema(tableDir: String,
      renames: Map[String, String] = Map.empty,
      adds: Seq[StructField] = Seq.empty,
      drops: Seq[String] = Seq.empty): Long = {
    require(renames.nonEmpty || adds.nonEmpty || drops.nonEmpty,
      "nothing to evolve")
    val metaDir = Paths.get(tableDir, "metadata")
    val meta = currentMetadata(tableDir)
    val cur = currentSchemaNode(meta)
    val curFields = cur.get("fields").elements().asScala.toSeq
    val names = curFields.map(_.get("name").asText())
    (renames.keys ++ drops).foreach(n => require(names.contains(n),
      s"$tableDir has no column '$n'"))
    require((renames.keySet & drops.toSet).isEmpty,
      "rename and drop of the same column")
    val newNames = names.filterNot(drops.contains)
      .map(n => renames.getOrElse(n, n)) ++ adds.map(_.name)
    require(newNames.distinct == newNames,
      s"evolved schema has duplicate columns " +
        s"(${newNames.diff(newNames.distinct).mkString(", ")})")
    // a partition spec's source column may be renamed (ids are stable)
    // but never dropped — its manifests' tuples would be unreadable
    val specSourceIds = meta.path("partition-specs").elements().asScala
      .flatMap(_.path("fields").elements().asScala)
      .map(_.path("source-id").asInt(-1)).toSet
    val dropIds = curFields.filter(f => drops.contains(f.get("name").asText()))
      .map(_.get("id").asInt()).toSet
    val clash = dropIds & specSourceIds
    require(clash.isEmpty,
      s"cannot drop partition source field id(s) ${clash.mkString(", ")}")

    var lastCol = meta.path("last-column-id").asInt(
      curFields.map(_.get("id").asInt()).maxOption.getOrElse(0))
    val newSchemaId = meta.path("schemas").elements().asScala
      .map(_.path("schema-id").asInt(0)).maxOption.getOrElse(0) + 1
    val newSchema = mapper.createObjectNode()
    newSchema.put("type", "struct")
    newSchema.put("schema-id", newSchemaId)
    val arr = newSchema.putArray("fields")
    curFields.foreach { f =>
      val n = f.get("name").asText()
      if (!drops.contains(n)) {
        val c = f.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
        c.put("name", renames.getOrElse(n, n))
        arr.add(c)
      }
    }
    adds.foreach { sf =>
      lastCol += 1
      val c = arr.addObject()
      c.put("id", lastCol)
      c.put("name", sf.name)
      c.put("required", false) // spec: added columns are optional
      c.put("type", toIcebergType(sf.dataType))
    }
    val root = meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
    val schemasArr = root.path("schemas") match {
      case a: com.fasterxml.jackson.databind.node.ArrayNode => a
      case _ =>
        val a = mapper.createArrayNode()
        Option(root.get("schema")).foreach(a.add)
        root.remove("schema")
        root.set[JsonNode]("schemas", a)
        a
    }
    schemasArr.add(newSchema)
    root.put("current-schema-id", newSchemaId)
    root.put("last-column-id", lastCol)
    root.put("last-updated-ms", System.currentTimeMillis())
    val prevVersion = new String(Files.readAllBytes(
      metaDir.resolve("version-hint.text")), "UTF-8").trim.toLong
    val version = prevVersion + 1
    val tmp = Files.createTempFile(metaDir, ".tmp-meta", ".json")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(root).getBytes("UTF-8"))
    Files.move(tmp, metaDir.resolve(s"v$version.metadata.json"),
      StandardCopyOption.ATOMIC_MOVE)
    val tmpHint = Files.createTempFile(metaDir, ".tmp-hint", ".txt")
    Files.write(tmpHint, version.toString.getBytes("UTF-8"))
    Files.move(tmpHint, metaDir.resolve("version-hint.text"),
      StandardCopyOption.ATOMIC_MOVE)
    version
  }

  /** Versioned metadata JSON + version-hint for one new snapshot.
    * `specsArr` is the COMPLETE partition-specs array (historical specs
    * included — spec evolution keeps them all).
    *
    * `ref` names the branch the snapshot commits to (spec v2 `refs`
    * map): `main` advances current-snapshot-id as always; any other
    * branch leaves current-snapshot-id at `mainHeadForBranch` and moves
    * only its own ref entry. Prior refs (branches AND tags) are carried
    * verbatim from `prior` — every commit path preserves them, the same
    * way historical schemas/specs carry. The `main` ref entry mirrors
    * current-snapshot-id (what real catalogs write). */
  private def commitMetadataJson(metaDir: Path, tableDir: String,
      version: Long, tableUuid: String, sequenceNumber: Long,
      lastColumnId: Int,
      schemasArr: com.fasterxml.jackson.databind.node.ArrayNode,
      currentSchemaId: Int,
      specsArr: com.fasterxml.jackson.databind.node.ArrayNode,
      defaultSpecId: Int, lastPartitionId: Int,
      prevSnapshotNodes: Seq[JsonNode],
      snapshotId: Long, parentId: Long, listPath: Path,
      operation: String,
      summaryProps: Map[String, String] = Map.empty,
      prior: Option[JsonNode] = None,
      ref: String = "main",
      mainHeadForBranch: Long = -1L): Unit = {
    val now = System.currentTimeMillis()
    val root = mapper.createObjectNode()
    root.put("format-version", 2)
    root.put("table-uuid", tableUuid)
    root.put("location", Paths.get(tableDir).toAbsolutePath.toString)
    root.put("last-sequence-number", sequenceNumber)
    root.put("last-updated-ms", now)
    root.put("last-column-id", lastColumnId)
    root.put("current-schema-id", currentSchemaId)
    root.set[JsonNode]("schemas", schemasArr)
    root.put("default-spec-id", defaultSpecId)
    root.set[JsonNode]("partition-specs", specsArr)
    root.put("last-partition-id", lastPartitionId)
    root.put("default-sort-order-id", 0)
    val order0 = root.putArray("sort-orders").addObject()
    order0.put("order-id", 0)
    order0.putArray("fields")
    val mainHead = if (ref == "main") snapshotId else mainHeadForBranch
    root.put("current-snapshot-id", mainHead)
    val snaps = root.putArray("snapshots")
    prevSnapshotNodes.foreach(snaps.add)
    val sn = snaps.addObject()
    sn.put("snapshot-id", snapshotId)
    if (parentId >= 0) sn.put("parent-snapshot-id", parentId)
    sn.put("sequence-number", sequenceNumber)
    sn.put("timestamp-ms", now)
    sn.put("manifest-list", listPath.toString)
    sn.put("schema-id", currentSchemaId)
    val summaryNode = sn.putObject("summary")
    summaryNode.put("operation", operation)
    summaryProps.foreach { case (k, v) => summaryNode.put(k, v) }
    // refs: carry every prior entry, then move the committed-to ref;
    // `main` always mirrors current-snapshot-id
    val refsNode = root.putObject("refs")
    prior.map(_.path("refs")).foreach {
      case o: com.fasterxml.jackson.databind.node.ObjectNode =>
        o.properties().asScala.foreach(e =>
          refsNode.set[JsonNode](e.getKey, e.getValue.deepCopy[JsonNode]()))
      case _ => ()
    }
    if (ref != "main")
      refsNode.putObject(ref)
        .put("snapshot-id", snapshotId).put("type", "branch")
    refsNode.putObject("main")
      .put("snapshot-id", mainHead).put("type", "branch")
    // history surfaces real catalogs expect: snapshot-log (MAIN's
    // lineage — a branch commit must not appear in it) and metadata-log
    // (the surviving prior metadata files). The prior log carries
    // verbatim when available (expiry may have filtered it); the
    // rebuild-from-snapshots fallback covers pre-refs metadata.
    val slog = root.putArray("snapshot-log")
    val priorLog: Seq[(Long, Long)] = prior.map(_.path("snapshot-log")) match {
      case Some(a: com.fasterxml.jackson.databind.node.ArrayNode) =>
        a.elements().asScala.map(e => (e.path("timestamp-ms").asLong(0),
          e.path("snapshot-id").asLong(-1))).toSeq
      case _ => prevSnapshotNodes.map(s => (s.path("timestamp-ms").asLong(0),
        s.path("snapshot-id").asLong(-1)))
    }
    (if (ref == "main") priorLog :+ (now, snapshotId) else priorLog)
      .foreach { case (ts, id) =>
        slog.addObject().put("timestamp-ms", ts).put("snapshot-id", id)
      }
    val mlog = root.putArray("metadata-log")
    (1L until version).foreach { v =>
      val f = metaDir.resolve(s"v$v.metadata.json")
      if (Files.exists(f))
        mlog.addObject()
          .put("timestamp-ms", Files.getLastModifiedTime(f).toMillis)
          .put("metadata-file", f.toString)
    }

    val tmp = Files.createTempFile(metaDir, ".tmp-meta", ".json")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(root).getBytes("UTF-8"))
    Files.move(tmp, metaDir.resolve(s"v$version.metadata.json"),
      StandardCopyOption.ATOMIC_MOVE)
    val tmpHint = Files.createTempFile(metaDir, ".tmp-hint", ".txt")
    Files.write(tmpHint, version.toString.getBytes("UTF-8"))
    Files.move(tmpHint, metaDir.resolve("version-hint.text"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Commit one snapshot of v2 POSITION DELETES — rows addressed as
    * (data file path, row position), exactly what a CDC mirror appends
    * between compactions. Produces a parquet delete file under data/,
    * a delete-content manifest, and a manifest list that carries every
    * prior manifest (data and delete) plus the new one; readers apply
    * the deletes as an anti-join (see [[read]]). Returns the snapshot
    * id. */
  def writePositionDeletes(spark: SparkSession, tableDir: String,
      deletes: Seq[(String, Long)]): Long = {
    import org.apache.spark.sql.Row
    val delSchema = StructType(Seq(
      StructField("file_path", StringType, nullable = false),
      StructField("pos", LongType, nullable = false)))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(
        deletes.map { case (p, pos) => Row(p, pos) }, 1), delSchema)
    commitDeleteSnapshot(spark, tableDir, df, content = 1,
      equalityIds = Seq.empty)
  }

  /** Commit one snapshot of v2 EQUALITY DELETES — "delete every row
    * matching these key tuples that existed before this snapshot", the
    * shape streaming CDC writers (Flink, moonlink-style ingestion) emit
    * for updates/deletes without knowing row positions. `rows` carries
    * exactly the equality columns; the sequence rule on the read side
    * scopes the delete to strictly-older data files, so a later
    * re-insert of the same key survives.
    *
    * `scope` partition-scopes the delete (the shape per-partition
    * streaming writers emit): a non-empty map binding every identity
    * partition field of the table's default spec to a value writes the
    * delete file WITH that partition tuple, and readers (ours and real
    * engines) apply it only to data files of that partition. Returns
    * the snapshot id. */
  def writeEqualityDeletes(spark: SparkSession, tableDir: String,
      rows: DataFrame, equalityCols: Seq[String],
      scope: Map[String, Any] = Map.empty): Long = {
    require(equalityCols.nonEmpty, "equalityCols must be non-empty")
    val meta = currentMetadata(tableDir)
    val idByName = fieldIdToName(meta).map(_.swap)
    val ids = equalityCols.map(c => idByName.getOrElse(c,
      throw new IllegalArgumentException(
        s"$tableDir has no column '$c' to equality-delete on")))
    commitDeleteSnapshot(spark, tableDir,
      rows.select(equalityCols.map(org.apache.spark.sql.functions.col): _*),
      content = 2, equalityIds = ids, scope = scope)
  }

  /** Shared delete-snapshot commit: stage `deleteDf` as one parquet
    * delete file, emit its delete-content manifest and a manifest list
    * carrying every prior manifest, and commit the metadata. */
  private def commitDeleteSnapshot(spark: SparkSession, tableDir: String,
      deleteDf: DataFrame, content: Int, equalityIds: Seq[Int],
      scope: Map[String, Any] = Map.empty): Long = {
    val metaDir = Paths.get(tableDir, "metadata")
    val prior = currentMetadata(tableDir)
    // An UNSCOPED delete on a partitioned table would emit an empty
    // partition struct under a non-empty spec — real readers resolve
    // the struct by spec-id and would see null partition values,
    // mis-scoping the deletes. Refuse rather than emit a manifest other
    // readers misinterpret; a partition-scoped delete (scope binding
    // every identity spec field) is the supported shape.
    val specPairs = defaultSpec(prior)
    if (specPairs.nonEmpty && scope.isEmpty)
      throw new UnsupportedOperationException(
        s"$tableDir is partitioned (${specPairs.map(_._1).mkString(", ")})" +
          " — pass a partition scope, or use global deletes only on " +
          "unpartitioned tables")
    if (scope.nonEmpty) {
      if (specPairs.isEmpty)
        throw new IllegalArgumentException(
          s"$tableDir is unpartitioned — a partition scope is meaningless")
      val nonIdentity = specPairs.filter(_._2 != "identity")
      if (nonIdentity.nonEmpty)
        throw new UnsupportedOperationException(
          s"partition-scoped deletes under non-identity transforms " +
            s"(${nonIdentity.map(p => s"${p._2}(${p._1})").mkString(", ")})" +
            " out of this writer's scope")
      require(scope.keySet == specPairs.map(_._1).toSet,
        s"scope must bind exactly the spec fields " +
          s"(${specPairs.map(_._1).mkString(", ")}), " +
          s"got (${scope.keys.mkString(", ")})")
      // A PARTITION-SCOPED delete only reaches data files laid out
      // under the DEFAULT spec — readers (ours and real engines) match
      // the delete's tuple against files of the same spec-id. After
      // spec evolution, live files under an older spec can hold
      // matching keys the scoped tombstone would silently miss,
      // resurfacing rows. Refuse over misread: compact() (rewrites
      // under the default spec) first.
      val defaultSpecId = prior.path("default-spec-id").asInt(0)
      def intField(r: GenericRecord, f: String): Int =
        if (r.getSchema.getField(f) == null) 0
        else r.get(f) match {
          case i: java.lang.Integer => i.intValue
          case l: java.lang.Long => l.intValue
          case _ => 0
        }
      val headId = prior.path("current-snapshot-id").asLong(-1L)
      val staleLive = prior.path("snapshots").elements().asScala.toSeq
        .find(_.path("snapshot-id").asLong(-2) == headId)
        .map(_.get("manifest-list").asText())
        .toSeq.flatMap(ml => avroRecords(localPath(ml)))
        .filter(r => intField(r, "content") == 0 &&
          intField(r, "partition_spec_id") != defaultSpecId)
        .flatMap(r => avroRecords(localPath(r.get("manifest_path").toString)))
        .filter(_.get("status").asInstanceOf[Int] != 2) // live entries
      if (staleLive.nonEmpty)
        throw new UnsupportedOperationException(
          s"$tableDir holds ${staleLive.size} live data file(s) under a " +
            s"partition spec other than the default ($defaultSpecId); a " +
            "partition-scoped delete cannot reach them and matching rows " +
            "would silently survive. compact() the table (rewrites under " +
            "the current spec) before partition-scoped deletes.")
    }
    val prevVersion = new String(Files.readAllBytes(
      metaDir.resolve("version-hint.text")), "UTF-8").trim.toLong
    val tableUuid = Option(prior.get("table-uuid")).map(_.asText())
      .getOrElse(UUID.randomUUID().toString)
    val lastSeq = prior.path("last-sequence-number").asLong(0L)
    val prevSnapshotNodes = prior.path("snapshots").elements().asScala.toSeq
    val parentId = prior.path("current-snapshot-id").asLong(-1L)
    val prevManifestRecords: Seq[GenericRecord] =
      prevSnapshotNodes.find(_.path("snapshot-id").asLong(-2) == parentId)
        .map(_.get("manifest-list").asText())
        .toSeq.flatMap(ml => avroRecords(localPath(ml)))

    val version = prevVersion + 1
    val snapshotId = version * 100
    val sequenceNumber = lastSeq + 1

    // The delete parquet, written via Spark like any data file. One
    // file — a delete batch is change-sized, not table-sized.
    val stage = Files.createTempDirectory(Paths.get(tableDir), ".stage")
    deleteDf.coalesce(1).write.mode("overwrite").parquet(stage.toString)
    val part = LakeFs.parquetFilesUnder(stage).head
    Files.createDirectories(Paths.get(tableDir, "data"))
    val target = Paths.get(tableDir, "data",
      f"$snapshotId%d-delete-${UUID.randomUUID()}.parquet")
    Files.move(part, target, StandardCopyOption.ATOMIC_MOVE)
    LakeFs.deleteRec(stage)
    val nRows = FooterStats.read(target).rows

    // Delete manifest: one delete-file entry (content 1 = positional,
    // 2 = equality). Global scope = empty partition struct under the
    // unpartitioned spec; partition scope = the default spec's struct
    // with the scope tuple filled in, field-ids from the spec.
    val defaultSpecId = prior.path("default-spec-id").asInt(0)
    val specFieldsArr = prior.path("partition-specs").elements().asScala
      .find(_.path("spec-id").asInt(0) == defaultSpecId)
      .map(_.path("fields"))
      .getOrElse(mapper.createArrayNode(): JsonNode)
    val partFields: Seq[(StructField, Int)] =
      if (scope.isEmpty) Seq.empty
      else {
        val tableSchema = toStructType(prior)
        specFieldsArr.elements().asScala.toSeq.map(f =>
          (tableSchema(f.get("name").asText()),
            f.path("field-id").asInt(1000)))
      }
    val entrySchema = mkManifestEntrySchema(partFields)
    val dataFileSchema = entrySchema.getField("data_file").schema()
    val d = new GenericData.Record(dataFileSchema)
    d.put("content", content)
    d.put("file_path", target.toString)
    d.put("file_format", "PARQUET")
    val partRecord =
      new GenericData.Record(dataFileSchema.getField("partition").schema())
    partFields.foreach { case (f, _) =>
      partRecord.put(f.name, scope(f.name).asInstanceOf[AnyRef])
    }
    d.put("partition", partRecord)
    d.put("record_count", nRows)
    d.put("file_size_in_bytes", Files.size(target))
    if (equalityIds.nonEmpty)
      d.put("equality_ids", equalityIds.map(Int.box).asJava)
    val e = new GenericData.Record(entrySchema)
    e.put("status", 1) // ADDED
    e.put("snapshot_id", snapshotId)
    e.put("sequence_number", sequenceNumber)
    e.put("file_sequence_number", sequenceNumber)
    e.put("data_file", d)
    val schemaNode = currentSchemaNode(prior)
    val manifestPath = metaDir.resolve(f"m-$snapshotId%d-deletes.avro")
    writeAvro(manifestPath, entrySchema, Seq(e),
      Map("schema" -> mapper.writeValueAsString(schemaNode),
        "partition-spec" -> mapper.writeValueAsString(specFieldsArr),
        "partition-spec-id" -> defaultSpecId.toString,
        "format-version" -> "2", "content" -> "deletes"))

    val newListEntry = {
      val r = new GenericData.Record(manifestFileSchema)
      r.put("manifest_path", manifestPath.toString)
      r.put("manifest_length", Files.size(manifestPath))
      r.put("partition_spec_id", defaultSpecId)
      r.put("content", 1) // delete manifest
      r.put("sequence_number", sequenceNumber)
      r.put("min_sequence_number", sequenceNumber)
      r.put("added_snapshot_id", snapshotId)
      r.put("added_files_count", 1)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", nRows)
      r.put("existing_rows_count", 0L)
      r.put("deleted_rows_count", 0L)
      r: GenericRecord
    }
    val listPath = metaDir.resolve(f"ml-$snapshotId%d.avro")
    writeAvro(listPath, manifestFileSchema,
      prevManifestRecords.map(carryManifest(_, parentId)) :+ newListEntry,
      Map("format-version" -> "2"))

    val specsArr = prior.path("partition-specs") match {
      case a: com.fasterxml.jackson.databind.node.ArrayNode => a
      case _ =>
        val arr = mapper.createArrayNode()
        val s = arr.addObject()
        s.put("spec-id", 0)
        s.set[JsonNode]("fields", specFieldsArr)
        arr
    }
    val schemasArr = prior.path("schemas") match {
      case a: com.fasterxml.jackson.databind.node.ArrayNode =>
        val copy = mapper.createArrayNode()
        a.elements().asScala.foreach(copy.add)
        copy
      case _ =>
        val copy = mapper.createArrayNode()
        copy.add(schemaNode)
        copy
    }
    commitMetadataJson(metaDir, tableDir, version, tableUuid,
      sequenceNumber, prior.path("last-column-id").asInt(0), schemasArr,
      schemaNode.path("schema-id").asInt(0),
      specsArr, prior.path("default-spec-id").asInt(0),
      prior.path("last-partition-id").asInt(999),
      prevSnapshotNodes, snapshotId, parentId, listPath, "delete",
      prior = Some(prior))
    snapshotId
  }
}
