package graft.lake

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, ExecutionException, Executors}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One data file of a mirror table, with file-skipping statistics.
  *
  * `minKey`/`maxKey` are min/max of the table's first primary-key column
  * (as a string-encoded long), the same role Iceberg per-file column stats
  * play for the reference (`/root/reference/CHANGELOG.md:26` "File
  * statistics and skipping"). CDC apply uses them to rewrite only files
  * that can contain an affected key — at 100 TB a point-delete touches a
  * handful of files, not the table.
  */
case class DataFile(
    path: String,
    rows: Long,
    bytes: Long,
    minKey: Option[Long],
    maxKey: Option[Long],
    colMin: Option[Map[String, Long]] = None,
    colMax: Option[Map[String, Long]] = None,
    /** String-column bounds (unsigned-UTF-8 order, the order parquet
      * stats and Spark's UTF8String share). Long values are stored
      * TRUNCATED: the min as a plain prefix (a prefix never exceeds the
      * true min), the max with its last kept code point incremented (a
      * strict upper bound for every string under the original prefix) —
      * so a 1 KB document column costs 64 code points of manifest, not
      * its full text. Absent on older manifests / stat-less columns. */
    colMinStr: Option[Map[String, String]] = None,
    colMaxStr: Option[Map[String, String]] = None) {

  /** Footer-derived [lo, hi] of an integer (or date — epoch-day) column
    * in this file, when known. Absent (older manifests, stats-less
    * columns) means "may contain anything" — callers must keep the
    * file. */
  def rangeOf(column: String): Option[(Long, Long)] =
    for {
      lo <- colMin.flatMap(_.get(column))
      hi <- colMax.flatMap(_.get(column))
    } yield (lo, hi)

  /** [[rangeOf]], falling back to `minKey`/`maxKey` when `column` is the
    * leading pk (manifests older than per-column stats carry only those). */
  def rangeOf(column: String, pk: Seq[String]): Option[(Long, Long)] =
    rangeOf(column).orElse(
      if (pk.headOption.contains(column)) for (a <- minKey; b <- maxKey) yield (a, b)
      else None)

  /** Footer-derived [lo, hi] of a string column, when known. */
  def strRangeOf(column: String): Option[(String, String)] =
    for {
      lo <- colMinStr.flatMap(_.get(column))
      hi <- colMaxStr.flatMap(_.get(column))
    } yield (lo, hi)
}

object DataFile {
  import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StringType}

  /** The mirror's rendering of a file's [[FooterStats]]: integer and date
    * (epoch-day) bounds as longs, string bounds as text, keyed by dotted
    * leaf path (a pushed nested-field filter names `s.a`); the leading
    * pk's integer range as `minKey`/`maxKey`. Other types stay unbounded. */
  def fromStats(path: String, bytes: Long, leadPk: Option[String],
      s: FooterStats): DataFile = {
    def ranges[A](pick: PartialFunction[Bounds, (A, A)]) = s.leaves.flatMap {
      case (leaf, cs) => cs.bounds.collect(pick).map(leaf.mkString(".") -> _)
    }
    val ints = ranges {
      case Bounds(IntegerType | LongType | DateType, lo: Number, hi: Number) =>
        (lo.longValue, hi.longValue)
    }
    val strs = ranges { case Bounds(StringType, lo: String, hi: String) => (lo, hi) }
    def side[A](m: Map[String, (A, A)])(pick: ((A, A)) => A) =
      if (m.isEmpty) None else Some(m.map { case (c, r) => c -> pick(r) })
    val lead = leadPk.flatMap(ints.get)
    DataFile(path, s.rows, bytes, lead.map(_._1), lead.map(_._2),
      side(ints)(_._1), side(ints)(_._2), side(strs)(_._1), side(strs)(_._2))
  }
}

/** Versioned table manifest — our stand-in for an Iceberg snapshot
  * (reference keeps the same two frontiers per table:
  * `/root/reference/src/functions.rs:85-99` `commit_lsn` / `flush_lsn`).
  *
  * - `commitVersion`: highest change-batch version accepted (LSN analog).
  * - `flushVersion`: highest version durably visible in `files` — the
  *   read-your-writes gate compares against this
  *   (`/root/reference/src/duckdb_mooncake.rs:27-29`).
  */
case class Manifest(
    table: String,
    version: Long,
    commitVersion: Long,
    flushVersion: Long,
    schemaDdl: String,
    pkColumns: Seq[String],
    files: Seq[DataFile],
    /** Columns the table's data files carry parquet bloom filters for
      * (set at create, preserved by CDC/compaction rewrites). Absent on
      * older manifests — readers treat that as "no blooms". */
    bloomColumns: Option[Seq[String]] = None,
    /** Wall-clock commit time, stamped by [[Manifest.commit]] — what SQL
      * `TIMESTAMP AS OF` resolves against. Absent on older manifests;
      * readers fall back to the manifest file's mtime. */
    commitMs: Option[Long] = None,
    /** Physical LAYOUT columns: when set, backfills, CDC rewrites and
      * compaction range-cluster data files on these instead of the pk,
      * so file skipping can serve a probe key that is not the replica
      * identity (e.g. the dedup band index: pk (doc_id, band) for CDC
      * addressing, layout (band, key) for probe pruning). Absent means
      * "cluster by pk" — the historical behavior. */
    clusterColumns: Option[Seq[String]] = None,
    /** Application progress watermarks (the Delta SetTransaction /
      * Iceberg committed-checkpoint-id analog): appId → the applier's
      * own frontier, committed in the SAME manifest write as the data
      * it covers and carried across compaction/optimize rewrites. An
      * applier that needs exactly-once non-idempotent folds (e.g.
      * [[Mview]]'s signed-delta refresh) reads its landed frontier from
      * HERE, not from version arithmetic — commitVersion advances on
      * out-of-band commits (optimizeTable) too, so `version >= expected`
      * conflates a foreign commit with the apply. Absent on older
      * manifests. */
    appWatermarks: Option[Map[String, Long]] = None,
    /** Opaque per-table config captured at create — the reference's
      * `create_table(dst, src, src_uri, table_config json)` 4th
      * argument (`/root/reference/src/functions.rs:24-43`): the control
      * plane persists it and hands it to the ingestion engine verbatim.
      * Carried across every rewrite (CDC, load, optimize) and surfaced
      * by `list_tables`. Absent on older manifests. */
    tableConfig: Option[Map[String, String]] = None)

object Manifest {
  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    // Scala type erasure: without this, Option[Long] fields deserialize as
    // boxed Integer and blow up on first use.
    m.configure(DeserializationFeature.USE_LONG_FOR_INTS, true)
    m
  }

  def toJson(m: Manifest): String =
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(m)

  def fromJson(s: String): Manifest = mapper.readValue(s, classOf[Manifest])

  private def manifestDir(tableDir: String): Path =
    Paths.get(tableDir, "manifest")

  private def versionOf(p: Path): Long = {
    val n = p.getFileName.toString // v%016d.json
    n.stripPrefix("v").stripSuffix(".json").toLong
  }

  /** Run `f` over a directory stream, always closing it (an unclosed
    * Files.list leaks a file handle per call — fatal in a long-lived
    * maintenance service). */
  private[lake] def withListing[A](dir: Path)(f: Iterator[Path] => A): A = {
    val stream = Files.list(dir)
    try f(stream.iterator().asScala) finally stream.close()
  }

  /** Run `f` over an open parquet file reader, always closing it — the
    * shared open/close boilerplate behind [[FooterStats]] and the bloom
    * probe.
    *
    * ONE shared Hadoop Configuration: constructing it per call re-reads
    * core-default.xml out of the hadoop jar (a classpath ZIP walk) —
    * measured as the dominant cost of a 10k-file commit's stats pass
    * (MetaScaleProbe). The conf is never mutated here, and Configuration
    * is thread-safe for reads, so commit paths may also fan footer reads
    * across a pool. */
  private[lake] lazy val footerConf = new org.apache.hadoop.conf.Configuration()
  private[lake] def withReader[A](p: Path)(
      f: org.apache.parquet.hadoop.ParquetFileReader => A): A = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toUri), footerConf))
    try f(reader) finally reader.close()
  }

  /** Run `f` over a parquet file's footer metadata (see [[withReader]]). */
  private[lake] def withFooter[A](p: Path)(
      f: org.apache.parquet.hadoop.metadata.ParquetMetadata => A): A =
    withReader(p)(r => f(r.getFooter))

  /** Map `f` over `items` on a bounded pool — the commit-time pattern
    * for per-file footer work (stats, record counts): neither a 10⁴-file
    * commit nor a CDC rewrite's handful reads its footers one by one.
    * Order kept, `f`'s own exception rethrown. One shared pool of daemon
    * threads sized to the JVM's cores, made on first use; each inherits its
    * creator's context class loader, which Hadoop's FileSystem lookup uses. */
  private[lake] def parFiles[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (items.size < 2) items.map(f)
    else items.map(i => footerPool.submit(new Callable[B] { def call(): B = f(i) }))
      .map(t => try t.get() catch { case e: ExecutionException => throw e.getCause })

  private lazy val footerPool = Executors.newFixedThreadPool(
    math.min(Runtime.getRuntime.availableProcessors(), 32), { (r: Runnable) =>
      val t = new Thread(r, "graft-footer"); t.setDaemon(true); t })

  /** Probe a parquet file's bloom filter for an integer point value:
    * true iff some row group MIGHT contain it (missing blooms or a
    * non-integer physical type degrade to true — never wrong, just
    * unpruned). One footer + bitset read, no data pages touched. */
  private[lake] def bloomMightContain(p: Path, column: String,
      value: Long): Boolean = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    withReader(p) { reader =>
      reader.getFooter.getBlocks.asScala.exists { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == column)
          .forall { cc =>
            val bf = reader.getBloomFilterDataReader(b).readBloomFilter(cc)
            if (bf == null) true
            else cc.getPrimitiveType.getPrimitiveTypeName match {
              case PrimitiveTypeName.INT64 => bf.findHash(bf.hash(value))
              case PrimitiveTypeName.INT32 => bf.findHash(bf.hash(value.toInt))
              case _ => true
            }
          }
      }
    }
  }

  /** Latest committed manifest, or None for an empty/new table dir. */
  def latest(tableDir: String): Option[Manifest] = {
    val dir = manifestDir(tableDir)
    if (!Files.isDirectory(dir)) return None
    val versions = withListing(dir)(_.filter(
      p => p.getFileName.toString.matches("v\\d+\\.json")).toSeq)
    if (versions.isEmpty) None
    else {
      val newest = versions.maxBy(versionOf)
      Some(fromJson(new String(Files.readAllBytes(newest), StandardCharsets.UTF_8)))
    }
  }

  /** All committed manifest versions with their commit wall-clock time
    * (manifest `commitMs`, file-mtime fallback for pre-stamp manifests),
    * ascending — the `TIMESTAMP AS OF` resolution walk. Parses each
    * manifest once: manifest-count × JSON-size driver work, the same
    * order as the snapshot-log walk real lake readers pay. */
  def versionsWithTime(tableDir: String): Seq[(Long, Long)] = {
    val dir = manifestDir(tableDir)
    if (!Files.isDirectory(dir)) return Seq.empty
    withListing(dir)(_.filter(
      p => p.getFileName.toString.matches("v\\d+\\.json")).toSeq)
      .map { p =>
        val m = fromJson(new String(Files.readAllBytes(p),
          StandardCharsets.UTF_8))
        (versionOf(p), m.commitMs.getOrElse(
          Files.getLastModifiedTime(p).toMillis))
      }.sortBy(_._1)
  }

  /** Atomic commit: write to a temp file, then rename into place. Rename
    * is atomic on a POSIX filesystem, so readers see either the previous
    * complete manifest or the new one, never a torn write (SURVEY.md §7
    * risk 4). On an object store this would be a conditional PUT. */
  def commit(tableDir: String, m: Manifest): Unit = {
    val dir = manifestDir(tableDir)
    Files.createDirectories(dir)
    val target = dir.resolve(f"v${m.version}%016d.json")
    if (Files.exists(target))
      throw new IllegalStateException(
        s"manifest version ${m.version} already exists for ${m.table} " +
          "(concurrent writer?)")
    val tmp = Files.createTempFile(dir, ".tmp-manifest", ".json")
    val stamped = m.copy(commitMs = Some(System.currentTimeMillis()))
    Files.write(tmp, toJson(stamped).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Filesystem + plan helpers shared by the lake writers/readers
  * (DeltaCompat, IcebergCompat, Mooncake) — one copy of the staging
  * walk, the recursive delete, and the balanced union. */
private[lake] object LakeFs {
  import java.util.Comparator
  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.DataFrame

  /** All *.parquet under `dir`, recursively, sorted — the staged output
    * of one Spark write (hive dirs included). */
  def parquetFilesUnder(dir: Path): Seq[Path] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.toString)
    finally walk.close()
  }

  /** Recursive delete (children first); missing dir is a no-op. */
  def deleteRec(dir: Path): Unit =
    if (Files.exists(dir)) {
      val walk = Files.walk(dir)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)
      finally walk.close()
    }

  /** Balanced union: O(log n) plan depth instead of a left-leaning
    * chain whose analysis cost is quadratic in the group count. */
  def unionAll(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "unionAll of zero DataFrames")
    if (dfs.lengthCompare(1) == 0) dfs.head
    else unionAll(dfs.grouped(2).map(g => g.reduce(_ unionByName _)).toSeq)
  }
}
