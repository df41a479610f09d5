package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructType}

/** Iceberg-shaped snapshot table on plain Parquet (no Iceberg runtime
  * jar offline — SURVEY.md §7.4): versioned manifests + atomic version
  * pointer give append/overwrite-by-bucket semantics, snapshot reads,
  * and checkpoint-resume. The interface is deliberately minimal so a
  * real Iceberg catalog drops in behind it via config.
  *
  * Layout:
  *   <root>/data/bucket=<k>/part-*.parquet   (one dir per commit unit)
  *   <root>/_graft/manifest-v<N>.json        (snapshot N: bucket count,
  *                                            completed buckets, per-file
  *                                            column stats, row buckets)
  *   <root>/_graft/VERSION                   (current snapshot pointer,
  *                                            updated by atomic rename)
  *
  * ROW BUCKETS: a bucket of a few driver-side rows (a metrics table's
  * counters) is committed with [[commitRows]] into the manifest itself,
  * next to the table's Spark schema — one manifest write and one
  * VERSION rename, no Spark job and no data file. Its rows are carried
  * forward like file entries, and reads union them by name with the
  * file buckets, so a table whose buckets were written either way reads
  * as one table. Only bigint and string columns are encoded.
  *
  * Readers only see buckets listed in the current manifest, so a crash
  * mid-bucket leaves garbage files but never a dirty read (the
  * reference's table-snapshot copy, utils.py:1424-1441, reproduced as
  * snapshot isolation instead of a physical copy).
  *
  * FILE-LEVEL STATS (Iceberg's second scan-time win, after bucket
  * pruning): each commit records, per data file, the row count and
  * min/max of every string/int/timestamp column — read from the
  * PARQUET FOOTERS at commit time (the manifest-writer pattern: no
  * data pages are re-read, one footer per file on the committer).
  * [[readAt(spark,version,prune*)]] skips whole files whose bounds
  * cannot match a predicate — at the 10^12-turn tier this turns a
  * ts-range or conv-prefix query from "scan every file of every
  * bucket" into "open only the overlapping files". Timestamps are
  * written as INT64 micros (Iceberg's representation — INT96, Spark's
  * legacy default, carries no usable footer stats).
  */
final class SnapshotTable(val root: String, val nBuckets: Int) {
  import SnapshotTable._

  private val meta: Path = Paths.get(root, "_graft")
  private val versionFile: Path = meta.resolve("VERSION")

  Files.createDirectories(meta)
  Files.createDirectories(Paths.get(root, "data"))

  def currentVersion: Int =
    if (Files.exists(versionFile))
      new String(Files.readAllBytes(versionFile), StandardCharsets.UTF_8).trim.toInt
    else 0

  /** Buckets committed as of the current snapshot. Manifest format:
    * {"snapshot":N,"parent":M,"n_buckets":B,"buckets":[1,2,...],
    *  "files":[...],"schema":{...},"rows":[{"bucket":k,"values":[[...]]}]}
    * ("schema" and "rows" only while the table has row buckets).
    */
  def completedBuckets: Set[Int] = bucketsAt(currentVersion)

  /** The bucket count the current snapshot was committed under; None
    * for an empty table or a manifest written before the count was
    * recorded.
    */
  def recordedBuckets: Option[Int] =
    manifestAt(currentVersion).flatMap(m => Option(m.get("n_buckets"))).map(_.asInt())

  /** Write one bucket's rows and commit it to a new snapshot. The data
    * write is idempotent (overwrite of the bucket dir); the commit is
    * the atomic VERSION rename — a re-run after a crash between the two
    * simply overwrites and re-commits.
    */
  def commitBucket(df: DataFrame, bucket: Int): Int = {
    // int64-micros timestamps for the bucket files: INT96 (Spark's
    // legacy parquet default) has no trustworthy footer min/max, which
    // would silently disable ts pruning; Iceberg mandates int64 micros
    // for the same reason. Restored afterwards — only this table's own
    // files need the guarantee.
    val conf = df.sparkSession.conf
    val key = "spark.sql.parquet.outputTimestampType"
    val prior = conf.get(key)
    try {
      conf.set(key, "TIMESTAMP_MICROS")
      df.write.mode("overwrite").parquet(s"$root/data/bucket=$bucket")
    } finally conf.set(key, prior)
    commitBuckets(Set(bucket))
  }

  /** Commit bucket `bucket` as the driver-side `rows`, stored in the
    * manifest (see ROW BUCKETS above): no Spark job, no data file. A
    * re-commit replaces the bucket's rows, or its files. Fails before
    * writing anything on a column type the codec does not encode, or on
    * a schema other than the one the table's carried row buckets have.
    */
  def commitRows(rows: Rows, bucket: Int): Int = {
    rows.schema.fields.foreach(f => require(f.dataType == LongType || f.dataType == StringType,
      s"$root: column '${f.name}' has type ${f.dataType.simpleString}; " +
        "row buckets encode only bigint and string columns"))
    commit(Set(bucket), Some(rows))
  }

  /** Record buckets (already written) in a new snapshot.
    *
    * Single-writer protocol (like Iceberg's optimistic commit): the
    * manifest is created with CREATE_NEW, so if two writers race to
    * produce manifest-v(N+1) the loser fails loudly
    * (FileAlreadyExistsException) instead of silently dropping the
    * winner's committed buckets via a last-rename-wins VERSION swap.
    *
    * File entries: freshly footer-scanned for `buckets`; carried
    * forward from the parent snapshot for previously committed buckets
    * (manifests are immutable, so the parent's entries are still true
    * for untouched bucket dirs). Row buckets are carried the same way.
    */
  def commitBuckets(buckets: Set[Int]): Int = commit(buckets, None)

  /** One commit of `buckets`: their files, or (`rows`) their one row
    * bucket, replace whatever the parent snapshot held for them.
    */
  private def commit(buckets: Set[Int], rows: Option[Rows]): Int = {
    val v = currentVersion
    // allocate PAST the newest existing manifest: after a rollback the
    // divergent future manifests stay readable (time travel) until
    // expiry; the new commit's parent is the rolled-back snapshot
    val newV = math.max(v, snapshotHistory.lastOption.getOrElse(0)) + 1
    // the parent is read once; its file and row entries for untouched
    // buckets are carried as JSON, never decoded
    val parent = manifestAt(v)
    def carry(field: String): Seq[JsonNode] = parent.flatMap(m => Option(m.get(field))).toSeq
      .flatMap(_.elements().asScala).filterNot(n => buckets.contains(n.get("bucket").asInt()))
    val all = (parent.map(bucketsOf).getOrElse(Set.empty) ++ buckets).toSeq.sorted
    val fresh = if (rows.isDefined) Nil else buckets.toSeq.sorted.flatMap(scanBucketFooters)
    val carriedRows = carry("rows")
    val carriedSchema = parent.filter(_ => carriedRows.nonEmpty).map(schemaOf)
    for (r <- rows; c <- carriedSchema)
      require(r.schema == c, s"$root: rows of schema ${r.schema.simpleString} " +
        s"cannot join row buckets of schema ${c.simpleString}")
    val rowNodes = (carriedRows ++ rows.map(rowsToJson(buckets.head, _)))
      .sortBy(_.get("bucket").asInt())

    val json = mapper.createObjectNode()
    json.put("snapshot", newV)
    json.put("parent", v)
    json.put("n_buckets", nBuckets)
    val barr = json.putArray("buckets")
    all.foreach(barr.add)
    val farr = json.putArray("files")
    carry("files").foreach(farr.add)
    fresh.foreach(f => farr.add(fileToJson(f)))
    rows.map(_.schema).orElse(carriedSchema).foreach { schema =>
      json.set[JsonNode]("schema", mapper.readTree(schema.json))
      val rarr = json.putArray("rows")
      rowNodes.foreach(rarr.add)
    }

    Files.write(meta.resolve(s"manifest-v$newV.json"),
      mapper.writeValueAsBytes(json),
      java.nio.file.StandardOpenOption.CREATE_NEW,
      java.nio.file.StandardOpenOption.WRITE)
    val tmp = meta.resolve(s"VERSION.tmp$newV")
    Files.write(tmp, newV.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, versionFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    newV
  }

  /** Snapshot read: only committed buckets are visible. */
  def read(spark: SparkSession): DataFrame = readAt(spark, currentVersion)

  /** Time-travel read of an earlier snapshot (Iceberg
    * `VERSION AS OF` semantics): only buckets committed as of
    * `version` are visible, regardless of later commits.
    */
  def readAt(spark: SparkSession, version: Int): DataFrame = {
    val m = manifestAt(version)
    val done = m.map(bucketsOf).getOrElse(Set.empty)
    if (done.isEmpty) spark.emptyDataFrame
    else {
      val rowBuckets = m.map(rowBucketsOf).get
      val dirs = done.toSeq.sorted.filterNot(rowBuckets.contains).map(b => s"$root/data/bucket=$b")
      scan(spark, rowBuckets, dirs).get
    }
  }

  /** Pruned snapshot read: only files whose manifest stats satisfy
    * `prune` are opened (plus, conservatively, every file of a bucket
    * with no recorded entries — a legacy manifest can never lose
    * rows). Compose the predicate from [[SnapshotTable.overlapsLong]] /
    * [[SnapshotTable.overlapsString]]; a file with no stats for the
    * probed column always survives. Row buckets have no files and are
    * always read.
    */
  def readAt(spark: SparkSession, version: Int, prune: DataFile => Boolean): DataFrame = {
    val m = manifestAt(version)
    val done = m.map(bucketsOf).getOrElse(Set.empty)
    if (done.isEmpty) return spark.emptyDataFrame
    val rowBuckets = m.map(rowBucketsOf).get
    val byBucket = m.map(filesOf).get.filter(f => done.contains(f.bucket)).groupBy(_.bucket)
    val (fileBuckets, dirBuckets) = done.toSeq.sorted.filterNot(rowBuckets.contains).partition { b =>
      // file-granularity pruning only when every manifest path still
      // exists: a later re-commit of the bucket (idempotent overwrite)
      // replaces its part files, and the dir-based fallback then gives
      // the same read-newest-data semantics the unpruned readAt has for
      // time travel over overwritten buckets (no deleted-path crash)
      byBucket.get(b).exists(_.forall(f => new java.io.File(s"$root/${f.path}").isFile))
    }
    val kept = fileBuckets.flatMap(b => byBucket(b).filter(prune))
      .map(f => s"$root/${f.path}")
    // all files pruned and no row buckets: the snapshot's schema, zero rows
    scan(spark, rowBuckets, kept ++ dirBuckets.map(b => s"$root/data/bucket=$b"))
      .getOrElse(readAt(spark, version).where(org.apache.spark.sql.functions.lit(false)))
  }

  /** The parquet `paths` unioned by name with the `rowBuckets`' rows;
    * None when there are neither.
    */
  private def scan(spark: SparkSession, rowBuckets: Map[Int, Rows],
                   paths: Seq[String]): Option[DataFrame] = {
    val files = if (paths.isEmpty) None else Some(spark.read.parquet(paths: _*))
    val rows = rowBuckets.values.headOption.map(r =>
      Rows(r.schema, rowBuckets.toSeq.sortBy(_._1).flatMap(_._2.rows)).toDF(spark))
    (files ++ rows).reduceOption(_ unionByName _)
  }

  def bucketsAt(version: Int): Set[Int] = manifestAt(version).map(bucketsOf).getOrElse(Set.empty)

  private def bucketsOf(m: ObjectNode): Set[Int] = {
    val arr = m.get("buckets")
    if (arr == null || !arr.isArray) Set.empty
    else arr.elements().asScala.map(_.asInt()).toSet
  }

  /** Per-file manifest entries (path relative to `root`, row count,
    * column bounds) as of `version`; empty for pre-stats manifests.
    */
  def filesAt(version: Int): Seq[DataFile] = manifestAt(version).map(filesOf).getOrElse(Seq.empty)

  private def filesOf(m: ObjectNode): Seq[DataFile] = {
    val arr = m.get("files")
    if (arr == null || !arr.isArray) Seq.empty
    else arr.elements().asScala.map(jsonToFile).toSeq
  }

  /** A manifest's row buckets by bucket (see ROW BUCKETS above). */
  private def rowBucketsOf(m: ObjectNode): Map[Int, Rows] =
    if (m.get("schema") == null) Map.empty
    else {
      val schema = schemaOf(m)
      m.get("rows").elements().asScala.map { o =>
        o.get("bucket").asInt() ->
          Rows(schema, o.get("values").elements().asScala.map(jsonToRow(schema, _)).toSeq)
      }.toMap
    }

  private def schemaOf(m: ObjectNode): StructType =
    DataType.fromJson(m.get("schema").toString).asInstanceOf[StructType]

  private def manifestAt(version: Int): Option[ObjectNode] = {
    if (version <= 0) return None
    val f = meta.resolve(s"manifest-v$version.json")
    if (!Files.exists(f)) return None
    mapper.readTree(Files.readAllBytes(f)) match {
      case o: ObjectNode => Some(o)
      case _ => None
    }
  }

  /** Footer scan of one bucket dir → manifest entries. One footer read
    * per file, driver-side, no data pages touched (the cost Iceberg
    * writers pay inline at file-close).
    */
  private def scanBucketFooters(bucket: Int): Seq[DataFile] = {
    val dir = new java.io.File(s"$root/data/bucket=$bucket")
    val parts = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    parts.toSeq.map { f =>
      val (rows, bounds) = readFooterStats(f.getAbsolutePath)
      DataFile(bucket, s"data/bucket=$bucket/${f.getName}", rows, bounds)
    }
  }

  // ----------------------------------------------------------- json codec

  private def fileToJson(f: DataFile): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("bucket", f.bucket)
    o.put("path", f.path)
    o.put("rows", f.rows)
    val cols = o.putObject("cols")
    f.bounds.toSeq.sortBy(_._1).foreach { case (name, b) =>
      val c = cols.putObject(name)
      b match {
        case LongBounds(mn, mx) => c.put("t", "l"); c.put("min", mn); c.put("max", mx)
        case StringBounds(mn, mx) => c.put("t", "s"); c.put("min", mn); c.put("max", mx)
      }
    }
    o
  }

  private def rowsToJson(bucket: Int, rows: Rows): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("bucket", bucket)
    val vals = o.putArray("values")
    rows.rows.foreach { r =>
      val a = vals.addArray()
      rows.schema.fields.indices.foreach { i =>
        if (r.isNullAt(i)) a.addNull()
        else rows.schema(i).dataType match {
          case LongType => a.add(r.getLong(i))
          case _ => a.add(r.getString(i)) // StringType: commitRows admits no other
        }
      }
    }
    o
  }

  private def jsonToRow(schema: StructType, a: JsonNode): Row =
    Row.fromSeq(schema.fields.indices.map { i =>
      val n = a.get(i)
      if (n.isNull) null
      else schema(i).dataType match {
        case LongType => n.asLong()
        case _ => n.asText()
      }
    })

  private def jsonToFile(n: JsonNode): DataFile = {
    val bounds = Option(n.get("cols")).toSeq.flatMap { cols =>
      cols.properties().asScala.map { e =>
        val c = e.getValue
        val b = c.get("t").asText() match {
          case "l" => LongBounds(c.get("min").asLong(), c.get("max").asLong())
          case _ => StringBounds(c.get("min").asText(), c.get("max").asText())
        }
        e.getKey -> b
      }
    }.toMap
    DataFile(n.get("bucket").asInt(), n.get("path").asText(),
      n.get("rows").asLong(), bounds)
  }

  /** Snapshot history: existing manifest versions, ascending. */
  def snapshotHistory: Seq[Int] = {
    val stream = Files.list(meta)
    val files =
      try stream.iterator().asScala.map(_.getFileName.toString).toSeq
      finally stream.close()
    files.collect { case s if s.startsWith("manifest-v") && s.endsWith(".json") =>
      s.stripPrefix("manifest-v").stripSuffix(".json").toInt
    }.sorted
  }

  /** Iceberg expire-snapshots: keep the newest `keepLast` manifests
    * plus (always) the current one — the current snapshot may be older
    * than the newest after a rollback. Data files are shared across
    * snapshots here (bucket dirs are only overwritten in place), so no
    * data deletion.
    */
  def expireSnapshots(keepLast: Int): Seq[Int] = {
    val hist = snapshotHistory
    val cur = currentVersion
    val drop = hist.dropRight(math.max(keepLast, 0)).filter(_ != cur)
    drop.foreach(v => Files.deleteIfExists(meta.resolve(s"manifest-v$v.json")))
    drop
  }

  /** Roll the current-version pointer back to an earlier snapshot
    * (Iceberg rollback): later snapshots' data stays on disk but
    * becomes invisible; the next commit builds on the rolled-back
    * state.
    */
  def rollbackTo(version: Int): Unit = {
    require(version >= 0 && (version == 0 ||
      Files.exists(meta.resolve(s"manifest-v$version.json"))),
      s"no snapshot v$version")
    val tmp = meta.resolve(s"VERSION.tmp.rb$version")
    Files.write(tmp, version.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, versionFile, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}

object SnapshotTable {
  def apply(root: String, nBuckets: Int): SnapshotTable =
    new SnapshotTable(root, nBuckets)

  /** Recursive delete (ignores failures — best-effort temp cleanup).
    * The single shared copy: seam roots, soak corpora, and drill roots
    * all clean up through this, so a behavior change (e.g. symlink
    * handling) lands once.
    */
  private[graft] def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(); ()
  }

  private val mapper = new ObjectMapper()

  /** Column min/max over a file's non-null values. String bounds
    * compare with String ordering (conv ids here are ASCII, where
    * UTF-8 byte order and String order agree); long bounds cover
    * int32/int64 columns including TIMESTAMP_MICROS (micros since
    * epoch).
    */
  sealed trait Bounds
  final case class LongBounds(min: Long, max: Long) extends Bounds
  final case class StringBounds(min: String, max: String) extends Bounds

  /** One data file's manifest entry; `path` is relative to the table
    * root. A column absent from `bounds` has no usable stats (missing
    * footer statistics, unsupported type) and never prunes.
    */
  final case class DataFile(bucket: Int, path: String, rows: Long,
                            bounds: Map[String, Bounds])

  /** One row bucket: driver-side rows and the schema they have. */
  final case class Rows(schema: StructType, rows: Seq[Row]) {
    /** A local relation over the rows: no Spark job to build. */
    def toDF(spark: SparkSession): DataFrame = spark.createDataFrame(rows.asJava, schema)
  }

  /** Range-overlap predicates for [[SnapshotTable.readAt]] pruning:
    * true (keep the file) unless the recorded bounds PROVE the file
    * cannot contain a matching row. Rows with nulls never match a
    * range predicate, so null-only files (no non-null bounds recorded
    * as empty stats → bounds present from other blocks or absent)
    * stay conservative.
    */
  def overlapsLong(f: DataFile, column: String, lo: Long, hi: Long): Boolean =
    f.bounds.get(column) match {
      case Some(LongBounds(mn, mx)) => mx >= lo && mn <= hi
      case _ => true
    }

  def overlapsString(f: DataFile, column: String, lo: String, hi: String): Boolean =
    f.bounds.get(column) match {
      case Some(StringBounds(mn, mx)) =>
        utf8Compare(mx, lo) >= 0 && utf8Compare(mn, hi) <= 0
      case _ => true
    }

  /** Unsigned UTF-8 byte order — the order parquet computed the binary
    * min/max in (and Spark's UTF8String order). Comparing footer
    * bounds with Java's UTF-16 String order instead would mis-rank
    * values at/above U+FFFF against astral code points and could prune
    * a file that contains a matching row.
    */
  private[io] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(StandardCharsets.UTF_8)
    val y = b.getBytes(StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Micros-since-epoch for a timestamp literal — the unit of
    * TIMESTAMP_MICROS long bounds. floorDiv: plain `/` truncates
    * toward zero and mis-places pre-epoch fractional seconds by up to
    * a second.
    */
  def micros(ts: java.sql.Timestamp): Long =
    Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000

  /** (row count, column bounds) from one parquet footer. Bounds merge
    * across row groups; a row group with MISSING stats for a column
    * drops that column's bounds entirely (unprunable — never guess),
    * while a null-only row group (stats present, no non-null value)
    * contributes nothing and keeps the others' bounds valid.
    */
  private[io] def readFooterStats(absPath: String): (Long, Map[String, Bounds]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(absPath), new org.apache.hadoop.conf.Configuration())
    val reader = ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // merge per-column bounds across row groups; `poisoned` marks
      // columns any block lacks trustworthy stats for
      val merged = scala.collection.mutable.Map.empty[String, Bounds]
      val poisoned = scala.collection.mutable.Set.empty[String]
      blocks.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          // only top-level primitive columns (dotted paths are nested)
          val name = c.getPath.toDotString
          if (!name.contains('.')) {
            val stats = c.getStatistics
            val tn = c.getPrimitiveType.getPrimitiveTypeName
            val lt = c.getPrimitiveType.getLogicalTypeAnnotation
            val supported = tn == INT64 || tn == INT32 || (tn == BINARY &&
              lt == org.apache.parquet.schema.LogicalTypeAnnotation.stringType())
            if (supported) {
              if (stats == null || stats.isEmpty) poisoned += name
              else if (stats.hasNonNullValue) {
                val nb: Bounds = tn match {
                  case BINARY => StringBounds(
                    stats.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8,
                    stats.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
                  case INT64 => LongBounds(
                    stats.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
                    stats.genericGetMax.asInstanceOf[java.lang.Long].longValue())
                  case _ => LongBounds(
                    stats.genericGetMin.asInstanceOf[java.lang.Integer].longValue(),
                    stats.genericGetMax.asInstanceOf[java.lang.Integer].longValue())
                }
                merged(name) = (merged.get(name), nb) match {
                  case (Some(LongBounds(mn, mx)), l: LongBounds) =>
                    LongBounds(math.min(mn, l.min), math.max(mx, l.max))
                  case (Some(StringBounds(mn, mx)), s: StringBounds) =>
                    // merge in the same unsigned-UTF-8 order parquet
                    // computed the per-block stats in
                    StringBounds(if (utf8Compare(s.min, mn) < 0) s.min else mn,
                      if (utf8Compare(s.max, mx) > 0) s.max else mx)
                  case _ => nb
                }
              }
              // null-only block: contributes no values, poisons nothing
            }
          }
        }
      }
      val bounds = (merged -- poisoned).toMap
      (rows, bounds)
    } finally reader.close()
  }
}
