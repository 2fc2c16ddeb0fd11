package graft.ddl

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.CodecSpec

/** The table-format seam: the complete surface the engine needs from a
  * storage/table format — batch commit, read-back, and the two metadata
  * aggregations the reference takes from Iceberg's `$files` / `$manifests`
  * views (reference: src/commands/bench.ts:124-168).
  *
  * The default [[HadoopPathFormat]] implements it as codec-tuned
  * Parquet/ORC directory trees (no Iceberg runtime ships in this offline
  * environment). An Iceberg-backed implementation is a drop-in: `writeBatch`
  * becomes an `append` to an Iceberg table with
  * `write.parquet.compression-codec`/`-level` table properties, `read` a
  * `spark.read.format("iceberg")` load, `dataBytes`/`manifestBytes` the
  * `SUM(file_size_in_bytes)` metadata-table aggregates — with zero changes
  * to callers ([[graft.load.Loader]], [[graft.measure.Sizes]],
  * [[graft.bench.BenchMain]]).
  */
trait TableFormat {

  /** Commit one load batch. Batches from concurrent jobs must never share a
    * commit scope (directory or transaction). */
  def writeBatch(
      df: DataFrame,
      path: String,
      batchIndex: Int,
      codec: CodecSpec,
      format: String = "PARQUET",
      partitioning: Seq[String] = Nil,
      sortedBy: Seq[String] = Nil): Unit

  /** Read the whole table (all batches). */
  def read(spark: SparkSession, path: String, format: String = "PARQUET"): DataFrame

  /** Total data-file bytes — the `$files` `SUM(file_size_in_bytes)`. */
  def dataBytes(spark: SparkSession, path: String): Long

  /** Total rows — the `$files` `SUM(record_count)`. The default counts a
    * full [[read]] (a Spark job); formats that keep per-file record counts
    * answer from metadata instead. */
  def recordCount(spark: SparkSession, path: String, format: String = "PARQUET"): Long =
    read(spark, path, format).count()

  /** Total manifest/metadata bytes — the `$manifests` sum; 0 for formats
    * without a metadata layer. */
  def manifestBytes(spark: SparkSession, path: String): Long
}

/** Plain-filesystem implementation: Parquet/ORC trees with one
  * `batch=<i>` subdirectory per commit ([[Tables]]), byte counts from a
  * recursive listing. The production default in this environment. */
object HadoopPathFormat extends TableFormat {
  override def writeBatch(df: DataFrame, path: String, batchIndex: Int,
      codec: CodecSpec, format: String, partitioning: Seq[String],
      sortedBy: Seq[String]): Unit =
    Tables.writeBatch(df, path, batchIndex, codec, format, partitioning, sortedBy)

  override def read(spark: SparkSession, path: String, format: String): DataFrame =
    Tables.read(spark, path, format)

  override def dataBytes(spark: SparkSession, path: String): Long =
    graft.measure.Sizes.listDataBytes(spark, path)

  /** Parquet: the footers' row counts over the same files [[dataBytes]]
    * sums, no Spark job. */
  override def recordCount(spark: SparkSession, path: String, format: String): Long =
    if (!format.equalsIgnoreCase("PARQUET")) super.recordCount(spark, path, format)
    else ParquetFooter.rows(spark.sparkContext.hadoopConfiguration,
      graft.measure.Sizes.listDataFiles(spark, path).map(f => (f.getPath, f.getLen)))

  /** Plain directories carry no manifests. */
  override def manifestBytes(spark: SparkSession, path: String): Long = 0L
}

/** Minimal manifest-backed table format — the seam's second REAL
  * implementation, proving callers ([[graft.load.Loader]],
  * [[graft.measure.Sizes]]) run unchanged against a format with a metadata
  * layer (the Iceberg-shaped contract, reference: src/commands/bench.ts:
  * 124-168, exercised here with `manifest_bytes ≠ 0`).
  *
  * Each batch commit writes the data tree exactly as [[HadoopPathFormat]],
  * then records one JSON manifest under `<path>/_manifests/` listing every
  * committed data file with its byte length (written to a temp name and
  * renamed, so a manifest is visible only complete — the crash-safety
  * property real formats get from atomic metadata swaps). The manifests are
  * LOAD-BEARING, not decorative:
  *
  *  - [[read]] enumerates data files FROM the manifests — a file present on
  *    disk but absent from every manifest (a torn write) is invisible, the
  *    defining read-isolation property of manifest-based formats;
  *  - [[dataBytes]] answers from manifest metadata alone, no file listing —
  *    the `$files SUM(file_size_in_bytes)` semantics (at 100 TB a recursive
  *    listing of millions of files is an outage; reading kilobytes of
  *    manifests is not);
  *  - with `statCols`, manifests carry per-file column BOUNDS (min / max /
  *    null count), and [[readRange]] plans a scan that SKIPS files whose
  *    bounds cannot satisfy a range predicate — Iceberg's scan planning
  *    (min/max file skipping), the mechanism that turns a time-range query
  *    over a 100 TB time-ordered table into a scan of the few files that
  *    overlap the range. Pruning is performance-only: callers re-apply the
  *    predicate, so a missing bound can only lose the skip, never rows.
  *
  * The `_manifests` directory is `_`-prefixed, so data-path listings and
  * Spark's file index both skip it. */
class ManifestSidecarFormat(statCols: Seq[String] = Nil) extends TableFormat {
  import org.apache.hadoop.fs.{FileSystem, Path}
  import ManifestSidecarFormat._

  private def fs(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  private def manifestDir(path: String) = new Path(path, "_manifests")

  override def writeBatch(df: DataFrame, path: String, batchIndex: Int,
      codec: CodecSpec, format: String, partitioning: Seq[String],
      sortedBy: Seq[String]): Unit = {
    Tables.writeBatch(df, path, batchIndex, codec, format, partitioning, sortedBy)
    commitManifest(df.sparkSession, path, batchIndex, df.schema, format, partitioning)
  }

  /** Records the manifest of the data files under `<path>/batch=<i>`, which
    * hold rows of `schema` in `format`: the commit half of [[writeBatch]]. */
  private[graft] def commitManifest(spark: SparkSession, path: String, batchIndex: Int,
      schema: org.apache.spark.sql.types.StructType, format: String,
      partitioning: Seq[String]): Unit = {
    val hfs = fs(spark, path)
    val batchDir = new Path(path, s"batch=$batchIndex")
    val files = graft.measure.Sizes.listDataFiles(spark, batchDir.toString).map { f =>
      val rel = f.getPath.toUri.getPath.stripPrefix(batchDir.toUri.getPath).stripPrefix("/")
      (s"batch=$batchIndex/$rel", f.getLen, f.getPath)
    }
    // Per-file column bounds. Parquet: LIFTED FROM THE FOOTERS the write
    // already produced — zero data re-read, the same place Iceberg's
    // commit path takes them from (row-group statistics, combined across
    // groups; parquet-mr truncates long binary bounds with round-up max
    // semantics, so truncated bounds stay safe for pruning). Other
    // formats: one column-pruned scan of the committed batch grouped by
    // input_file_name. Bounds serialize as strings in the exact form
    // Spark's `cast(col AS string)` yields ([[ManifestSidecarFormat
    // .boundToString]]), so both sources produce identical manifests;
    // [[ManifestSidecarFormat.boundCmp]] compares them under the recorded
    // type (numerics as decimals — lexicographic would order "9" > "10";
    // timestamps/dates/strings lexicographically, which their cast forms
    // sort correctly under).
    val stats: Map[String, Map[String, (Option[String], Option[String], Long)]] =
      if (statCols.isEmpty) Map.empty
      else {
        val present = statCols.filter(c => schema.fieldNames.contains(c)
          && !partitioning.contains(c))
        if (present.isEmpty) Map.empty
        else if (format.equalsIgnoreCase("PARQUET"))
          files.map { case (rel, _, abs) =>
            rel -> footerStats(spark.sparkContext.hadoopConfiguration, abs,
              schema, present)
          }.toMap
        else {
          import org.apache.spark.sql.functions._
          val scan = spark.read.format(format.toLowerCase).load(batchDir.toString)
          val aggs = present.flatMap(c => Seq(
            min(col(c)).cast("string").as(s"min_$c"),
            max(col(c)).cast("string").as(s"max_$c"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c")))
          val base = batchDir.toUri.getPath.stripSuffix("/")
          scan.groupBy(input_file_name().as("f"))
            .agg(aggs.head, aggs.tail: _*)
            .collect()
            .map { r =>
              val rel = new java.net.URI(r.getString(0)).getPath
                .stripPrefix(base).stripPrefix("/")
              (s"batch=$batchIndex/$rel", present.map { c =>
                c -> ((Option(r.getAs[String](s"min_$c")),
                  Option(r.getAs[String](s"max_$c")),
                  r.getAs[Long](s"nulls_$c")))
              }.toMap)
            }.toMap
        }
      }
    val types = if (statCols.isEmpty) "" else {
      val typed = statCols.flatMap(c =>
        schema.fields.find(_.name == c).map(f =>
          s""""${esc(c)}":"${f.dataType.sql.toLowerCase}""""))
      if (typed.isEmpty) "" else s""","stat_types":{${typed.mkString(",")}}"""
    }
    val entries = files.sortBy(_._1).map { case (p, len, _) =>
      val st = stats.get(p).filter(_.nonEmpty).map { m =>
        val cols = m.toSeq.sortBy(_._1).map { case (c, (lo, hi, nulls)) =>
          val loS = lo.map(v => s""""${esc(v)}"""").getOrElse("null")
          val hiS = hi.map(v => s""""${esc(v)}"""").getOrElse("null")
          s""""${esc(c)}":{"min":$loS,"max":$hiS,"nulls":$nulls}"""
        }.mkString(",")
        s""","stats":{$cols}"""
      }.getOrElse("")
      s"""{"path":"$p","bytes":$len$st}""" }.mkString(",\n  ")
    val body =
      s"""{"batch":$batchIndex,"format":"${format.toUpperCase}","n_files":${files.size},"total_bytes":${files.map(_._2).sum}$types,"files":[
  $entries
]}
"""
    val dir = manifestDir(path)
    hfs.mkdirs(dir)
    val tmp = new Path(dir, s".batch-$batchIndex.json.tmp")
    val dst = new Path(dir, s"batch-$batchIndex.json")
    val out = hfs.create(tmp, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (hfs.exists(dst)) hfs.delete(dst, false)
    require(hfs.rename(tmp, dst), s"manifest commit failed for batch $batchIndex")
  }

  /** (manifest path, parsed file entries) for every committed manifest, in
    * batch order. Entries are parsed line-wise (the writer emits one file
    * object per line); a real format reads Avro manifests here. */
  private def manifests(spark: SparkSession, path: String): Seq[(Path, ManifestFile)] = {
    val hfs = fs(spark, path)
    val dir = manifestDir(path)
    if (!hfs.exists(dir)) return Nil
    hfs.listStatus(dir).toSeq
      .filter(s => s.getPath.getName.endsWith(".json"))
      .sortBy(s => "\\d+".r.findFirstIn(s.getPath.getName).map(_.toInt).getOrElse(0))
      .map { s =>
        val in = hfs.open(s.getPath)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
        (s.getPath, parseManifest(txt))
      }
  }

  override def read(spark: SparkSession, path: String, format: String): DataFrame = {
    val files = manifests(spark, path).flatMap(_._2.files)
      .map(e => s"$path/${e.path}")
    require(files.nonEmpty, s"no committed manifests under $path")
    spark.read.format(format.toLowerCase).option("basePath", path).load(files: _*)
  }

  /** Snapshot read "as of batch N", planned from manifest metadata alone:
    * the table's state after batch N is the union of the files listed by
    * manifests 0..N (commits are append-only), so time travel is a
    * manifest subset — no directory listing, no partition filter, files
    * from the future are never even handed to the scan. */
  def readAsOf(spark: SparkSession, path: String, batch: Int,
      format: String = "PARQUET"): DataFrame = {
    val files = manifests(spark, path).map(_._2)
      .filter(_.batch <= batch).flatMap(_.files).map(e => s"$path/${e.path}")
    require(files.nonEmpty, s"no manifests at or before batch $batch under $path")
    spark.read.format(format.toLowerCase).option("basePath", path).load(files: _*)
  }

  /** Expire committed batches below `keepFrom` — the retention maintenance
    * op (Iceberg's `expire_snapshots` + orphan cleanup): snapshots below
    * the floor stop being readable and their storage is reclaimed. Per
    * batch, the MANIFEST is deleted first — the moment it is gone the
    * batch is invisible to every manifest-planned read ([[read]] /
    * [[readAsOf]] / [[planRange]]) — then the data directory; a crash
    * between the two leaves an invisible orphan tree that the next expire
    * of the same range re-collects (batch dirs below the floor are
    * enumerated from the filesystem, not from the manifests they may no
    * longer have). Returns the number of batch directories removed.
    * Append-only loads only ever commit at indices ≥ the current max, so
    * the floor never races an in-flight commit. */
  def expireBatches(spark: SparkSession, path: String, keepFrom: Int): Int = {
    val hfs = fs(spark, path)
    val root = new Path(path)
    if (!hfs.exists(root)) return 0
    val batchRe = """batch=(\d+)""".r
    val expired = hfs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .flatMap(s => s.getPath.getName match {
        case batchRe(i) if i.toInt < keepFrom => Some((i.toInt, s.getPath))
        case _ => None
      })
    expired.sortBy(_._1).foreach { case (i, dir) =>
      val m = new Path(manifestDir(path), s"batch-$i.json")
      if (hfs.exists(m)) hfs.delete(m, false)
      hfs.delete(dir, true)
    }
    expired.size
  }

  /** The data files a scan of `colName ∈ [lo, hi]` must read, decided from
    * manifest bounds alone (no file listing, no footer reads): a file is
    * skipped only when its recorded bounds PROVE it holds no matching,
    * non-null row. Files without bounds for the column (stats not captured
    * at commit, or an all-null file with bounds null but nulls > 0) are
    * kept. Returns (kept file paths, total manifested files) so callers —
    * and tests — can see the skip rate. */
  def planRange(spark: SparkSession, path: String, colName: String,
      lo: Option[String], hi: Option[String]): (Seq[String], Int) = {
    val all = manifests(spark, path)
    val entries = all.flatMap { case (_, m) => m.files.map(e => (m, e)) }
    val kept = entries.filter { case (m, e) =>
      e.stats.get(colName) match {
        case Some(FileColStats(Some(fMin), Some(fMax), _)) =>
          val tpe = m.statTypes.getOrElse(colName, "string")
          // a bound that fails to parse under its type (NaN, corrupt
          // manifest) can only lose the skip, never the file
          try {
            val aboveLo = lo.forall(v => boundCmp(tpe, fMax, v) >= 0)
            val belowHi = hi.forall(v => boundCmp(tpe, fMin, v) <= 0)
            aboveLo && belowHi
          } catch { case _: NumberFormatException => true }
        case _ => true // no usable bounds: never prune
      }
    }.map { case (_, e) => s"$path/${e.path}" }
    (kept, entries.size)
  }

  /** Manifest-pruned range scan: load only the files [[planRange]] keeps.
    * The caller still applies the row-level predicate — pruning is a
    * performance contract, correctness comes from the filter. An empty plan
    * returns an empty frame with the table's schema. */
  def readRange(spark: SparkSession, path: String, format: String,
      colName: String, lo: Option[String], hi: Option[String]): DataFrame = {
    val (files, _) = planRange(spark, path, colName, lo, hi)
    if (files.isEmpty) read(spark, path, format).limit(0)
    else spark.read.format(format.toLowerCase).option("basePath", path)
      .load(files: _*)
  }

  /** Answered from manifest metadata alone — no file listing. */
  override def dataBytes(spark: SparkSession, path: String): Long =
    manifests(spark, path).flatMap(_._2.files).map(_.bytes).sum

  /** Parquet: the footers' row counts of the manifest-listed files only (a
    * torn write stays invisible), no file listing and no Spark job. */
  override def recordCount(spark: SparkSession, path: String, format: String): Long =
    if (!format.equalsIgnoreCase("PARQUET")) super.recordCount(spark, path, format)
    else ParquetFooter.rows(spark.sparkContext.hadoopConfiguration,
      manifests(spark, path).flatMap(_._2.files).map(e => (new Path(s"$path/${e.path}"), e.bytes)))

  override def manifestBytes(spark: SparkSession, path: String): Long = {
    val hfs = fs(spark, path)
    manifests(spark, path).map { case (p, _) => hfs.getFileStatus(p).getLen }.sum
  }
}

object ManifestSidecarFormat extends ManifestSidecarFormat(Nil) {

  final case class FileColStats(min: Option[String], max: Option[String], nulls: Long)
  final case class FileEntry(path: String, bytes: Long,
      stats: Map[String, FileColStats])
  final case class ManifestFile(batch: Int, statTypes: Map[String, String],
      files: Seq[FileEntry])

  private val escapes = Map('\\' -> "\\\\", '"' -> "\\\"", '\n' -> "\\n",
    '\r' -> "\\r", '\t' -> "\\t")
  private[ddl] def esc(s: String): String =
    s.flatMap(c => escapes.getOrElse(c,
      if (c < ' ') f"\\u${c.toInt}%04x" else c.toString))
  private def unesc(s: String): String = {
    val b = new StringBuilder; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) s.charAt(i + 1) match {
        case 'n' => b += '\n'; i += 2
        case 'r' => b += '\r'; i += 2
        case 't' => b += '\t'; i += 2
        case 'u' => b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
        case o => b += o; i += 2
      } else { b += c; i += 1 }
    }
    b.result()
  }

  private val typesRe = """"stat_types":\{([^}]*)\}""".r
  private val typeRe = """"((?:[^"\\]|\\.)*)":"((?:[^"\\]|\\.)*)"""".r
  private val entryRe = """"path":"((?:[^"\\]|\\.)*)","bytes":(\d+)""".r
  private val statRe =
    """"((?:[^"\\]|\\.)*)":\{"min":(null|"(?:[^"\\]|\\.)*"),"max":(null|"(?:[^"\\]|\\.)*"),"nulls":(\d+)\}""".r

  private def parseBound(tok: String): Option[String] =
    if (tok == "null") None else Some(unesc(tok.stripPrefix("\"").stripSuffix("\"")))

  private val batchRe = """"batch":(\d+)""".r

  private[ddl] def parseManifest(txt: String): ManifestFile = {
    val header = txt.linesIterator.take(1).mkString
    val batch = batchRe.findFirstMatchIn(header).map(_.group(1).toInt).getOrElse(-1)
    val types = typesRe.findFirstMatchIn(header).map(m =>
      typeRe.findAllMatchIn(m.group(1))
        .map(t => unesc(t.group(1)) -> unesc(t.group(2))).toMap)
      .getOrElse(Map.empty)
    val files = txt.linesIterator.drop(1).flatMap { line =>
      entryRe.findFirstMatchIn(line).map { m =>
        val stats = line.indexOf("\"stats\":{") match {
          case -1 => Map.empty[String, FileColStats]
          case i => statRe.findAllMatchIn(line.substring(i))
            .map(s => unesc(s.group(1)) -> FileColStats(
              parseBound(s.group(2)), parseBound(s.group(3)), s.group(4).toLong))
            .toMap
        }
        FileEntry(unesc(m.group(1)), m.group(2).toLong, stats)
      }
    }.toSeq
    ManifestFile(batch, types, files)
  }

  /** Per-column (min, max, nulls) for one Parquet data file, read from its
    * footer's row-group statistics — no data pages touched. Bounds combine
    * across row groups (min of mins / max of maxes over groups that hold a
    * non-null value); a column whose every group is null-only or
    * stats-less gets `None` bounds, which [[ManifestSidecarFormat
    * .planRange]] treats as unprunable. Values serialize through
    * [[boundToString]] so footer-sourced manifests are byte-identical in
    * shape to scan-sourced ones. Timestamps written as INT96 (Spark's
    * compatibility default, e.g. a plain `df.write.parquet`) carry no
    * ordered footer stats — their bounds stay absent and such files are
    * never pruned. [[Tables.writeBatch]] stores timestamps as INT64 micros
    * ([[IcebergParquetFormat]]), whose bounds make time-range skipping
    * effective. */
  private[ddl] def footerStats(
      conf: org.apache.hadoop.conf.Configuration,
      file: org.apache.hadoop.fs.Path,
      schema: org.apache.spark.sql.types.StructType,
      cols: Seq[String]): Map[String, (Option[String], Option[String], Long)] = {
    import scala.jdk.CollectionConverters._
    ParquetFooter.read(conf, file) { footer =>
      val blocks = footer.getBlocks.asScala.toSeq
      cols.flatMap { c =>
        schema.fields.find(_.name == c).map { field =>
          var lo: Option[Comparable[Any]] = None
          var hi: Option[Comparable[Any]] = None
          var nulls = 0L
          var usable = true
          blocks.foreach { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == c) match {
              case Some(cc) =>
                val st = cc.getStatistics
                if (st == null || st.isEmpty) usable = false
                else {
                  if (st.isNumNullsSet) nulls += st.getNumNulls
                  if (st.hasNonNullValue) {
                    val mn = st.genericGetMin.asInstanceOf[Comparable[Any]]
                    val mx = st.genericGetMax.asInstanceOf[Comparable[Any]]
                    lo = Some(lo.fold(mn)(l => if (mn.compareTo(l) < 0) mn else l))
                    hi = Some(hi.fold(mx)(h => if (mx.compareTo(h) > 0) mx else h))
                  }
                }
              case None => usable = false // nested/absent column: no bounds
            }
          }
          if (!usable) { lo = None; hi = None }
          c -> ((lo.flatMap(v => boundToString(field.dataType, v)),
            hi.flatMap(v => boundToString(field.dataType, v)), nulls))
        }
      }.toMap
    }
  }

  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("uuuu-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  /** Serialize a footer statistics value to the exact string Spark's
    * `cast(col AS string)` produces for the column's Spark type, so footer-
    * and scan-sourced bounds compare interchangeably. Types without a
    * stable mapping return None (no bounds recorded → file never pruned on
    * that column). */
  private[ddl] def boundToString(tpe: org.apache.spark.sql.types.DataType,
      v: Any): Option[String] = {
    import org.apache.spark.sql.types._
    (tpe, v) match {
      case (ByteType | ShortType | IntegerType | LongType | FloatType
          | DoubleType | BooleanType, n) => Some(n.toString)
      case (StringType, b: org.apache.parquet.io.api.Binary) =>
        Some(b.toStringUsingUTF8)
      case (DateType, days: java.lang.Integer) =>
        Some(java.time.LocalDate.ofEpochDay(days.longValue).toString)
      case (TimestampType, micros: java.lang.Long) =>
        // Spark cast form: seconds, then a trailing-zero-trimmed fraction
        val inst = java.time.Instant.ofEpochSecond(
          Math.floorDiv(micros, 1000000L), Math.floorMod(micros, 1000000L) * 1000L)
        val frac = Math.floorMod(micros, 1000000L)
        val head = tsFmt.format(inst)
        Some(if (frac == 0) head
          else head + ("." + f"$frac%06d").reverse.dropWhile(_ == '0').reverse)
      case _ => None
    }
  }

  private val numericSql = Set("tinyint", "smallint", "int", "bigint",
    "float", "double") // decimal(p,s) handled by prefix below
  /** Ordering of two serialized bounds under the recorded SQL type. */
  private[ddl] def boundCmp(tpe: String, a: String, b: String): Int =
    if (numericSql.contains(tpe) || tpe.startsWith("decimal"))
      BigDecimal(a).compare(BigDecimal(b))
    else a.compareTo(b)
}

/** Parquet footer access for metadata answers: per-file statistics
  * ([[ManifestSidecarFormat.footerStats]]) and record counts. */
private[graft] object ParquetFooter {
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.Path
  import org.apache.parquet.hadoop.ParquetFileReader
  import org.apache.parquet.hadoop.metadata.ParquetMetadata
  import org.apache.parquet.hadoop.util.HadoopInputFile

  /** Opens `file`, reads only its footer, and applies `f` to it. */
  def read[T](conf: Configuration, file: Path)(f: ParquetMetadata => T): T = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try f(reader.getFooter) finally reader.close()
  }

  /** Summed row-group row counts of `files` (path, length). A zero-byte
    * file has no footer and holds no rows; Spark's reader skips it too. */
  def rows(conf: Configuration, files: Seq[(Path, Long)]): Long = {
    import scala.jdk.CollectionConverters._
    files.collect { case (f, len) if len > 0 =>
      read(conf, f)(_.getBlocks.asScala.map(_.getRowCount).sum)
    }.sum
  }
}
