package graft.measure

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

import graft.model.{CodecSpec, SizeRow}

/** Storage measurement — the Spark-native stand-in for the reference's
  * Iceberg `$files` / `$manifests` metadata aggregations
  * (reference: src/commands/bench.ts:124-168).
  *
  * Both sums come from metadata and launch no Spark job:
  * `data_bytes` = sum of data-file lengths (`SUM(file_size_in_bytes)`),
  * `rows` = sum of the data files' record counts (`SUM(record_count)`),
  * each through the table format ([[graft.ddl.TableFormat.dataBytes]] /
  * [[graft.ddl.TableFormat.recordCount]]; for Parquet the counts are read
  * from the file footers, other formats fall back to a `count()` job).
  * `bytes_per_row` with NULL-safe division
  * (`SUM(a)/NULLIF(SUM(b),0)`, reference: bench.ts:131-140). Plain Parquet
  * has no manifests, so `manifest_bytes` is 0 when requested and omitted
  * otherwise (reference gates it by `LOAD.includeManifestBytes`).
  */
object Sizes {

  /** The data files under `dir` (or `dir` itself if it is a file) — what
    * Spark's file index reads. Skips `_`/`.`-prefixed bookkeeping files AND
    * everything under `_`/`.`-prefixed directories (`_SUCCESS`, `.crc`,
    * `_manifests/…`), the hidden-path rule Spark applies when reading.
    * Walks with `listStatus`: on the local filesystem `listFiles` forks a
    * process per file to read its permissions. */
  private[graft] def listDataFiles(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hidden(s: FileStatus) = { val n = s.getPath.getName; n.startsWith("_") || n.startsWith(".") }
    def walk(s: FileStatus): Seq[FileStatus] =
      if (s.isFile) Seq(s)
      else fs.listStatus(s.getPath).toSeq.filterNot(hidden).flatMap(walk)
    if (!fs.exists(p)) Nil else walk(fs.getFileStatus(p))
  }

  /** Recursive data-file byte count — the plain-filesystem `$files`
    * aggregate, exposed for [[graft.ddl.HadoopPathFormat]]. */
  private[graft] def listDataBytes(spark: SparkSession, dir: String): Long =
    listDataFiles(spark, dir).map(_.getLen).sum

  def measure(
      spark: SparkSession,
      tableName: String,
      path: String,
      codec: CodecSpec,
      format: String = "PARQUET",
      includeManifestBytes: Boolean = false,
      tableFormat: graft.ddl.TableFormat = graft.ddl.HadoopPathFormat
  ): SizeRow = {
    val dataBytes = tableFormat.dataBytes(spark, path)
    val rows = if (dataBytes == 0) 0L else tableFormat.recordCount(spark, path, format)
    val bpr = if (rows == 0) 0.0 else dataBytes.toDouble / rows
    val manifests =
      if (includeManifestBytes) Some(tableFormat.manifestBytes(spark, path)) else None
    SizeRow(
      table_name = tableName,
      codec = codec.codec,
      level = codec.level,
      rows = rows,
      data_bytes = dataBytes,
      bytes_per_row = bpr,
      manifest_bytes = manifests,
      total_bytes = manifests.map(_ + dataBytes)
    )
  }
}
