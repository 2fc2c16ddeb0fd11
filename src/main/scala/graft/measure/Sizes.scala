package graft.measure

import org.apache.hadoop.fs.{FileSystem, Path, RemoteIterator}
import org.apache.spark.sql.SparkSession

import graft.model.{CodecSpec, SizeRow}

/** Storage measurement — the Spark-native stand-in for the reference's
  * Iceberg `$files` / `$manifests` metadata aggregations
  * (reference: src/commands/bench.ts:124-168).
  *
  * `data_bytes` = sum of data-file lengths from a recursive FS listing
  * (what `SUM(file_size_in_bytes)` reads from `$files`); `rows` from a
  * Parquet count that reads footers only (Spark answers `count()` without
  * scanning column data). That count is not the whole cost: `Tables.read`
  * first lists the variant and runs a schema-inference Spark job that reads
  * one file's footer, so every measurement launches that job before the
  * count. `bytes_per_row` with NULL-safe division
  * (`SUM(a)/NULLIF(SUM(b),0)`, reference: bench.ts:131-140). Plain Parquet
  * has no manifests, so `manifest_bytes` is 0 when requested and omitted
  * otherwise (reference gates it by `LOAD.includeManifestBytes`).
  */
object Sizes {

  /** Recursive data-file byte count — the plain-filesystem `$files`
    * aggregate, exposed for [[graft.ddl.HadoopPathFormat]]. Skips
    * `_`/`.`-prefixed bookkeeping files AND everything under `_`/`.`-
    * prefixed directories (`_SUCCESS`, `_manifests/…`) — the same hidden-
    * path rule Spark's file index applies when reading. */
  private[graft] def listDataBytes(spark: SparkSession, dir: String): Long = {
    val fs = FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val p = new Path(dir)
    if (!fs.exists(p)) return 0L
    val root = p.toUri.getPath.stripSuffix("/") + "/"
    var total = 0L
    val it: RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      val rel = f.getPath.toUri.getPath.stripPrefix(root)
      val hidden = rel.split("/").exists(c => c.startsWith("_") || c.startsWith("."))
      if (!hidden) total += f.getLen
    }
    total
  }

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
    val rows = if (dataBytes == 0) 0L else tableFormat.read(spark, path, format).count()
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
