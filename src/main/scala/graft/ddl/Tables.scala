package graft.ddl

import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

import graft.model.{CodecSpec, TableConfig}

/** Variant-table DDL and physical layout.
  *
  * The reference creates one Iceberg table per (codec, level) —
  * `{base}_{codec}_l{NN}` — cloning the base schema and setting
  * `write.parquet.compression-codec`/`-level` table properties
  * (reference: src/commands/bench.ts:201-249, src/sqlHelpers.ts:117-158).
  * No Iceberg runtime ships in this environment, so a variant is a Parquet
  * (or ORC/Avro) directory tree under a warehouse root:
  *
  * {{{ <warehouse>/<schema>/<tableBase>_<codec>_lNN/batch=<i>/part-....parquet }}}
  *
  * Each load batch commits into its own `batch=<i>` subdirectory. That is the
  * scale-critical choice: concurrent batch jobs never share an output
  * directory (Spark's FileOutputCommitter keeps one `_temporary/0` per path —
  * two concurrent appends to the same path can destroy each other's work),
  * re-running a batch is an idempotent overwrite of its own subtree, and on a
  * 1000-executor cluster every batch commit is independent. The `batch=<i>`
  * naming doubles as a partition column on read, so batch pruning is free.
  */
object Tables {

  /** Variant table name (reference: src/commands/bench.ts:204-205). */
  def variantName(base: String, c: CodecSpec): String =
    f"${base}_${c.codec}_l${c.level}%02d"

  def variantPath(warehouse: String, cfg: TableConfig, c: CodecSpec): String =
    s"$warehouse/${cfg.schema}/${variantName(cfg.tableBase, c)}"

  def basePath(warehouse: String, cfg: TableConfig): String =
    s"$warehouse/${cfg.schema}/${cfg.tableBase}_base"

  /** Codec tuning as per-write options: Parquet codec levels are Hadoop
    * configuration keys, and writer options reach the write job's Hadoop
    * configuration, so each write carries its own level without touching
    * the session-wide one that concurrent variant loads share (reference
    * plumbs them as Iceberg table properties via ALTER,
    * src/sqlHelpers.ts:141-149). gzip level is not exposed by parquet-java
    * through Spark — documented deviation. */
  private def codecOptions(c: CodecSpec): Map[String, String] = c.codec.toLowerCase match {
    case "zstd" => Map(
      "parquet.compression.codec.zstd.level" -> c.level.toString,
      "io.compression.codec.zstd.level" -> c.level.toString)
    case "brotli" => Map("compression.brotli.quality" -> c.level.toString)
    case _ => Map.empty // snappy/lz4/gzip: level not tunable via parquet-java
  }

  /** Iceberg-style partition transform string → (derived column name,
    * expression) (reference declares these in `TableConfig.partitioning`,
    * e.g. `date(created_at)`, `month(order_date)`, `bucket(10, account)`,
    * `truncate(4, code)`, or a bare column — README.md:85-86, types.ts:36).
    * Bucket uses `pmod(xxhash64(col), n)` rather than Iceberg's murmur3 — the
    * co-location property is what matters, not the hash choice. */
  def partitionTransform(spec: String): (String, org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions._
    val fn = """(\w+)\(\s*([^)]*)\)""".r
    spec.trim match {
      case fn("date", c)  => (s"${c.trim}_day", to_date(col(c.trim)))
      case fn("day", c)   => (s"${c.trim}_day", to_date(col(c.trim)))
      case fn("month", c) => (s"${c.trim}_month", date_format(col(c.trim), "yyyy-MM"))
      case fn("year", c)  => (s"${c.trim}_year", year(col(c.trim)))
      case fn("hour", c)  => (s"${c.trim}_hour", date_format(col(c.trim), "yyyy-MM-dd-HH"))
      case fn("bucket", args) =>
        val Array(n, c) = args.split(",").map(_.trim)
        (s"${c}_bucket", pmod(xxhash64(col(c)), lit(n.toInt)))
      case fn("truncate", args) =>
        val Array(n, c) = args.split(",").map(_.trim)
        (s"${c}_trunc", substring(col(c).cast("string"), 1, n.toInt))
      case bare => (bare, col(bare))
    }
  }

  /** Write one batch of rows into its own subdirectory of the variant,
    * optionally hive-partitioned by Iceberg-style transforms and sorted
    * within partitions (reference: README.md:85-86 `partitioning` /
    * `sorted_by` table options). Parquet goes through
    * [[IcebergParquetFormat]], so timestamps are stored as Iceberg stores
    * them. */
  def writeBatch(
      df: DataFrame,
      path: String,
      batchIndex: Int,
      c: CodecSpec,
      format: String = "PARQUET",
      partitioning: Seq[String] = Nil,
      sortedBy: Seq[String] = Nil
  ): Unit = {
    val transforms = partitioning.map(partitionTransform)
    val derived = transforms.filterNot { case (n, _) => df.columns.contains(n) }
    val withParts = derived.foldLeft(df) { case (d, (n, e)) => d.withColumn(n, e) }
    val sorted =
      if (sortedBy.nonEmpty) withParts.sortWithinPartitions(sortedBy.map(df(_)): _*)
      else withParts
    val writer = sorted.write
      .mode("overwrite")
      .option("compression", c.codec.toLowerCase)
      .options(codecOptions(c))
      .format(if (format.equalsIgnoreCase("PARQUET")) classOf[IcebergParquetFormat].getName
        else format.toLowerCase)
    val partCols = transforms.map(_._1)
    (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
      .save(s"$path/batch=$batchIndex")
  }

  /** Read a variant table back (all batches; `batch` becomes a prunable
    * partition column). */
  def read(spark: SparkSession, path: String, format: String = "PARQUET"): DataFrame =
    spark.read.format(format.toLowerCase).option("basePath", path).load(path)

  /** Snapshot read "as of batch N" — the plain-Parquet-tree analogue of
    * Iceberg time travel: because loads commit one `batch=N` directory per
    * checkpointed batch (append-only, never rewritten until an explicit
    * optimize), the table's state after batch N is exactly the union of
    * directories 0..N. The filter is on the `batch` partition column, so
    * the scan PRUNES later directories — no data from the future is read,
    * not just discarded. After a compaction (which collapses to batch=0)
    * earlier snapshots are gone, same as expiring Iceberg snapshots. */
  def readAsOfBatch(spark: SparkSession, path: String, batch: Int,
      format: String = "PARQUET"): DataFrame =
    read(spark, path, format)
      .filter(org.apache.spark.sql.functions.col("batch") <= batch)

  /** Schema-evolved read: merges the footer schemas of every batch
    * directory, so batches written after a column was added surface it and
    * earlier batches read it as NULL — additive schema evolution on the
    * plain tree (Parquet only; ORC has no merge option). */
  def readMergedSchema(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").option("basePath", path).parquet(path)
}

/** Parquet written the way Iceberg's spec stores it: every timestamp as
  * INT64 micros, not Spark's INT96 default (12 bytes per value instead of
  * 8, no ordered footer statistics). Spark's `prepareWrite` copies the
  * session's `spark.sql.parquet.outputTimestampType` into the write job's
  * Hadoop configuration, overriding any per-write option; this format
  * resets the key on that job configuration afterwards, so each write
  * carries micros without touching the session conf that concurrent
  * variant loads share. Values and the read type (`timestamp`) are
  * unchanged. Documented deviation: the footer annotation is
  * `TIMESTAMP(MICROS, isAdjustedToUTC=true)`, where Iceberg's `timestamp`
  * type has `false`; the stored bytes are the same. */
class IcebergParquetFormat extends ParquetFileFormat {
  override def prepareWrite(
      sparkSession: SparkSession,
      job: Job,
      options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val factory = super.prepareWrite(sparkSession, job, options, dataSchema)
    job.getConfiguration.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS.toString)
    factory
  }
}
