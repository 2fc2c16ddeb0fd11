package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.model.TableConfig

/** Distributed table generator: the Spark-native replacement for the
  * reference's CTE scaffold (`params` → `blocks` → `UNNEST` → `gen` →
  * projection, reference: src/sqlHelpers.ts:160-212).
  *
  * The whole block/UNNEST/CROSS JOIN machinery existed only because Trino's
  * `sequence()` caps at 10k elements (reference: src/sqlHelpers.ts:170-171);
  * `spark.range` is a native distributed sequence source with no cap, so the
  * scaffold collapses to `range → select(projection)`. Rows are a pure
  * function of (seed, id), so any partitioning of the id space yields
  * identical data — generation scales linearly with executors and a 100 TB
  * load is just a wider id range with more partitions.
  */
object Generator {

  /** Target rows per generated partition: keeps task sizes bounded at any
    * scale (a 1B-row wide load → ~4000 tasks, not 32). 2^18 wide rows ≈
    * 80 MB uncompressed — large enough to amortize task overhead, so a
    * batch of up to 2^18 rows (the reference's 100k-row batch included) is
    * one partition and one task; batch loads get their parallelism from
    * running several batches at once. */
  val RowsPerPartition: Long = 1L << 18

  /** ceil(rows / RowsPerPartition), clamped to [1, 4 × parallelism] so one
    * generate() call can saturate the cluster without flooding the
    * scheduler; concurrent batch loads multiply this naturally. */
  def partitionsFor(spark: SparkSession, rows: Long): Int = {
    val byRows = ((rows + RowsPerPartition - 1) / RowsPerPartition).toInt
    math.max(1, math.min(byRows, 4 * spark.sparkContext.defaultParallelism))
  }

  /** Generate `[startId, startId+rows)` rows of `cfg`'s schema. */
  def generate(
      spark: SparkSession,
      cfg: TableConfig,
      startId: Long,
      rows: Long,
      seed: Long = 1L,
      numPartitions: Option[Int] = None
  ): DataFrame = {
    val parts = numPartitions.getOrElse(partitionsFor(spark, rows))
    spark
      .range(startId, startId + rows, 1, parts)
      .toDF("id")
      .select(ColumnExprs.projection(cfg, seed, col("id")): _*)
  }
}
