package graft.load

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.ddl.Tables
import graft.gen.Generator
import graft.model._

/** Batched, checkpointed, bounded-concurrency load pipeline
  * (reference: src/commands/bench.ts:29-110).
  *
  * Batches split the id space into fixed ranges (reference: src/utils.ts:24-38);
  * completed batch indices persist to a per-variant JSON checkpoint so reruns
  * skip finished work (reference: src/commands/bench.ts:62-74,95-101). Because
  * generated rows are a pure function of (seed, id), a re-run regenerates
  * byte-identical data for any remaining batch — resume is exact, not
  * approximate. Batch writes land in per-batch subdirectories (see
  * [[graft.ddl.Tables]]), so `concurrency` Spark jobs can overlap safely.
  * Each job is one task per batch of up to 2^18 rows
  * ([[graft.gen.Generator.RowsPerPartition]]), so the load's parallelism is
  * the number of batches in flight, not the executor slot count.
  */
object Loader {

  /** Pure port of `makeBatches` (reference: src/utils.ts:24-38). */
  def makeBatches(startId: Long, totalRows: Long, batchRows: Long): Seq[Batch] = {
    require(batchRows > 0, "batchRows must be > 0")
    val cnt = ((totalRows + batchRows - 1) / batchRows).toInt
    (0 until cnt).map { i =>
      val start = startId + i.toLong * batchRows
      Batch(i, start, math.min(start + batchRows - 1, startId + totalRows - 1))
    }
  }

  // --- checkpoint (flat JSON int array, reference: bench.ts:62-74,95-101) ---

  def checkpointFile(dir: String, table: String): java.nio.file.Path =
    Paths.get(dir, s".cp_$table.json")

  def loadCheckpoint(dir: String, table: String): Set[Int] = {
    val f = checkpointFile(dir, table)
    if (!Files.exists(f)) Set.empty
    else
      Try {
        val txt = new String(Files.readAllBytes(f), StandardCharsets.UTF_8)
        txt.split("[^0-9]+").filter(_.nonEmpty).map(_.toInt).toSet
      }.getOrElse(Set.empty)
  }

  def saveCheckpoint(dir: String, table: String, done: Set[Int]): Unit = synchronized {
    Files.createDirectories(Paths.get(dir))
    val json = done.toSeq.sorted.mkString("[", ",", "]")
    Files.write(checkpointFile(dir, table), json.getBytes(StandardCharsets.UTF_8))
  }

  /** ETA formatting (reference: src/commands/bench.ts:29-50). */
  def formatEta(ms: Double): String =
    if (ms < 1000) f"$ms%.0f ms"
    else if (ms < 60000) f"${ms / 1000}%.1f s"
    else if (ms < 3600000) f"${ms / 60000}%.1f min"
    else f"${ms / 3600000}%.1f h"

  /** Load one variant table; returns number of batches actually executed. */
  def loadTable(
      spark: SparkSession,
      cfg: TableConfig,
      plan: LoadPlan,
      codec: CodecSpec,
      path: String,
      seed: Long = 1L,
      quiet: Boolean = false,
      partitioning: Seq[String] = Nil,
      sortedBy: Seq[String] = Nil,
      tableFormat: graft.ddl.TableFormat = graft.ddl.HadoopPathFormat
  ): Int = {
    val table = Tables.variantName(cfg.tableBase, codec)
    val batches = makeBatches(plan.startId, plan.totalRows, plan.batchRows)
    var done = loadCheckpoint(plan.checkpointDir, table)
    val pending = batches.filterNot(b => done.contains(b.index))
    if (pending.isEmpty) return 0

    val pool = Executors.newFixedThreadPool(math.max(1, plan.concurrency))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val t0 = System.nanoTime()
    @volatile var completed = 0
    try {
      val futures = pending.map { b =>
        Future {
          spark.sparkContext.setJobDescription(s"load $table batch=${b.index}")
          val rows = b.end - b.start + 1
          val df = Generator.generate(spark, cfg, b.start, rows, seed)
          tableFormat.writeBatch(df, path, b.index, codec, cfg.format, partitioning, sortedBy)
          this.synchronized {
            done += b.index
            saveCheckpoint(plan.checkpointDir, table, done)
            completed += 1
            if (!quiet) {
              val elapsed = (System.nanoTime() - t0) / 1e6
              val rate = completed / math.max(elapsed, 1.0)
              val eta = (pending.size - completed) / math.max(rate, 1e-9)
              println(
                f"[load] $table batch ${b.index} done ($completed/${pending.size}, " +
                  f"${100.0 * completed / pending.size}%.1f%%, eta ${formatEta(eta)})")
            }
          }
        }
      }
      val results = Await.result(
        Future.sequence(futures.map(f => f.transform(t => Success(t)))), Duration.Inf)
      results.collectFirst { case Failure(e) => e }.foreach(throw _)
    } finally pool.shutdown()
    pending.size
  }

  /** Post-load compaction (reference: `ALTER TABLE … EXECUTE optimize`,
    * src/commands/bench.ts:112-122): rewrite the variant into evenly-sized
    * files, collapsing the per-batch layout into `batch=0`.
    *
    * Crash-safe swap ordering (the reference gets this from Iceberg's atomic
    * snapshot commit; on a plain filesystem the closest equivalent is
    * rename-first): write the compacted tree to `.compact.tmp`, rename the
    * live tree aside to `.compact.old`, rename tmp into place, then delete
    * the old tree. A crash at any point leaves at least one complete copy on
    * disk (`path` or `.compact.old`) — the delete-then-rename ordering used
    * previously had a window where a crash lost the variant entirely while
    * the batch checkpoint still claimed it was loaded. */
  /** Compaction rewrite. With `zorderCols` non-empty the rewrite clusters
    * rows on the Morton curve of those columns
    * ([[graft.operators.ZOrder.clusterBy]]) instead of hash-repartitioning,
    * so the compacted files carry narrow min/max footer stats on EVERY
    * curve column — the OPTIMIZE ZORDER shape. Same crash-safe
    * rename-first swap either way. */
  def optimize(
      spark: SparkSession,
      path: String,
      codec: CodecSpec,
      format: String = "PARQUET",
      targetFileBytes: Long = 512L * 1024 * 1024,
      zorderCols: Seq[String] = Nil
  ): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(s"$path.compact.tmp")
    val old = new org.apache.hadoop.fs.Path(s"$path.compact.old")
    // residue from a previous crashed run: tmp is incomplete by definition;
    // an old tree only survives a crash between the two renames below, in
    // which case the live tree may be missing — restore it first.
    if (fs.exists(old)) {
      if (!fs.exists(p)) fs.rename(old, p) else fs.delete(old, true)
    }
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (!fs.exists(p)) return
    val bytes = fs.getContentSummary(p).getLength
    val files = math.max(1, (bytes / targetFileBytes).toInt)
    val base = Tables.read(spark, path, format).drop("batch")
    val df =
      if (zorderCols.nonEmpty)
        graft.operators.ZOrder.clusterBy(base, zorderCols, numPartitions = files)
      else base.repartition(files)
    Tables.writeBatch(df, tmp.toString, 0, codec, format)
    fs.rename(p, old)
    fs.rename(tmp, p)
    fs.delete(old, true)
  }
}
