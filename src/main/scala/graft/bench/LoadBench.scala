package graft.bench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.SparkSession

import graft.config.Schemas
import graft.load.Loader
import graft.measure.Sizes
import graft.model.{CodecSpec, LoadPlan}

/** Load-throughput benchmark against the reference's published grid
  * (reference: src/config/load.ts:21-30; BASELINE.md "Load throughput"):
  * wide 90-col events 10M rows → 3 GB in 7 min, narrow orders 10M → 300 MB
  * in 40 s, both at batch 100k / concurrency 4. Replays the SAME batch plan
  * through [[graft.load.Loader]] (checkpointed batches, bounded-concurrency
  * fan-out) and records wall time + on-disk bytes as one JSONL row per
  * table, with the reference seconds alongside so the ratio is in the
  * artifact, not the prose.
  *
  * Wall time covers the full pipeline exactly as the reference times it:
  * generation + write + checkpoint bookkeeping, cold directory each run.
  *
  * Env: LOAD_TABLES ("wide,narrow"), LOAD_ROWS (default 10000000),
  * LOAD_BATCH (100000), LOAD_CONCURRENCY (4), LOADBENCH_OUT
  * (docs/loadbench_local32.jsonl), WAREHOUSE (staging dir, deleted after
  * measuring unless LOAD_KEEP=1).
  */
object LoadBench {

  def main(args: Array[String]): Unit = {
    val tables = sys.env.getOrElse("LOAD_TABLES", "wide,narrow")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val rows = sys.env.getOrElse("LOAD_ROWS", "10000000").toLong
    val batchRows = sys.env.getOrElse("LOAD_BATCH", "100000").toLong
    val concurrency = sys.env.getOrElse("LOAD_CONCURRENCY", "4").toInt
    val outPath = sys.env.getOrElse("LOADBENCH_OUT", "docs/loadbench_local32.jsonl")
    val wh = sys.env.getOrElse("WAREHOUSE", "/tmp/graft_loadbench")
    val keep = sys.env.get("LOAD_KEEP").contains("1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-loadbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val out = Paths.get(outPath)
    if (out.getParent != null) Files.createDirectories(out.getParent)
    def record(line: String): Unit = {
      println(line)
      Files.write(out, (line + "\n").getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }

    // reference wall seconds at the SAME rows/plan, interpolated PIECEWISE
    // between the published grid points (src/config/load.ts:21-30 /
    // BASELINE.md "Load throughput") — the published narrow grid is
    // sublinear (10M → 40 s but 1B → 26 min, not 66), so a single linear
    // extrapolation from 10M overstates the reference at large N and would
    // flatter our ratio; anchoring every segment on published numbers keeps
    // the artifact honest at each recorded scale
    def refSec(table: String, n: Long): Double = {
      val anchors: Seq[(Long, Double)] = table match {
        case "wide" => Seq(1000000L -> 66.0, 10000000L -> 420.0,
          100000000L -> 3000.0, 1000000000L -> 36000.0)
        case "narrow" => Seq(1000000L -> 6.0, 10000000L -> 40.0,
          100000000L -> 162.0, 1000000000L -> 1560.0)
        case _ => return Double.NaN
      }
      anchors.find(_._1 >= n) match {
        case Some((hi, hiS)) if hi == n => hiS
        case Some((hi, hiS)) =>
          val (lo, loS) = anchors.takeWhile(_._1 < n).lastOption
            .getOrElse((1L, hiS / hi))
          loS + (hiS - loS) * (n - lo).toDouble / (hi - lo)
        case None => // beyond 1B: extrapolate at the last segment's rate
          val (lo, loS) = anchors.last
          loS * n.toDouble / lo
      }
    }

    for (t <- tables) {
      val (cfg, codec) = t match {
        case "wide"   => (Schemas.wideEvents, CodecSpec("zstd", 6))
        case "narrow" => (Schemas.narrowOrders, CodecSpec("zstd", 6))
        case other    => sys.error(s"unknown LOAD_TABLES entry: $other")
      }
      val dir = s"$wh/${t}_$rows"
      val cpDir = s"$dir.cp"
      def wipe(p: String): Unit =
        org.apache.hadoop.fs.FileSystem.get(new java.net.URI(p),
          spark.sparkContext.hadoopConfiguration)
          .delete(new org.apache.hadoop.fs.Path(p), true)
      // cold start: a leftover checkpoint would turn the load into a no-op
      wipe(dir); wipe(cpDir)
      val plan = LoadPlan(totalRows = rows, batchRows = batchRows, startId = 1,
        concurrency = concurrency, checkpointDir = cpDir)
      val t0 = System.nanoTime()
      val nBatches = Loader.loadTable(spark, cfg, plan, codec, dir, quiet = true)
      val sec = (System.nanoTime() - t0) / 1e9
      val size = Sizes.measure(spark, cfg.tableBase, dir, codec, cfg.format)
      require(size.rows == rows, s"loaded ${size.rows} rows, expected $rows")
      val ref = refSec(t, rows)
      record(
        f"""{"table":"$t","rows":$rows,"batch_rows":$batchRows,"concurrency":$concurrency,"codec":"${codec.codec}:${codec.level}","sec":$sec%.1f,"data_bytes":${size.data_bytes},"bytes_per_row":${size.bytes_per_row}%.1f,"n_batches":$nBatches,"ref_sec":$ref%.1f,"ratio_vs_ref":${sec / ref}%.3f,"cpus":$cpus}""")
      if (!keep) { wipe(dir); wipe(cpDir) }
    }
    spark.stop()
  }
}
