package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.config.Schemas
import graft.ddl.{HadoopPathFormat, TableFormat, Tables}
import graft.gen.Generator
import graft.load.Loader
import graft.measure.Sizes
import graft.model.{CodecSpec, LoadPlan, SizeRow}
import graft.report.Report

/** The reference's `yarn bench` pipeline over the narrow `orders_narrow`
  * schema. One op loads one codec variant into a fresh directory with a fresh
  * checkpoint (100k-row batches, Loader concurrency at most the core count)
  * and measures it; the op that completes a pass over the codec matrix also
  * renders the report. Each op's check verifies the row count, that every
  * batch ran, sampled rows against `Generator.generate`, and the CSV round
  * trip, then deletes the op's output. */
final class CodecLoad(ctx: Ctx) extends Workload {
  import CodecLoad._

  private val cfg = Schemas.narrowOrders
  private val rows = if (ctx.tiny) 10000L else Rows
  private val batchRows = if (ctx.tiny) 5000L else 100000L
  private val batches = Loader.makeBatches(1L, rows, batchRows)
  private val concurrency = math.min(ctx.cpus, batches.size)
  private val format = new SpanFormat
  private var pass = Vector.empty[SizeRow]
  private var opCount = 0
  private var genS = 0.0

  private def plan(dir: String) = LoadPlan(totalRows = rows, batchRows = batchRows,
    concurrency = concurrency, checkpointDir = s"$dir/cp")

  /** Set-up build: one load and measure of a variant, then delete. */
  def build(rep: Int): Unit = {
    val dir = s"${ctx.work}/codec/setup$rep"
    val codec = Codecs.head
    val path = Tables.variantPath(dir, cfg, codec)
    val ran = Loader.loadTable(ctx.spark, cfg, plan(dir), codec, path, ctx.seed, quiet = true)
    require(ran == batches.size, s"codec-load set-up ran $ran of ${batches.size} batches")
    val size = Sizes.measure(ctx.spark, Tables.variantName(cfg.tableBase, codec), path, codec)
    require(size.rows == rows, s"codec-load set-up measured ${size.rows} rows, wrote $rows")
    Workload.deleteTree(dir)
  }

  /** One checked pass, so every codec is warm before the first measured
    * pass. A traced run also times the generator alone: the same batches, at
    * the same concurrency, into the `noop` sink (median of three). */
  def warmup(): Unit = {
    Workload.parallel(cycle().map(op => () => op.check(op.run()).foreach(e =>
      throw new IllegalStateException(s"warm-up ${op.label}: $e"))), ctx.cpus)
    if (ctx.trace) genS = Stats.median((1 to 3).map(_ => Workload.seconds(Workload.parallel(
      batches.map(b => () => Generator.generate(ctx.spark, cfg, b.start, b.end - b.start + 1,
        ctx.seed).write.format("noop").mode("overwrite").save()), concurrency))._2))
  }

  def cycle(): Seq[Op] = ctx.rng.shuffle(Codecs).map { codec =>
    opCount += 1
    val opNo = opCount
    val dir = s"${ctx.work}/codec/op$opNo"
    val name = Tables.variantName(cfg.tableBase, codec)
    val path = Tables.variantPath(dir, cfg, codec)
    val csv = s"$dir/report/results_sizes.csv"
    var size: SizeRow = null
    var reported = Vector.empty[SizeRow]
    val run = () => {
      val before = if (ctx.traced) Some(ctx.tally.snapshot()) else None
      format.spans.clear()
      val (ran, loadS) = Workload.seconds(Loader.loadTable(ctx.spark, cfg, plan(dir), codec, path,
        ctx.seed, quiet = true, tableFormat = if (ctx.traced) format else HadoopPathFormat))
      val loadTasks = before.map(b => ctx.tally.snapshot().minus(b).runMs / 1e3).getOrElse(0.0)
      val writeS = Trace.unionSeconds(format.spans.asScala.toSeq.map { case (s, e) =>
        (s / 1000000L, e / 1000000L) })
      val (s, measureS) = Workload.seconds(Sizes.measure(ctx.spark, name, path, codec))
      size = s
      // the warm-up pass runs ops concurrently, so the pass is shared state
      CodecLoad.this.synchronized {
        pass :+= s
        if (pass.size == Codecs.size) { reported = pass; pass = Vector.empty }
      }
      val (_, reportS) = Workload.seconds(if (reported.nonEmpty) render(reported, csv))
      Outcome(s"${s.rows}", extras = Map("load.s" -> loadS, "load.batches" -> ran.toDouble,
        "load.task_run_s" -> loadTasks, "ddl.write_wall_s" -> writeS, "data_bytes" -> s.data_bytes,
        "measure.s" -> measureS, "measure.files" -> parquetFiles(path).toDouble,
        "report.s" -> (if (reported.nonEmpty) reportS else 0.0)))
    }
    val check = (o: Outcome) => try {
      val batchesRan = o.extras("load.batches").toInt
      if (batchesRan != batches.size) Some(s"loadTable ran $batchesRan of ${batches.size} batches")
      else if (size.rows != rows) Some(s"measured ${size.rows} rows, requested $rows")
      else sampledRowsDiffer(path, opNo)
        .orElse(if (reported.isEmpty) None else csvRoundTrip(reported, csv))
    } finally Workload.deleteTree(dir)
    Op(name, run, check)
  }

  private def render(sizes: Seq[SizeRow], csv: String): Unit = {
    val table = Report.renderTable(sizes)
    require(table.nonEmpty, "empty report table")
    Report.writeCsv(sizes, csv)
    val svg = Paths.get(csv).resolveSibling("bytes_per_row.svg")
    Files.write(svg, Report.renderBarsSvg(sizes, "bytes per row", logScale = false, _.bytes_per_row)
      .getBytes(StandardCharsets.UTF_8))
  }

  private def csvRoundTrip(sizes: Seq[SizeRow], csv: String): Option[String] = {
    def key(r: SizeRow) = (r.table_name, r.codec, r.level, r.rows, r.data_bytes,
      f"${r.bytes_per_row}%.2f")
    val back = Report.readCsv(csv).map(key)
    val wrote = Report.sorted(sizes).map(key)
    if (back == wrote) None else Some(s"readCsv returned $back, writeCsv wrote $wrote")
  }

  /** Three ids drawn per op: the stored rows must equal the generator's. */
  private def sampledRowsDiffer(path: String, opNo: Int): Option[String] = {
    val rnd = new scala.util.Random(ctx.seed * 31 + opNo)
    val ids = Seq.fill(3)(1L + (rnd.nextDouble() * rows).toLong.min(rows - 1))
    val stored = Tables.read(ctx.spark, path).drop("batch").filter(col("id").isin(ids: _*))
    val generated = ids.map(id => Generator.generate(ctx.spark, cfg, id, 1L, ctx.seed))
      .reduce(_ union _)
    // one job for both sides: tag each row with its source
    val tagged = stored.withColumn("_stored", lit(true))
      .unionByName(generated.withColumn("_stored", lit(false))).collect()
    def side(s: Boolean) = tagged.filter(_.getAs[Boolean]("_stored") == s)
      .map(r => r.getLong(0) -> r.toSeq.init).toMap
    val (st, gen) = (side(true), side(false))
    ids.collectFirst { case id if st.get(id).isEmpty || st.get(id) != gen.get(id) =>
      s"row $id differs from Generator.generate"
    }
  }

  private def parquetFiles(path: String): Long = {
    val s = Files.walk(Paths.get(path))
    try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
  }

  /** Rows per second over the matrix from each codec's median load, and
    * bytes per row averaged over the codecs. */
  override def storage(ss: Seq[Sample]): (Double, Double) = {
    val byCodec = ss.filter(_.error.isEmpty).groupBy(_.label).values.toSeq
    val loadS = byCodec.map(g => Stats.median(g.map(_.outcome.get.extras("load.s")))).sum
    val bpr = Stats.mean(byCodec.map(g => g.head.outcome.get.extras("data_bytes") / rows))
    (rows * byCodec.size / math.max(loadS, 1e-9), bpr)
  }

  override def layers(traced: Seq[Sample]): Map[String, Double] = {
    val ex = traced.flatMap(_.outcome).map(_.extras)
    def med(k: String) = Stats.median(ex.map(_(k)).filter(_ > 0))
    Map(
      "load.s" -> med("load.s"),
      "load.batches" -> Stats.mean(ex.map(_("load.batches"))),
      "slot_util" -> Stats.mean(ex.map(e => e("load.task_run_s") / (e("load.s") * ctx.cpus))),
      "gen.s" -> genS,
      "gen.rows_per_s" -> (if (genS > 0) rows / genS else 0.0),
      "ddl.write_s" -> (med("ddl.write_wall_s") - genS),
      "measure.s" -> med("measure.s"),
      "measure.files" -> Stats.mean(ex.map(_("measure.files"))),
      "report.s" -> med("report.s"))
  }

  def cleanup(): Unit = Workload.deleteTree(s"${ctx.work}/codec")
}

object CodecLoad {
  /** Rows per variant at full scale: two of the reference's 100k-row batches. */
  val Rows = 200000L

  /** The codec matrix, one member of each of the reference's codec families. */
  val Codecs: Seq[CodecSpec] =
    Seq(CodecSpec("zstd", 1), CodecSpec("zstd", 9), CodecSpec("snappy", 0), CodecSpec("gzip", 0))

  /** `Tables.writeBatch` with a wall span (nanoTime) around each call. */
  private final class SpanFormat extends TableFormat {
    val spans = new ConcurrentLinkedQueue[(Long, Long)]()
    override def writeBatch(df: DataFrame, path: String, batchIndex: Int, codec: CodecSpec,
        format: String, partitioning: Seq[String], sortedBy: Seq[String]): Unit = {
      val t0 = System.nanoTime()
      HadoopPathFormat.writeBatch(df, path, batchIndex, codec, format, partitioning, sortedBy)
      spans.add((t0, System.nanoTime()))
    }
    override def read(spark: SparkSession, path: String, format: String): DataFrame =
      HadoopPathFormat.read(spark, path, format)
    override def dataBytes(spark: SparkSession, path: String): Long =
      HadoopPathFormat.dataBytes(spark, path)
    override def manifestBytes(spark: SparkSession, path: String): Long =
      HadoopPathFormat.manifestBytes(spark, path)
  }
}
