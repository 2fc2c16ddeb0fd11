package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** Accessors for the driver's deterministic parquet fixtures
  * (/root/testdata/sf*, see TESTDATA.md).
  *
  * Some driver generations store the `events.ts` column as parquet
  * TIMESTAMP(NANOS), which Spark rejects outright ([PARQUET_TYPE_ILLEGAL])
  * while DuckDB silently truncates to µs; others write plain
  * TIMESTAMP(MICROS). We read nanos as a raw Long
  * (`spark.sql.legacy.parquet.nanosAsLong`) and, ONLY when the column
  * actually surfaces as a Long, floor-divide by 1000 — integral `div`, not
  * `/`, because ns epochs (~1.7e18) exceed double's 2^53 mantissa — giving
  * exactly DuckDB's µs truncation so oracle comparisons agree. A µs
  * generation already arrives as a timestamp and passes through untouched.
  *
  * Each fixture path is resolved once per session. A plain
  * `spark.read.parquet` lists the path and runs a one-file Spark job to
  * infer the schema; at fixture scale that job is a large share of a
  * query's wall time, and every query reads one to three tables. The first
  * read keeps its `HadoopFsRelation`; later reads wrap the same relation in
  * a new `LogicalRelation` through `baseRelationToDataFrame` — the call
  * `DataFrameReader` itself makes for V1 file sources — so each frame still
  * gets fresh attribute IDs and self-joins plan as before. An entry is
  * reused only while the calling session, the path's recursive file listing
  * (name, length, mtime) and the session's `spark.sql.parquet.*` /
  * `spark.sql.legacy.parquet.*` confs all match what it was resolved
  * against; otherwise the path is resolved again and the entry replaced.
  * There is one entry per path, and a context's entries are dropped when
  * it stops, so the map neither grows with sessions nor pins a stopped one.
  */
object TestTables {

  /** A resolved fixture and what it was resolved against. */
  private final case class Resolved(
      session: SparkSession,
      files: Seq[(String, Long, Long)],
      parquetConf: Map[String, String],
      relation: HadoopFsRelation)

  private val resolved = new ConcurrentHashMap[String, Resolved]()

  /** Contexts whose stop already clears their entries. */
  private val watched = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[SparkContext, java.lang.Boolean]())

  private def watch(sc: SparkContext): Unit = watched.synchronized {
    if (watched.add(sc)) sc.addSparkListener(new SparkListener {
      override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
        resolved.values.removeIf(_.session.sparkContext eq sc)
    })
  }

  /** Every file under `path` (or `path` itself) as (name, length, mtime),
    * sorted; None when the path cannot be listed. `listStatus`, not
    * `listFiles`: on the local filesystem the located statuses of
    * `listFiles` load each file's permissions through a forked process:
    * ~4 ms per single-file listing on a local disk, against ~0.04 ms. */
  private def listing(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] =
    scala.util.Try {
      val root = new Path(path)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def walk(p: Path): Seq[(String, Long, Long)] = fs.listStatus(p).toSeq.flatMap { f =>
        if (f.isDirectory) walk(f.getPath)
        else Seq((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      walk(root).sorted
    }.toOption

  /** The session confs that shape how a parquet schema is inferred. */
  private def parquetConf(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }

  /** `spark.read.parquet(path)`, answered from the resolved relation when
    * it is still valid for this session. */
  private def parquet(spark: SparkSession, path: String): DataFrame = {
    val files = listing(spark, path)
    val conf = parquetConf(spark)
    Option(resolved.get(path)) match {
      case Some(r) if (r.session eq spark) && files.contains(r.files) && r.parquetConf == conf =>
        spark.baseRelationToDataFrame(r.relation)
      case _ =>
        // listed before resolving: a file that lands in between makes the
        // stored listing stale, so the next call resolves again
        val df = spark.read.parquet(path)
        val relation = df.queryExecution.analyzed.collectFirst {
          case l: LogicalRelation => l.relation
        }
        (files, relation) match {
          case (Some(fs), Some(rel: HadoopFsRelation)) =>
            watch(spark.sparkContext)
            resolved.put(path, Resolved(spark, fs, conf, rel))
          case _ =>
        }
        df
    }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // The driver owns the session, so the engine's optimizer rules are
    // registered here — the common entry point of every driver query.
    graft.plans.CheapFirstFilterOrder.install(spark)
    name match {
    case "events" =>
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = parquet(spark, s"$dir/events.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // µs generations surface as TIMESTAMP_NTZ; every entrypoint pins
          // spark.sql.session.timeZone=UTC, so this cast is value-identical
          // wall-clock and restores the TimestampType the whole query corpus
          // (unix_micros projections, watermarks) was written against.
          raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw
      }
    case _ => parquet(spark, s"$dir/$name.parquet")
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
