package graft.load

import java.nio.file.Files

import graft.SparkSpec
import graft.config.Schemas
import graft.ddl.Tables
import graft.measure.Sizes
import graft.model.{CodecSpec, LoadPlan, SizeRow}
import graft.report.Report

class PipelineSpec extends SparkSpec {

  test("makeBatches splits ranges like the reference (utils.ts:24-38)") {
    val b = Loader.makeBatches(1, 100, 30)
    assert(b.map(x => (x.index, x.start, x.end)) ==
      Seq((0, 1L, 30L), (1, 31L, 60L), (2, 61L, 90L), (3, 91L, 100L)))
    assert(Loader.makeBatches(5, 10, 100) == Seq(graft.model.Batch(0, 5, 14)))
    intercept[IllegalArgumentException](Loader.makeBatches(1, 10, 0))
  }

  test("checkpoint roundtrip and resume filtering") {
    val dir = Files.createTempDirectory("graft_cp").toString
    assert(Loader.loadCheckpoint(dir, "t") == Set.empty[Int])
    Loader.saveCheckpoint(dir, "t", Set(3, 1, 2))
    assert(Loader.loadCheckpoint(dir, "t") == Set(1, 2, 3))
  }

  test("human units match the reference formatting") {
    assert(Report.humanSize(0) == "0 B")
    assert(Report.humanSize(1536) == "1.5 KB")
    assert(Report.humanSize(3L * 1024 * 1024 * 1024) == "3.0 GB")
    assert(Report.humanNumber(1000000) == "1_000_000")
    assert(Report.humanNumber(999) == "999")
  }

  test("CSV write/read roundtrip preserves SizeRows") {
    val rows = Seq(
      SizeRow("t_zstd_l06", "zstd", 6, 1000, 50000, 50.0),
      SizeRow("t_snappy_l00", "snappy", 0, 1000, 80000, 80.0))
    val f = Files.createTempDirectory("graft_csv").resolve("r.csv").toString
    Report.writeCsv(rows, f)
    val back = Report.readCsv(f)
    assert(back.map(r => (r.table_name, r.codec, r.level, r.rows, r.data_bytes)).toSet ==
      rows.map(r => (r.table_name, r.codec, r.level, r.rows, r.data_bytes)).toSet)
  }

  test("partition transforms parse Iceberg-style specs") {
    assert(Tables.partitionTransform("date(created_at)")._1 == "created_at_day")
    assert(Tables.partitionTransform("month(order_date)")._1 == "order_date_month")
    assert(Tables.partitionTransform("bucket(10, account_id)")._1 == "account_id_bucket")
    assert(Tables.partitionTransform("truncate(4, code)")._1 == "code_trunc")
    assert(Tables.partitionTransform("country")._1 == "country")
  }

  test("ORC format variants write and read back (reference allows PARQUET|ORC|AVRO; " +
    "AVRO needs the spark-avro connector, absent in this environment)") {
    val wh = Files.createTempDirectory("graft_orc").toString
    val cfg = Schemas.narrowOrders.copy(format = "ORC")
    val codec = CodecSpec("zstd", 3)
    val path = Tables.variantPath(wh, cfg, codec)
    val df = graft.gen.Generator.generate(spark, cfg, 1, 5000, 1, Some(2))
    Tables.writeBatch(df, path, 0, codec, cfg.format)
    val back = Tables.read(spark, path, cfg.format)
    assert(back.count() == 5000)
    assert(back.columns.contains("user_name"))
    val size = Sizes.measure(spark, "orc_t", path, codec, cfg.format)
    assert(size.rows == 5000 && size.data_bytes > 0)
  }

  /** (physical type, logical annotation) of `column` in every Parquet
    * data file under `dir`, read from the footers. */
  private def parquetType(dir: String, column: String): Seq[(String, String)] =
    Sizes.listDataFiles(spark, dir).map { f =>
      graft.ddl.ParquetFooter.read(spark.sparkContext.hadoopConfiguration, f.getPath) { footer =>
        val schema: org.apache.parquet.schema.GroupType = footer.getFileMetaData.getSchema
        val t = schema.getType(column).asPrimitiveType
        (t.getPrimitiveTypeName.name, String.valueOf(t.getLogicalTypeAnnotation))
      }
    }

  test("variant writes store timestamps as Iceberg does: INT64 micros in every " +
      "footer, read back as timestamp and equal to the generator, session conf " +
      "untouched; ORC unchanged") {
    import org.apache.spark.sql.types.TimestampType
    val wh = Files.createTempDirectory("graft_micros").toString
    val cp = Files.createTempDirectory("graft_micros_cp").toString
    val cfg = Schemas.narrowOrders
    val codec = CodecSpec("zstd", 3)
    val path = Tables.variantPath(wh, cfg, codec)
    val tsConf = "spark.sql.parquet.outputTimestampType"
    val tsConfBefore = spark.conf.get(tsConf)
    val plan = LoadPlan(totalRows = 3000, batchRows = 1000, startId = 1,
      concurrency = 2, checkpointDir = cp)
    assert(Loader.loadTable(spark, cfg, plan, codec, path, quiet = true) == 3)
    assert(spark.conf.get(tsConf) == tsConfBefore, "the session conf must not move")
    val types = parquetType(path, "created_at")
    assert(types.size >= 3 && types.forall(_ == ("INT64", "TIMESTAMP(MICROS,true)")),
      s"footer types: $types")
    val back = Tables.read(spark, path)
    assert(back.schema("created_at").dataType == TimestampType)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cfg.columns.map(c => org.apache.spark.sql.functions.col(c._1)): _*)
        .collect().sortBy(_.getLong(0)).toSeq
    val generated = rows(graft.gen.Generator.generate(spark, cfg, 1, 3000))
    assert(rows(back) == generated)
    // ORC takes no part in the Parquet format: same rows, same read type
    val orcPath = s"$wh/orc"
    Tables.writeBatch(graft.gen.Generator.generate(spark, cfg, 1, 3000), orcPath, 0,
      codec, "ORC")
    val orc = Tables.read(spark, orcPath, "ORC")
    assert(orc.schema("created_at").dataType == TimestampType)
    assert(rows(orc) == generated)
  }

  test("Sizes.measure on Parquet reads footers: no Spark job, rows equal a count " +
      "with _SUCCESS, .crc, a zero-row and a zero-byte part file present") {
    val wh = Files.createTempDirectory("graft_footer").toString
    val cfg = Schemas.narrowOrders
    val codec = CodecSpec("zstd", 3)
    val path = Tables.variantPath(wh, cfg, codec)
    Tables.writeBatch(graft.gen.Generator.generate(spark, cfg, 1, 3000, 1, Some(2)),
      path, 0, codec)
    Tables.writeBatch(graft.gen.Generator.generate(spark, cfg, 3001, 0, 1, Some(1)),
      path, 1, codec)
    Files.createFile(java.nio.file.Paths.get(s"$path/batch=1/part-zero-bytes.parquet"))
    val files = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(java.nio.file.Paths.get(path))
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList finally walk.close()
    }
    def named(p: String => Boolean) = files.filter(f => p(f.getFileName.toString))
    assert(named(_ == "_SUCCESS").nonEmpty && named(_.endsWith(".crc")).nonEmpty)
    val partBytes = named(_.startsWith("part-")).map(Files.size).sum
    var size: SizeRow = null
    assert(jobsLaunchedBy { size = Sizes.measure(spark, "footer_t", path, codec) } == 0)
    assert(size.rows == Tables.read(spark, path).count() && size.rows == 3000)
    assert(size.data_bytes == partBytes)
  }

  test("TableFormat seam: an alternate format drops into load + measure unchanged") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.sql.{DataFrame, SparkSession}
    // stand-in for an Iceberg-backed implementation: same write/read
    // mechanics, but with a metadata layer whose manifest bytes are real —
    // proves the connector swap needs no caller changes
    object FakeIcebergFormat extends graft.ddl.TableFormat {
      val writes = new AtomicInteger(0)
      override def writeBatch(df: DataFrame, path: String, batchIndex: Int,
          codec: CodecSpec, format: String, partitioning: Seq[String],
          sortedBy: Seq[String]): Unit = {
        writes.incrementAndGet()
        graft.ddl.HadoopPathFormat.writeBatch(df, path, batchIndex, codec, format,
          partitioning, sortedBy)
      }
      override def read(spark: SparkSession, path: String, format: String): DataFrame =
        graft.ddl.HadoopPathFormat.read(spark, path, format)
      override def dataBytes(spark: SparkSession, path: String): Long =
        graft.ddl.HadoopPathFormat.dataBytes(spark, path)
      override def manifestBytes(spark: SparkSession, path: String): Long = 4096L
    }
    val wh = Files.createTempDirectory("graft_seam").toString
    val cp = Files.createTempDirectory("graft_seam_cp").toString
    val cfg = Schemas.narrowOrders
    val codec = CodecSpec("zstd", 3)
    val path = Tables.variantPath(wh, cfg, codec)
    val plan = LoadPlan(totalRows = 3000, batchRows = 1000, startId = 1,
      concurrency = 2, checkpointDir = cp)
    val n = Loader.loadTable(spark, cfg, plan, codec, path, quiet = true,
      tableFormat = FakeIcebergFormat)
    assert(n == 3 && FakeIcebergFormat.writes.get() == 3,
      "every batch commit must flow through the seam")
    val viaSeam = Sizes.measure(spark, "seam_t", path, codec, cfg.format,
      includeManifestBytes = true, tableFormat = FakeIcebergFormat)
    assert(viaSeam.rows == 3000)
    assert(viaSeam.manifest_bytes.contains(4096L),
      "manifest bytes must come from the format, not a hardcoded 0")
    assert(viaSeam.total_bytes.contains(viaSeam.data_bytes + 4096L))
    // the default format measures the same data through the same seam surface
    val viaDefault = Sizes.measure(spark, "seam_t", path, codec, cfg.format,
      includeManifestBytes = true)
    assert(viaDefault.rows == viaSeam.rows &&
      viaDefault.data_bytes == viaSeam.data_bytes)
    assert(viaDefault.manifest_bytes.contains(0L))
  }

  test("ManifestSidecarFormat: load→measure→report through a REAL manifest-" +
      "writing format; manifests are load-bearing for reads and byte counts") {
    import graft.ddl.ManifestSidecarFormat
    val wh = Files.createTempDirectory("graft_mseam").toString
    val cp = Files.createTempDirectory("graft_mseam_cp").toString
    val cfg = Schemas.narrowOrders
    val codec = CodecSpec("zstd", 3)
    val path = Tables.variantPath(wh, cfg, codec)
    val plan = LoadPlan(totalRows = 3000, batchRows = 1000, startId = 1,
      concurrency = 2, checkpointDir = cp)
    val n = Loader.loadTable(spark, cfg, plan, codec, path, quiet = true,
      tableFormat = ManifestSidecarFormat)
    assert(n == 3)
    // one manifest per batch commit, with real bytes
    val mdir = new java.io.File(s"$path/_manifests")
    assert(mdir.listFiles().count(_.getName.endsWith(".json")) == 3)
    val measured = Sizes.measure(spark, "mseam_t", path, codec, cfg.format,
      includeManifestBytes = true, tableFormat = ManifestSidecarFormat)
    assert(measured.rows == 3000)
    assert(measured.manifest_bytes.exists(_ > 0L), "manifest bytes must be real")
    assert(measured.total_bytes.contains(
      measured.data_bytes + measured.manifest_bytes.get))
    // manifest-derived data bytes agree with a recursive listing of the tree
    val listed = Sizes.measure(spark, "mseam_t", path, codec, cfg.format,
      includeManifestBytes = true)
    assert(measured.data_bytes == listed.data_bytes && listed.rows == 3000)
    // read isolation: a torn write (file on disk, in no manifest) is
    // invisible to both the row count and the $files aggregate
    val batch0 = new java.io.File(s"$path/batch=0")
    val stray = batch0.listFiles().filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(stray.toPath,
      new java.io.File(batch0, "part-stray-torn-write.parquet").toPath)
    val after = Sizes.measure(spark, "mseam_t", path, codec, cfg.format,
      includeManifestBytes = true, tableFormat = ManifestSidecarFormat)
    assert(after.rows == 3000 && after.data_bytes == measured.data_bytes,
      "unmanifested files must be invisible")
    assert(Sizes.measure(spark, "mseam_t", path, codec, cfg.format)
      .data_bytes > measured.data_bytes,
      "sanity: the listing-based default DOES see the stray file")
    // report leg: the measured row survives the CSV roundtrip (bytes_per_row
    // is written at the CSV's 2-dp precision)
    val csv = Files.createTempDirectory("graft_mseam_csv").resolve("sizes.csv").toString
    Report.writeCsv(Seq(measured), csv)
    val rt = Report.readCsv(csv)
    assert(rt.map(_.copy(bytes_per_row = 0.0)) == Seq(measured.copy(bytes_per_row = 0.0)))
    assert(math.abs(rt.head.bytes_per_row - measured.bytes_per_row) < 0.01)
  }

  test("manifest min/max bounds: range scans skip non-overlapping files, " +
      "results identical to the full scan") {
    import org.apache.spark.sql.functions.col
    val fmt = new graft.ddl.ManifestSidecarFormat(Seq("id", "status"))
    val wh = Files.createTempDirectory("graft_skip").toString
    val cp = Files.createTempDirectory("graft_skip_cp").toString
    val cfg = Schemas.narrowOrders
    val codec = CodecSpec("zstd", 3)
    val path = Tables.variantPath(wh, cfg, codec)
    // sequential id → the 5 batches hold disjoint id ranges [1..1000],
    // [1001..2000], …: the time-ordered-table shape where file skipping
    // pays (a time-range query over an append-only log)
    val plan = LoadPlan(totalRows = 5000, batchRows = 1000, startId = 1,
      concurrency = 2, checkpointDir = cp)
    assert(Loader.loadTable(spark, cfg, plan, codec, path, quiet = true,
      tableFormat = fmt) == 5)

    // numeric range fully inside one batch: the other four batches' files
    // are PROVABLY out of bounds and must be skipped
    val (kept, total) = fmt.planRange(spark, path, "id", Some("2500"), Some("2700"))
    assert(total > 0 && kept.nonEmpty && kept.size * 5 <= total,
      s"expected ≤ 1/5 of $total files kept, got ${kept.size}")
    assert(kept.forall(_.contains("batch=2")), s"wrong files kept: $kept")
    val prunedRows = fmt.readRange(spark, path, cfg.format, "id",
        Some("2500"), Some("2700"))
      .filter(col("id").between(2500, 2700)).select(col("id"))
      .collect().map(_.getLong(0)).sorted
    val fullRows = fmt.read(spark, path, cfg.format)
      .filter(col("id").between(2500, 2700)).select(col("id"))
      .collect().map(_.getLong(0)).sorted
    assert(prunedRows.sameElements(fullRows) && prunedRows.length == 201)

    // bounds compare NUMERICALLY under the recorded type: lo = "999" keeps
    // every file with max ≥ 999 (lexicographic "999" > "5000" would
    // wrongly prune all of them)
    val (keptNum, totalNum) = fmt.planRange(spark, path, "id", Some("999"), None)
    assert(keptNum.size == totalNum, "numeric lower bound wrongly pruned files")
    // open-ended high range prunes the low batches
    val (keptHi, _) = fmt.planRange(spark, path, "id", Some("4001"), None)
    assert(keptHi.nonEmpty && keptHi.forall(_.contains("batch=4")))
    // an impossible range prunes everything; readRange still answers with
    // the table schema
    val (keptNone, _) = fmt.planRange(spark, path, "id", Some("9999"), None)
    assert(keptNone.isEmpty)
    assert(fmt.readRange(spark, path, cfg.format, "id", Some("9999"), None)
      .count() == 0)
    // string column whose enum values land in every file: nothing can be
    // proven out of bounds, nothing is pruned, scan stays correct
    val (keptStr, totalStr) = fmt.planRange(spark, path, "status",
      Some("new"), Some("new"))
    assert(keptStr.size == totalStr)
    // a column with NO recorded stats never prunes
    val (keptNoStats, totalNoStats) =
      fmt.planRange(spark, path, "age", Some("40"), Some("41"))
    assert(keptNoStats.size == totalNoStats)
    // the stats-free object reads the same table unchanged (manifest stays
    // back-compatible), and its planRange keeps everything
    assert(graft.ddl.ManifestSidecarFormat.read(spark, path, cfg.format)
      .count() == 5000)
    val (keptLegacy, totalLegacy) = graft.ddl.ManifestSidecarFormat
      .planRange(spark, path, "id", Some("2500"), Some("2700"))
    assert(keptLegacy.size < totalLegacy,
      "stats travel in the manifest, any reader instance can prune")
  }

  test("file-skipping bounds: ORC takes the scan fallback, timestamps " +
      "compare in Spark-cast form") {
    import org.apache.spark.sql.functions._
    val spark2 = spark; import spark2.implicits._
    val wh = Files.createTempDirectory("graft_skip_orc").toString
    val codec = CodecSpec("zstd", 3)
    // ORC: bounds come from the column-pruned re-scan, pruning math identical
    val orcFmt = new graft.ddl.ManifestSidecarFormat(Seq("id"))
    val orcPath = s"$wh/t_orc"
    orcFmt.writeBatch((1L to 100L).toDF("id").coalesce(1), orcPath, 0, codec, "ORC")
    orcFmt.writeBatch((101L to 200L).toDF("id").coalesce(1), orcPath, 1, codec, "ORC")
    val (keptOrc, totalOrc) = orcFmt.planRange(spark, orcPath, "id",
      Some("150"), Some("160"))
    assert(totalOrc == 2 && keptOrc.size == 1 && keptOrc.head.contains("batch=1"))
    assert(orcFmt.readRange(spark, orcPath, "ORC", "id", Some("150"), Some("160"))
      .filter(col("id").between(150, 160)).count() == 11)

    // Parquet timestamps: writeBatch stores them as INT64 micros, whose
    // footer values serialize to the Spark-cast string form, so
    // caller-supplied "yyyy-MM-dd HH:mm:ss" bounds compare correctly
    // (lexicographic on that fixed-width form IS time order). Under
    // Spark's INT96 default the footer carries no ordered stats — bounds
    // stay absent and NOTHING is pruned, the conservative contract.
    val tsFmt2 = new graft.ddl.ManifestSidecarFormat(Seq("ts"))
    val tsPath = s"$wh/t_ts"
    def tsDf(day: Int) = Seq.tabulate(10)(i =>
        java.sql.Timestamp.valueOf(f"2026-01-$day%02d 12:00:$i%02d"))
      .toDF("ts").coalesce(1)
    tsFmt2.writeBatch(tsDf(1), tsPath, 0, codec, "PARQUET")
    tsFmt2.writeBatch(tsDf(20), tsPath, 1, codec, "PARQUET")
    val (keptTs, totalTs) = tsFmt2.planRange(spark, tsPath, "ts",
      Some("2026-01-19 00:00:00"), None)
    assert(totalTs == 2 && keptTs.size == 1 && keptTs.head.contains("batch=1"))
    val (keptAll, _) = tsFmt2.planRange(spark, tsPath, "ts",
      Some("2026-01-01 12:00:00"), Some("2026-01-20 23:00:00"))
    assert(keptAll.size == 2)
    // INT96 files (a plain parquet write under the session default, then
    // the manifest commit writeBatch runs): no usable footer bounds → no
    // pruning, scans stay correct
    val int96Path = s"$wh/t_ts96"
    Seq(1, 20).zipWithIndex.foreach { case (day, b) =>
      tsDf(day).write.parquet(s"$int96Path/batch=$b")
      tsFmt2.commitManifest(spark, int96Path, b, tsDf(day).schema, "PARQUET", Nil)
    }
    assert(parquetType(int96Path, "ts").forall(_._1 == "INT96"),
      "the fixture must hold real INT96 timestamps")
    val (kept96, total96) = tsFmt2.planRange(spark, int96Path, "ts",
      Some("2026-01-19 00:00:00"), None)
    assert(total96 == 2 && kept96.size == 2,
      "INT96 stats must never prune")
  }

  test("manifest time travel and snapshot expiration reclaim storage " +
      "without breaking later snapshots") {
    import graft.ddl.ManifestSidecarFormat
    val wh = Files.createTempDirectory("graft_exp").toString
    val cp = Files.createTempDirectory("graft_exp_cp").toString
    val cfg = Schemas.narrowOrders
    val codec = CodecSpec("zstd", 3)
    val path = Tables.variantPath(wh, cfg, codec)
    val plan = LoadPlan(totalRows = 5000, batchRows = 1000, startId = 1,
      concurrency = 2, checkpointDir = cp)
    assert(Loader.loadTable(spark, cfg, plan, codec, path, quiet = true,
      tableFormat = ManifestSidecarFormat) == 5)
    // time travel planned from manifest metadata: state after batch 1
    assert(ManifestSidecarFormat.readAsOf(spark, path, 1, cfg.format)
      .count() == 2000)
    val bytesBefore = ManifestSidecarFormat.dataBytes(spark, path)
    val manifestsBefore = ManifestSidecarFormat.manifestBytes(spark, path)

    // retention: expire the two oldest snapshots
    assert(ManifestSidecarFormat.expireBatches(spark, path, keepFrom = 2) == 2)
    assert(ManifestSidecarFormat.read(spark, path, cfg.format).count() == 3000)
    assert(ManifestSidecarFormat.dataBytes(spark, path) < bytesBefore)
    assert(ManifestSidecarFormat.manifestBytes(spark, path) < manifestsBefore)
    // snapshots below the floor are gone (same as expiring Iceberg
    // snapshots); later ones still resolve
    intercept[IllegalArgumentException](
      ManifestSidecarFormat.readAsOf(spark, path, 1, cfg.format))
    assert(ManifestSidecarFormat.readAsOf(spark, path, 3, cfg.format)
      .count() == 2000)
    // idempotent
    assert(ManifestSidecarFormat.expireBatches(spark, path, keepFrom = 2) == 0)

    // crash between manifest delete and data delete: the orphan tree is
    // invisible to reads and the next expire of the range re-collects it
    val m2 = new java.io.File(s"$path/_manifests/batch-2.json")
    assert(m2.delete())
    assert(ManifestSidecarFormat.read(spark, path, cfg.format).count() == 2000)
    assert(ManifestSidecarFormat.expireBatches(spark, path, keepFrom = 3) == 1)
    assert(!new java.io.File(s"$path/batch=2").exists())
    assert(ManifestSidecarFormat.read(spark, path, cfg.format).count() == 2000)
  }

  test("zstd level plumb-through: level 9 compresses tighter than level 1") {
    val wh = Files.createTempDirectory("graft_lvl").toString
    val cfg = Schemas.narrowOrders
    // enum/string-heavy data compresses; levels must actually reach the codec
    val df = graft.gen.Generator.generate(spark, cfg, 1, 50000, 1, Some(2)).cache()
    Tables.writeBatch(df, s"$wh/l1", 0, CodecSpec("zstd", 1))
    Tables.writeBatch(df, s"$wh/l19", 0, CodecSpec("zstd", 19))
    val b1 = Sizes.measure(spark, "l1", s"$wh/l1", CodecSpec("zstd", 1)).data_bytes
    val b19 = Sizes.measure(spark, "l19", s"$wh/l19", CodecSpec("zstd", 19)).data_bytes
    info(s"zstd l1=$b1 bytes, l19=$b19 bytes")
    assert(b19 < b1, s"level 19 ($b19) not smaller than level 1 ($b1)")
    df.unpersist()
  }

  test("concurrent variant loads each write with their own zstd level") {
    val wh = Files.createTempDirectory("graft_lvl_par").toString
    val cfg = Schemas.narrowOrders
    val plan = LoadPlan(totalRows = 40000, batchRows = 20000, concurrency = 2)
    val levels = Seq(1, 19)
    def load(run: String, level: Int): Long = {
      val codec = CodecSpec("zstd", level)
      val path = s"$wh/$run/l$level"
      Loader.loadTable(spark, cfg, plan.copy(checkpointDir = s"$wh/$run/cp$level"), codec, path,
        quiet = true)
      Sizes.measure(spark, s"l$level", path, codec).data_bytes
    }
    val sequential = levels.map(l => l -> load("seq", l)).toMap
    val start = new java.util.concurrent.CyclicBarrier(levels.size)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(levels.size)
    val concurrent =
      try levels.map(l => pool.submit(() => { start.await(); l -> load("par", l) }))
        .map(_.get()).toMap
      finally pool.shutdown()
    info(s"sequential $sequential, concurrent $concurrent")
    assert(sequential(19) < sequential(1))
    assert(concurrent == sequential, "a concurrent load wrote with another load's level")
  }

  test("end-to-end variant load: checkpointed batches, sizes, partitioned variant") {
    val wh = Files.createTempDirectory("graft_wh").toString
    val cp = Files.createTempDirectory("graft_cp").toString
    val cfg = Schemas.narrowOrders
    val plan = LoadPlan(totalRows = 30000, batchRows = 10000, concurrency = 2,
      checkpointDir = cp)
    val codec = CodecSpec("zstd", 3)
    val path = Tables.variantPath(wh, cfg, codec)

    val ran = Loader.loadTable(spark, cfg, plan, codec, path, quiet = true)
    assert(ran == 3)
    // resume: nothing left to do
    assert(Loader.loadTable(spark, cfg, plan, codec, path, quiet = true) == 0)

    val size = Sizes.measure(spark, Tables.variantName(cfg.tableBase, codec), path, codec)
    assert(size.rows == 30000 && size.data_bytes > 0 && size.bytes_per_row > 0)

    // partitioned write: day-partition dirs appear under the batch dir
    val pPath = s"$wh/partitioned"
    Loader.loadTable(spark, cfg, plan.copy(checkpointDir = cp + "2"), codec, pPath,
      quiet = true, partitioning = Seq("date(created_at)"), sortedBy = Seq("created_at"))
    val batchDir = new java.io.File(s"$pPath/batch=0")
    assert(batchDir.listFiles().exists(_.getName.startsWith("created_at_day=")))
    // partition pruning: reading one day touches that day's rows only
    val oneDay = Tables.read(spark, pPath)
      .filter(org.apache.spark.sql.functions.col("created_at_day") === "2024-06-01")
    assert(oneDay.count() > 0 && oneDay.count() < 1000)

    // compaction collapses batches
    Loader.optimize(spark, path, codec)
    assert(Sizes.measure(spark, "t", path, codec).rows == 30000)
    assert(new java.io.File(path).listFiles().map(_.getName).count(_.startsWith("batch=")) == 1)

    // catalog surface: registration exposes the $properties analogue
    val names = graft.ddl.Catalog.registerVariants(spark, wh, cfg, Seq(codec))
    assert(names.nonEmpty)
    val props = graft.ddl.Catalog.tableProperties(spark, names.head).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("write.compression-codec") == "zstd")
    assert(props("write.compression-level") == "3")
    assert(props("format") == "parquet")
    assert(props("location").endsWith(names.head))
  }

  test("optimize recovers a variant stranded by a crash between swap renames") {
    val wh = Files.createTempDirectory("graft_wh_crash").toString
    val cp = Files.createTempDirectory("graft_cp_crash").toString
    val cfg = Schemas.narrowOrders
    val plan = LoadPlan(totalRows = 5000, batchRows = 5000, concurrency = 1,
      checkpointDir = cp)
    val codec = CodecSpec("zstd", 1)
    val path = Tables.variantPath(wh, cfg, codec)
    Loader.loadTable(spark, cfg, plan, codec, path, quiet = true)
    // simulate the crash window: live tree already renamed aside, tmp
    // half-written — a rerun must restore the table, not lose it
    val live = new java.io.File(path)
    assert(live.renameTo(new java.io.File(path + ".compact.old")))
    val tmp = new java.io.File(path + ".compact.tmp")
    tmp.mkdirs()
    new java.io.File(tmp, "junk").createNewFile()
    Loader.optimize(spark, path, codec)
    assert(Sizes.measure(spark, "t", path, codec).rows == 5000)
    assert(!new java.io.File(path + ".compact.old").exists())
    assert(!new java.io.File(path + ".compact.tmp").exists())
  }

  test("batch-snapshot reads prune later batches; merged-schema reads evolve additively") {
    import org.apache.spark.sql.functions._
    val wh = Files.createTempDirectory("graft_wh_tt").toString
    // two committed batches, the second carrying an extra column
    val p = s"$wh/t"
    spark.range(0, 100).toDF("id").withColumn("v", col("id") * 2)
      .write.parquet(s"$p/batch=0")
    spark.range(100, 250).toDF("id").withColumn("v", col("id") * 2)
      .withColumn("extra", lit("new"))
      .write.parquet(s"$p/batch=1")
    // snapshot as of batch 0: only the first 100 rows, and the plan prunes
    // the batch=1 directory (partition filter, not a post-scan discard)
    val snap = Tables.readAsOfBatch(spark, p, 0)
    assert(snap.count() == 100 && snap.agg(max(col("id"))).head().getLong(0) == 99)
    val plan = snap.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("batch"),
      s"batch filter must prune partitions:\n$plan")
    // merged-schema read: the evolved column appears, old rows read NULL
    val merged = Tables.readMergedSchema(spark, p)
    assert(merged.columns.contains("extra"))
    assert(merged.filter(col("batch") === 0 && col("extra").isNull).count() == 100)
    assert(merged.filter(col("extra") === "new").count() == 150)
    assert(merged.count() == 250)
  }

  test("optimize with zorderCols rewrites to Morton-clustered files, rows intact") {
    import org.apache.spark.sql.functions._
    val wh = Files.createTempDirectory("graft_wh_z").toString
    val cp = Files.createTempDirectory("graft_cp_z").toString
    val cfg = Schemas.narrowOrders
    val plan = LoadPlan(totalRows = 20000, batchRows = 10000, concurrency = 1,
      checkpointDir = cp)
    val codec = CodecSpec("zstd", 1)
    val path = Tables.variantPath(wh, cfg, codec)
    Loader.loadTable(spark, cfg, plan, codec, path, quiet = true)
    val before = spark.read.parquet(path).drop("batch")
      .orderBy(col("id")).collect().map(_.toSeq)
    Loader.optimize(spark, path, codec, targetFileBytes = 64 * 1024,
      zorderCols = Seq("amount", "age"))
    val after = spark.read.parquet(path)
    assert(after.drop("batch").orderBy(col("id")).collect().map(_.toSeq).toSeq
      == before.toSeq)
    // clustered layout: mean per-file span of each curve column is well
    // under the global span (files carry narrow footer stats on BOTH)
    def meanSpanFrac(c: String): Double = {
      val spans = after.groupBy(input_file_name())
        .agg((max(col(c)) - min(col(c))).cast("double").as("s"),
          count(lit(1)).as("n"))
        .filter(col("n") > 100) // ignore tiny tail files
        .collect().map(_.getDouble(1))
      val g = after.agg((max(col(c)) - min(col(c))).cast("double")).head().getDouble(0)
      spans.sum / spans.length / g
    }
    val nFiles = after.select(input_file_name()).distinct().count()
    if (nFiles >= 4) {
      assert(meanSpanFrac("amount") < 0.7, s"amount span ${meanSpanFrac("amount")}")
      assert(meanSpanFrac("age") < 0.7, s"age span ${meanSpanFrac("age")}")
    }
  }
}
