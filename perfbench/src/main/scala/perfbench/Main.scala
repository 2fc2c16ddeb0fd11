package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed op: wall seconds, whether tracing was on, the error if it threw,
  * and (traced only) its counters, planning phases and Spark-job time. */
final case class Sample(label: String, wall: Double, traced: Boolean, error: Option[String],
    outcome: Option[Outcome], checkError: Option[String], counters: Option[Counters] = None,
    plan: (Double, Double, Double) = (0, 0, 0), exec: Double = 0, storageBytes: Long = 0) {
  def planSum: Double = plan._1 + plan._2 + plan._3
  def client: Double = wall - planSum - exec
}

/** Benchmark main: one workload, one seed, one closed-loop client.
  *
  * {{{ perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *       --work <dir> --out <file> [--tiny] }}}
  *
  * Set-up (session start, input builds, warm-up) is timed apart from the
  * measured loop. The loop runs whole cycles — every op shape once, in
  * seeded order — until `--seconds` have been measured. With `--trace 1`
  * half of the ops are traced, interleaved with the untraced half: the
  * traced ones give the per-layer metrics, the untraced ones the tracing
  * overhead. The result object goes to
  * `--out`; the full record of the run (every op, errors, host load) to
  * `<out>.run.json`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val workload = opts("--workload")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toDouble
    val trace = opts("--trace") == "1"
    val work = opts("--work")
    val out = opts("--out")
    val tiny = args.contains("--tiny")
    // one core stays free for the driver thread, the JIT compilers and the
    // collector, and for a task whose core the hypervisor takes away
    val cpus = math.max(1, Runtime.getRuntime.availableProcessors() - 1)

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = Host.loadavg()
    Workload.deleteTree(work)
    Files.createDirectories(Paths.get(work))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.CheapFirstFilterOrder.install(spark)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val tally = new Tally(spark)
    val ctx = Ctx(spark, seed, cpus, s"$work/data", tiny, trace, tally)
    val w = Workload(workload, ctx)
    var result: String = null
    try {
      // set-up: the input build repeats, its median stands for the build
      val builds = (1 to 3).map(i => Workload.seconds(w.build(i))._2)
      val (_, warmS) = Workload.seconds { w.warmup(); Host.awaitJitQuiet() }
      val setupS = sessionS + Stats.median(builds) + warmS
      val floorS = Stats.median((1 to 5).map(_ =>
        Workload.seconds(spark.range(1).write.format("noop").mode("overwrite").save())._2))
      log(f"set-up $setupS%.2f s (session $sessionS%.2f, build ${builds.mkString(",")}, " +
        f"warm-up $warmS%.2f), floor $floorS%.4f s, loadavg $loadStart")

      val cpuStart = Host.cpuTicks()
      val (samples, cycleSteal) = loop(w, ctx, seconds, trace)
      val stealShare = Host.stealShare(cpuStart, Host.cpuTicks())
      val loadEnd = Host.loadavg()
      val failed = samples.count(_.error.isDefined)
      val checkErrors = samples.flatMap(s => s.checkError.map(e => s"${s.label}: $e"))
      val e2e = Metrics.endToEnd(samples.filterNot(_.traced), w, setupS)
      val metrics =
        if (trace) Metrics.perLayer(samples, w, floorS, e2e)
        else e2e
      val correct = checkErrors.isEmpty
      result = Json.result(correct, samples.size, failed, metrics)
      val run = Json.obj(Seq(
        "workload" -> Json.str(workload), "seed" -> seed.toString, "trace" -> trace.toString,
        "cpus" -> cpus.toString, "loadavg_start" -> Json.str(loadStart),
        "loadavg_end" -> Json.str(loadEnd), "floor_s" -> Json.num(floorS),
        "steal_share" -> Json.num(stealShare),
        "cycle_steal" -> cycleSteal.map(Json.num).mkString("[", ",", "]"),
        "session_s" -> Json.num(sessionS), "warmup_s" -> Json.num(warmS),
        "build_s" -> builds.map(Json.num).mkString("[", ",", "]"),
        "check_errors" -> checkErrors.map(Json.str).mkString("[", ",", "]"),
        "op_errors" -> samples.flatMap(s => s.error.map(e => Json.str(s"${s.label}: $e")))
          .mkString("[", ",", "]"),
        "ops" -> samples.map(Json.sample).mkString("[\n", ",\n", "]"),
        "result" -> result))
      Files.write(Paths.get(out + ".run.json"), run.getBytes(StandardCharsets.UTF_8))
      log("measured")
      checkErrors.take(5).foreach(e => log(s"CHECK FAILED $e"))
      samples.flatMap(_.error).take(5).foreach(e => log(s"OP FAILED $e"))
      log(f"loadavg end $loadEnd, cpu steal $stealShare%.3f")
    } finally {
      try w.cleanup() finally spark.stop()
    }
    Files.write(Paths.get(out), (result + "\n").getBytes(StandardCharsets.UTF_8))
    log("stopped")
  }

  /** Runs whole cycles until their op wall time reaches `seconds`: every
    * shape then has the same number of samples, so the mix the percentiles
    * describe does not depend on where the time ran out. A traced run
    * traces half of the shapes in one cycle and the other half in the next,
    * so traced and untraced ops interleave in time and each shape is traced
    * once per cycle pair; it runs whole pairs. Returns the ops and each
    * cycle's steal share. */
  private def loop(w: Workload, ctx: Ctx, seconds: Double,
      trace: Boolean): (Seq[Sample], Seq[Double]) = {
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val steal = scala.collection.mutable.ArrayBuffer.empty[Double]
    var measured = 0.0
    var cycles = 0
    while (measured < seconds || (trace && (cycles < 2 || cycles % 2 == 1))) {
      val ops = w.cycle()
      val shapes = ops.map(_.label).sorted
      val ticks = Host.cpuTicks()
      for (op <- ops) {
        val traced = trace && (shapes.indexOf(op.label) + cycles) % 2 == 1
        ctx.tally.register(traced)
        val s = runOp(op, ctx, traced)
        samples += s
        measured += s.wall
      }
      steal += Host.stealShare(ticks, Host.cpuTicks())
      cycles += 1
    }
    ctx.tally.register(false)
    (samples.toSeq, steal.toSeq)
  }

  private def runOp(op: Op, ctx: Ctx, traced: Boolean): Sample = {
    val before = if (traced) Some(ctx.tally.begin()) else None
    val t0 = System.nanoTime()
    val (outcome, error) =
      try (Some(op.run()), None)
      catch { case NonFatal(e) => (None, Some(s"${e.getClass.getName}: ${e.getMessage}")) }
    val wall = (System.nanoTime() - t0) / 1e9
    val traceFields = before.map { b =>
      val (c, jobs, qes) = ctx.tally.end(b)
      val storage = ctx.spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      (c, Trace.planning(qes ++ outcome.toSeq.flatMap(_.queries)), Trace.unionSeconds(jobs), storage)
    }
    // the output check is untimed and runs before the next op starts
    val checkError = outcome.flatMap(o =>
      try op.check(o) catch { case NonFatal(e) => Some(s"check threw ${e.getMessage}") })
    traceFields match {
      case None => Sample(op.label, wall, traced = false, error, outcome, checkError)
      case Some((c, plan, exec, storage)) =>
        Sample(op.label, wall, traced = true, error, outcome, checkError, Some(c), plan, exec, storage)
    }
  }

  def log(msg: String): Unit = System.err.println(f"[perfbench] ${
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime) / 1e3}%.1f $msg")
}

/** Host-noise record and process memory, read from /proc. */
object Host {
  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8).trim
    catch { case NonFatal(_) => "unavailable" }

  /** Waits (at most `maxSeconds`) until the JIT compilers have been idle for
    * 250 ms, so compilations queued by the warm-up land before timing. */
  def awaitJitQuiet(maxSeconds: Double = 3.0): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val deadline = System.nanoTime() + (maxSeconds * 1e9).toLong
    var last = jit.getTotalCompilationTime
    var quiet = false
    while (!quiet && System.nanoTime() < deadline) {
      Thread.sleep(250)
      val now = jit.getTotalCompilationTime
      quiet = now - last < 10
      last = now
    }
  }

  /** The aggregate `cpu` line of /proc/stat: jiffies per state. */
  def cpuTicks(): Seq[Long] =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").tail
      .map(_.toLong).toSeq
    catch { case NonFatal(_) => Nil }

  /** Share of CPU time the hypervisor gave to other guests (steal, the 8th
    * field) between two [[cpuTicks]] readings; -1 when unavailable. */
  def stealShare(from: Seq[Long], to: Seq[Long]): Double =
    if (from.size < 8 || to.size < 8) -1.0
    else {
      val d = to.zip(from).map { case (a, b) => a - b }.take(8)
      d(7).toDouble / math.max(1L, d.sum)
    }

  /** Peak resident set of this process (VmHWM) in MB. */
  def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Stats {
  /** Harrell–Davis estimate of the `p` quantile: a Beta-weighted mean of all
    * order statistics. The latencies of a mixed workload are multimodal, and
    * the plain sample median jumps between modes from run to run; this
    * estimate moves smoothly. */
  def hdQuantile(xs: Seq[Double], p: Double): Double = {
    if (xs.size < 2) return xs.headOption.getOrElse(0.0)
    val s = xs.sorted
    val n = s.size
    val beta = new org.apache.commons.math3.distribution.BetaDistribution(
      p * (n + 1), (1 - p) * (n + 1))
    s.indices.map(i => s(i) * (beta.cumulativeProbability((i + 1.0) / n) -
      beta.cumulativeProbability(i.toDouble / n))).sum
  }

  def median(xs: Seq[Double]): Double = hdQuantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, String, Double)]): String =
    obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(metrics.map { case (n, unit, v) =>
        n -> obj(Seq("value" -> num(v), "unit" -> str(unit)))
      })))

  def sample(s: Sample): String = obj(Seq(
    "op" -> str(s.label), "wall_s" -> num(s.wall), "traced" -> s.traced.toString,
    "error" -> s.error.map(str).getOrElse("null"),
    "value" -> s.outcome.map(o => str(o.value)).getOrElse("null")) ++
    (if (s.traced) Seq("analysis_s" -> num(s.plan._1), "optimizer_s" -> num(s.plan._2),
      "physical_s" -> num(s.plan._3), "exec_s" -> num(s.exec), "client_s" -> num(s.client))
    else Nil) ++
    s.outcome.toSeq.flatMap(_.extras.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }))
}
