package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

/** What one op produced: the value its output check compares, the query
  * executions the op created itself (their analysis runs on the client, so
  * the listener never reports them), and workload-specific measurements. */
final case class Outcome(value: String, queries: Seq[QueryExecution] = Nil,
    extras: Map[String, Double] = Map.empty)

/** One closed-loop operation: `run` is timed; `check` is not, and returns an
  * error message when the op's output is wrong. */
final case class Op(label: String, run: () => Outcome, check: Outcome => Option[String])

/** Settings every workload reads. `tiny` shrinks the inputs for the
  * self-test; `work` is the workload's scratch directory; `trace` is the run
  * mode and `traced` whether the current op is traced. */
final case class Ctx(spark: SparkSession, seed: Long, cpus: Int, work: String, tiny: Boolean,
    trace: Boolean, tally: Tally) {
  val rng = new scala.util.Random(seed)
  def traced: Boolean = tally.isRegistered
}

trait Workload {
  /** Builds (or rebuilds) the inputs; the last build is the one the ops use.
    * Every build verifies what it wrote and throws if it is wrong. */
  def build(rep: Int): Unit
  /** Untimed warm-up: one cycle with its ops on N client threads. JIT
    * counters are global, so the code warms in a fraction of the sequential
    * wall time. Where the ops have no independent oracle, this cycle fixes
    * their expected results; elsewhere it checks them. */
  def warmup(): Unit
  /** One pass over every op shape, in seeded order. */
  def cycle(): Seq[Op]
  /** Rows committed per second of the engine's load wall and stored bytes
    * per row. A workload that loads nothing through the engine reports the
    * fixed value 1 for both, so that neither gate fires on its set-up. */
  def storage(ss: Seq[Sample]): (Double, Double) = (1.0, 1.0)
  /** Workload-specific per-layer metrics from the traced ops. */
  def layers(traced: Seq[Sample]): Map[String, Double] = Map.empty
  /** Deletes what the workload wrote. */
  def cleanup(): Unit
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "codec-load" => new CodecLoad(ctx)
    case "corpus-ops" => new CorpusOps(ctx)
    case other        => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f))
      finally s.close()
    }
  }

  /** Runs the thunks on `threads` threads and waits for all of them. */
  def parallel[T](jobs: Seq[() => T], threads: Int): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, threads))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try scala.concurrent.Await.result(scala.concurrent.Future.sequence(
      jobs.map(j => scala.concurrent.Future(j()))), scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
  }

  def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
