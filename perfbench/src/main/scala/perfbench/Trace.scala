package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level counters summed over every task that ends while the tally is
  * registered, plus job and stage counts and the wall intervals during which
  * at least one Spark job was running. */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, deserMs = 0L
  var inputBytes, inputRecords, outputBytes, outputRecords = 0L
  var shuffleWriteBytes, shuffleReadBytes, fetchWaitMs, spillBytes = 0L
  var peakExecBytes = 0L

  def minus(o: Counters): Counters = {
    val d = new Counters
    d.jobs = jobs - o.jobs; d.stages = stages - o.stages; d.tasks = tasks - o.tasks
    d.runMs = runMs - o.runMs; d.cpuNs = cpuNs - o.cpuNs; d.gcMs = gcMs - o.gcMs
    d.deserMs = deserMs - o.deserMs
    d.inputBytes = inputBytes - o.inputBytes; d.inputRecords = inputRecords - o.inputRecords
    d.outputBytes = outputBytes - o.outputBytes; d.outputRecords = outputRecords - o.outputRecords
    d.shuffleWriteBytes = shuffleWriteBytes - o.shuffleWriteBytes
    d.shuffleReadBytes = shuffleReadBytes - o.shuffleReadBytes
    d.fetchWaitMs = fetchWaitMs - o.fetchWaitMs; d.spillBytes = spillBytes - o.spillBytes
    d.peakExecBytes = peakExecBytes // a maximum, reset per op by the tally
    d
  }

  def copy(): Counters = minus(new Counters)
}

/** The traced run's listeners: a [[SparkListener]] for tasks, stages and
  * jobs, and a [[QueryExecutionListener]] that keeps every query execution
  * an op ran, whose planning tracker holds the analysis, optimizer and
  * physical-planning phase times. Registered only in traced blocks. */
final class Tally(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val c = new Counters
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  private val executions = ArrayBuffer.empty[QueryExecution]
  private var registered = false

  def register(on: Boolean): Unit = if (on != registered) {
    drain()
    if (on) { spark.sparkContext.addSparkListener(this); spark.listenerManager.register(this) }
    else { spark.sparkContext.removeSparkListener(this); spark.listenerManager.unregister(this) }
    registered = on
  }

  def isRegistered: Boolean = registered

  def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  /** Counters so far, after every pending event has been delivered. */
  def snapshot(): Counters = { drain(); synchronized(c.copy()) }

  /** Starts an op: clears the per-op interval, execution and peak state and
    * returns the counters so far. */
  def begin(): Counters = synchronized {
    drain()
    jobIntervals.clear(); executions.clear(); c.peakExecBytes = 0L
    c.copy()
  }

  /** Ends an op: counters since `from`, the job intervals (epoch ms) and the
    * query executions seen since [[begin]]. */
  def end(from: Counters): (Counters, Seq[(Long, Long)], Seq[QueryExecution]) = {
    drain()
    synchronized((c.minus(from), jobIntervals.toList, executions.toList))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStart.put(e.jobId, e.time)
    synchronized { c.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = Option(jobStart.remove(e.jobId)).getOrElse(e.time)
    synchronized { jobIntervals += ((s, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { c.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      c.tasks += 1
      c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime; c.deserMs += m.executorDeserializeTime
      c.inputBytes += m.inputMetrics.bytesRead; c.inputRecords += m.inputMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
      c.outputRecords += m.outputMetrics.recordsWritten
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecBytes = math.max(c.peakExecBytes, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { executions += qe }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { executions += qe }
}

object Trace {

  /** Planning phase seconds (analysis, optimizer, physical) summed over the
    * distinct query executions; the tracker times phases in whole ms. */
  def planning(qes: Seq[QueryExecution]): (Double, Double, Double) = {
    val distinct = qes.foldLeft(List.empty[QueryExecution]) { (acc, q) =>
      if (acc.exists(_ eq q)) acc else q :: acc
    }
    def phase(name: String) =
      distinct.map(_.tracker.phases.get(name).map(_.durationMs).getOrElse(0L)).sum / 1e3
    (phase("analysis"), phase("optimization"), phase("planning"))
  }

  /** Seconds covered by the union of the intervals (epoch ms). */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total += math.max(0L, curE - curS)
    total / 1e3
  }
}
