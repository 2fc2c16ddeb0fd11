package graft.bench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** Generic per-query stage attribution: runs declared queries under the
  * Bench session config with a stage listener and min-of-N timing.
  * Env: PROBE_Q=q01_pricing_summary,q07_join_agg  PROBE_ITERS=5.
  * Not part of the benchmark protocol. Rejected alternatives measured with
  * earlier one-off probes are recorded in docs/REJECTED.md. */
object QProbe {

  /** Records (stageId, numTasks, wallMs, execMs, cpuMs, shuffleReadKB,
    * shuffleWriteKB, name) per completed stage. */
  final class StageTally extends SparkListener {
    val rows = mutable.ArrayBuffer[String]()
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val wall = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(-1L)
      val m = si.taskMetrics
      rows += f"    stage ${si.stageId}%3d tasks=${si.numTasks}%4d wall=${wall}%5d ms " +
        f"exec=${m.executorRunTime}%6d ms cpu=${m.executorCpuTime / 1000000}%6d ms " +
        f"shRead=${m.shuffleReadMetrics.totalBytesRead / 1024}%8d KB " +
        f"shWrite=${m.shuffleWriteMetrics.bytesWritten / 1024}%8d KB  ${si.name.take(60)}"
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val iters = sys.env.getOrElse("PROBE_ITERS", "5").toInt
    val names = sys.env.getOrElse("PROBE_Q", "q01_pricing_summary")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-qprobe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tally = new StageTally
    spark.sparkContext.addSparkListener(tally)

    def runNoop(df: DataFrame): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    for (name <- names if SparkEntry.queries.contains(name)) {
      def mk() = SparkEntry.queries(name)(spark, sfDir)
      (1 to 2).foreach(_ => runNoop(mk()))
      tally.rows.clear()
      val t = runNoop(mk())
      println(f"[qprobe] $name instrumented run $t%.3f s, stages:")
      tally.rows.foreach(println)
      val ts = (1 to iters).map(_ => runNoop(mk()))
      println(f"[qprobe] $name min=${ts.min}%.4f mean=${ts.sum / ts.size}%.4f " +
        ts.map(x => f"$x%.3f").mkString("[", ",", "]"))
    }
    spark.stop()
  }
}
