package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** A streaming query a suite leaves running keeps taking micro-batches in
    * the shared session, slowing every later suite: stop it and fail. */
  override def afterAll(): Unit =
    try {
      val leaked = SparkSpec.session.streams.active.toSeq
      leaked.foreach(_.stop())
      assert(leaked.isEmpty, "streaming queries left running: " +
        leaked.map(q => Option(q.name).getOrElse(q.id.toString)).mkString(", "))
    } finally super.afterAll()

  def sf(dir: String, table: String) =
    spark.read.parquet(s"/root/testdata/$dir/$table.parquet")

  /** Spark jobs that `body` launches on the calling thread. A sentinel job
    * in another group runs after it; once the listener has seen the
    * sentinel start, it has seen every job `body` started. */
  def jobsLaunchedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"jobs-launched-by-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(g) if g == tag => jobs.incrementAndGet()
          case Some(g) if g == s"$tag-sentinel" => sentinelSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$tag-sentinel", "sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(sentinelSeen.await(60, TimeUnit.SECONDS), "listener never saw the sentinel job")
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
