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

  /** Spark jobs that `body` launches on the calling thread. */
  def jobsLaunchedBy(body: => Unit): Int = {
    val jobs = new AtomicInteger
    inJobGroup(tag => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (SparkSpec.groupOf(e.properties).contains(tag)) jobs.incrementAndGet()
    })(body)
    jobs.get()
  }

  /** Runs `body` in a fresh job group while `listener(group)` listens, and
    * returns once it has seen every event `body` caused. A sentinel job in
    * another group runs after `body`; both listeners share one queue, so
    * once the sentinel's start is seen, every earlier event has been. */
  def inJobGroup(listener: String => SparkListener)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val tag = s"job-group-${System.nanoTime()}"
    val sentinelSeen = new CountDownLatch(1)
    val sentinel = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (SparkSpec.groupOf(e.properties).contains(s"$tag-sentinel")) sentinelSeen.countDown()
    }
    val observer = listener(tag)
    sc.addSparkListener(observer)
    sc.addSparkListener(sentinel)
    try {
      sc.setJobGroup(tag, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$tag-sentinel", "sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(sentinelSeen.await(60, TimeUnit.SECONDS), "listener never saw the sentinel job")
    } finally {
      sc.removeSparkListener(sentinel)
      sc.removeSparkListener(observer)
    }
  }
}

object SparkSpec {
  /** The job group a job or stage event was submitted under. */
  def groupOf(properties: java.util.Properties): Option[String] =
    Option(properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

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
