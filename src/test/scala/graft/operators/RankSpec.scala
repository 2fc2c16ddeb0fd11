package graft.operators

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerStageCompleted,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

class RankSpec extends SparkSpec {
  import spark.implicits._

  // keys deliberately shuffled and non-contiguous so range partitioning has
  // to do real boundary work; tie-break on id makes the order total
  private lazy val rows = new scala.util.Random(7)
    .shuffle((1L to 997L).toList)
    .map(i => (i, (i * 37) % 100))
    .toDF("id", "score")

  test("withGlobalRank matches the single-partition window row_number") {
    val expected = rows
      .withColumn("rank",
        row_number().over(Window.orderBy($"score".desc, $"id".asc)).cast("long"))
      .select($"id", $"rank").as[(Long, Long)].collect().toMap
    val got = Rank.withGlobalRank(rows, Seq($"score".desc, $"id".asc),
        numPartitions = 7)
      .select($"id", $"rank").as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("exactNtile matches SQL NTILE semantics, including uneven buckets") {
    // 997 rows, 10 tiles: 997 = 10*99 + 7 → first 7 tiles hold 100 rows
    val expected = rows
      .withColumn("tile",
        ntile(10).over(Window.orderBy($"score".desc, $"id".asc)).cast("long"))
      .select($"id", $"tile").as[(Long, Long)].collect().toMap
    val got = Rank.exactNtile(rows, Seq($"score".desc, $"id".asc), 10,
        numPartitions = 7)
      .select($"id", $"tile").as[(Long, Long)].collect().toMap
    assert(got == expected)
    // randomized (rows, tiles, partitions): fewer rows than tiles and than
    // partitions (so some range partitions are empty) are both in the sweep
    val rng = new scala.util.Random(41)
    val shapes = Seq((3, 10, 8), (0, 4, 3), (25, 25, 7)) ++
      Seq.fill(5)((rng.nextInt(120), 1 + rng.nextInt(20), 1 + rng.nextInt(8)))
    assert(shapes.exists { case (n, t, _) => n < t } && shapes.exists { case (n, _, p) => n < p })
    for ((n, tiles, parts) <- shapes) {
      val data = rng.shuffle((1L to n.toLong).toList)
        .map(i => (i, rng.nextInt(9)))
        .toDF("id", "score")
      val want = data
        .withColumn("tile",
          ntile(tiles).over(Window.orderBy($"score".asc, $"id".desc)).cast("long"))
        .select($"id", $"tile").as[(Long, Long)].collect().toMap
      val have = Rank.exactNtile(data, Seq($"score".asc, $"id".desc), tiles,
          numPartitions = parts)
        .select($"id", $"tile").as[(Long, Long)].collect().toMap
      assert(have == want, s"n=$n tiles=$tiles parts=$parts")
    }
  }

  test("exactNtile with fewer rows than buckets gives one row per leading tile") {
    val tiny = Seq((1L, 5.0), (2L, 3.0), (3L, 9.0)).toDF("id", "v")
    val got = Rank.exactNtile(tiny, Seq($"v".desc, $"id"), 10, numPartitions = 4)
      .select($"id", $"tile").as[(Long, Long)].collect().toMap
    assert(got == Map(3L -> 1L, 1L -> 2L, 2L -> 3L))
  }

  test("empty input yields an empty ranked frame with the rank column") {
    val empty = Seq.empty[(Long, Double)].toDF("id", "v")
    val got = Rank.withGlobalRank(empty, Seq($"v"), numPartitions = 3)
    assert(got.columns.toSeq == Seq("id", "v", "rank"))
    assert(got.count() == 0)
  }

  test("the range exchange is computed once: ranking adds no second shuffle job scan") {
    // Every operator runs one range exchange; the boundary job writes it and
    // the stamp re-reads its files (a skipped stage never completes), so a
    // call completes exactly one stage that writes shuffle output.
    val sortCols = Seq($"score".desc, $"id".asc)
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "withGlobalRank" -> (() => Rank.withGlobalRank(rows, sortCols, numPartitions = 7)),
      "exactNtile" -> (() => Rank.exactNtile(rows, sortCols, 10, numPartitions = 7)),
      "withGroupRank" ->
        (() => Rank.withGroupRank(rows, Seq($"id" % 3), sortCols, numPartitions = 7)),
      "withRunningTotal" -> (() => Rank.withRunningTotal(rows, sortCols, $"score",
        numPartitions = 7, rankCol = Some("rk"))),
      "withGroupRunningTotal" -> (() => Rank.withGroupRunningTotal(rows, Seq($"id" % 3),
        sortCols, $"score", numPartitions = 7, rankCol = Some("rk"))))
    def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] = p +: p.children.flatMap(nodes)
    for ((name, call) <- calls) {
      val shuffleWrites = new AtomicInteger
      val plans = new ConcurrentLinkedQueue[SparkPlanInfo]
      var rowCount = 0
      inJobGroup(tag => new SparkListener {
        private val mine = ConcurrentHashMap.newKeySet[Int]()
        override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
          if (SparkSpec.groupOf(e.properties).contains(tag)) mine.add(e.stageInfo.stageId)
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
          if (mine.contains(e.stageInfo.stageId) &&
              e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
            shuffleWrites.incrementAndGet()
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(tag) =>
            plans.add(s.sparkPlanInfo)
          case _ =>
        }
      }) { rowCount = call().collect().length }
      assert(rowCount == 997, name)
      val rangeExchanges = plans.asScala.toSeq.flatMap(nodes).count(p =>
        p.nodeName == "Exchange" && p.simpleString.toLowerCase.contains("rangepartitioning"))
      assert(rangeExchanges == 1, s"$name: range exchanges planned")
      assert(shuffleWrites.get == 1, s"$name: stages that wrote shuffle output")
    }
  }

  // 3 hot groups over 997 rows at 7 partitions: every group spans several
  // partition boundaries, so the offset stitch does real work
  private lazy val grouped = new scala.util.Random(11)
    .shuffle((1L to 997L).toList)
    .map(i => (i, s"g${i % 3}", (i * 37) % 100))
    .toDF("id", "grp", "score")

  test("withGroupRank matches the per-group window row_number") {
    val expected = grouped
      .withColumn("rank", row_number()
        .over(Window.partitionBy($"grp").orderBy($"score".desc, $"id".asc))
        .cast("long"))
      .select($"id", $"rank").as[(Long, Long)].collect().toMap
    val got = Rank.withGroupRank(grouped, Seq($"grp"),
        Seq($"score".desc, $"id".asc), numPartitions = 7)
      .select($"id", $"rank").as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("withGroupRank: more groups than partitions (interior groups rank locally)") {
    val many = new scala.util.Random(13)
      .shuffle((1L to 500L).toList)
      .map(i => (i, i % 41, i % 17))
      .toDF("id", "grp", "score")
    val expected = many
      .withColumn("rank", row_number()
        .over(Window.partitionBy($"grp").orderBy($"score".asc, $"id".asc))
        .cast("long"))
      .select($"id", $"rank").as[(Long, Long)].collect().toMap
    val got = Rank.withGroupRank(many, Seq($"grp"), Seq($"score".asc, $"id".asc),
        numPartitions = 5)
      .select($"id", $"rank").as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("withGroupRank: single group degenerates to the global rank") {
    val one = (1L to 200L).map(i => (i, "only", 200L - i)).toDF("id", "grp", "v")
    val got = Rank.withGroupRank(one, Seq($"grp"), Seq($"v".asc), numPartitions = 6)
      .select($"id", $"rank").as[(Long, Long)].collect().toMap
    val expected = (1L to 200L).map(i => (i, 201L - i)).toMap
    assert(got == expected)
  }

  test("withGroupRank on empty input keeps schema, drops no columns") {
    val empty = Seq.empty[(Long, String, Long)].toDF("id", "grp", "v")
    val got = Rank.withGroupRank(empty, Seq($"grp"), Seq($"v"), numPartitions = 3)
    assert(got.columns.toSeq == Seq("id", "grp", "v", "rank"))
    assert(got.count() == 0)
  }

  test("withRunningTotal matches the single-partition window prefix sum") {
    val vals = new scala.util.Random(17)
      .shuffle((1L to 997L).toList)
      .map(i => (i, (i * 13) % 50))
      .toDF("id", "w")
    val expected = vals
      .withColumn("rt", sum($"w").over(
        Window.orderBy($"w".desc, $"id".asc).rowsBetween(Window.unboundedPreceding, 0)))
      .select($"id", $"rt").as[(Long, Long)].collect().toMap
    val got = Rank.withRunningTotal(vals, Seq($"w".desc, $"id".asc), $"w",
        totalCol = "rt", numPartitions = 7)
      .select($"id", $"rt").as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("withGroupRank randomized parity: sizes × group counts × partition counts") {
    // boundary stitching is the risky code path — sweep shapes where
    // partitions are empty, groups span many partitions, and groups are
    // smaller than partitions, all against the window reference
    val rng = new scala.util.Random(23)
    for (trial <- 1 to 6) {
      val n = 1 + rng.nextInt(300)
      val groups = 1 + rng.nextInt(10)
      val parts = 1 + rng.nextInt(8)
      val data = rng.shuffle((1L to n.toLong).toList)
        .map(i => (i, (i % groups).toString, rng.nextInt(7)))
        .toDF("id", "grp", "score")
      val expected = data
        .withColumn("rank", row_number()
          .over(Window.partitionBy($"grp").orderBy($"score".asc, $"id".asc))
          .cast("long"))
        .select($"id", $"rank").as[(Long, Long)].collect().toMap
      val got = Rank.withGroupRank(data, Seq($"grp"), Seq($"score".asc, $"id".asc),
          numPartitions = parts)
        .select($"id", $"rank").as[(Long, Long)].collect().toMap
      assert(got == expected, s"trial $trial: n=$n groups=$groups parts=$parts")
    }
  }

  test("withRunningTotal randomized parity incl. rankCol") {
    val rng = new scala.util.Random(29)
    for (trial <- 1 to 4) {
      val n = 1 + rng.nextInt(250)
      val parts = 1 + rng.nextInt(8)
      val data = rng.shuffle((1L to n.toLong).toList)
        .map(i => (i, rng.nextInt(100).toLong))
        .toDF("id", "w")
      val win = Window.orderBy($"w".desc, $"id".asc)
      val expected = data
        .withColumn("rt", sum($"w").over(win.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("rk", row_number().over(win).cast("long"))
        .select($"id", $"rt", $"rk").as[(Long, Long, Long)].collect().toSet
      val got = Rank.withRunningTotal(data, Seq($"w".desc, $"id".asc), $"w",
          totalCol = "rt", numPartitions = parts, rankCol = Some("rk"))
        .select($"id", $"rt", $"rk").as[(Long, Long, Long)].collect().toSet
      assert(got == expected, s"trial $trial: n=$n parts=$parts")
    }
  }

  test("withGroupRank: NULL group keys and NULL sort values match the window") {
    val data = Seq(
      (1L, Some("a"), Some(3L)), (2L, None, Some(1L)), (3L, Some("a"), None),
      (4L, None, None), (5L, Some("b"), Some(2L)), (6L, None, Some(1L)),
      (7L, Some("a"), Some(3L)), (8L, None, Some(9L))
    ).toDF("id", "grp", "v")
    val expected = data
      .withColumn("rank", row_number()
        .over(Window.partitionBy($"grp").orderBy($"v".asc, $"id".asc)).cast("long"))
      .select($"id", $"rank").as[(Long, Long)].collect().toMap
    val got = Rank.withGroupRank(data, Seq($"grp"), Seq($"v".asc, $"id".asc),
        numPartitions = 3)
      .select($"id", $"rank").as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("withRunningTotal skips NULL values like window sum") {
    val vals = Seq((1L, Some(5L)), (2L, None), (3L, Some(7L)), (4L, None), (5L, Some(1L)))
      .toDF("id", "w")
    val got = Rank.withRunningTotal(vals, Seq($"id"), $"w", totalCol = "rt",
        numPartitions = 3)
      .select($"id", $"rt").as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 5L, 2L -> 5L, 3L -> 12L, 4L -> 12L, 5L -> 13L))
  }

  test("withGroupRunningTotal matches the per-group window prefix sum") {
    // 3 hot groups over 997 rows at 7 partitions — every group spans
    // several partition boundaries, so the sum stitch does real work
    val vals = new scala.util.Random(31)
      .shuffle((1L to 997L).toList)
      .map(i => (i, s"g${i % 3}", (i * 13) % 50))
      .toDF("id", "grp", "w")
    val win = Window.partitionBy($"grp").orderBy($"w".desc, $"id".asc)
    val expected = vals
      .withColumn("rt", sum($"w").over(win.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("rk", row_number().over(win).cast("long"))
      .select($"id", $"rt", $"rk").as[(Long, Long, Long)].collect().toSet
    val got = Rank.withGroupRunningTotal(vals, Seq($"grp"),
        Seq($"w".desc, $"id".asc), $"w",
        totalCol = "rt", numPartitions = 7, rankCol = Some("rk"))
      .select($"id", $"rt", $"rk").as[(Long, Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("withGroupRunningTotal randomized parity: sizes × groups × partitions") {
    val rng = new scala.util.Random(37)
    for (trial <- 1 to 6) {
      val n = 1 + rng.nextInt(300)
      val groups = 1 + rng.nextInt(10)
      val parts = 1 + rng.nextInt(8)
      val data = rng.shuffle((1L to n.toLong).toList)
        .map(i => (i, (i % groups).toString, rng.nextInt(40).toLong))
        .toDF("id", "grp", "w")
      val win = Window.partitionBy($"grp").orderBy($"w".asc, $"id".asc)
      val withRank = data
        .withColumn("rt", sum($"w").over(win.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("rk", row_number().over(win).cast("long"))
      val expected = withRank.select($"id", $"rt").as[(Long, Long)].collect().toMap
      val got = Rank.withGroupRunningTotal(data, Seq($"grp"),
          Seq($"w".asc, $"id".asc), $"w", totalCol = "rt", numPartitions = parts)
        .select($"id", $"rt").as[(Long, Long)].collect().toMap
      assert(got == expected, s"trial $trial: n=$n groups=$groups parts=$parts")
      val expectedRanked =
        withRank.select($"id", $"rt", $"rk").as[(Long, Long, Long)].collect().toSet
      val gotRanked = Rank.withGroupRunningTotal(data, Seq($"grp"),
          Seq($"w".asc, $"id".asc), $"w", totalCol = "rt", numPartitions = parts,
          rankCol = Some("rk"))
        .select($"id", $"rt", $"rk").as[(Long, Long, Long)].collect().toSet
      assert(gotRanked == expectedRanked, s"trial $trial (rankCol): n=$n groups=$groups parts=$parts")
    }
  }

  test("withGroupRunningTotal: NULL group keys and NULL values match the window") {
    val data = Seq(
      (1L, Some("a"), Some(3L)), (2L, None, Some(1L)), (3L, Some("a"), None),
      (4L, None, None), (5L, Some("b"), Some(2L)), (6L, None, Some(1L)),
      (7L, Some("a"), Some(3L)), (8L, None, Some(9L))
    ).toDF("id", "grp", "w")
    val win = Window.partitionBy($"grp").orderBy($"w".asc, $"id".asc)
    val expected = data
      .withColumn("rt", coalesce(
        sum($"w").over(win.rowsBetween(Window.unboundedPreceding, 0)), lit(0L)))
      .select($"id", $"rt").as[(Long, Long)].collect().toMap
    val got = Rank.withGroupRunningTotal(data, Seq($"grp"),
        Seq($"w".asc, $"id".asc), $"w", totalCol = "rt", numPartitions = 3)
      .select($"id", $"rt").as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("withGroupRunningTotal on empty input keeps schema and column order") {
    val empty = Seq.empty[(Long, String, Long)].toDF("id", "grp", "w")
    val got = Rank.withGroupRunningTotal(empty, Seq($"grp"), Seq($"w"), $"w",
      totalCol = "rt", numPartitions = 3)
    assert(got.columns.toSeq == Seq("id", "grp", "w", "rt"))
    assert(got.count() == 0)
  }

  test("withGroupRunningTotal refuses a non-integral value column") {
    val vals = Seq((1L, "a", 1.5), (2L, "a", 2.5)).toDF("id", "grp", "w")
    val e = intercept[IllegalArgumentException] {
      Rank.withGroupRunningTotal(vals, Seq($"grp"), Seq($"id"), $"w")
    }
    assert(e.getMessage.contains("integral"))
  }

  test("withRunningTotal refuses a non-integral value column") {
    val vals = Seq((1L, 1.5), (2L, 2.5)).toDF("id", "w")
    val e = intercept[IllegalArgumentException] {
      Rank.withRunningTotal(vals, Seq($"id"), $"w")
    }
    assert(e.getMessage.contains("integral"),
      s"expected the documented integral-contract error, got: ${e.getMessage}")
  }
}
