package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Exact global and per-group ranking, ntile and integral prefix sums
  * without a single-partition window.
  *
  * `Window.orderBy(...)` with no partition key collapses the whole input
  * onto one task — acceptable on a dimension table (q52), a scale-killer on
  * a fact table. `Window.partitionBy(g)` plans one task per group, and the
  * keys that matter at corpus scale (languages, sources, web domains) carry
  * million-fold skew. Every operator here runs one protocol instead, in
  * [[stitch]]:
  *
  *   1. one `repartitionByRange` + `sortWithinPartitions` on
  *      (group key ++ sort columns), the same exchange a global `orderBy`
  *      would plan. Groups are contiguous runs inside and across
  *      partitions, and a hot group spans as many partitions as its volume
  *      needs;
  *   2. one boundary job returns, per partition, (first key, last key, last
  *      group's sum, last group's count). Interior groups never cross a
  *      partition edge under a range partitioning on the group prefix, so
  *      driver state is O(numPartitions), independent of group cardinality;
  *   3. one left-to-right stitch over those summaries: the group open at a
  *      partition edge seeds the next non-empty partition's first group
  *      when the keys match, and an empty partition carries it through;
  *   4. one `mapPartitionsWithIndex` stamp: position (and running sum)
  *      within the current group, plus the broadcast seed if (and only if)
  *      the row belongs to the partition's first group.
  *
  * The global forms are the case with one open group: they add no group
  * key column, and every partition's first group continues the running
  * one, so the seeds are plain prefix sums over the partitions.
  *
  * The range shuffle is written once: the boundary job materializes it and
  * the stamp re-reads the same shuffle files (Spark marks the stage as
  * skipped), so total cost is one shuffle + one extra pass over sorted
  * rows — this is also exactly how `RDD.zipWithIndex` works internally.
  *
  * Ranks have `row_number` semantics: ties must be broken by the caller's
  * sort columns for a deterministic result, same contract as a window
  * `row_number`. Running totals accumulate an integral value column as a
  * long: long arithmetic keeps the prefix sum exact and order-independent,
  * so results replay bit-for-bit in an ANSI window oracle. A double
  * version would make every total depend on float summation order — that
  * caveat, not implementation effort, is why the sums refuse doubles. NULL
  * values count as 0, matching `sum`'s null-skipping.
  */
object Rank {

  /** Partition count for the range exchange: the explicit override wins;
    * otherwise [[Stage.estimateWidth]] with a ×2 in-memory expansion at
    * ~48 MB of sort state per task. The session default alone is a
    * constant while inputs grow — at 5M full-text documents the 32-way
    * range sort measured 4–5 GB of spill per rank call; size-derived
    * counts keep per-task sort state flat at any corpus size. */
  private def sizedParts(df: DataFrame, numPartitions: Int): Int =
    if (numPartitions > 0) numPartitions
    else Stage.estimateWidth(df, 2, Stage.SortBytesPerTask)

  /** Append a 1-based global `row_number`-style rank column ordered by
    * `sortCols`. Exact at any scale; one range shuffle ([[Rank]]).
    * `numPartitions` defaults to a size-derived count ([[sizedParts]]) so
    * each sorted partition fits in task memory at any input size. */
  def withGlobalRank(
      df: DataFrame,
      sortCols: Seq[Column],
      rankCol: String = "rank",
      numPartitions: Int = 0
  ): DataFrame =
    stitch("withGlobalRank", df, None, sortCols, None, Some(rankCol), numPartitions)._1

  /** Exact NTILE(n) over a global order, scale-safe. Output = input columns
    * plus `tileCol` (1..n), with standard SQL NTILE semantics: with N rows,
    * the first N mod n tiles hold ceil(N/n) rows, the rest floor(N/n). */
  def exactNtile(
      df: DataFrame,
      sortCols: Seq[Column],
      n: Int,
      tileCol: String = "tile",
      numPartitions: Int = 0
  ): DataFrame = {
    require(n > 0, "ntile bucket count must be positive")
    val (ranked, total) =
      stitch("exactNtile", df, None, sortCols, None, Some("__rank"), numPartitions)
    val q = total / n
    val r = total % n
    // rank <= r*(q+1) → one of the r big tiles, else one of the small ones.
    // `div` (integral divide) keeps the whole computation in longs; the
    // small-tile branch guards q=0 (N < n: every row lands in a big tile).
    val bigSpan = lit(r * (q + 1))
    val tile = when(col("__rank") <= bigSpan,
        expr(s"(__rank - 1) div ${q + 1}") + 1L)
      .otherwise(lit(r) + expr(s"(__rank - 1 - ${r * (q + 1)}) div ${math.max(q, 1L)}") + 1L)
    ranked.withColumn(tileCol, tile.cast("long")).drop("__rank")
  }

  /** Append a 1-based per-group `row_number`-style rank ordered by
    * `sortCols` within each `groupCols` key — the window-free grouped
    * counterpart of [[withGlobalRank]]. A hot group spans as many range
    * partitions as its volume needs and its ranks are stitched across the
    * boundaries ([[Rank]]), so five languages over a 100 TB corpus do not
    * become five tasks.
    *
    * Ties follow the caller's sort columns (`row_number` contract: add a
    * unique tiebreaker for determinism). */
  def withGroupRank(
      df: DataFrame,
      groupCols: Seq[Column],
      sortCols: Seq[Column],
      rankCol: String = "rank",
      numPartitions: Int = 0
  ): DataFrame =
    stitch("withGroupRank", df, Some(groupCols), sortCols, None, Some(rankCol),
      numPartitions)._1

  /** Append an inclusive running total of `valueCol` over the global
    * `sortCols` order — the distributed prefix sum behind budgeted corpus
    * selection ("take the best documents until the token budget is spent"),
    * CDF computation, and quota cutoffs. `sum(v).over(Window.orderBy(...))`
    * plans a single-task window; this is one range shuffle ([[Rank]]).
    *
    * `valueCol` must be integral (it is accumulated as a long, see
    * [[Rank]]); NULL values count as 0. `rankCol`, when set, additionally
    * stamps the global `row_number` in the SAME pass, so "coverage at
    * rank k" style queries cost one range shuffle total. */
  def withRunningTotal(
      df: DataFrame,
      sortCols: Seq[Column],
      valueCol: Column,
      totalCol: String = "running_total",
      numPartitions: Int = 0,
      rankCol: Option[String] = None
  ): DataFrame =
    stitch("withRunningTotal", df, None, sortCols, Some(valueCol -> totalCol), rankCol,
      numPartitions)._1

  /** Per-group inclusive running total of `valueCol` over each group's
    * `sortCols` order — the grouped distributed prefix sum behind
    * per-domain/per-language budget selection ("each source spends its
    * token budget on its best documents").
    * `sum(v).over(Window.partitionBy(g).orderBy(...))` puts each group on
    * ONE task, and the budget keys are exactly the keys with million-fold
    * skew at corpus scale; this is one range shuffle on (group, sortCols)
    * with O(parts) driver state ([[Rank]]).
    *
    * Same integral-only contract as [[withRunningTotal]]; NULL values
    * count as 0. `rankCol`, when set, stamps the per-group `row_number` in
    * the same pass — budget total and rank share one shuffle. */
  def withGroupRunningTotal(
      df: DataFrame,
      groupCols: Seq[Column],
      sortCols: Seq[Column],
      valueCol: Column,
      totalCol: String = "running_total",
      numPartitions: Int = 0,
      rankCol: Option[String] = None
  ): DataFrame =
    stitch("withGroupRunningTotal", df, Some(groupCols), sortCols,
      Some(valueCol -> totalCol), rankCol, numPartitions)._1

  /** The one protocol of [[Rank]]. `df` plus, in order, `runningTotal`'s
    * column (the inclusive sum of its integral value column) and `rankCol`,
    * both non-null longs; `groupCols = None` is the one-open-group global
    * form. Also returns the row count of the last group, which for the
    * global forms is the row total. `op` names the caller in errors. */
  private def stitch(
      op: String,
      df: DataFrame,
      groupCols: Option[Seq[Column]],
      sortCols: Seq[Column],
      runningTotal: Option[(Column, String)],
      rankCol: Option[String],
      numPartitions: Int
  ): (DataFrame, Long) = {
    groupCols.foreach(g => require(g.nonEmpty, s"$op needs at least one group column"))
    require(sortCols.nonEmpty, s"$op needs at least one sort column")
    // enforce the integral contract instead of silently truncating: a
    // double column cast per-row to long would yield wrong totals with no
    // error, and float summation is order-dependent anyway
    runningTotal.foreach { case (v, _) =>
      val vType = df.select(v).schema.head.dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(vType),
        s"$op requires an integral value column, got $vType — " +
          "cast explicitly (with the rounding you intend) if that is really wanted")
    }
    val spark = df.sparkSession
    val parts = sizedParts(df, numPartitions)
    // The group key travels with the row as one struct column so the
    // row-level passes compare a single value instead of re-extracting
    // every group column (struct Rows compare by value).
    val helpers = groupCols.map(g => "__gkey" -> struct(g: _*)).toSeq ++
      runningTotal.map { case (v, _) => "__rtv" -> v.cast(LongType) }
    val keyed = helpers.foldLeft(df) { case (d, (name, c)) => d.withColumn(name, c) }
    val keys = groupCols.map(_ => col("__gkey")).toSeq ++ sortCols
    val rdd = keyed
      .repartitionByRange(parts, keys: _*)
      .sortWithinPartitions(keys: _*)
      .rdd
    // One open group (key null) when there are no group columns.
    val keyOf: Row => Row = groupCols match {
      case None => _ => null
      case Some(_) =>
        val gIdx = keyed.schema.fieldIndex("__gkey")
        _.getStruct(gIdx)
    }
    val valueOf: Row => Long = runningTotal match {
      case None => _ => 0L
      case Some(_) =>
        val vIdx = keyed.schema.fieldIndex("__rtv")
        r => if (r.isNullAt(vIdx)) 0L else r.getLong(vIdx)
    }
    val bounds: Array[Option[(Row, Row, Long, Long)]] =
      spark.sparkContext.runJob(rdd, (it: Iterator[Row]) =>
        if (!it.hasNext) None
        else {
          val first = it.next()
          val firstKey = keyOf(first)
          var key = firstKey
          var sum = valueOf(first)
          var count = 1L
          while (it.hasNext) {
            val r = it.next()
            val k = keyOf(r)
            val v = valueOf(r)
            if (k == key) { sum += v; count += 1 }
            else { key = k; sum = v; count = 1L }
          }
          Some((firstKey, key, sum, count))
        })
    val sumSeeds = new Array[Long](bounds.length)
    val countSeeds = new Array[Long](bounds.length)
    var open: Option[(Row, Long, Long)] = None // (key, sum, count) at the edge
    for (i <- bounds.indices; (fk, lk, ls, lc) <- bounds(i)) {
      open.filter(_._1 == fk).foreach { case (_, s, c) => sumSeeds(i) = s; countSeeds(i) = c }
      val whole = fk == lk // the last group is the first: it carries the seed on
      open = Some((lk, ls + (if (whole) sumSeeds(i) else 0L),
        lc + (if (whole) countSeeds(i) else 0L)))
    }
    val seeds = spark.sparkContext.broadcast((sumSeeds, countSeeds))
    val wantSum = runningTotal.isDefined
    val wantRank = rankCol.isDefined
    val stamped = rdd.mapPartitionsWithIndex { (pid, it) =>
      var first = true
      var key: Row = null
      var sum = 0L
      var rank = 0L
      it.map { row =>
        val k = keyOf(row)
        if (first) {
          first = false; key = k; sum = seeds.value._1(pid); rank = seeds.value._2(pid)
        } else if (k != key) { key = k; sum = 0L; rank = 0L }
        sum += valueOf(row)
        rank += 1
        val base = row.toSeq
        Row.fromSeq(
          if (!wantSum) base :+ rank else if (wantRank) base :+ sum :+ rank else base :+ sum)
      }
    }
    val schema = (runningTotal.map(_._2) ++ rankCol)
      .foldLeft(keyed.schema)(_.add(_, LongType, nullable = false))
    val out = spark.createDataFrame(stamped, schema)
    (helpers.foldLeft(out) { case (d, (name, _)) => d.drop(name) }, open.fold(0L)(_._3))
  }
}
