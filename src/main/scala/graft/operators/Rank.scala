package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Exact global ranking and ntile without a single-partition sort.
  *
  * `Window.orderBy(...)` with no partition key collapses the whole input
  * onto one task — acceptable on a dimension table (q52), a scale-killer on
  * a fact table. The classic distributed-exact alternative implemented here:
  *
  *   1. `repartitionByRange` on the sort key — one range shuffle, the same
  *      exchange a global `orderBy` would plan;
  *   2. `sortWithinPartitions` — per-partition Tungsten sort, all
  *      partitions in parallel;
  *   3. a lightweight counting job over the sorted partitions (touches the
  *      shuffle output, returns one long per partition — the only
  *      driver-side state, O(numPartitions) not O(rows));
  *   4. global rank = broadcast per-partition offset + local row position,
  *      stamped in a single `mapPartitionsWithIndex` pass.
  *
  * The range shuffle is written once: the counting job materializes it and
  * the ranking job re-reads the same shuffle files (Spark marks the stage
  * as skipped), so total cost is one shuffle + one extra pass over sorted
  * rows — this is also exactly how `RDD.zipWithIndex` works internally.
  *
  * Rank is dense-free (`row_number` semantics): ties must be broken by the
  * caller's sort columns for a deterministic result, same contract as a
  * window `row_number`.
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
    * `sortCols`. Exact at any scale; one range shuffle. `numPartitions`
    * defaults to a size-derived count ([[sizedParts]]) so each sorted
    * partition fits in task memory at any input size. */
  def withGlobalRank(
      df: DataFrame,
      sortCols: Seq[Column],
      rankCol: String = "rank",
      numPartitions: Int = 0
  ): DataFrame = rankAndCount(df, sortCols, rankCol, numPartitions)._1

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
    val (ranked, total) = rankAndCount(df, sortCols, "__rank", numPartitions)
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
    * counterpart of [[withGlobalRank]].
    *
    * `Window.partitionBy(lang).orderBy(score)` plans one task per distinct
    * group: fine when groups are plentiful, a scale-killer when a 100 TB
    * corpus has five languages — each language's entire row set lands on a
    * single task. Here the data is range-partitioned on
    * (groupCols ++ sortCols), so a hot group SPANS as many partitions as
    * its volume needs, and ranks are stitched across the boundary:
    *
    *   1. one `repartitionByRange` + `sortWithinPartitions` on
    *      (group, sort) — groups are contiguous runs inside and across
    *      partitions;
    *   2. a counting job returns, per partition, ONLY its first/last group
    *      key and their row counts — interior groups are fully contained
    *      and need no cross-partition offset, so driver state is
    *      O(numPartitions), independent of group cardinality;
    *   3. a left-to-right scan over those boundary summaries accumulates
    *      each partition's starting offset for its first group (the only
    *      group that can continue from earlier partitions);
    *   4. ranks are stamped in one `mapPartitionsWithIndex` pass — local
    *      position within the current group, plus the broadcast offset if
    *      (and only if) the row belongs to the partition's first group.
    *
    * Ties follow the caller's sort columns (`row_number` contract: add a
    * unique tiebreaker for determinism). The range shuffle is written once
    * and re-read by the stamping job, exactly as in [[withGlobalRank]]. */
  def withGroupRank(
      df: DataFrame,
      groupCols: Seq[Column],
      sortCols: Seq[Column],
      rankCol: String = "rank",
      numPartitions: Int = 0
  ): DataFrame = {
    require(groupCols.nonEmpty, "grouped rank needs at least one group column")
    require(sortCols.nonEmpty, "grouped rank needs at least one sort column")
    val spark = df.sparkSession
    val parts = sizedParts(df, numPartitions)
    // The group key travels with the row as one struct column so the
    // row-level passes compare a single value instead of re-extracting
    // every group column (struct Rows compare by value).
    val keyed = df.withColumn("__gkey", struct(groupCols: _*))
    val all = col("__gkey") +: sortCols
    val ranged = keyed
      .repartitionByRange(parts, all: _*)
      .sortWithinPartitions(all: _*)
    val rdd = ranged.rdd
    val gIdx = ranged.schema.fieldIndex("__gkey")
    // Boundary summary per partition: (firstKey, lastKey, lastCount) — None
    // for empty partitions. Interior groups never cross a partition edge
    // under a range partitioning on the group prefix, and the stitch below
    // only ever reads the LAST group's count (a first group that continues
    // from an earlier partition takes its offset from the carried running
    // count, never from a local count), so that is all the protocol ships.
    val bounds: Array[Option[(Row, Row, Long)]] =
      spark.sparkContext.runJob(rdd, (it: Iterator[Row]) => {
        if (!it.hasNext) None
        else {
          val first = it.next()
          val firstKey = first.getStruct(gIdx)
          var curKey = firstKey
          var curCount = 1L
          while (it.hasNext) {
            val k = it.next().getStruct(gIdx)
            if (k == curKey) curCount += 1
            else { curKey = k; curCount = 1L }
          }
          Some((firstKey, curKey, curCount))
        }
      })
    // Left-to-right stitch: running (key, cumulative count) of the group
    // open at each partition edge → starting offset of each partition's
    // first group.
    val offsets = new Array[Long](bounds.length)
    var runKey: Row = null
    var runCum = 0L
    var i = 0
    while (i < bounds.length) {
      bounds(i) match {
        case Some((fk, lk, lc)) =>
          val off = if (runKey != null && runKey == fk) runCum else 0L
          offsets(i) = off
          runCum = lc + (if (fk == lk) off else 0L)
          runKey = lk
        case None => offsets(i) = 0L
      }
      i += 1
    }
    val bOffsets = spark.sparkContext.broadcast(offsets)
    val outSchema = keyed.schema.add(rankCol, LongType, nullable = false)
    val stamped = rdd.mapPartitionsWithIndex { (pid, it) =>
      var curKey: Row = null
      var r = 0L
      it.map { row =>
        val k = row.getStruct(gIdx)
        if (curKey == null) { curKey = k; r = bOffsets.value(pid) }
        else if (k != curKey) { curKey = k; r = 0L }
        r += 1
        Row.fromSeq(row.toSeq :+ r)
      }
    }
    spark.createDataFrame(stamped, outSchema).drop("__gkey")
  }

  /** Append an inclusive running total of `valueCol` over the global
    * `sortCols` order — the distributed prefix sum behind budgeted corpus
    * selection ("take the best documents until the token budget is spent"),
    * CDF computation, and quota cutoffs.
    *
    * `sum(v).over(Window.orderBy(...))` plans a single-task window; here the
    * plan is the [[withGlobalRank]] shape: one range shuffle + per-partition
    * sort, a per-partition SUM job (one long per partition back to the
    * driver), then a stamping pass that seeds each partition with the
    * broadcast prefix of the partitions before it.
    *
    * `valueCol` must be integral (it is accumulated as a long): long
    * arithmetic keeps the prefix sum exact and order-independent, so the
    * result replays bit-for-bit in an ANSI window oracle. A double version
    * would make every total depend on float summation order — that caveat,
    * not implementation effort, is why this operator refuses doubles.
    * NULL values count as 0, matching `sum`'s null-skipping.
    *
    * `rankCol`, when set, additionally stamps the global `row_number` in
    * the SAME pass — rank and prefix sum share the shuffle, the counting
    * job, and the stamp, so "coverage at rank k" style queries cost one
    * range shuffle total. */
  def withRunningTotal(
      df: DataFrame,
      sortCols: Seq[Column],
      valueCol: Column,
      totalCol: String = "running_total",
      numPartitions: Int = 0,
      rankCol: Option[String] = None
  ): DataFrame = {
    require(sortCols.nonEmpty, "running total needs at least one sort column")
    // enforce the documented contract instead of silently truncating: a
    // double column cast per-row to long would yield wrong totals with no
    // error, and float summation is order-dependent anyway
    val vType = df.select(valueCol).schema.head.dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, LongType).contains(vType),
      s"withRunningTotal requires an integral value column, got $vType — " +
        "cast explicitly (with the rounding you intend) if that is really wanted")
    val spark = df.sparkSession
    val parts = sizedParts(df, numPartitions)
    val keyed = df.withColumn("__rtv", valueCol.cast(LongType))
    val ranged = keyed
      .repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val rdd = ranged.rdd
    val vIdx = ranged.schema.fieldIndex("__rtv")
    val sumCounts: Array[(Long, Long)] = spark.sparkContext.runJob(rdd,
      (it: Iterator[Row]) => {
        var s = 0L
        var n = 0L
        while (it.hasNext) {
          val r = it.next()
          if (!r.isNullAt(vIdx)) s += r.getLong(vIdx)
          n += 1
        }
        (s, n)
      })
    val offsets = sumCounts.map(_._1).scanLeft(0L)(_ + _)
    val rankOffsets = sumCounts.map(_._2).scanLeft(0L)(_ + _)
    val bOffsets = spark.sparkContext.broadcast((offsets, rankOffsets))
    val wantRank = rankCol.isDefined
    val stamped = rdd.mapPartitionsWithIndex { (pid, it) =>
      var s = bOffsets.value._1(pid)
      var rk = bOffsets.value._2(pid)
      it.map { row =>
        if (!row.isNullAt(vIdx)) s += row.getLong(vIdx)
        rk += 1
        if (wantRank) Row.fromSeq(row.toSeq :+ s :+ rk)
        else Row.fromSeq(row.toSeq :+ s)
      }
    }
    val schema0 = keyed.schema.add(totalCol, LongType, nullable = false)
    val schema =
      rankCol.fold(schema0)(rc => schema0.add(rc, LongType, nullable = false))
    spark.createDataFrame(stamped, schema).drop("__rtv")
  }

  /** Per-group inclusive running total of `valueCol` over each group's
    * `sortCols` order — the grouped distributed prefix sum behind
    * per-domain/per-language budget selection ("each source spends its
    * token budget on its best documents").
    *
    * `sum(v).over(Window.partitionBy(g).orderBy(...))` puts each group on
    * ONE task — and the budget keys (web domains, languages) are exactly
    * the keys with million-fold skew at corpus scale. This runs the
    * [[withGroupRank]] shape instead: one range shuffle on
    * (group, sortCols), a per-partition boundary job that ships
    * (firstKey, lastKey, lastSum, lastCount) — interior groups never cross
    * a partition edge under range partitioning on the group prefix, so the
    * stitch only ever needs the LAST group's running sum/count carried
    * left-to-right — then one stamping pass seeded with the broadcast
    * offsets. O(parts) driver state, no per-group anything.
    *
    * Same integral-only contract as [[withRunningTotal]] (long
    * accumulation is exact and order-independent, so results replay
    * bit-for-bit in an ANSI window oracle); NULL values count as 0.
    * `rankCol`, when set, stamps the per-group `row_number` in the same
    * pass — budget total and rank share one shuffle. */
  def withGroupRunningTotal(
      df: DataFrame,
      groupCols: Seq[Column],
      sortCols: Seq[Column],
      valueCol: Column,
      totalCol: String = "running_total",
      numPartitions: Int = 0,
      rankCol: Option[String] = None
  ): DataFrame = {
    require(groupCols.nonEmpty, "grouped running total needs at least one group column")
    require(sortCols.nonEmpty, "grouped running total needs at least one sort column")
    val vType = df.select(valueCol).schema.head.dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType, LongType).contains(vType),
      s"withGroupRunningTotal requires an integral value column, got $vType — " +
        "cast explicitly (with the rounding you intend) if that is really wanted")
    val spark = df.sparkSession
    val parts = sizedParts(df, numPartitions)
    val keyed = df.withColumn("__gkey", struct(groupCols: _*))
      .withColumn("__rtv", valueCol.cast(LongType))
    val all = col("__gkey") +: sortCols
    val ranged = keyed
      .repartitionByRange(parts, all: _*)
      .sortWithinPartitions(all: _*)
    val rdd = ranged.rdd
    val gIdx = ranged.schema.fieldIndex("__gkey")
    val vIdx = ranged.schema.fieldIndex("__rtv")
    val bounds: Array[Option[(Row, Row, Long, Long)]] =
      spark.sparkContext.runJob(rdd, (it: Iterator[Row]) => {
        if (!it.hasNext) None
        else {
          val first = it.next()
          val firstKey = first.getStruct(gIdx)
          var curKey = firstKey
          var curSum = if (first.isNullAt(vIdx)) 0L else first.getLong(vIdx)
          var curCount = 1L
          while (it.hasNext) {
            val r = it.next()
            val k = r.getStruct(gIdx)
            val v = if (r.isNullAt(vIdx)) 0L else r.getLong(vIdx)
            if (k == curKey) { curSum += v; curCount += 1 }
            else { curKey = k; curSum = v; curCount = 1L }
          }
          Some((firstKey, curKey, curSum, curCount))
        }
      })
    val sumOffsets = new Array[Long](bounds.length)
    val cntOffsets = new Array[Long](bounds.length)
    var runKey: Row = null
    var runSum = 0L
    var runCnt = 0L
    var i = 0
    while (i < bounds.length) {
      bounds(i) match {
        case Some((fk, lk, ls, lc)) =>
          val sOff = if (runKey != null && runKey == fk) runSum else 0L
          val cOff = if (runKey != null && runKey == fk) runCnt else 0L
          sumOffsets(i) = sOff
          cntOffsets(i) = cOff
          runSum = ls + (if (fk == lk) sOff else 0L)
          runCnt = lc + (if (fk == lk) cOff else 0L)
          runKey = lk
        case None => // empty partition: carry the open group through
      }
      i += 1
    }
    val bOffsets = spark.sparkContext.broadcast((sumOffsets, cntOffsets))
    val wantRank = rankCol.isDefined
    val stamped = rdd.mapPartitionsWithIndex { (pid, it) =>
      var curKey: Row = null
      var s = 0L
      var rk = 0L
      it.map { row =>
        val k = row.getStruct(gIdx)
        if (curKey == null) {
          curKey = k; s = bOffsets.value._1(pid); rk = bOffsets.value._2(pid)
        } else if (k != curKey) { curKey = k; s = 0L; rk = 0L }
        if (!row.isNullAt(vIdx)) s += row.getLong(vIdx)
        rk += 1
        if (wantRank) Row.fromSeq(row.toSeq :+ s :+ rk)
        else Row.fromSeq(row.toSeq :+ s)
      }
    }
    val schema0 = keyed.schema.add(totalCol, LongType, nullable = false)
    val schema =
      rankCol.fold(schema0)(rc => schema0.add(rc, LongType, nullable = false))
    spark.createDataFrame(stamped, schema).drop("__gkey").drop("__rtv")
  }

  private def rankAndCount(
      df: DataFrame,
      sortCols: Seq[Column],
      rankCol: String,
      numPartitions: Int
  ): (DataFrame, Long) = {
    require(sortCols.nonEmpty, "global rank needs at least one sort column")
    val spark = df.sparkSession
    val parts = sizedParts(df, numPartitions)
    val ranged = df
      .repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val rdd = ranged.rdd
    val counts: Array[Long] = spark.sparkContext.runJob(rdd,
      (it: Iterator[Row]) => {
        var n = 0L
        while (it.hasNext) { it.next(); n += 1 }
        n
      })
    val offsets = counts.scanLeft(0L)(_ + _)
    val total = offsets.last
    val bOffsets = spark.sparkContext.broadcast(offsets)
    val stamped = rdd.mapPartitionsWithIndex { (pid, it) =>
      var r = bOffsets.value(pid)
      it.map { row => r += 1; Row.fromSeq(row.toSeq :+ r) }
    }
    (spark.createDataFrame(stamped, df.schema.add(rankCol, LongType, nullable = false)),
      total)
  }
}
