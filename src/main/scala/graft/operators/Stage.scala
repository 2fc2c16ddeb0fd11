package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Typed failure for an explicit `dims` argument that disagrees with the
  * data: a wrong width silently DEGRADES the vector family (truncated or
  * short-read sign dots mis-assign IVF cells, ADC subspaces misalign) with
  * no error at all — the quiet-recall trap every entry point now guards via
  * [[Stage.deriveDims]]. Carrying both figures lets a pipeline surface the
  * fix ("pass dims = sampled, or drop the argument") without string
  * parsing. */
final case class DimsMismatchException(explicitDims: Int, sampledDims: Int)
    extends IllegalArgumentException(
      s"explicit dims=$explicitDims disagrees with the data's vector width " +
        s"$sampledDims (first sampled row) — drop the dims argument to derive " +
        "it, or pass the true width")

/** Partitioning helpers shared by the corpus operators, and the one rule
  * that sizes every exchange whose width the engine derives itself.
  *
  * **Width** = `max(floor, min(cap, want))` ([[clamp]]):
  *  - floor: `spark.sql.shuffle.partitions`, so small inputs keep the
  *    session width;
  *  - cap: `spark.graft.maxExchangeParts` ([[maxExchangeParts]]);
  *  - want: the site's priced in-memory bytes ÷ a per-task target —
  *    [[SortBytesPerTask]] (48 MB of spill-capable sort state),
  *    [[StreamBytesPerTask]] (24 MB of shuffle-writer stream) or
  *    [[BuildBytesPerTask]] (16 MB of unspillable hash build). A site with
  *    its own measured target names it next to its reason.
  *
  * [[width]] applies the clamp with a frame's session floor and cap;
  * [[estimateWidth]] prices `want` from a Catalyst estimate × the site's
  * expansion. Each call site keeps only its pricing (rows × bytes/row, or
  * which estimate it reads) and the measurement behind it.
  *
  * **Gates** shared across operators:
  *  - [[BroadcastPlanBytes]] (256 MB): the [[attachSide]] broadcast
  *    threshold, and the small/large plan switch of the operators that key
  *    their shape on it;
  *  - [[ExplodeGateBytes]] (64 MB): the switch for plans whose explode
  *    multiplies a compressed estimate ~6–24× before the first exchange;
  *  - [[driverCollectGate]]: 2 GB capped at `spark.driver.maxResultSize`,
  *    for broadcasts whose collect passes through the driver — the gate
  *    of [[probeAttach]], the delta-search probe join. */
object Stage {

  /** Per-task target for spill-capable sort and aggregate state. */
  val SortBytesPerTask: Long = 48L << 20
  /** Per-task target for a stream through a shuffle writer's pages. */
  val StreamBytesPerTask: Long = 24L << 20
  /** Per-task target for an unspillable SHUFFLE_HASH build ([[sizedBuild]]). */
  val BuildBytesPerTask: Long = 16L << 20
  /** Broadcast-plan threshold on a Catalyst size estimate. */
  val BroadcastPlanBytes: Long = 256L << 20
  /** Large-shape threshold for plans that explode their input. */
  val ExplodeGateBytes: Long = 64L << 20
  /** Executor-fit want of a driver-collected broadcast ([[driverCollectGate]]). */
  val DriverCollectBytes: Long = 2L << 30

  /** The cap of the sizing rule — conf-tied (`spark.graft.maxExchangeParts`,
    * default 65536) rather than a literal, because the cap is CLUSTER
    * arithmetic: once a stage's priced volume exceeds cap × target the
    * per-task share grows past the target silently. 65536 is unreachable
    * headroom at the local protocol (48 MB × 65536 ≈ 3 TB of priced volume
    * per stage), but a true 100 TB deployment whose winner volume exceeds
    * that must RAISE the conf — this knob is how, without a rebuild. */
  def maxExchangeParts(df: DataFrame): Long =
    df.sparkSession.conf.get("spark.graft.maxExchangeParts", "65536").toLong

  /** The sizing rule itself: `want` capped at `cap`, floored at `floor`.
    * `want` is a BigInt so estimates past Long range price without
    * overflow. A `cap` past Int range saturates at `Int.MaxValue`. */
  def clamp(floor: Int, cap: Long, want: BigInt): Int =
    math.max(floor, want.min(BigInt(cap)).min(BigInt(Int.MaxValue)).toInt)

  /** [[clamp]] with `df`'s session floor and conf cap. */
  def width(df: DataFrame, want: BigInt): Int =
    clamp(df.sparkSession.sessionState.conf.numShufflePartitions,
      maxExchangeParts(df), want)

  /** [[width]] priced from Catalyst's no-action optimized-plan estimate of
    * `df`: estimate × `expand` (what the stats cannot see — in-memory
    * expansion of compressed bytes, an explode's row multiplication) ÷
    * `bytesPerTask`. A frame without real statistics ([[statsKnown]]
    * false: a `createDataFrame(rdd)` or streaming leaf) gets the session
    * floor — its estimate is the `defaultSizeInBytes` sentinel, which
    * would price the full cap (tens of thousands of empty tasks). */
  def estimateWidth(df: DataFrame, expand: BigDecimal, bytesPerTask: Long): Int =
    estimateWidth(df, df.queryExecution.optimizedPlan.stats.sizeInBytes,
      expand, bytesPerTask)

  /** [[estimateWidth]] from an estimate the caller already read — e.g. the
    * analyzed plan's, which also fed the caller's gate. */
  def estimateWidth(df: DataFrame, est: BigInt, expand: BigDecimal,
      bytesPerTask: Long): Int =
    if (!statsKnown(df)) df.sparkSession.sessionState.conf.numShufflePartitions
    else width(df, (BigDecimal(est) * expand / BigDecimal(bytesPerTask)).toBigInt)

  /** Broadcast gate for a build the driver collects: [[DriverCollectBytes]]
    * (what fits an executor), CAPPED at the session's
    * `spark.driver.maxResultSize` (0 = unlimited). A gate above the collect
    * ceiling would turn a completable SHUFFLE_HASH plan into a hard driver
    * abort on stock configs (maxResultSize defaults to 1 GB); below the
    * cap the caller falls back to its shuffled plan. Sessions that want
    * the broadcast path at 5M×64d scale must raise maxResultSize (the
    * bench sessions set 4 g). */
  def driverCollectGate(spark: SparkSession): Long =
    driverCollectGate(spark.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g"))

  /** [[driverCollectGate]] for a given `spark.driver.maxResultSize` in
    * bytes — the pure rule, since a running session's value is fixed. */
  def driverCollectGate(maxResultSize: Long): Long =
    if (maxResultSize <= 0) DriverCollectBytes
    else math.min(DriverCollectBytes, maxResultSize)

  /** The [[probeAttach]] route of a probe stream priced at `probeBytes`:
    * "broadcast_probes" while it fits `gate`, else "shuffled_probes". */
  def probeRoute(probeBytes: Long, gate: Long): String =
    if (probeBytes <= gate) "broadcast_probes" else "shuffled_probes"

  /** Attach a |delta|-sized probe stream to stored `members` on `keys` —
    * the delta-search join of both stored indexes. Under [[probeRoute]]'s
    * broadcast branch the probes broadcast (the gate is normally
    * [[driverCollectGate]]: the build is collected through the driver)
    * and the members stream scan-local through one BroadcastHashJoin, so
    * the stored side crosses no exchange. Past the gate both sides
    * exchange once on `keys` with the probes the SHUFFLE_HASH build, at
    * one width: the members' estimate at [[StreamBytesPerTask]] or the
    * probes at [[BuildBytesPerTask]], whichever wants more. `probeBytes`
    * is the caller's in-memory pricing of the probe stream. */
  def probeAttach(members: DataFrame, probes: DataFrame, keys: Seq[String],
      probeBytes: Long, gate: Long): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col}
    if (probeRoute(probeBytes, gate) == "broadcast_probes")
      members.join(broadcast(probes), keys)
    else {
      val memBytes = members.queryExecution.analyzed.stats.sizeInBytes
      val parts = width(members, (memBytes / StreamBytesPerTask)
        .max(BigInt(probeBytes) / BuildBytesPerTask))
      members.repartition(parts, keys.map(col): _*)
        .join(probes.repartition(parts, keys.map(col): _*).hint("SHUFFLE_HASH"),
          keys)
    }
  }

  /** Derive the vector width from one sampled row — the dims = 0 default
    * of every public vector entry point — and FAIL FAST (typed
    * [[DimsMismatchException]]) when an explicit dims disagrees with the
    * sample: a silent mismatch degrades recall instead of erroring (the
    * old `dims = 64` defaults mis-assigned cells for any other width).
    * One bounded LIMIT-1 job per call; null rows are skipped so a leading
    * null cannot mis-derive. Empty inputs return the explicit dims (any
    * value yields the same empty result) unless `requireNonEmpty`. */
  def deriveDims(df: DataFrame, vecCol: String, dims: Int,
      requireNonEmpty: Boolean = false): Int = {
    import org.apache.spark.sql.functions.col
    val sampled = df.select(col(vecCol)).filter(col(vecCol).isNotNull)
      .head(1) match {
      case Array(r) => r.getSeq[Any](0).size
      case _ => 0
    }
    if (sampled == 0) {
      if (requireNonEmpty)
        throw new IllegalArgumentException(
          "cannot derive dims from an empty input")
      if (dims > 0) dims else 64
    } else if (dims > 0) {
      if (dims != sampled) throw DimsMismatchException(dims, sampled)
      dims
    } else sampled
  }

  /** Widen a frame to the session's default parallelism ONLY when it arrives
    * narrower — e.g. a small parquet table read as a single split, which
    * would otherwise serialize a CPU-bound signature stage onto one core.
    *
    * When the input is already at least as wide as the core count — the
    * normal case at cluster scale, where a 100 TB table arrives as tens of
    * thousands of splits — this is the identity: no exchange is inserted and
    * the downstream stage stays scan-local. An unconditional `repartition()`
    * here would shuffle the full corpus payload before any work, and would
    * *reduce* parallelism whenever the input has more splits than cores.
    *
    * The arrival width is ESTIMATED from analyzed-plan stats by replaying
    * the file-source split geometry (`bytes / min(maxPartitionBytes,
    * max(openCostInBytes, bytes/parallelism))`) instead of asking the
    * frame's RDD: `.rdd.getNumPartitions` runs the whole optimizer +
    * physical planner + DAG build for a sub-plan the main query then plans
    * AGAIN — measured ~90 ms of driver latency per call (vs ~8 ms for the
    * stats read), paid once per operator invocation and visible across the
    * sf0.1 headline. The projection's width-scaled estimate can undercount
    * the scan bytes, which only errs toward widening — a small exchange on
    * a frame that was at worst mid-sized. */
  def ensureWide(df: DataFrame): DataFrame =
    ensureWideImpl(df, d => d.repartition(d.sparkSession.sparkContext.defaultParallelism))

  /** [[ensureWide]] with a HASH-keyed widening exchange instead of the
    * round-robin one. Two reasons to prefer it when a natural key exists:
    * keyless `repartition(n)` first pays a local determinism sort of its
    * input (`spark.sql.execution.sortBeforeRepartition`, guide §2.5 —
    * measured 2× on q01's 600k-row lineitem arrival), and when `keys` is
    * the downstream window/aggregate key the exchange doubles as that
    * operator's required distribution, so no second exchange is planned
    * and — because an explicit-count repartition is not AQE-coalescible —
    * the per-group CPU behind it cannot be squeezed onto 1–4 tasks by the
    * byte-blind coalescer (the q23 pair-exchange lesson). Identity on
    * already-wide arrivals, exactly like [[ensureWide]]: at cluster scale
    * the operator keeps its ENSURE_REQUIREMENTS exchange and every AQE
    * adaptivity. `keys` must spread — a low-cardinality key would skew the
    * widened stage. */
  def ensureWideBy(df: DataFrame, keys: Seq[String]): DataFrame =
    ensureWideImpl(df, d => d.repartition(
      d.sparkSession.sparkContext.defaultParallelism,
      keys.map(org.apache.spark.sql.functions.col): _*))

  private def ensureWideImpl(df: DataFrame, widen: DataFrame => DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val conf = df.sparkSession.sessionState.conf
    val target = sc.defaultParallelism
    val analyzed = df.queryExecution.analyzed
    // an explicit upstream repartition at or above the target is proof of
    // width no estimate can contradict — honor it without planning
    val declaredWide = analyzed.exists {
      case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation =>
        r.numPartitions >= target
      case _ => false
    }
    if (declaredWide) return df
    val bytes = analyzed.stats.sizeInBytes
    if (bytes >= BigInt(conf.defaultSizeInBytes)) {
      // Unknown stats: leaves without statistics (`createDataFrame(rdd)`,
      // streaming sources) default to spark.sql.defaultSizeInBytes
      // (Long.MaxValue), so the file-split geometry replay below says
      // nothing about their width — and its quotient would overflow Int.
      // Streaming plans cannot take the RDD round-trip at all (`df.rdd`
      // throws AnalysisException on a streaming Dataset); their micro-batch
      // width is the source's to decide, so pass them through unchanged.
      // Batch statless plans ask the RDD directly; the planner round-trip
      // is the honest price.
      if (df.isStreaming) return df
      return if (df.rdd.getNumPartitions < target) widen(df) else df
    }
    val maxSplit = BigDecimal(conf.filesMaxPartitionBytes)
      .min(BigDecimal(conf.filesOpenCostInBytes).max(BigDecimal(bytes) / target))
    val estParts =
      if (maxSplit <= 0) target
      else (BigDecimal(bytes) / maxSplit).setScale(0, BigDecimal.RoundingMode.CEILING)
        .min(BigDecimal(Int.MaxValue)).toInt
    if (estParts < target) widen(df) else df
  }

  /** Whether every leaf of `df`'s analyzed plan carries a REAL size estimate.
    *
    * The idiom this replaces — comparing the frame's own
    * `analyzed.stats.sizeInBytes` against `spark.sql.defaultSizeInBytes` —
    * is unsound for PROJECTIONS of statless leaves: the size-only visitor
    * scales the leaf's Long.MaxValue sentinel by the output/child row-width
    * ratio, so a Project that narrows a LogicalRDD (or widens its types)
    * reports a huge-but-below-sentinel figure and the comparison calls it
    * "known". Consumers then trust a fabricated byte count — measured
    * consequence in knnJoinIvf: probeParts saturated at the 65536 cap and
    * the whole cached base re-exchanged, the exact pathological plan the
    * statless guard exists to prevent. Checking the LEAVES is structural:
    * a file-backed leaf propagates real file bytes, a `createDataFrame(rdd)`
    * LogicalRDD or a streaming leaf reports exactly the sentinel, and no
    * projection arithmetic has run yet at the leaf. A `localCheckpoint`
    * leaf ([[Materialize.checkpoint]]) carries its origin plan's estimate,
    * so checkpointed frames keep their sizing. */
  def statsKnown(df: DataFrame): Boolean = {
    val sentinel = BigInt(df.sparkSession.sessionState.conf.defaultSizeInBytes)
    !df.queryExecution.analyzed.collectLeaves()
      .exists(_.stats.sizeInBytes >= sentinel)
  }

  /** Join-side strategy for attaching a payload table (signatures, vectors)
    * to a skinny candidate-pair stream: BROADCAST when Catalyst's size
    * estimate says the payload fits comfortably on an executor — the
    * candidate stream then never re-shuffles with payload attached, the
    * decisive term when pairs ≫ payload rows — otherwise SHUFFLE_HASH,
    * which still keeps payload-laden rows out of every sort (a sort-merge
    * join would sort the pair stream with a full vector attached per row;
    * measured as tens of GB of sort spill at 500k vectors).
    *
    * The shuffle path rides [[sizedBuild]]: an UnsafeHashedRelation does
    * not spill, and `spark.sql.shuffle.partitions` is a session constant,
    * so a payload that grows 10× eventually hands each of the session's
    * partitions a build bigger than its execution-memory share and the
    * join dies with "can't acquire memory to build hash relation"
    * (measured: minhash signatures at 5M docs under 32 session
    * partitions). Pre-partitioning the build side on the join key with a
    * size-derived count keeps every build bounded; EnsureRequirements
    * aligns the probe side to the same count instead of the session
    * default.
    *
    * The estimate is Catalyst's `optimizedPlan.stats.sizeInBytes` — no
    * action, propagated from file sizes — so a 100 TB embedding table
    * correctly falls back to the shuffle path. `key` is the payload's
    * join column (every attach in this codebase keys on the payload id). */
  def attachSide(df: DataFrame, maxBroadcastBytes: Long = BroadcastPlanBytes,
      key: String = "id"): DataFrame = {
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= maxBroadcastBytes) org.apache.spark.sql.functions.broadcast(df)
    else sizedBuild(df, Seq(key)).hint("SHUFFLE_HASH")
  }

  /** Pre-partition a SHUFFLE_HASH build side on its join keys so each
    * partition's hash relation stays inside a task's execution-memory
    * share at any payload size (hash relations cannot spill). Sized from
    * Catalyst's no-action size estimate with a 2× in-memory expansion at
    * [[BuildBytesPerTask]].
    *
    * 16 MB of estimated bytes per partition (not 32): the relation itself
    * expands the raw bytes ~2-3×, and 32 concurrent unspillable builds
    * must coexist with the probe stage's other consumers — at 50M titles
    * the 32 MB target's attach builds died with "can't acquire memory to
    * build hash relation" on the protocol 8 GB heap; 16 MB keeps the
    * resident build set near ~1 GB at full concurrency. */
  def sizedBuild(df: DataFrame, keys: Seq[String]): DataFrame =
    df.repartition(sizedBuildParts(df),
      keys.map(org.apache.spark.sql.functions.col): _*)

  /** The partition count [[sizedBuild]] would choose — exposed so a caller
    * can harmonize SEVERAL exchanges on one count: when probe and build
    * sides arrive hash-partitioned on the join key with different counts,
    * EnsureRequirements re-exchanges ONE side to the other's count, and if
    * the probe's (smaller) count wins, the build side's sizing is undone —
    * measured as a heap OOM building 94 MB hash relations at 5M docs.
    * Taking max(probe count, build count) for both sides keeps every
    * build bounded and costs the probe nothing. */
  def sizedBuildParts(df: DataFrame): Int =
    estimateWidth(df, 2, BuildBytesPerTask)
}
