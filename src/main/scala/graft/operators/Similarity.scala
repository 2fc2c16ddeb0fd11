package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.HashExpressions

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Vector math and LSH bucket assignment are native codegen'd Catalyst
  * expressions ([[graft.functions.VectorExpressions]],
  * [[graft.functions.HashExpressions.HyperplaneBuckets]]) — scan-local, no
  * UDFs, no interpreted higher-order functions. Two search paths:
  *
  *  - [[cosineTopK]]: brute-force exact top-k — the correctness baseline;
  *    one scan plus a tiny top-k reduce (TakeOrderedAndProject), fine when
  *    the corpus fits a scan budget.
  *  - [[annTopK]]: random-hyperplane LSH buckets; the query probes only its
  *    own buckets across `tables` independent hash tables. At 100 TB the
  *    bucket column is a partition/cluster key, so a query touches a few
  *    buckets instead of the full corpus. Hyperplane components are derived
  *    from xxhash64 — deterministic, no stored model needed.
  */
object Similarity {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The raised broadcast gate the vector attaches use
    * ([[Stage.driverCollectGate]]: the broadcast collect passes the vector
    * table through the driver). Below the 2 GB want the attach falls back
    * to SHUFFLE_HASH with a log note instead of failing. */
  private def vectorBroadcastGate(df: DataFrame): Long = {
    val gate = Stage.driverCollectGate(df.sparkSession)
    if (gate < Stage.DriverCollectBytes)
      log.info(s"vector broadcast gate capped at spark.driver.maxResultSize=" +
        s"$gate bytes (raise it to 2g+ to keep large vector attaches broadcast)")
    gate
  }

  /** Hyperplane count sized so LSH bucket occupancy stays O(1): with
    * `planes = ceil(log2(n))` there are ≥ n buckets per table, so expected
    * candidates per probe row stay constant as the corpus grows — the knob
    * that keeps [[knnJoin]]/LSH candidate generation O(n), not O(n²/2^p).
    * (Measured failure mode of a fixed plane count: at 500k vectors with
    * planes=16, occupancy 7.6 made the candidate join spill past local
    * disk; planes=19 puts occupancy back under 1.) Clamped to [4, 30]. */
  def planesFor(n: Long): Int = {
    val p = math.ceil(math.log(math.max(2, n).toDouble) / math.log(2.0)).toInt
    math.min(30, math.max(4, p))
  }

  /** Dot product of two same-typed float/double array columns, accumulated
    * in double — a native codegen'd expression. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorExpressions.dot_product(a, b)

  /** L2 norm (native codegen'd expression). */
  def l2norm(v: Column): Column = graft.functions.VectorExpressions.l2_norm(v)

  /** Cosine similarity (0 for zero-norm vectors). */
  def cosine(a: Column, b: Column): Column = graft.functions.VectorExpressions.cosine_sim(a, b)

  /** All `tables` LSH bucket ids for a vector, as one native array pass.
    * Bucket `t` is the `planes`-bit sign pattern of projections onto
    * deterministic xxhash64-derived hyperplanes. */
  def hyperplaneBuckets(v: Column, planes: Int, tables: Int): Column =
    HashExpressions.hyperplane_buckets(v, planes, tables)

  /** Exact brute-force cosine top-k against a literal query vector.
    * Returns (id, cosine) ordered by similarity desc, id asc tie-break.
    *
    * Staged (project → dot/norm → score) so each array pass runs once per
    * row, widened only if the corpus arrives narrow; the top-k itself is a
    * TakeOrderedAndProject (per-partition heaps, no global sort). */
  def cosineTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int
  ): DataFrame = {
    val qn = math.sqrt(query.map(x => x.toDouble * x.toDouble).sum)
    val q = array(query.map(lit(_)): _*) // float literal array — no cast of the scan column
    Stage.ensureWide(df.select(col(idCol).as("id"), col(vecCol).as("v")))
      .select(col("id"), dot(col("v"), q).as("dp"), l2norm(col("v")).as("nv"))
      .select(col("id"),
        when(col("nv") === 0, lit(0.0))
          .otherwise(round(col("dp") / (col("nv") * lit(qn)), 6)).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** Batch k-NN join: for every row of `df`, its `k` nearest other rows by
    * cosine, candidates restricted to shared LSH buckets (multi-probe on the
    * left side via 1-bit flips). The join shuffles on (table, bucket) — the
    * same O(candidates) shape as the dedup LSH joins, never O(N²) — and the
    * per-left top-k is a window rank over the candidate set (the bounded-
    * heap aggregate alternative measured SLOWER at every corpus scale —
    * see docs/REJECTED.md).
    *
    * Exchange-slimmed like [[graft.operators.Dedup.minhashLsh]]: the bucket
    * join ships (id, table, bucket) only — shipping vectors would multiply
    * the exchange payload by tables × (planes+1) probe rows on the left
    * side alone. Both vectors attach via two id-keyed joins over the one
    * canonical (id, v, norm) frame (canonically identical exchanges →
    * ReusedExchange).
    *
    * Cross-table/probe duplicate pairs are NOT removed by a global
    * `distinct()`: with `planes ≈ log2(n)` the measured duplicate rate is
    * ~0.5% (87.24M → 86.75M pairs at 500k×64d), yet the distinct cost two
    * full hash aggregates with ~14 GB of spill and an extra 87M-row
    * exchange — the dominant cost of the whole operator. Instead duplicates
    * die inside the top-k sort itself: cosine is a deterministic function of
    * the pair, so duplicates carry identical (cosine, id_b) sort keys and
    * land ADJACENT in the rank ordering — a `lag(id_b)` equality filter over
    * the same window removes them for free, and `row_number` reuses the very
    * same exchange+sort (Catalyst collapses the second Window's sort because
    * the filter preserves child ordering). Net: ONE skinny exchange after
    * candidate generation instead of two, and zero aggregate spill. Measured
    * at 500k×64d/planes=19: 25.4 GB total spill → under 10 GB, identical
    * output (docs/corpusbench_local32.jsonl knn_join rows). At 5M×64d
    * (planes=23, 1.83B candidates) the operator completes in 255 s with
    * 21.9 GB of shuffle on a single 32-core host — see the
    * [[scoredCandidates]] in-body comments for the two decisions that make
    * that possible (broadcast vector attach, sized id_a exchange) and the
    * driver-memory note.
    *
    * Operational notes for large corpora: (1) the vector broadcast collects
    * through the driver, so sessions above ~1 GB of vectors should raise
    * `spark.driver.maxResultSize` (≥ the vector-table size) — otherwise the
    * gate self-caps and the attach degrades to SHUFFLE_HASH; (2) above the
    * 256 MB estimate threshold the skinny bucket index is
    * [[Materialize.cached]] — [[Materialize.release]] of the returned frame
    * frees it; (3) past ~4M×64d per executor the broadcast attach is
    * the operator's measured ceiling — use [[knnJoinIvf]], whose pair
    * stage ships PQ codes and never re-exchanges vectors. The handoff is
    * measured, not asserted: at 5M×64d this path needs a 2× protocol heap
    * and spills 54 GB, while knnJoinIvf completes at the default heap with
    * zero spill (133 s, docs/corpusbench_local32.jsonl knn_join vs
    * knn_join_ivf rows) at 97.6% planted recall, dialing to 99.997% via
    * `cellsPerSuper` at proportional cost.
    *
    * Returns (id_a, id_b, cosine, rank) with rank 1..k per id_a. */
  def knnJoin(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      planes: Int = 6,
      tables: Int = 8
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = scoredCandidates(df, idCol, vecCol, planes, tables)
    val w = Window.partitionBy(col("id_a")).orderBy(col("cosine").desc, col("id_b").asc)
    scored
      .withColumn("dup", coalesce(lag(col("id_b"), 1).over(w) === col("id_b"), lit(false)))
      .filter(!col("dup")).drop("dup")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** The candidate pipeline of [[knnJoin]]: LSH buckets → skinny
    * multi-probe bucket join → vector attach → exact cosine per pair.
    * Cross-table/probe duplicate pairs are NOT removed here; [[knnJoin]]
    * drops them inside its rank sort (see there for the measured
    * rationale), so a consumer that aggregates this stream directly must
    * `distinct()` it first. */
  private[graft] def scoredCandidates(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      planes: Int,
      tables: Int
  ): DataFrame = {
    val base = Stage.ensureWide(df.select(col(idCol).as("id"), col(vecCol).as("v")))
      .withColumn("norm", l2norm(col("v")))
      .filter(col("norm") > 0)
    // Small/large shape switch on the one estimate the whole operator
    // already keys attach strategy on (Stage.attachSide's broadcast
    // threshold). Large corpora persist the skinny (id, table, bucket)
    // index: the main plan reads it twice (probe side + build side — the
    // two subplans are not canonically identical, so there is no
    // ReusedExchange to lean on, and without the cache the vector-hashing
    // scan runs twice), and the candidate-volume job below makes a third
    // pass. Same laziness caveat as Dedup.minhashLsh — above the
    // threshold, CONSTRUCTING this frame runs one eager job. The estimate
    // reads the ANALYZED plan: the size-only stats visitor propagates the
    // same file-size figures either way, but `optimizedPlan` would run the
    // whole optimizer batch list per call — pure driver latency on top of
    // the main query's own optimization, visible at sf0.1 scale.
    val baseEst = base.queryExecution.analyzed.stats.sizeInBytes
    val largeCorpus = baseEst > Stage.BroadcastPlanBytes
    val rawBuckets = base.select(col("id"),
      posexplode(hyperplaneBuckets(col("v"), planes, tables)))
      .withColumnRenamed("pos", "table").withColumnRenamed("col", "bucket")
    val buckets =
      if (largeCorpus) Materialize.cached(rawBuckets)
      else rawBuckets
    // multi-probe only the query (left) side: exact bucket + 1-bit flips
    val probed = buckets.select(col("id"), col("table"),
      explode(array(col("bucket") +:
        (0 until planes).map(p => col("bucket").bitwiseXOR(lit(1L << p))): _*)).as("bucket"))
    // SHUFFLE_HASH on the bucket side: the build side is the unexploded
    // (id, table, bucket) index (n·tables rows); the 20×-larger probe stream
    // streams through unsorted — a sort-merge join here sorted 40M probe
    // rows (2.7 GB task peak) for no benefit at 500k×64d.
    val candidates = probed.select(col("table"), col("bucket"), col("id").as("id_a"))
      .join(buckets.select(col("table"), col("bucket"), col("id").as("id_b"))
          .hint("SHUFFLE_HASH"),
        Seq("table", "bucket"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))
    // Attach strategy: broadcast, with a RAISED gate (2 GB vs
    // Stage.attachSide's 256 MB default). For an exact-cosine k-NN join
    // the attach choice is not a tuning knob but the operator's scale
    // boundary: candidates ≈ n · tables · probes · occupancy, so a
    // SHUFFLE_HASH attach re-exchanges the pair stream with a vector
    // payload after the first join — ~250 GB at 5M × 64d (870M candidate
    // rows × ~290 B), which overran the measurement host's disk outright —
    // while the vector table itself is 1.4 GB. Broadcasting the vectors is
    // the only attach whose exchange volume does NOT scale with candidate
    // volume; the gate (what fits an executor, 64d floats ≈ 1 GB per 4M
    // vectors) is exactly the boundary where the coarse-quantized family
    // ([[graft.operators.Ivf]], [[graft.operators.Pq]] — candidates
    // restricted per cell, or 8–16 B codes instead of full vectors on the
    // pair stream) is the documented 100 TB path. Sessions must size
    // `spark.driver.maxResultSize` for the broadcast collect (the vector
    // table passes through the driver — 1.8 GB at 5M × 64d); on stock
    // configs the gate self-caps at maxResultSize and falls back to
    // SHUFFLE_HASH rather than aborting the collect (see
    // [[vectorBroadcastGate]]).
    val attach = Stage.attachSide(base, maxBroadcastBytes = vectorBroadcastGate(base))
    val scored = candidates
      .join(attach.as("ba"), col("id_a") === col("ba.id"))
      .join(attach.as("bb"), col("id_b") === col("bb.id"))
      .select(col("id_a"), col("id_b"),
        round(dot(col("ba.v"), col("bb.v")) / (col("ba.norm") * col("bb.norm")), 6)
          .as("cosine"))
    if (!largeCorpus) scored
    else {
      // Size the id_a exchange [[knnJoin]]'s rank window needs next (it
      // requires ClusteredDistribution(id_a), which this hash partitioning
      // satisfies, so NO further exchange is inserted: same exchange
      // count as before, just a derived partition count instead of the
      // session constant). The constant was the 5M×64d disaster: ~10×
      // the 500k candidate volume through 32 rank-sort partitions built
      // multi-pass external sorts that overran the measurement host's
      // disk outright. The exact pre-join candidate volume
      // Σ_{table,bucket} df_probe · df_build prices the exchange — the
      // same eager-volume discipline as Dedup.minhashLsh, two skinny
      // aggregates over the CACHED bucket index (the probe side's
      // per-bucket df is the build side's × (planes+1) probes, so one
      // aggregate serves both).
      val dfb = buckets.groupBy(col("table"), col("bucket"))
        .agg(count(lit(1)).as("n"))
      val volume = dfb
        .agg(coalesce(sum(col("n") * col("n")), lit(0L)).cast("double"))
        .head().getDouble(0) * (planes + 1)
      // ~80 B of sort state per (id_a, id_b, cosine) row, ~48 MB per task
      val parts = Stage.width(df, (volume * 80 / Stage.SortBytesPerTask).toLong)
      scored.repartition(parts, col("id_a"))
    }
  }

  /** The window formulation of the final top-k — the measured default. */
  private def topKStageWindow(scored: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id_a")).orderBy(col("cosine").desc, col("id_b").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Exact brute-force k-NN join — every pair scored, window top-k per left
    * row. The correctness baseline for [[knnJoin]]: O(N²) comparisons by
    * construction, so it is the small-corpus / recall-measurement tool, NOT
    * the 100 TB path (that is [[knnJoin]]'s bucketed candidate generation).
    * The right side rides [[Stage.attachSide]] — broadcast while it fits an
    * executor, shuffle-hash beyond — and the per-left top-k is a window
    * rank, never a global sort.
    *
    * Ranking orders by the ROUNDED cosine (6 dp) with id_b tie-break, so
    * the rank — not just the score — is reproducible across engines whose
    * floating sums associate differently.
    *
    * Returns (id_a, id_b, cosine, rank) with rank 1..k per id_a. */
  def knnJoinExact(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val base = Stage.ensureWide(df.select(col(idCol).as("id"), col(vecCol).as("v")))
      .withColumn("norm", l2norm(col("v")))
      .filter(col("norm") > 0)
    val scored = base.as("a")
      .join(Stage.attachSide(base).as("b"), col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(dot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")), 6)
          .as("cosine"))
    topKStageWindow(scored, k)
  }

  /** Batch k-NN join on an IVF-candidate index with PQ-coded in-cell
    * scoring — the measured handoff past [[knnJoin]]'s broadcast-attach
    * ceiling (~executor memory of vectors; at 5M×64d the LSH path needs a
    * 2× heap and a 1.8 GB driver collect). Three decisions make this the
    * 100 TB shape:
    *
    *  - **Candidates come from probed IVF cells, not LSH buckets.** Every
    *    vector is assigned one cell by the hierarchical md5-sign coarse
    *    quantizer ([[graft.functions.VectorExpressions.PortableIvfAssign]],
    *    O(√nLists·dims)/row); the probe side explodes to its `nprobe` best
    *    cells ([[graft.functions.VectorExpressions.PortableIvfProbe]]).
    *    Candidate volume is n·nprobe·cellsPerSuper·E[occupancy], and
    *    occupancy is a direct dial (`nLists ≈ n/occ`) rather than an
    *    emergent property of bucket collisions; `cellsPerSuper` (the
    *    probe expression's near-tie knob) buys planted recall at a
    *    proportional candidate cost.
    *  - **There is NO candidate pair stream.** Each cell's members are
    *    collected into two directory rows — a CODES directory (cell →
    *    array of (id, PQ code), ~40 B/member) and a VECTOR directory
    *    (cell → array of (id, norm, vector)) — and a probe row meets both
    *    in one pipelined pair of sized SHUFFLE_HASH joins on the same
    *    cell key (the second join inserts no new probe-side exchange).
    *    The per-candidate pipeline runs inside two scalar expressions:
    *    the ADC shortlist over codes
    *    ([[graft.functions.AnnExpressions.IvfPqCellShortlist]]) and the
    *    exact rescore + per-cell top-k of only the ≤ kCand survivors
    *    ([[graft.functions.AnnExpressions.CellRescoreTopK]]). The
    *    exchanges are the probe rows (n·nprobe skinny+vector), the codes
    *    directory (n·~40 B) and the vector directory (n·~4·dims B) — all
    *    linear in the corpus, never in candidates — and no vector-laden
    *    stream ever RE-exchanges, the measured 5M wall of every
    *    attach-to-pairs design. (The split replaced a fused
    *    single-directory expression whose member structs carried the raw
    *    vectors: that vector-laden collect/exchange, on top of a
    *    deserialized base cache, is what pushed the 50M×64d run to a 2×
    *    protocol heap. Same shortlist rule, same arithmetic —
    *    byte-identical output.)
    *  - **PQ codes gate the exact work.** Per probe×cell row the shortlist
    *    expression builds the query's ADC tables once (m·ks·subDim
    *    multiplies — less than one exact member evaluation) and scores
    *    each member with m table lookups; only the `kCand` shortlist gets
    *    exact cosines. The codebook is k-means-trained on a deterministic
    *    xxhash64 sample ([[Pq.train]]), so like the native IVF/PQ paths
    *    this operator is spec-gated on recall (planted-neighbor + vs-exact
    *    specs) rather than DuckDB-oracled.
    *
    * The cell distribution inherits the quantizer's balance — near-uniform
    * on the synthetic grid corpus; a skewed embedding space concentrates
    * directory rows exactly as it would concentrate any cluster index, and
    * `nLists` is the dial.
    *
    * The skinny (id, v, norm) base is [[Materialize.cached]] ONLY while
    * its size estimate fits comfortably in executor memory (≤ 1 GB): it
    * feeds the sample, both directories, and the probe side, but at
    * 50M×64d the ~17 GB deserialized cache was the measured protocol-heap
    * OOM — above the gate every consumer re-scans the (cheap, page-cached)
    * source instead, and only the ~64k-vector training sample gets its own
    * cache. [[Materialize.release]] of the returned frame frees the base.
    *
    * Where the wall goes (per-stage probe, 5M×64d, local[32]): ~2/3 of the
    * CPU is the deterministic coarse quantizer itself — the probe/assign
    * map stages' integer dots, O(∛nLists·dims)/row in the three-level
    * regime ([[graft.functions.VectorExpressions.PortableIvfAssign]]) —
    * and ~1/3 the per-cell scoring joins; every one of those stages is
    * scan-local or singly-exchanged map work, so the operator is CPU-bound
    * on code that divides perfectly by executors, not on any shared
    * shuffle or driver step.
    *
    * Returns (id_a, id_b, cosine, rank), rank 1..k per id_a by exact
    * rounded cosine — same contract as [[knnJoin]]/[[knnJoinExact]]. */
  def knnJoinIvf(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nLists: Int = 0,
      nprobe: Int = 4,
      m: Int = 8,
      ks: Int = 16,
      kCand: Int = 0,
      dims: Int = 0,
      cellsPerSuper: Int = 1
  ): DataFrame =
    ivfJoinCore(df, idCol, vecCol, k, nLists, nprobe, m, ks, kCand, dims,
      cellsPerSuper, labelCol = None)

  /** Hard-negative mining with the label gate pushed INSIDE the IVF cell —
    * the 50M-shape sibling of [[hardNegativesAnn]]. That wrapper composes
    * `knnJoinIvf(k = oversample·k)` with two label attach joins and a
    * re-ranked window, so its winner exchange and rank input are
    * oversample× the k-NN join's and the attach adds an n·oversample·k
    * re-key — measured-linear arithmetic put its 50M form at ~141 GB of
    * concurrent shuffle (the honest DiskBudgetExceeded grid row). Here the
    * label rides the two cell directories instead (~+9 B/member on codes,
    * +label bytes on vectors) and same-label members are excluded BEFORE
    * the ADC `kCand` cut ([[graft.functions.AnnExpressions.IvfPqCellShortlistLabel]]),
    * so every shortlist slot, every exact rescore, and every winner struct
    * is already a candidate negative: the winner exchange is the plain
    * k-NN join's n·nprobe·k — oversample never exists — and label_b rides
    * the winner struct itself
    * ([[graft.functions.AnnExpressions.CellRescorePayloadTopK]]), so no
    * attach join ever touches the output stream.
    *
    * Semantics: per anchor, the k best different-label members of its
    * probed cells by exact rounded cosine — a STRONGER candidate set than
    * [[hardNegativesAnn]]'s at equal k (that path loses any negative
    * ranked below oversample·k same-label crowders; this one spends its
    * whole shortlist on negatives). Approximation remains the IVF family's:
    * probing recall, plus ADC shortlist ranking above `kCand` occupancy.
    * Null-label rows never pair on either side — the exact baseline's
    * `=!=` predicate rejects them identically.
    *
    * Returns (id_a, label_a, id_b, label_b, cosine, rank), rank 1..k per
    * anchor — [[hardNegatives]]' schema. */
  def hardNegativesAnnCell(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      nLists: Int = 0,
      nprobe: Int = 4,
      m: Int = 8,
      ks: Int = 16,
      kCand: Int = 0,
      dims: Int = 0,
      cellsPerSuper: Int = 1
  ): DataFrame =
    ivfJoinCore(df, idCol, vecCol, k, nLists, nprobe, m, ks, kCand, dims,
      cellsPerSuper, labelCol = Some(labelCol))

  /** Class-BALANCED hard-negative mining: per anchor, the `k` nearest
    * different-label members FOR EACH foreign label (rank 1..k within each
    * (anchor, label_b)), not k overall — the contrastive-training shape
    * where one dominant nearby class must not crowd the other classes out
    * of an anchor's negative set. Same pipeline as [[hardNegativesAnnCell]]
    * with the per-cell cut swapped for a per-payload quota
    * ([[graft.functions.AnnExpressions.CellRescorePayloadQuotaTopK]] —
    * winners stay globally ordered, so the cross-cell per-(anchor, label)
    * re-rank is exact) and the final window partitioned by
    * (id_a, label_b). The quota multiplies the winner exchange by the
    * number of foreign labels present per probed cell (bounded by kCand);
    * `kCand` defaults to 16·k here — with many classes raise it toward
    * classes·k·4 so shortlist depth covers every class's candidates.
    * Returns (id_a, label_a, id_b, label_b, cosine, rank), rank 1..k per
    * (anchor, label_b). */
  def hardNegativesAnnCellBalanced(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      nLists: Int = 0,
      nprobe: Int = 4,
      m: Int = 8,
      ks: Int = 16,
      kCand: Int = 0,
      dims: Int = 0,
      cellsPerSuper: Int = 1
  ): DataFrame =
    ivfJoinCore(df, idCol, vecCol, k, nLists, nprobe, m, ks,
      if (kCand > 0) kCand else 16 * k, dims, cellsPerSuper,
      labelCol = Some(labelCol), balancedPerLabel = true)

  private def ivfJoinCore(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nLists: Int,
      nprobe: Int,
      m: Int,
      ks: Int,
      kCand: Int,
      dims0: Int,
      cellsPerSuper: Int,
      labelCol: Option[String],
      balancedPerLabel: Boolean = false
  ): DataFrame = {
    val spark = df.sparkSession
    val raw = labelCol match {
      case None =>
        df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      case Some(l) =>
        df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
          col(l).as("lbl"))
    }
    // dims = 0 (every public default) derives the width from one sampled
    // row and an EXPLICIT dims that disagrees raises — the silent
    // alternative was degraded recall via mis-assigned cells / truncated
    // sign dots (the knnJoinAuto dims rule, applied family-wide)
    val dims = Stage.deriveDims(raw, "v", dims0)
    // The base persists at its ARRIVAL width (ensureWide only guards the
    // degenerate narrow case). Widening the cache itself was measured and
    // REVERTED: sizing it for the probe expansion (206 partitions at
    // 5M×64d) taxed every one of the ~30 PQ-training jobs and every
    // downstream cache pass with 5× the task count — knn_join_ivf@5M went
    // 133 → 190 s for zero spill benefit. Only the PROBE branch re-emits
    // the cache expanded; it gets its own pre-exchange below.
    // statsKnown is STRUCTURAL (every leaf carries real file bytes — see
    // Stage.statsKnown): comparing the projected estimate against the
    // sentinel mis-calls statless inputs with extra columns or wider types,
    // because the width-ratio visitor scales Long.MaxValue into a
    // huge-but-below-sentinel figure — which both fired the 65536-part
    // probe exchange this guard exists to prevent AND skipped the cache
    // the statless path is documented to keep.
    val statsKnown = Stage.statsKnown(raw)
    val rawBytes = raw.queryExecution.analyzed.stats.sizeInBytes
    // Cache gate: a deserialized MEMORY_AND_DISK cache of the vector base
    // was the measured 50M×64d protocol-heap OOM (~17 GB of row objects
    // churning an 8 GB heap during the cache-build stage). Above 1 GB of
    // estimated source bytes the consumers re-scan the source instead —
    // three extra parquet scans, each far cheaper than the quantizer CPU
    // they feed — and unknown-stats inputs keep the cache (they have no
    // file source to re-scan cheaply).
    val cacheBase = !statsKnown || rawBytes <= (1L << 30)
    val base1 = Stage.ensureWide(raw)
      .withColumn("norm", l2norm(col("v")))
      .filter(col("norm") > 0)
    // label mode: a null label can never satisfy the mismatch predicate on
    // either side (the exact baseline's =!= rejects it identically) — drop
    // such rows before they cost directory or probe work
    val base0 =
      if (labelCol.isDefined) base1.filter(col("lbl").isNotNull) else base1
    val base = if (cacheBase) Materialize.cached(base0) else base0
    val n = math.max(1L, base.count())
    val lists = if (nLists > 0) nLists else math.max(8L, n / 64L).toInt
    val cand = math.max(k, if (kCand > 0) kCand else 4 * k)
    // three-level probe lists descend through up to 2 mids per probed top
    // (σ/8 tie-gap gate) — the sizings below price the worst case
    // (probeMidsPerTop)
    val fanout = graft.functions.VectorExpressions.probeMidsPerTop(lists)
    val pq = Pq.trainOnSample(base, n, dims, m, ks)
    val codes = array((0 until pq.m).map(s =>
      graft.functions.VectorExpressions.nearest_centroid(
        slice(col("v"), s * pq.subDim + 1, pq.subDim), pq.codebooks(s).centroids)): _*)
    val assignCell = graft.functions.VectorExpressions
      .portable_ivf_assign(col("v"), lists, dims)
    // The cell-join partition count is sized from BOTH of the stage's
    // memory consumers, each known exactly from n (no Generate blinding
    // the estimator):
    //  - the per-task directory HASH RELATIONS — codes and vectors
    //    coexist in the probe stage (two pipelined builds), so the count
    //    prices their SUM (id + norm + m code ints + dims floats + two
    //    structs of overhead, 2× in-memory expansion) at the unspillable-
    //    build discipline of ≤ 16 MB of estimated bytes per task
    //    (the gramExchangeParts lesson: relations can't spill and 32 run
    //    concurrently);
    //  - the per-task RANK-EXCHANGE WRITER buffer — this stage's map side
    //    emits the n·nprobe·cellsPerSuper·k winner structs, and the
    //    shuffle writer's spill-capable pages hold a task's whole output.
    //    Sizing only for the build left ~120 MB of writer output per task
    //    at 5M×64d/k=20 against a ~75 MB execution share (32 concurrent
    //    tasks, 8 GB heap) — the per-stage probe put ALL of the
    //    operator's spill there. ≤ 24 MB of output per task keeps the
    //    writer inside its share.
    // label mode prices the label into BOTH directory builds (it rides the
    // codes struct for the shortlist gate and the vector struct as the
    // winner payload) and into the winner exchange's struct width
    val lblW = labelCol.map(_ =>
      raw.schema("lbl").dataType.defaultSize + 8L).getOrElse(0L)
    val dirBytes = n * (dims * 4L + m * 4L + 140L + 2 * lblW) * 2
    // balanced mode's per-cell winner count is k PER LABEL, bounded by the
    // shortlist depth — price the exchange at that bound
    val outPerCell = if (balancedPerLabel) cand.toLong else k.toLong
    val outBytes = n * nprobe * fanout * cellsPerSuper * outPerCell * (32L + lblW)
    val dirParts = Stage.width(df, math.max(dirBytes / Stage.BuildBytesPerTask,
      outBytes / Stage.StreamBytesPerTask))
    // Two directories, separately exchanged: column pruning splits the
    // shared member subtree anyway (each branch keeps only its payload),
    // so the codes exchange ships ~40 B/member and only the vector
    // exchange carries the 4·dims payload — the assign expression runs
    // once per branch, a term the three-level quantizer keeps cheap.
    val codesMem = labelCol match {
      case None => struct(col("id"), codes.as("code"))
      case Some(_) => struct(col("id"), codes.as("code"), col("lbl"))
    }
    val vecMem = labelCol match {
      case None => struct(col("id"), col("norm"), col("v"))
      case Some(_) => struct(col("id"), col("norm"), col("v"), col("lbl"))
    }
    val codesDir = base
      .select(assignCell.as("cell"), codesMem.as("mem"))
      .repartition(dirParts, col("cell"))
      .groupBy(col("cell"))
      .agg(collect_list(col("mem")).as("members"))
    val vecDir = base
      .select(assignCell.as("cell"), vecMem.as("vmem"))
      .repartition(dirParts, col("cell"))
      .groupBy(col("cell"))
      .agg(collect_list(col("vmem")).as("vmembers"))
    // explode_outer defensively: filter inference over generators only fires
    // on ATTRIBUTE children (a direct expression child like this one is never
    // inferred on — verified in the optimized plan), but an alias-then-explode
    // refactor would silently re-evaluate the probe assignment per row (the
    // measured 2-3× of the winner explode below). The probe list is never
    // empty, and a null cell can't match the inner cell join.
    // Wide-born probe explode (the Dedup.ngramJaccard shape): the probe
    // side re-emits each cached partition nprobe·cellsPerSuper× with the
    // full query vector attached, so its cell-exchange writer pages a whole
    // cache partition's expanded share (~176 MB at 5M×64d against a ~75 MB
    // execution slice — the ~9.6 GB writer spill the k=20 hard-negatives
    // probe attributed here). Exchanging the compact 1× cached stream to an
    // expansion-aware width FIRST bounds the writer at probeVolume/parts;
    // the training/member/count passes keep reading the narrow cache (a
    // cache-wide fix was measured at +43% wall — see the base comment).
    // Statless inputs (a `createDataFrame(rdd)` LogicalRDD, a streaming
    // leaf) report spark.sql.defaultSizeInBytes (Long.MaxValue) — a
    // localCheckpoint leaf carries its origin's estimate and stays known;
    // without this guard the
    // 256 MB gate always passes and probeParts saturates at the 65536 cap,
    // a pathological exchange of the whole cached base (the same
    // unknown-stats trap Stage.ensureWide guards). Unknown stats keep the
    // un-exchanged base: the probe writer then pages at the scan width,
    // which is only the pre-r11 behavior, never a 65536-part exchange.
    // (`statsKnown` computed with the cache gate above.)
    val probeParts =
      if (!statsKnown) 0
      else (BigDecimal(rawBytes) * nprobe * fanout * cellsPerSuper /
        BigDecimal(Stage.StreamBytesPerTask)).toBigInt
        .min(BigInt(Stage.maxExchangeParts(df))).toInt
    val probeIn =
      if (statsKnown && rawBytes > Stage.BroadcastPlanBytes &&
          probeParts > spark.sparkContext.defaultParallelism)
        base.repartition(probeParts, col("id"))
      else base
    val probeCols = Seq(col("id").as("id_a"), col("v").as("v_a")) ++
      labelCol.map(_ => col("lbl").as("lbl_a")).toSeq
    val probe = probeIn.select(probeCols :+
      explode_outer(graft.functions.VectorExpressions
        .portable_ivf_probe(col("v"), lists, dims, nprobe, cellsPerSuper)).as("cell"): _*)
      .filter(col("cell").isNotNull)
    val cb: Array[Array[Array[Double]]] = pq.codebooks.map(_.centroids)
    // Pipelined pair of cell joins: the shortlist join reads the skinny
    // codes directory, the rescore join the vector directory. Both builds
    // key on cell at the same dirParts, so EnsureRequirements aligns the
    // probe stream once — the (cell, id_a, v_a, sl) intermediate between
    // the joins never re-exchanges. Label mode swaps in the
    // label-mismatch shortlist (same ADC rule over the mismatch
    // survivors) and the payload rescore (label_b rides each winner
    // struct), leaving the join/exchange shape untouched.
    val perCell = labelCol match {
      case None =>
        probe.join(codesDir.hint("SHUFFLE_HASH"), Seq("cell"))
          .select(col("cell"), col("id_a"), col("v_a"),
            graft.functions.AnnExpressions.ivfpq_cell_shortlist(col("id_a"),
              col("v_a"), col("members"), cand, cb, pq.subDim).as("sl"))
          .join(vecDir.hint("SHUFFLE_HASH"), Seq("cell"))
          .select(col("id_a"),
            graft.functions.AnnExpressions.cell_rescore_topk(col("v_a"),
              col("sl"), col("vmembers"), k).as("tk"))
      case Some(_) =>
        val joined = probe.join(codesDir.hint("SHUFFLE_HASH"), Seq("cell"))
          .select(col("cell"), col("id_a"), col("lbl_a"), col("v_a"),
            graft.functions.AnnExpressions.ivfpq_cell_shortlist_label(
              col("id_a"), col("lbl_a"), col("v_a"), col("members"), cand,
              cb, pq.subDim).as("sl"))
          .join(vecDir.hint("SHUFFLE_HASH"), Seq("cell"))
        val rescore =
          if (balancedPerLabel)
            graft.functions.AnnExpressions.cell_rescore_payload_quota_topk(
              col("v_a"), col("sl"), col("vmembers"), k)
          else
            graft.functions.AnnExpressions.cell_rescore_payload_topk(
              col("v_a"), col("sl"), col("vmembers"), k)
        joined.select(col("id_a"), col("lbl_a"), rescore.as("tk"))
    }
    // explode_outer, NOT explode: a plain explode lets InferFiltersFromGenerate
    // conjure `size(tk) > 0 AND isnotnull(tk)` above this projection, and
    // predicate pushdown substitutes the alias and lands BOTH copies in the
    // cell join's condition — the whole per-cell scoring expression (the
    // operator's dominant CPU) then evaluates 2-3× per probe×cell row
    // (measured in the 5M executed plan). The outer generate infers nothing;
    // empty cells die in one cheap null check on the generated column.
    // build-side top-1 assignment puts each id_b in exactly one cell, so the
    // per-cell winners carry no cross-cell duplicates — the merge is one
    // sized rank exchange over ≤ n·nprobe·k candidate structs.
    //
    // The exchange moves the per-cell top-k ARRAYS (n·nprobe rows) and the
    // explode happens on the reduce side: same bytes, k× fewer shuffle-writer
    // records. Shuffle-WRITER buffers are this operator's only memory-
    // pressured stages (per-stage probes at 5M×64d): the exploded form spilt
    // ~19.5 GB in the cell-join stage's writer; the array form plus the
    // output-aware dirParts above moves that to zero. The last writer term —
    // the probe-side exchange, whose map tasks each emitted their whole
    // share of the n·nprobe vector-laden probe rows (~9.6 GB of paging at
    // k=20 when the map width was the scan's split count) — is bounded by
    // the probe branch's own expansion-aware pre-exchange (see `probeIn`),
    // so each writer holds probeVolume/probeParts.
    // The reduce-side explode feeds the rank window in place (Generate
    // preserves the id_a hash partitioning), measured spill-free at 635
    // parts.
    val rankParts = Stage.width(df,
      n * nprobe * fanout * cellsPerSuper * outPerCell * (80L + lblW) / Stage.SortBytesPerTask)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id_a")).orderBy(col("cosine").desc, col("id_b").asc)
    labelCol match {
      case None =>
        perCell
          .repartition(rankParts, col("id_a"))
          .select(col("id_a"), explode_outer(col("tk")).as("nb"))
          .filter(col("nb").isNotNull)
          .select(col("id_a"), col("nb.id").as("id_b"), col("nb.cosine").as("cosine"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
      case Some(_) =>
        // balanced mode ranks within (anchor, foreign label) — the per-cell
        // quota bounded each label's candidates, and hash partitioning on
        // id_a still satisfies the (id_a, label_b) window's required
        // clustering, so no extra exchange appears
        val wOut =
          if (balancedPerLabel)
            Window.partitionBy(col("id_a"), col("label_b"))
              .orderBy(col("cosine").desc, col("id_b").asc)
          else w
        perCell
          .repartition(rankParts, col("id_a"))
          .select(col("id_a"), col("lbl_a"), explode_outer(col("tk")).as("nb"))
          .filter(col("nb").isNotNull)
          .select(col("id_a"), col("lbl_a").as("label_a"),
            col("nb.id").as("id_b"), col("nb.payload").as("label_b"),
            col("nb.cosine").as("cosine"))
          .withColumn("rank", row_number().over(wOut))
          .filter(col("rank") <= k)
    }
  }

  /** Route a batch k-NN join past the LSH cliff. [[knnJoin]] is the
    * measured default while the vector payload fits a broadcast attach,
    * but past that boundary it is a cliff, not a slowdown: at 5M×64d it
    * needs a 2× protocol heap plus 4 GB of driver.maxResultSize and still
    * spills 54 GB — a caller who picks it at 10M gets a dead JVM. This
    * wrapper reads the same size estimate the attach strategy keys on
    * (analyzed stats of the (id, vec) projection — file bytes for a
    * source-backed frame) and dispatches: at or under `lshMaxBytes`
    * (default 384 MB of source bytes ≈ 1.4M×64d) the LSH join runs with
    * its occupancy-sized plane count; above it — or when stats are
    * unknown STRUCTURALLY ([[Stage.statsKnown]]), since a statless input
    * must not gamble on a driver-side broadcast collect —
    * [[knnJoinIvf]] with its default occupancy-64 list policy.
    *
    * The default sits at LSH's measured SPILL ONSET, not at the wall
    * crossover — full bracket (docs/corpusbench_local32.jsonl,
    * knn_join_auto_recall + knn_join_ivf_recall/knn_join_recall rows,
    * 64d, protocol heap):
    *
    *  - 500k (131 MB): LSH 3.7 s / 0 spill / 100% vs IVF 12.1 s — LSH
    *  - 1M (262 MB): LSH 16.6 s / 0 spill / 100% vs IVF 32.2 s — LSH
    *  - 2M (525 MB): LSH 42.9 s / 3.9 GB SPILL vs IVF 47.1 s / 0 — IVF
    *  - 3M (787 MB): LSH 54.1 s / 5.6 GB SPILL vs IVF 48.8 s / 0 — IVF
    *  - 5M (1.3 GB): LSH 255 s / 54 GB spill (2× heap) vs IVF 48.3 s / 0
    *
    * Below 384 MB the routed LSH plan is both faster and spill-free;
    * above it the routed IVF plan is spill-free and at worst 10% slower
    * at 2M (already strictly faster by 3M). The spill trajectory
    * (0 → 3.9 → 5.6 → 54 GB) is the cliff precursor the boundary
    * guards: a plan whose spill grows superlinearly with n loses any
    * wall advantage at the next scale step, so the dispatcher trades
    * ≤ 10% of wall in the 384–700 MB band for zero spill at every
    * measured point. (The r13 1 GB default routed that whole band into
    * the spilling plan.) A dims≠64 profile is covered by the
    * dims-derivation rule below and the knn_join_auto_d16 row (dims
    * read from the data, 100% recall).
    *
    * Same (id_a, id_b, cosine, rank) contract either way. */
  def knnJoinAuto(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      lshMaxBytes: Long = 384L << 20,
      dims: Int = 0
  ): DataFrame = {
    val raw = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    // dims = 0 (the default) derives the dimensionality from one sampled
    // row — a bounded LIMIT-1 job. The old fixed default of 64 silently
    // mis-assigned IVF cells for any other width (short-read/truncated
    // sign dots — a quiet recall degradation, not an error), and skewed
    // the LSH row-size divisor the same way. Now the family-wide
    // Stage.deriveDims rule (explicit-mismatch raises, typed).
    val dimsActual = Stage.deriveDims(raw, "v", dims)
    val est = raw.queryExecution.analyzed.stats.sizeInBytes
    // structural leaf check, not an estimate-vs-sentinel comparison (see
    // Stage.statsKnown) — a statless input must never gamble on the LSH
    // path's driver-side broadcast collect
    if (Stage.statsKnown(raw) && est <= BigInt(lshMaxBytes)) {
      // occupancy-sized planes need a row-count estimate; derive it from
      // the same bytes (4·dims B of floats + row overhead per vector) —
      // planesFor is a log2, so small misestimates move nothing
      val nEst = math.max(1L, (est / BigInt(dimsActual * 4L + 16L)).toLong)
      knnJoin(df, idCol, vecCol, k, planes = planesFor(nEst), tables = 4)
    } else
      knnJoinIvf(df, idCol, vecCol, k, dims = dimsActual)
  }

  /** The route [[knnJoinAuto]] would take for this input — "lsh" or "ivf" —
    * exposed so the dispatch boundary is spec-assertable per regime
    * (file-backed small → lsh; above `lshMaxBytes` → ivf; statless → ivf)
    * without running either join. Same decision inputs as the dispatcher:
    * the structural leaf-stats check and the analyzed size estimate. */
  private[graft] def knnJoinAutoRoute(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      lshMaxBytes: Long = 384L << 20
  ): String = {
    val raw = df.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val est = raw.queryExecution.analyzed.stats.sizeInBytes
    if (Stage.statsKnown(raw) && est <= BigInt(lshMaxBytes)) "lsh" else "ivf"
  }

  /** Hard-negative mining as an oversample COMPOSITION over [[knnJoinIvf]]:
    * mine each anchor's `oversample·k` approximate nearest neighbors, keep
    * those with a DIFFERENT label, re-rank, cut at k. Approximate in two
    * honest ways: candidates come from probed cells (ANN recall), and an
    * anchor whose `oversample·k` nearest are ALL same-label yields fewer
    * than k rows — raise `oversample` when labels are few and clustered.
    *
    * PREFER [[hardNegativesAnnCell]] at scale: it pushes the label gate
    * inside the ADC shortlist, so its winner exchange is 1/oversample of
    * this one's and no label attach joins exist — measured same-session at
    * 5M×64d: 136.2 s / 12.4 GB vs this path's 202.9 s / 17.2 GB, and at
    * 50M this path's exchange volume (~141 GB concurrent) exceeds a single
    * host's disk where the cell gate runs 547.6 s / 36.4 GB / 0 spill /
    * 97.89% planted recall (docs/corpusbench_local32.jsonl). This wrapper
    * stays as the composition baseline its spec and the cell operator's
    * parity checks reference. Returns the [[hardNegatives]] schema
    * (id_a, label_a, id_b, label_b, cosine, rank). */
  def hardNegativesAnn(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      nLists: Int = 0,
      nprobe: Int = 4,
      oversample: Int = 4,
      dims: Int = 0,
      cellsPerSuper: Int = 1
  ): DataFrame = {
    val nn = knnJoinIvf(df, idCol, vecCol, k = oversample * k,
      nLists = nLists, nprobe = nprobe, dims = dims, cellsPerSuper = cellsPerSuper)
    val labels = df.select(col(idCol).cast("long").as("id"),
      col(labelCol).as("lbl"))
    // Label attach by ROW-COUNT arithmetic, not Catalyst's size estimate:
    // `labels` is a skinny projection that DROPS the embedding column, and
    // the non-CBO width-ratio estimator prices an array column at
    // `ArrayType.defaultSize` (4 bytes), so the projection's sizeInBytes
    // comes out LARGER than the vector-laden relation it projects — at
    // 5M×64d a ~160 MB label table estimated at ~1.7 GB. Riding
    // [[Stage.attachSide]] on that estimate flips both attaches to
    // SHUFFLE_HASH, which re-exchanges the n·oversample·k candidate stream
    // on id_b and then hands the final rank window a session-constant
    // id_a exchange — measured 25.6 GB of sort spill at 5M. The true size
    // is n·(id + label + row overhead): broadcast while one executor
    // comfortably holds the hash relation, past that a sized build.
    val nRows = math.max(1L, labels.queryExecution.analyzed.stats.rowCount
      .map(_.toLong).getOrElse(labels.count()))
    val labelWidth = 8L + labels.schema("lbl").dataType.defaultSize + 32L
    val broadcastable = nRows * labelWidth * 2 <= 512L * 1024 * 1024
    val att =
      if (broadcastable) broadcast(labels)
      else Stage.sizedBuild(labels, Seq("id"))
        .hint("SHUFFLE_HASH")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id_a")).orderBy(col("cosine").desc, col("id_b").asc)
    val joined = nn.join(att.as("la"), col("id_a") === col("la.id"))
      .join(att.as("lb"), col("id_b") === col("lb.id"))
      .filter(col("la.lbl") =!= col("lb.lbl"))
      .select(col("id_a"), col("la.lbl").as("label_a"),
        col("id_b"), col("lb.lbl").as("label_b"), col("cosine"))
    // Broadcast attaches preserve knnJoinIvf's sized id_a partitioning, so
    // the rank window runs in place with no exchange. The shuffle-attach
    // branch destroys it (the id_b join re-keys the stream) — re-key at a
    // count sized from the known candidate volume, never the session
    // constant (n·oversample·k rows ≈ the pre-filter window input).
    val ranked =
      if (broadcastable) joined
      else {
        val winParts = Stage.width(df,
          nRows * oversample * k * 64L / Stage.SortBytesPerTask)
        joined.repartition(winParts, col("id_a"))
      }
    ranked.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training: each anchor's top-k
    * most-similar vectors carrying a DIFFERENT label — the examples a
    * metric-learning objective learns the most from. Exact all-pairs
    * baseline by construction (same O(N²) contract and attach shape as
    * [[knnJoinExact]] — the oracle-able measurement tool; the scale path
    * swaps the candidate generator for the LSH/IVF index and keeps the
    * label-mismatch predicate + rank stage). Per-anchor ranking windows on
    * the high-cardinality anchor id, so the top-k stage itself is
    * scale-safe. Returns (id_a, label_a, id_b, label_b, cosine, rank). */
  def hardNegatives(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int
  ): DataFrame = {
    val base = Stage.ensureWide(df.select(col(idCol).as("id"),
        col(vecCol).as("v"), col(labelCol).as("lbl")))
      .withColumn("norm", l2norm(col("v")))
      .filter(col("norm") > 0)
    val scored = base.as("a")
      .join(Stage.attachSide(base).as("b"),
        col("a.id") =!= col("b.id") && col("a.lbl") =!= col("b.lbl"))
      .select(col("a.id").as("id_a"), col("a.lbl").as("label_a"),
        col("b.id").as("id_b"), col("b.lbl").as("label_b"),
        round(dot(col("a.v"), col("b.v")) / (col("a.norm") * col("b.norm")), 6)
          .as("cosine"))
    topKStageWindow(scored, k)
  }

  /** Precompute the LSH index: (id, v, table, bucket) — at scale this is
    * written once, clustered by (table, bucket). */
  def buildLshIndex(df: DataFrame, idCol: String, vecCol: String,
      planes: Int = 6, tables: Int = 8): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .select(col("id"), col("v"),
        posexplode(hyperplaneBuckets(col("v"), planes, tables)))
      .withColumnRenamed("pos", "table").withColumnRenamed("col", "bucket")

  /** Approximate top-k: score only rows sharing an LSH bucket with the query
    * in any table — multi-probe: besides the exact bucket, probe every bucket
    * whose sign pattern differs in one bit (the planes the query is closest
    * to crossing). Scan fraction per table ≈ (planes+1)/2^planes; recall
    * rises steeply with `tables`. Candidates are then exact-ranked.
    *
    * Probe bucket ids are computed driver-side
    * ([[graft.functions.HashExpressions.hyperplaneBucketLocal]], bit-identical
    * to the stored assignment) and pushed as one `In` filter per table —
    * at rest, with the index clustered by (table, bucket), this prunes to a
    * handful of files. */
  def annTopK(
      index: DataFrame,
      query: Seq[Float],
      k: Int,
      planes: Int = 6,
      tables: Int = 8
  ): DataFrame = {
    val qd = query.map(_.toDouble)
    val qf = array(query.map(lit(_)): _*)
    val candidates = index
      .filter((0 until tables).map { t =>
          val b = HashExpressions.hyperplaneBucketLocal(qd, planes, t)
          val probes = b +: (0 until planes).map(p => b ^ (1L << p))
          col("table") === t && col("bucket").isin(probes: _*)
        }.reduce(_ || _))
      .select(col("id"), col("v")).distinct()
    candidates
      .select(col("id"), round(cosine(col("v"), qf), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("id").asc)
      .limit(k)
  }

  /** Engine-portable IVF top-k — the oracle-checkable twin of the IVF
    * family ([[graft.operators.Ivf]]), the same move
    * [[graft.operators.Dedup.portableMinhashLsh]] /
    * `portableEmbeddingNearDups` made for the MinHash and hyperplane
    * families. The native IVF's k-means centroids are float-iterative and
    * engine-specific; here the `nLists` coarse centroids are ±1-component
    * vectors derived from md5 parity (component i of centroid c is +1 iff
    * the first 8 hex chars of md5("ivf-c-i") are even), so ANSI SQL
    * reproduces them exactly. Every PRUNING decision — list assignment
    * (argmax over centroid dot products, ties to the lower centroid id)
    * and query probing (the `nprobe` best lists) — is computed on
    * integer-quantized components (round(x·10⁶), exact bigint arithmetic
    * cross-engine); only the final rescore of survivors uses float cosine,
    * the step q55 already proved replays exactly.
    *
    * Same at-rest story as the native IVF: assignment is one broadcast
    * join + one partial-agg shuffle keyed (id, c); at scale the list id
    * becomes a partition column and probing prunes to nprobe/nLists of the
    * files. Returns (vec_id, cosine), the k nearest to `queryId`'s vector
    * among vectors in probed lists, (cosine desc, id asc)-ordered. */
  /** SemDeDup-style semantic dedup: cluster embeddings with the portable
    * md5-sign IVF coarse quantizer, then inside each cluster drop every
    * vector that has an EARLIER (smaller-id) neighbor with cosine ≥ `tau`.
    * Returns (vec_id, cluster, kept 1|0) for every non-zero-norm vector.
    *
    * The leader rule is "no earlier near-duplicate", decided per PAIR — a
    * vector whose only near-neighbor was itself dropped still drops
    * (deterministic, one EXISTS per vector; NOT the transitive-closure
    * clustering [[graft.operators.ConnectedComponents]] provides when whole
    * dup-groups must collapse to one representative). Every stage is
    * ANSI-SQL-replayable: assignment is exact integer math over quantized
    * components (same family as [[portableIvfTopK]]/q73), and the cosine
    * gate compares ROUNDED values like q63.
    *
    * Scale shape: assignment is one in-row expression (no dim explode, no
    * shuffle) — O(√nLists·dims) per row above the flat-scan threshold via
    * the hierarchical md5-sign rule
    * ([[graft.functions.VectorExpressions.PortableIvfAssign]]), which is
    * what keeps the stage O(n·√nLists·dims) under SemDeDup's own nLists ∝ n
    * regime (a flat scan measured 11.2 s@500k → 458 s@5M — O(n²)); and the
    * leader pass is cell-local (one member-directory exchange, the pair
    * comparison inside [[graft.functions.AnnExpressions.LeaderDedupCell]]),
    * so within-cluster pairs never materialize and no vector table ever
    * broadcasts — the attach-to-pairs form this replaced was the measured
    * protocol-heap failure at 5M×64d. The only O(·²) term is per-cluster
    * pair work inside the expression, bounded by growing nLists with corpus
    * size so expected cluster size stays fixed. */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int = 8,
      tau: Double = 0.45,
      dims: Int = 0
  ): DataFrame = {
    val base = semanticBase(df, idCol, vecCol)
    val dimsActual = Stage.deriveDims(base, "v", dims)
    val withCell = base.select(col("id"),
      graft.functions.VectorExpressions.portable_ivf_assign(col("v"), nLists, dimsActual).as("c"),
      col("norm"), col("v"))
    leaderDedup(withCell, tau)
  }

  /** [[semanticDedup]] with a LEARNED k-means coarse quantizer
    * ([[Ivf.train]]) — true SemDeDup: clusters are semantic regions of the
    * embedding space, so near-duplicates co-locate by CONTENT, where the
    * md5-sign projection co-locates them only up to random-projection
    * luck. Same leader rule, same rounded-cosine gate, same plan shape
    * (in-row `NearestCentroid` assignment, cell-local leader pass). Iterative
    * float k-means is not ANSI-replayable, so like the native IVF/PQ
    * paths this variant is spec-gated — against the same brute-force
    * leader reference, with the portable q83 twin as the oracle anchor.
    *
    * Above the flat-scan threshold (64 centroids — the same boundary as
    * the portable rule) assignment goes two-level through
    * [[Ivf.hierarchy]]: super-centroids learned over the codebook itself,
    * then only the winning group's members scanned — O(√k·dims) per row,
    * the fix for k ∝ n turning the flat scan O(n²). Semantic grouping
    * (unlike the portable rule's contiguous blocks) keeps the two-level
    * argmin close to the flat argmin; the parity spec measures it. */
  def semanticDedupKmeans(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 16,
      iters: Int = 5,
      tau: Double = 0.45,
      seed: Long = 1L
  ): DataFrame = {
    val codebook = Ivf.train(df.select(col(vecCol)), vecCol, k, iters, seed)
    val base = semanticBase(df, idCol, vecCol)
    val assignExpr =
      if (k <= graft.functions.VectorExpressions.twoLevelThreshold)
        graft.functions.VectorExpressions
          .nearest_centroid(col("v"), codebook.centroids)
      else {
        val h = Ivf.hierarchy(codebook)
        graft.functions.VectorExpressions
          .two_level_nearest_centroid(col("v"), h.supers, h.blocks,
            codebook.centroids)
      }
    val withCell = base.select(col("id"), assignExpr.as("c"), col("norm"), col("v"))
    leaderDedup(withCell, tau)
  }

  private def semanticBase(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    Stage.ensureWide(df.select(col(idCol).as("id"), col(vecCol).as("v")))
      .withColumn("norm", l2norm(col("v")))
      .filter(col("norm") > 0)

  /** The shared leader pass: within each cluster of `withCell` (id, c,
    * norm, v), drop every id with an EARLIER same-cluster neighbor at
    * rounded cosine ≥ tau.
    *
    * Cell-directory shape, the same move as [[knnJoinIvf]]: members group
    * into one row per cluster and the whole pair comparison runs inside
    * [[graft.functions.AnnExpressions.LeaderDedupCell]]. The within-cluster
    * PAIRS never materialize (640M rows at 5M docs under nLists ∝ n), so
    * nothing vector-laden re-exchanges and there is NO vector broadcast —
    * the previous attach-to-pairs form needed a 1.8 GB driver-side
    * broadcast build at 5M×64d, which is exactly the measured protocol-heap
    * failure ("Not enough memory to build and broadcast"). The one
    * exchange is the member directory itself — n skinny+vector rows, sized
    * by [[Stage.sizedBuildParts]] so each partition's collect_list state
    * stays inside a task's memory share; E[cluster] = n/nLists bounds both
    * the per-row pair work (early-exit O(E[cluster]²·dims) worst case) and
    * the directory row size, with nLists the dial exactly as in the
    * reference SemDeDup regime. A skewed embedding space concentrates
    * directory rows as it would any cluster index — grow nLists. */
  private def leaderDedup(withCell: DataFrame, tau: Double): DataFrame = {
    val parts = Stage.sizedBuildParts(withCell)
    withCell
      .repartition(parts, col("c"))
      .groupBy(col("c"))
      .agg(collect_list(struct(col("id"), col("norm"), col("v"))).as("members"))
      // explode_outer defensively, as in [[knnJoinIvf]]: the optimizer infers
      // `size(...) > 0` filters only over ATTRIBUTE generator children, so
      // this direct-expression explode is safe today — but aliasing the
      // leader-pass expression first would hand its full cost to an inferred
      // filter (the measured 2-3× of knnJoinIvf's winner explode). Clusters
      // are non-empty by construction; the null check is free.
      .select(col("c").cast("long").as("cluster"),
        explode_outer(graft.functions.AnnExpressions
          .leader_dedup_cell(col("members"), tau)).as("r"))
      .filter(col("r").isNotNull)
      .select(col("r.id").as("vec_id"), col("cluster"),
        col("r.kept").cast("long").as("kept"))
  }

  /** Engine-portable IVF+PQ batch k-NN JOIN — the oracle-checkable twin of
    * [[knnJoinIvf]], completing the portable family: q73/q74 oracle the
    * single-query IVF and PQ prunings, this oracles the JOIN form
    * end-to-end (cells → PQ shortlist → exact rescore → rank). Every
    * pruning decision is exact integer arithmetic an ANSI engine replays:
    *
    *  - cells are the q73 md5-sign ±1 centroids over `round(x·1e6)::bigint`
    *    components (argmax dot, ties to the lower cell; every row is both
    *    indexed once and probed to its `nprobe` best cells);
    *  - PQ codebooks are the q74 md5-LATTICE centroids (component j of
    *    centroid c in subspace s is `(md5head("pq-s-c-j") % 2001 − 1000)
    *    · 1000`), codes the per-subspace argmin of exact bigint squared
    *    distance (ties to the lower code), and the ADC shortlist ranks
    *    candidate pairs by the exact bigint ADC sum (ties id asc), cut at
    *    `kCand`;
    *  - only shortlist survivors get float cosines, ROUNDED to 6 dp
    *    (HALF_UP) before the final (cosine desc, id asc) rank — the q55
    *    convention that replays across engines.
    *
    * Same plan family as [[portableIvfTopK]] (dim-exploded joins against
    * broadcast sign/codebook literals, partial-agg shuffles keyed (id, c) /
    * (id, sub, code), rank windows on the high-cardinality pair anchors) —
    * the at-scale production path is [[knnJoinIvf]]; this twin exists so
    * the join's verdicts are DuckDB-replayable (q114) and so the native
    * path has a cross-engine anchor beside its recall specs.
    *
    * Returns (id_a, id_b, cosine, rank), rank 1..k per id_a. */
  def knnJoinIvfPqPortable(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5,
      nLists: Int = 8,
      nprobe: Int = 2,
      m: Int = 8,
      ks: Int = 16,
      kCand: Int = 20,
      dims: Int = 0
  ): DataFrame =
    knnJoinIvfPqPortableCore(df, idCol, vecCol, k, nLists, nprobe, m, ks,
      kCand, dims, probeIds = None)

  /** [[knnJoinIvfPqPortable]] with a member ALLOW-LIST — the oracle twin of
    * [[graft.operators.KnnIndex.knnJoinDelta]]'s `restrict` option (q118):
    * answers are limited to ids in `restrictIds` ("search only the
    * license-clean / same-language subset"). The decision ORDER is the
    * native path's: the integer ADC shortlist and the rounded-cosine
    * rescore run over ALL members (restriction must not change which
    * candidates are scored — that is what keeps the two paths comparable),
    * the allow-list filters the rescored pairs, and rank re-numbers over
    * the survivors. One extra semi-join over the q114 SQL replays it in
    * any ANSI engine. */
  def knnJoinIvfPqPortableRestricted(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      restrictIds: DataFrame,
      k: Int = 5,
      nLists: Int = 8,
      nprobe: Int = 2,
      m: Int = 8,
      ks: Int = 16,
      kCand: Int = 20,
      dims: Int = 0
  ): DataFrame =
    knnJoinIvfPqPortableCore(df, idCol, vecCol, k, nLists, nprobe, m, ks,
      kCand, dims, probeIds = None, restrictIds = Some(restrictIds))

  /** [[knnJoinIvfPqPortable]] with a PAYLOAD PREDICATE — the oracle twin
    * of [[graft.operators.KnnIndex.knnJoinDelta]]'s `payloadIn` option
    * (q124): answers are limited to members whose per-id payload value
    * (`payloadCol`) is in `allowed` — "search only license-clean ∧
    * lang=en members" as a stored-attribute predicate rather than an id
    * allow-list. Decision order is the q118 restrict position verbatim:
    * the integer ADC shortlist and the rounded-cosine rescore run over
    * ALL members, the payload predicate filters the rescored pairs, and
    * rank re-numbers over the survivors — one more predicate over the
    * q114 CTE prefix replays it in any ANSI engine. The survivor's
    * payload rides the output as `payload_b`. */
  def knnJoinIvfPqPortablePayloadFiltered(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      payloadCol: String,
      allowed: Seq[Any],
      k: Int = 5,
      nLists: Int = 8,
      nprobe: Int = 2,
      m: Int = 8,
      ks: Int = 16,
      kCand: Int = 20,
      dims: Int = 0
  ): DataFrame =
    knnJoinIvfPqPortableCore(df, idCol, vecCol, k, nLists, nprobe, m, ks,
      kCand, dims, probeIds = None,
      payloadFilter = Some((df.select(col(idCol).cast("long").as("id"),
        col(payloadCol).as("pay")), allowed)))

  /** [[knnJoinIvfPqPortablePayloadFiltered]] generalized to an ARBITRARY
    * payload predicate — the oracle twin of
    * [[graft.operators.KnnIndex.knnJoinDelta]]'s `payloadWhere` option
    * (q125): `payDf` carries one row per member id plus any number of
    * attribute columns (a flattened struct payload — license class,
    * language, a quality score), and `predicate` is a conjunction over
    * them ("cls IN (…) AND quality > q"). Decision order is the q118
    * restrict position verbatim — integer ADC shortlist and
    * rounded-cosine rescore over ALL members, the predicate filters the
    * rescored pairs, rank re-numbers — so one more WHERE conjunction over
    * the q114 CTE prefix replays every verdict in ANSI SQL. The
    * survivors' attribute columns ride the output. */
  def knnJoinIvfPqPortablePayloadWhere(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      payDf: DataFrame,
      predicate: org.apache.spark.sql.Column,
      k: Int = 5,
      nLists: Int = 8,
      nprobe: Int = 2,
      m: Int = 8,
      ks: Int = 16,
      kCand: Int = 20,
      dims: Int = 0
  ): DataFrame =
    knnJoinIvfPqPortableCore(df, idCol, vecCol, k, nLists, nprobe, m, ks,
      kCand, dims, probeIds = None, payloadWhere = Some((payDf, predicate)))

  /** The INCREMENTAL form of [[knnJoinIvfPqPortable]] — the oracle twin of
    * the [[graft.operators.KnnIndex]] delta pass (q116), the same move q87
    * made for the MinHash family: `newDf` is a delta batch arriving against
    * an already-indexed `oldDf`, and only the NEW rows probe — every stage
    * (cells, codes, ADC shortlist, rescore, rank) is the q114 pipeline with
    * the probe side restricted, so candidate work is |new|-driven while
    * members span old ∪ new (a new doc can match an old one or another
    * arrival in its own batch; old docs never pair with each other).
    * Every pruning decision stays exact integer arithmetic — an ANSI
    * engine replays the whole delta verdict by adding one probe-side
    * filter to the q114 SQL.
    *
    * Returns (id_a ∈ new, id_b ∈ old ∪ new, cosine, rank), rank 1..k. */
  def knnJoinIvfPqPortableIncremental(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5,
      nLists: Int = 8,
      nprobe: Int = 2,
      m: Int = 8,
      ks: Int = 16,
      kCand: Int = 20,
      dims: Int = 0
  ): DataFrame = {
    val o = oldDf.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    val nw = newDf.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
    knnJoinIvfPqPortableCore(o.unionByName(nw), "id", "v", k, nLists, nprobe,
      m, ks, kCand, dims, probeIds = Some(nw.select(col("id"))))
  }

  /** Engine-portable hard-negative mining — the oracle-checkable twin of
    * [[hardNegativesAnnCell]] (q120), mirroring its decision ORDER exactly:
    * same-label candidate pairs are excluded BEFORE the `kCand` ADC cut,
    * so the integer shortlist is spent entirely on candidate negatives,
    * then only survivors get the rounded-cosine rescore and the final
    * (cosine desc, id asc) rank. One label-mismatch predicate over the
    * q114 candidate CTE replays the whole verdict in ANSI SQL. Labels are
    * read from `labelCol`; null-label rows never pair (the `=!=`
    * convention of the exact baseline). Returns
    * (id_a, label_a, id_b, label_b, cosine, rank), rank 1..k. */
  def hardNegativesPortable(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int = 5,
      nLists: Int = 8,
      nprobe: Int = 2,
      m: Int = 8,
      ks: Int = 16,
      kCand: Int = 20,
      dims: Int = 0
  ): DataFrame =
    knnJoinIvfPqPortableCore(df, idCol, vecCol, k, nLists, nprobe, m, ks,
      kCand, dims, probeIds = None,
      labelDf = Some(df.select(col(idCol).cast("long").as("id"),
        col(labelCol).as("lbl"))))

  /** The class-BALANCED form of [[hardNegativesPortable]] — the oracle twin
    * of [[hardNegativesAnnCellBalanced]] (q123): the full rescored
    * mismatch shortlist (the q120 pipeline with the rank cut at `kCand`,
    * i.e. uncut), re-ranked per (anchor, foreign label) and cut at `k`
    * within each class. One extra window partition key over the q120 SQL
    * replays every balanced verdict in an ANSI engine. */
  def hardNegativesPortableBalanced(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int = 2,
      nLists: Int = 8,
      nprobe: Int = 2,
      m: Int = 8,
      ks: Int = 16,
      kCand: Int = 20,
      dims: Int = 0
  ): DataFrame = {
    val all = hardNegativesPortable(df, idCol, vecCol, labelCol, k = kCand,
      nLists, nprobe, m, ks, kCand, dims)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a"), col("label_b"))
      .orderBy(col("cosine").desc, col("id_b").asc)
    all.drop("rank")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** The INCREMENTAL form of [[hardNegativesPortable]] — the oracle twin of
    * [[graft.operators.KnnIndex.hardNegativesDelta]] (q121): anchors are the
    * arriving batch only (the q116 probe restriction), candidates span
    * old ∪ new, and same-label pairs are excluded before the kCand ADC cut
    * (the q120 gate) — both options composed on the one portable pipeline,
    * so one probe filter plus one mismatch predicate over the q114 SQL
    * replays every delta mining verdict in an ANSI engine. Returns
    * (id_a ∈ new, label_a, id_b ∈ old ∪ new, label_b, cosine, rank). */
  def hardNegativesPortableIncremental(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int = 5,
      nLists: Int = 8,
      nprobe: Int = 2,
      m: Int = 8,
      ks: Int = 16,
      kCand: Int = 20,
      dims: Int = 0
  ): DataFrame = {
    val o = oldDf.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
      col(labelCol).as("lbl"))
    val nw = newDf.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
      col(labelCol).as("lbl"))
    val union = o.unionByName(nw)
    knnJoinIvfPqPortableCore(union, "id", "v", k, nLists, nprobe, m, ks,
      kCand, dims, probeIds = Some(nw.select(col("id"))),
      labelDf = Some(union.select(col("id"), col("lbl"))))
  }

  private def knnJoinIvfPqPortableCore(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nLists: Int,
      nprobe: Int,
      m: Int,
      ks: Int,
      kCand: Int,
      dims0: Int,
      probeIds: Option[DataFrame],
      restrictIds: Option[DataFrame] = None,
      labelDf: Option[DataFrame] = None,
      payloadFilter: Option[(DataFrame, Seq[Any])] = None,
      payloadWhere: Option[(DataFrame, org.apache.spark.sql.Column)] = None
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // same dims = 0 derive / explicit-mismatch-raises rule as ivfJoinCore
    val dims = Stage.deriveDims(
      df.select(col(vecCol).as("v")), "v", dims0)
    require(dims % m == 0, "dims must divide into m subspaces")
    val subDim = dims / m
    def md5head(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val signDf = (for { c <- 0 until nLists; i <- 1 to dims } yield
        (c, i, if (md5head(s"ivf-$c-$i") % 2 == 0) 1 else -1))
      .toDF("c", "dim", "sgn")
    val cbDf = (for { s <- 0 until m; c <- 0 until ks; j <- 1 to subDim } yield
        (s, c, s * subDim + j, (md5head(s"pq-$s-$c-$j") % 2001 - 1000) * 1000L))
      .toDF("sub", "code", "dim", "cq")
    val base = Stage.ensureWide(df.select(col(idCol).cast("long").as("id"),
        col(vecCol).as("v")))
      .withColumn("norm", l2norm(col("v")))
      .filter(col("norm") > 0)
    val ve = base.select(col("id"), col("norm"), posexplode(col("v")))
      .select(col("id"), col("norm"), (col("pos") + 1).as("dim"),
        round(col("col").cast("double") * 1e6).cast("long").as("xq"),
        col("col").cast("double").as("x"))
    val wCell = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("dot").desc, col("c").asc)
    val ranked = ve.join(broadcast(signDf), "dim")
      .groupBy(col("id"), col("c")).agg(sum(col("sgn") * col("xq")).as("dot"))
      .withColumn("rk", row_number().over(wCell))
    val assigned = ranked.filter(col("rk") === 1).select(col("id"), col("c"))
    // incremental mode: only delta ids probe (members stay the full union);
    // the id set is the delta — broadcast-sized by construction
    val probedAll = ranked.filter(col("rk") <= nprobe).select(col("id"), col("c"))
    val probed = probeIds match {
      case Some(ids) => probedAll.join(broadcast(ids.distinct()), Seq("id"))
      case None => probedAll
    }
    // per-(id, sub, code) exact bigint squared distance — the member's code
    // argmin AND the query's ADC table come from this one aggregate
    val dists = ve.join(broadcast(cbDf), "dim")
      .groupBy(col("id"), col("sub"), col("code"))
      .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("d2"))
    val wCode = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id"), col("sub")).orderBy(col("d2").asc, col("code").asc)
    val codes = dists.withColumn("rk", row_number().over(wCode))
      .filter(col("rk") === 1).select(col("id"), col("sub"), col("code"))
    // candidates: probe cells meet assigned cells (a member sits in exactly
    // one cell, so no pair duplicates); ADC = Σ_sub queryDist(member code)
    val cands0 = probed.select(col("id").as("id_a"), col("c"))
      .join(assigned.select(col("id").as("id_b"), col("c")), "c")
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))
    // hard-negative mode: same-label pairs are excluded BEFORE the kCand
    // ADC cut — the decision position hardNegativesAnnCell's in-cell
    // shortlist gate holds, so an ANSI engine replays the verdict by one
    // mismatch predicate on the q114 candidate CTE
    val cands = labelDf match {
      case Some(lb) =>
        cands0
          .join(broadcast(lb.select(col("id").as("id_a"), col("lbl").as("la"))),
            Seq("id_a"))
          .join(broadcast(lb.select(col("id").as("id_b"), col("lbl").as("lb"))),
            Seq("id_b"))
          .filter(col("la") =!= col("lb"))
          .select(col("id_a"), col("id_b"))
      case None => cands0
    }
    val adc = cands
      .join(codes.select(col("id").as("id_b"), col("sub"), col("code")),
        Seq("id_b"))
      .join(dists.select(col("id").as("id_a"), col("sub"), col("code"),
        col("d2")), Seq("id_a", "sub", "code"))
      .groupBy(col("id_a"), col("id_b")).agg(sum(col("d2")).as("adc"))
    val wSl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a")).orderBy(col("adc").asc, col("id_b").asc)
    val shortlist = adc.withColumn("rk", row_number().over(wSl))
      .filter(col("rk") <= kCand).select(col("id_a"), col("id_b"))
    val dp = shortlist
      .join(ve.select(col("id").as("id_a"), col("dim"), col("x").as("xa"),
        col("norm").as("na")), Seq("id_a"))
      .join(ve.select(col("id").as("id_b"), col("dim"), col("x").as("xb"),
        col("norm").as("nb")), Seq("id_b", "dim"))
      .groupBy(col("id_a"), col("id_b"), col("na"), col("nb"))
      .agg(sum(col("xa") * col("xb")).as("d"))
      .select(col("id_a"), col("id_b"),
        round(col("d") / (col("na") * col("nb")), 6).as("cosine"))
    // member allow-list: filter the rescored shortlist BEFORE the rank so
    // rank re-numbers over allowed survivors — the exact position the
    // native path's deepened-rescore + semi-join applies it at
    val allowed = restrictIds match {
      case Some(r) => dp.join(
        r.select(col(r.columns.head).cast("long").as("id_b")).distinct(),
        Seq("id_b"), "left_semi")
      case None => dp
    }
    // payload predicate at the SAME restrict position (the KnnIndex
    // payloadIn decision order): shortlist and rescore over all members,
    // filter the rescored pairs by the member's payload value, rank
    // re-numbers over the survivors; payload_b rides the output
    // no broadcast hint: the payload projection is the FULL corpus (id,
    // pay) — ~800 MB at 50M rows — so forcing it past
    // autoBroadcastJoinThreshold is a driver/executor memory hazard at
    // grid scale; the planner broadcasts it on its own at oracle sizes
    val paySet = payloadFilter match {
      case Some((pdf, vals)) =>
        allowed
          .join(pdf.select(col("id").as("id_b"),
            col("pay").as("payload_b")), Seq("id_b"))
          .filter(col("payload_b").isin(vals: _*))
      case None => allowed
    }
    // general payload predicate (set + range conjunctions over several
    // attached attribute columns) at the SAME position — the q125 oracle
    // twin of knnJoinDelta(payloadWhere): pdf carries (id, <fields…>),
    // the predicate references the field columns, and every field rides
    // the output so the filter's inputs are visible in the result
    val payFiltered = payloadWhere match {
      case Some((pdf, pred)) =>
        paySet
          .join(pdf.withColumnRenamed(pdf.columns.head, "id_b"), Seq("id_b"))
          .filter(pred)
      case None => paySet
    }
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a")).orderBy(col("cosine").desc, col("id_b").asc)
    val rankedOut = payFiltered
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
    labelDf match {
      case Some(lb) =>
        rankedOut
          .join(broadcast(lb.select(col("id").as("id_a"), col("lbl").as("la"))),
            Seq("id_a"))
          .join(broadcast(lb.select(col("id").as("id_b"), col("lbl").as("lb"))),
            Seq("id_b"))
          .select(col("id_a"), col("la").as("label_a"), col("id_b"),
            col("lb").as("label_b"), col("cosine"), col("rank"))
      case None =>
        val outCols = Seq(col("id_a"), col("id_b")) ++
          (if (payloadFilter.isDefined) Seq(col("payload_b")) else Nil) ++
          payloadWhere.toSeq.flatMap(_._1.columns.tail).map(col) ++
          Seq(col("cosine"), col("rank"))
        rankedOut.select(outCols: _*)
    }
  }

  /** Incremental SEMANTIC-DEDUP verdicts on the portable IVF+PQ pipeline —
    * the oracle anchor for [[graft.operators.KnnIndex.dedupDelta]] (q117).
    * The [[knnJoinIvfPqPortableIncremental]] candidate machinery runs with
    * the rank cut REMOVED (`k = kCand`: every shortlisted pair keeps its
    * rescored cosine, so the verdict is a pure function of the exact
    * integer shortlist an ANSI engine replays), then the q87
    * incremental-dedup rule folds the pairs ([[Dedup.pairVerdicts]]): a
    * new row is a duplicate when some shortlisted neighbor clears `tau`
    * and is either a stored member (`dup_of_old` = min such id) or a
    * LOWER-id row of its own batch (`dup_of_new` — the greedy leader
    * ordering). Same (id, dup_of_old, dup_of_new, kept) contract, -1 for
    * no match; every new id appears exactly once (zero-norm rows
    * trivially kept). */
  def semanticDedupIncrementalPortable(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      vecCol: String,
      tau: Double,
      nLists: Int = 8,
      nprobe: Int = 2,
      m: Int = 8,
      ks: Int = 16,
      kCand: Int = 20,
      dims: Int = 0
  ): DataFrame = {
    val nn = knnJoinIvfPqPortableIncremental(oldDf, newDf, idCol, vecCol,
      k = kCand, nLists, nprobe, m, ks, kCand, dims)
    Dedup.pairVerdicts(nn, newDf.select(col(idCol).cast("long").as("id")), tau)
  }

  def portableIvfTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long = 0L,
      nLists: Int = 8,
      nprobe: Int = 2,
      k: Int = 10,
      dims: Int = 0
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val dimsActual = Stage.deriveDims(
      df.select(col(vecCol).as("v")), "v", dims)
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      d.map(b => f"$b%02x").mkString
    }
    val signDf = (for { c <- 0 until nLists; i <- 1 to dimsActual } yield (c, i,
        if (java.lang.Long.parseLong(md5hex(s"ivf-$c-$i").substring(0, 8), 16) % 2 == 0) 1
        else -1))
      .toDF("c", "dim", "sgn")
    val base = Stage.ensureWide(df.select(col(idCol).as("id"), col(vecCol).as("v")))
      .withColumn("norm", l2norm(col("v")))
      .filter(col("norm") > 0)
    val ve = base.select(col("id"), posexplode(col("v")))
      .select(col("id"), (col("pos") + 1).as("dim"),
        round(col("col").cast("double") * 1e6).cast("long").as("xq"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("dot").desc, col("c").asc)
    val ranked = ve.join(broadcast(signDf), "dim")
      .groupBy(col("id"), col("c")).agg(sum(col("sgn") * col("xq")).as("dot"))
      .withColumn("rk", row_number().over(w))
    val assigned = ranked.filter(col("rk") === 1).select(col("id"), col("c"))
    val probed = ranked
      .filter(col("id") === queryId && col("rk") <= nprobe).select(col("c"))
    val cands = assigned.join(broadcast(probed), "c")
      .filter(col("id") =!= queryId).select(col("id"))
    val qRow = base.filter(col("id") === queryId)
      .select(col("v").as("qv"), col("norm").as("qn"))
    cands.join(Stage.attachSide(base), "id")
      .crossJoin(broadcast(qRow))
      .select(col("id").as("vec_id"),
        round(dot(col("v"), col("qv")) / (col("norm") * col("qn")), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }
}
