package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators over the `events` stream shape
  * (event_id, ts, user_id, event_type, value).
  *
  * The reference has no streaming surface (SURVEY §2.D) — "events" is just a
  * table name there — but a training-data engine ingesting at 100 TB scale
  * needs an incremental path. All transformations here are
  * source-independent: the same code runs over `readStream` (files/Kafka/
  * rate) and over a batch DataFrame, which is also how the specs test the
  * exact stream/batch parity Structured Streaming guarantees.
  *
  * Scale notes: windowed counts keep state per (window, event_type) — bounded
  * by the watermark horizon; sessionization state is one small record per
  * active user, dropped on timeout. Both shuffle once on their grouping key.
  */
object EventStreams {

  /** File-based stream source over an events directory (parquet parts land
    * atomically; schema must be supplied for streaming reads). */
  def readEventsStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = spark.read.parquet(dir).schema
    spark.readStream.schema(schema).parquet(dir)
  }

  /** Tumbling-window event counts with a watermark: late rows beyond
    * `watermark` are dropped, so state is bounded. Works identically on a
    * batch frame (window() is a plain grouping expression). */
  def windowedCounts(
      events: DataFrame,
      watermark: String = "10 minutes",
      windowLen: String = "10 minutes"
  ): DataFrame = {
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
  }

  /** Streaming exact dedup on an id column: state is bounded by the
    * watermark horizon (`dropDuplicatesWithinWatermark`), so an at-least-once
    * upstream (Kafka, file redelivery) collapses to exactly-once rows without
    * unbounded key state — the streaming face of [[graft.operators.Dedup.exact]]. */
  def dedupStream(events: DataFrame, idCol: String = "event_id",
      watermark: String = "1 hour"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(idCol)
    else events.dropDuplicates(idCol)

  /** Stream-static enrichment join: every micro-batch of the (unbounded)
    * stream joins a bounded dimension frame re-read per batch. The dimension
    * side is broadcast, so the stream side never shuffles and no join state
    * accumulates — the standard shape for attaching user/item attributes to
    * an event firehose. Works identically on a batch frame. */
  def enrich(events: DataFrame, dim: DataFrame, key: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    events.join(broadcast(dim), Seq(key), "left")
  }

  /** Incremental corpus preparation: the scan-local TextOps column
    * expressions applied unchanged to a documents stream — quality score,
    * language id, normalized fingerprint. Stateless (one projection), so the
    * streaming face of the batch quality pipeline costs exactly the batch
    * expressions per micro-batch. */
  def profileDocsStream(docs: DataFrame): DataFrame = {
    import graft.operators.TextOps
    docs.select(col("doc_id"),
      TextOps.qualityScore(col("text")).as("quality"),
      TextOps.langId(col("text")).as("lang_guess"),
      TextOps.fingerprint(col("text")).as("fingerprint"))
  }

  /** On-ingest classifier scoring — the batch-train → stream-apply
    * pattern for the quality/language filter: weights come from an
    * offline [[graft.operators.Classifier.logisticFit]] run over a
    * labeled corpus, and every arriving document is scored STATELESSLY
    * (the weights inline as literals into the projection, so the whole
    * scorer is one codegen'd expression — no state store, no shuffle, no
    * model runtime on the hot path; ingest throughput stays scan-bound).
    * `featureCols` are the same closed-form expressions the fit used.
    * Works identically on a batch frame — parity-tested. Returns the
    * input plus (p, keep). */
  def classifierScoreStream(docs: DataFrame, weights: Array[Double],
      featureCols: Seq[Column], threshold: Double = 0.5): DataFrame =
    docs
      .withColumn("p",
        graft.operators.Classifier.logisticScore(weights, featureCols))
      .withColumn("keep", col("p") >= threshold)

  /** On-ingest hashed-DSIR importance scoring — the streaming face of the
    * q104 importance-resampling weight: bucket log-ratios mined offline
    * ([[graft.operators.Classifier.dsirBucketWeights]], bounded at
    * `buckets` doubles regardless of vocabulary) ride into the stream as
    * an array literal, and each arriving document scores through one
    * in-row fold — stateless, shuffle-free, no per-token join on the hot
    * path. Works identically on a batch frame — parity-tested. Returns
    * the input plus `dsir_weight`. */
  def dsirScoreStream(docs: DataFrame, weights: Array[Double]): DataFrame =
    docs.withColumn("dsir_weight",
      graft.operators.Classifier.dsirScore(col("text"), weights))

  /** Trending n-grams over a document stream — the SpaceSaving summary
    * ([[graft.functions.SpaceSavingTopK]]) run as a streaming (complete
    * mode) aggregation: each micro-batch's partial summaries merge into
    * the running state through the aggregate's own mergeable-summaries
    * rule, so state is a CONSTANT `counters` slots no matter how long the
    * stream runs or how many distinct n-grams pass — the same bound that
    * makes the batch exchange O(partitions × counters). est ≥ true ≥
    * est − err and the guaranteed-hitter property hold over everything
    * ingested so far (merge order across batches can shift est/err within
    * those bounds — parity is asserted against the invariants, not
    * bit-equality with a batch run). Returns one row per hitter:
    * (ngram, est, err). */
  def trendingNgramsStream(docs: DataFrame, n: Int = 3, k: Int = 20,
      counters: Int = 256): DataFrame = {
    val tk = split(trim(lower(col("text"))), "\\s+")
    docs.select(explode(when(size(tk) >= n, transform(
        sequence(lit(1), size(tk) - (n - 1)),
        i => concat_ws(" ", slice(tk, i, lit(n)))))
      .otherwise(array())).as("ngram"))
      .agg(graft.functions.SpaceSavingTopK
        .space_saving_topk(col("ngram"), counters, k).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.item").as("ngram"), col("t.est"), col("t.err"))
  }

  /** Stream-side boilerplate filter — the batch-mine → stream-apply
    * pattern: a blocklist of hot character windows mined offline
    * ([[graft.operators.TextOps.hotWindows]], the detection half of
    * span-level dedup) is applied STATELESS to every arriving document.
    * The blocklist collapses to a one-row array broadcast with the
    * stream-static cross join, and the membership test is one
    * `arrays_overlap` over ALL of the arriving doc's stride-1 windows —
    * testing every offset makes the check alignment-free regardless of how
    * the blocklist was mined (mine it with `modP > 0` so the CORPUS side
    * is alignment-free too; non-selected windows are simply never in the
    * blocklist, so the superset test changes no verdict). No per-doc
    * state, no shuffle on the stream side — ingest throughput is
    * scan-bound at any scale (the blocklist is top-of-the-Zipf-head by
    * construction, small by the same argument as the q23 posting cap).
    * Docs shorter than one window carry no windows and are never flagged.
    * Works identically on a batch frame — parity-tested. Returns the
    * input plus a `flagged` boolean. */
  def boilerplateFilterStream(docs: DataFrame, blocklist: DataFrame,
      winLen: Int = 20): DataFrame = {
    val bl = broadcast(blocklist.agg(collect_list(col("w")).as("bl")))
    docs.crossJoin(bl)
      .withColumn("flagged", arrays_overlap(
        when(length(col("text")) >= winLen, transform(
            sequence(lit(1), length(col("text")) - (winLen - 1)),
            i => col("text").substr(i, lit(winLen))))
          .otherwise(array().cast("array<string>")),
        col("bl")))
      .drop("bl")
  }

  /** On-ingest SPAN decontamination — the streaming face of
    * [[graft.operators.TextOps.decontaminateSpans]]: every arriving train
    * document is checked against a STATIC eval-benchmark window set, and
    * the contaminated-interval merge runs ENTIRELY INSIDE THE ROW — the
    * matching window starts come back ascending from one higher-order
    * `filter` over the position sequence, so a single `aggregate` fold
    * merges them into disjoint spans with four scalars of state (count,
    * removed, current span start/end). No stream-side state store, no
    * shuffle, no watermark: ingest throughput is scan-bound, and the
    * verdict is available the moment the row is. Selection mirrors the
    * batch operator (`modP` content-defined, md5) so stream and batch
    * agree doc-for-doc — parity-tested. `evalWindows` is the
    * mod-p-selected distinct window set of the benchmark ((w) rows, e.g.
    * `TextOps.hotWindows(eval…, minFreq = 1, modP = 5)`), collapsed to a
    * one-row broadcast array.
    *
    * Returns the input plus (n_spans, removed_chars, flagged). */
  def decontaminateSpansStream(docs: DataFrame, evalWindows: DataFrame,
      winLen: Int = 20, modP: Int = 5): DataFrame = {
    val bl = broadcast(evalWindows.agg(collect_list(col("w")).as("bl")))
    val starts = when(length(col("text")) >= winLen,
        filter(
          sequence(lit(1), length(col("text")) - (winLen - 1)),
          i => {
            val w = col("text").substr(i, lit(winLen))
            val sel =
              if (modP > 0)
                conv(substring(md5(to_binary(w, lit("utf-8"))), 1, 8), 16, 10)
                  .cast("long") % modP === 0
              else lit(true)
            sel && array_contains(col("bl"), w)
          }))
      .otherwise(array().cast("array<int>"))
    val zero = struct(lit(0L).as("n"), lit(0L).as("rm"),
      lit(0).as("cs"), lit(0).as("ce"))
    val acc = aggregate(starts, zero,
      (a, i) => {
        val e = i + (winLen - 1)
        when(a.getField("cs") === 0,
          struct(lit(1L).as("n"), lit(0L).as("rm"), i.as("cs"), e.as("ce")))
        .when(i <= a.getField("ce"),
          struct(a.getField("n").as("n"), a.getField("rm").as("rm"),
            a.getField("cs").as("cs"), e.as("ce")))
        .otherwise(struct((a.getField("n") + 1).as("n"),
          (a.getField("rm") + a.getField("ce") - a.getField("cs") + 1).as("rm"),
          i.as("cs"), e.as("ce")))
      },
      a => struct(a.getField("n").as("n"),
        when(a.getField("cs") === 0, a.getField("rm"))
          .otherwise(a.getField("rm") + a.getField("ce") - a.getField("cs") + 1)
          .as("rm")))
    docs.crossJoin(bl)
      .withColumn("acc", acc)
      .withColumn("n_spans", col("acc").getField("n"))
      .withColumn("removed_chars", col("acc").getField("rm").cast("long"))
      .withColumn("flagged", col("n_spans") > 0)
      .drop("bl", "acc")
  }

  /** Streaming decontamination — the on-ingest face of
    * [[graft.operators.Contamination.overlap]]: every arriving training doc
    * is checked for n-gram overlap against a STATIC benchmark corpus before
    * it ever lands in the training set (catching leakage at ingest beats a
    * nightly batch sweep at 100 TB — contaminated docs never get written).
    *
    * Shape: the stream side explodes to (doc_id, shingle-hash) — already
    * distinct per doc, the native `ShingleHashes` contract — and
    * stream-static inner-joins the benchmark's distinct hash set (bounded,
    * planner-broadcast), then counts matches per doc: an exact distinct
    * shared-shingle count with NO stateful distinct. The aggregation is the
    * only stateful op (state = one counter per contaminated doc id; clean
    * docs never enter state because the inner join drops them). Emit in
    * `update` mode. Works identically on a batch frame — parity-tested.
    *
    * Returns (train_id, n_shared) for docs sharing ≥ `minShared` distinct
    * shingles with the benchmark. */
  def decontaminateStream(
      docs: DataFrame,
      evalDocs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleLen: Int = 3,
      minShared: Int = 2
  ): DataFrame = {
    import graft.functions.HashExpressions
    def hashes(df: DataFrame, keep: Column): DataFrame =
      df.select(keep,
        explode(HashExpressions.shingle_hashes(
          split(trim(lower(col(textCol))), "\\s+"), shingleLen)).as("sh_h"))
    val evalHashes = hashes(evalDocs, lit(1).as("one")).select(col("sh_h")).distinct()
    hashes(docs, col(idCol).as("train_id"))
      .join(broadcast(evalHashes), "sh_h")
      .groupBy(col("train_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Stream-stream interval join — click→purchase attribution: each click
    * pairs with every purchase by the same user inside the attribution
    * window after it. Both sides carry watermarks and the join condition
    * bounds event time in BOTH directions, so each side's buffered state is
    * watermark + window deep — the canonical bounded-state stream-stream
    * join. Works identically on batch frames (the interval join is a plain
    * theta join there) — parity-tested.
    *
    * Returns (click_id, purchase_id, user_id, click_ts, purchase_ts, value). */
  def attributeStream(
      clicks: DataFrame,
      purchases: DataFrame,
      attributionWindow: String = "10 minutes",
      watermark: String = "20 minutes"
  ): DataFrame = {
    def wm(df: DataFrame) =
      if (df.isStreaming) df.withWatermark("ts", watermark) else df
    wm(clicks).as("c").join(wm(purchases).as("p"),
        expr(s"""c.user_id = p.user_id AND
                 p.ts >= c.ts AND p.ts <= c.ts + INTERVAL $attributionWindow"""))
      .select(col("c.event_id").as("click_id"), col("p.event_id").as("purchase_id"),
        col("c.user_id").as("user_id"), col("c.ts").as("click_ts"),
        col("p.ts").as("purchase_ts"), col("p.value").as("value"))
  }

  case class DocSig(doc_id: Long, sig: Long, bucket: Long)
  case class NearDupVerdict(doc_id: Long, is_dup: Boolean, dup_of: Long)
  case class BucketState(sigs: List[(Long, Long)])

  /** Streaming near-duplicate FILTER — the ingest-time guard in front of
    * the exact batch dedup passes: each arriving doc's 64-bit SimHash is
    * checked against previously admitted docs in its bucket (top 16
    * signature bits); within `maxHamming` of any of them → flagged with the
    * admitting doc's id, else admitted into state.
    *
    * Approximate BY DESIGN and documented as such: one 16-bit band catches
    * near-dups agreeing on those bits (the overwhelming case at Hamming ≤ 8
    * over 64 bits, but not all of them) — the batch operators
    * ([[graft.operators.Dedup.simhashPairs]] etc.) remain the exact ground
    * truth; this pass exists so the obvious dups never get written at
    * 100 TB ingest rates. State is bounded: ≤ `maxPerBucket` (sig, id)
    * pairs per bucket, newest kept. Precedence is arrival order; within a
    * micro-batch, ascending doc id (deterministic replay). Works on a batch
    * frame through the same `flatMapGroupsWithState` — parity-tested.
    *
    * Emits (doc_id, is_dup, dup_of = admitting id or −1). */
  def nearDupFilterStream(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 8,
      maxPerBucket: Int = 1024
  ): Dataset[NearDupVerdict] = {
    import docs.sparkSession.implicits._
    import graft.functions.HashExpressions
    val sigs = docs.select(col(idCol).cast("long").as("doc_id"),
        HashExpressions.simhash64(split(trim(lower(col(textCol))), "\\s+")).as("sig"))
      .withColumn("bucket", shiftrightunsigned(col("sig"), 48))
      .as[DocSig]
    sigs.groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketState, NearDupVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (_, it, state) =>
        var seen = state.getOption.map(_.sigs).getOrElse(Nil)
        val out = List.newBuilder[NearDupVerdict]
        it.toSeq.sortBy(_.doc_id).foreach { d =>
          seen.find { case (s, _) =>
            java.lang.Long.bitCount(s ^ d.sig) <= maxHamming
          } match {
            case Some((_, admittedId)) =>
              out += NearDupVerdict(d.doc_id, is_dup = true, dup_of = admittedId)
            case None =>
              out += NearDupVerdict(d.doc_id, is_dup = false, dup_of = -1L)
              seen = (d.sig, d.doc_id) :: seen
              if (seen.length > maxPerBucket) seen = seen.take(maxPerBucket)
          }
        }
        state.update(BucketState(seen))
        out.result().iterator
      }
  }

  case class DocSigT(doc_id: Long, sig: Long, bucket: Long, ts_ms: Long)
  case class BucketStateT(sigs: List[(Long, Long, Long)], maxTsMs: Long)

  /** [[nearDupFilterStream]] with an EVENT-TIME TTL on admitted signatures:
    * an admitted doc blocks near-dups only while it is younger than `ttlMs`
    * relative to the newest event time its bucket has seen. Without a TTL
    * the filter's state is bounded (`maxPerBucket`) but PERMANENT — a
    * long-running ingest never reclaims buckets last touched months ago;
    * with one, cold entries age out and an empty bucket's state row is
    * removed entirely, so steady-state memory tracks the ACTIVE corpus
    * window, not corpus history.
    *
    * Eviction contract (the parity-spec'd semantics): entries are evicted
    * exactly when `entry.ts < horizon`, where the horizon is the bucket's
    * running max event time minus `ttlMs`, advanced row by row in (ts, id)
    * order. Consequences, both asserted by the spec: (a) a duplicate
    * arriving WITHIN `ttlMs` of its admitted original is still flagged —
    * eviction never forgets a doc younger than the horizon; (b) a duplicate
    * arriving LATER than `ttlMs` after its original is re-admitted as new
    * (and becomes the bucket's blocking entry). That re-admission is the
    * deliberate trade: the batch dedup passes downstream remain the exact
    * ground truth; this pass only needs the recent window to keep obvious
    * dups from being written at ingest.
    *
    * Rows process in ascending (ts, doc_id) within each micro-batch —
    * deterministic replay, batch ≡ stream on in-order input (same contract
    * as [[nearDupFilterStream]]'s doc-id order, refined by event time).
    *
    * Emits (doc_id, is_dup, dup_of = admitting id or −1). */
  def nearDupFilterStreamTtl(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      tsCol: String = "ts",
      ttlMs: Long = 24 * 3600 * 1000L,
      maxHamming: Int = 8,
      maxPerBucket: Int = 1024
  ): Dataset[NearDupVerdict] = {
    import docs.sparkSession.implicits._
    import graft.functions.HashExpressions
    require(ttlMs > 0, "ttlMs must be positive; use nearDupFilterStream for no TTL")
    val sigs = docs.select(col(idCol).cast("long").as("doc_id"),
        HashExpressions.simhash64(split(trim(lower(col(textCol))), "\\s+")).as("sig"),
        (col(tsCol).cast("double") * 1000).cast("long").as("ts_ms"))
      .withColumn("bucket", shiftrightunsigned(col("sig"), 48))
      .as[DocSigT]
    sigs.groupByKey(_.bucket)
      .flatMapGroupsWithState[BucketStateT, NearDupVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (_, it, state) =>
        var seen = state.getOption.map(_.sigs).getOrElse(Nil)
        var maxTs = state.getOption.map(_.maxTsMs).getOrElse(Long.MinValue)
        val out = List.newBuilder[NearDupVerdict]
        it.toSeq.sortBy(d => (d.ts_ms, d.doc_id)).foreach { d =>
          maxTs = math.max(maxTs, d.ts_ms)
          seen = seen.filter { case (_, _, ts) => ts >= maxTs - ttlMs }
          seen.find { case (s, _, _) =>
            java.lang.Long.bitCount(s ^ d.sig) <= maxHamming
          } match {
            case Some((_, admittedId, _)) =>
              out += NearDupVerdict(d.doc_id, is_dup = true, dup_of = admittedId)
            case None =>
              out += NearDupVerdict(d.doc_id, is_dup = false, dup_of = -1L)
              seen = (d.sig, d.doc_id, d.ts_ms) :: seen
              if (seen.length > maxPerBucket) seen = seen.take(maxPerBucket)
          }
        }
        if (seen.isEmpty) state.remove()
        else state.update(BucketStateT(seen, maxTs))
        out.result().iterator
      }
  }

  case class VecRow(vec_id: Long, v: Seq[Float], c: Int)
  case class SemanticVerdict(vec_id: Long, cluster: Int, is_dup: Boolean, dup_of: Long)
  case class ClusterReps(reps: List[(Long, Double, Seq[Float])])

  /** Streaming SEMANTIC near-dup filter — the ingest-time face of
    * [[graft.operators.Similarity.semanticDedup]] (q83): each arriving
    * embedding is assigned to its portable-IVF cluster by the stateless
    * in-row `PortableIvfAssign` expression (no state, no shuffle beyond
    * the cluster grouping), then compared against that cluster's ADMITTED
    * representatives; rounded cosine ≥ `tau` against any of them → flagged
    * with the admitting vector's id, else admitted into state.
    *
    * This is classic ONLINE LEADER CLUSTERING, and its semantics differ
    * from the batch op by design: the batch rule drops a vector if ANY
    * earlier vector is within `tau` (a dropped vector still blocks later
    * ones); the stream compares only against admitted LEADERS, so a
    * chain a~b~c with cos(a,c) < tau keeps c in the stream but drops it
    * in batch. On chain-free inputs the two agree exactly (the parity the
    * spec pins alongside a chain counter-example); the batch operator
    * remains the exact ground truth, same contract as
    * [[nearDupFilterStream]] vs the batch dedup passes. State is bounded:
    * ≤ `maxPerCluster` reps per cluster, newest kept; zero-norm vectors
    * are dropped (never emitted), matching the batch op's norm > 0 gate.
    * Rows process in ascending vec_id within each micro-batch —
    * deterministic replay; works on a batch frame through the same
    * `flatMapGroupsWithState`.
    *
    * Emits (vec_id, cluster, is_dup, dup_of = admitting id or −1). */
  def semanticDedupFilterStream(
      vecs: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      nLists: Int = 64,
      tau: Double = 0.95,
      dims: Int = 0,
      maxPerCluster: Int = 1024
  ): Dataset[SemanticVerdict] = {
    import vecs.sparkSession.implicits._
    // dims = 0 derives from a sampled row on BATCH frames (the family
    // rule); a STREAMING frame cannot run the LIMIT-1 sample pre-start, so
    // it must pass the width explicitly — fail fast rather than default to
    // a silently-wrong 64
    val dimsActual =
      if (!vecs.isStreaming)
        graft.operators.Stage.deriveDims(
          vecs.select(col(vecCol).as("v")), "v", dims)
      else if (dims > 0) dims
      else throw new IllegalArgumentException(
        "semanticDedupFilterStream on a streaming frame needs an explicit " +
          "dims (a stream cannot be sampled before it starts)")
    val assigned = vecs.select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).as("v"),
        graft.functions.VectorExpressions
          .portable_ivf_assign(col(vecCol), nLists, dimsActual).as("c"))
      .as[VecRow]
    assigned.groupByKey(_.c)
      .flatMapGroupsWithState[ClusterReps, SemanticVerdict](
        OutputMode.Append, GroupStateTimeout.NoTimeout) { (c, it, state) =>
        var reps = state.getOption.map(_.reps).getOrElse(Nil)
        val out = List.newBuilder[SemanticVerdict]
        it.toSeq.sortBy(_.vec_id).foreach { d =>
          var nAcc = 0.0d
          var i = 0
          while (i < d.v.length) { val x = d.v(i).toDouble; nAcc += x * x; i += 1 }
          val norm = math.sqrt(nAcc)
          if (norm > 0) {
            reps.find { case (_, rNorm, rv) =>
              var dot = 0.0d
              var j = 0
              val n = math.min(rv.length, d.v.length)
              while (j < n) { dot += rv(j).toDouble * d.v(j).toDouble; j += 1 }
              graft.functions.GenExpressions.roundHalfUp(dot / (rNorm * norm), 6) >= tau
            } match {
              case Some((admittedId, _, _)) =>
                out += SemanticVerdict(d.vec_id, c, is_dup = true, dup_of = admittedId)
              case None =>
                out += SemanticVerdict(d.vec_id, c, is_dup = false, dup_of = -1L)
                reps = (d.vec_id, norm, d.v) :: reps
                if (reps.length > maxPerCluster) reps = reps.take(maxPerCluster)
            }
          }
        }
        state.update(ClusterReps(reps))
        out.result().iterator
      }
  }

  case class Event(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
      value: Double)
  case class SessionState(sessionStart: Long, lastSeen: Long, nEvents: Long)
  case class Session(user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long)

  /** Stateful sessionization with `flatMapGroupsWithState`: a session closes
    * after `gapMs` of inactivity in EVENT time — when a later event of the
    * same user arrives more than `gapMs` after it, or when the watermark
    * passes its last event + `gapMs` (an event-time state timeout). Emits
    * one row per closed session. Under `Trigger.AvailableNow()` the query
    * ends once the watermark stops advancing; sessions the watermark has
    * not passed stay open in the state. */
  def sessionize(
      events: Dataset[Event],
      gapMs: Long = 30 * 60 * 1000L,
      watermark: String = "30 minutes"
  ): Dataset[Session] = {
    import events.sparkSession.implicits._
    val src = if (events.isStreaming) events.withWatermark("ts", watermark) else events

    def flush(userId: Long, st: SessionState): Session =
      Session(userId, new Timestamp(st.sessionStart), new Timestamp(st.lastSeen), st.nEvents)

    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(flush(userId, _)).toIterator
            state.remove()
            out
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var st = state.getOption.getOrElse(
              SessionState(sorted.head.ts.getTime, sorted.head.ts.getTime, 0))
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              if (t - st.lastSeen > gapMs && st.nEvents > 0) {
                closed += flush(userId, st)
                st = SessionState(t, t, 1)
              } else {
                st = SessionState(st.sessionStart, math.max(st.lastSeen, t), st.nEvents + 1)
              }
            }
            state.update(st)
            state.setTimeoutTimestamp(st.lastSeen + gapMs)
            closed.result().iterator
          }
      }
  }

  /** Batch-mode sessionization with identical semantics (window + gap sum) —
    * the oracle for the stateful streaming path and the efficient form when
    * the data is already at rest. */
  def sessionizeBatch(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val ws = Window.partitionBy(col("user_id"), col("session_id"))
    events.toDF()
      .withColumn("prev_ms",
        lag((col("ts").cast("double") * 1000).cast("long"), 1).over(w))
      .withColumn("ms", (col("ts").cast("double") * 1000).cast("long"))
      .withColumn("new_session",
        when(col("prev_ms").isNull || col("ms") - col("prev_ms") > gapMs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .drop("session_id")
  }
}
