package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent, incrementally-maintained IVF+PQ k-NN index — the production
  * 100 TB shape for a corpus that INGESTS embeddings continuously.
  *
  * [[graft.operators.Similarity.knnJoinIvf]] is the right one-shot join, but
  * it rebuilds both cell directories and retrains PQ per call: across an
  * ingest campaign that is O(n) of quantizer CPU per delta batch — O(n²)
  * total — for state that barely changes. This operator splits the
  * lifecycle the way an LSM-style table does:
  *
  *  - [[build]] runs ONCE per index generation: trains the PQ codebook on a
  *    deterministic sample, assigns every vector its md5-sign IVF cell
  *    ([[graft.functions.VectorExpressions.PortableIvfAssign]] — a pure
  *    function of the vector, which is what makes APPEND possible at all),
  *    and writes one directory row per cell — `(cell, mem: array<(id,
  *    code)>, vmem: array<(id, norm, v)>)` — as parquet partitioned by
  *    `bucket = cell mod 256`.
  *  - [[append]] ingests a delta batch with work ∝ |delta|: the STORED
  *    codebook encodes the new vectors (no retraining), the deterministic
  *    assign rule places them in the same cells the base run would have,
  *    and the grouped delta rows append as NEW FILES into the bucket
  *    layout — the base directories are never read, rewritten, or
  *    re-encoded. A cell touched by several batches simply owns several
  *    directory rows; [[knnJoinDelta]] merges them in its rank stage
  *    (top-k-of-top-ks is exact — any global top-k member is within the
  *    top-k of its own row).
  *  - [[knnJoinDelta]] answers "k nearest index members for every delta
  *    row" with ZERO base exchange while the probes broadcast: the stored
  *    directories stream scan-local through the probe join into the
  *    knnJoinIvf cell expressions, and the only exchange is the rank merge
  *    of the winner arrays, ∝ |delta|·nprobe·k. [[deltaSearch]] states the
  *    plan once; [[hardNegativesDelta]] is its label mode.
  *
  * The quantizer-CPU account (the measured 2/3 of knnJoinIvf's wall): per
  * delta pass it is paid for |delta| rows only — assign + encode of the
  * base happened once at [[build]] and lives in the files.
  *
  * The rest of the LSM lifecycle:
  *
  *  - [[delete]] appends id tombstones to a side log — O(|ids|), no
  *    directory rewrite. [[knnJoinDelta]] honors the log logically
  *    (rescore deepened to `kCand`, tombstoned ids filtered before the
  *    rank cut — exact while live-members-per-probed-cell ≥ the shortlist
  *    depth; the LSM read-amplification story).
  *  - [[compact]] is the `EXECUTE optimize` analogue: merges each cell's
  *    accumulated per-batch directory rows back to ONE row, applies
  *    tombstones PHYSICALLY (then truncates the log), coalesces the
  *    bucket files, and — when occupancy has drifted past the build-time
  *    policy — RESPLITS to a new `nLists` while REUSING the stored
  *    codebook: PQ training (the expensive float-iterative piece of
  *    [[build]]) is never re-paid; only deterministic assign + encode CPU
  *    over the stored vectors plus one sized exchange. Crash-safe AND
  *    reader-safe via the generation-pointer swap (a fresh
  *    `members-gen-<N>` tree committed by atomically rewriting the tiny
  *    `CURRENT` pointer; superseded generations stay on disk for
  *    [[vacuum]]'s grace window so in-flight queries finish on a complete
  *    snapshot), and consistent under resplit because each generation is
  *    SELF-DESCRIBING: its `nl=<nLists>` partition level carries the one
  *    parameter its cells were computed with, so members and their
  *    nLists swap in the same pointer commit — there is no window where a
  *    stale `meta` row could aim probes at re-split cells.
  *
  * Like knnJoinIvf, the trained-PQ shortlist makes this family spec-gated
  * on recall; the oracle anchor is the portable twin
  * ([[graft.operators.Similarity.knnJoinIvfPqPortableIncremental]], q116),
  * whose pruning decisions replay exactly in ANSI SQL. */
object KnnIndex {

  /** Bucket fan-out of the stored layout: cells map to `cell mod Buckets`
    * physical partitions — few enough for directory listings, many enough
    * that a small delta's probed-bucket pruning skips most of the data. */
  val Buckets = 256

  /** Index metadata, persisted as two tiny parquet tables (`meta`,
    * `codebook`) next to the members — parquet rather than JSON so the
    * round-trip needs no parser and stays engine-readable. */
  final case class Meta(
      nLists: Int,
      dims: Int,
      m: Int,
      ks: Int,
      subDim: Int,
      codebooks: Array[Array[Array[Double]]])

  private def prep(df: DataFrame, idCol: String, vecCol: String,
      payloadCol: String = null): DataFrame = {
    val cols = Seq(col(idCol).cast("long").as("id"), col(vecCol).as("v")) ++
      Option(payloadCol).map(p => col(p).as("pay")).toSeq
    Stage.ensureWide(df.select(cols: _*))
      .withColumn("norm", graft.functions.VectorExpressions.l2_norm(col("v")))
      .filter(col("norm") > 0)
  }

  /** Train + write a fresh index generation at `path` (overwrites any
    * previous one, and clears its tombstones and ingest markers — the
    * [[Generations.freshBuild]] tail). `nLists = 0` applies the
    * knnJoinIvf occupancy-64 policy; `dims = 0` derives the width from
    * one sampled row.
    *
    * `payloadCol`, when given, stores one per-member attribute (a label, a
    * source tag, a license class) INSIDE both directory columns —
    * `mem:(id, code, pay)` / `vmem:(id, norm, v, pay)` — so payload-aware
    * queries ([[hardNegativesDelta]]'s label gate) never attach-join
    * against the corpus, and payload-blind queries read the same tree
    * unchanged (the cell expressions derive member width from the
    * schema). Appends into a payload tree must supply the same column. */
  def build(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      nLists: Int = 0,
      m: Int = 8,
      ks: Int = 16,
      dims: Int = 0,
      payloadCol: String = null
  ): Meta = {
    val spark = df.sparkSession
    import spark.implicits._
    Generations.withMaintainerLease(spark, path) {
    val base = prep(df, idCol, vecCol, payloadCol)
    // family-wide dims rule (Stage.deriveDims): 0 derives from one sampled
    // row, an explicit width that disagrees raises a typed error
    val dimsActual = Stage.deriveDims(base, "v", dims, requireNonEmpty = true)
    val n = math.max(1L, base.count())
    val lists = if (nLists > 0) nLists else math.max(8L, n / 64L).toInt
    Generations.freshBuild(spark, path) { dir =>
      val pq = Pq.trainOnSample(base, n, dimsActual, m, ks)
      val meta = Meta(lists, dimsActual, m, ks, pq.subDim,
        pq.codebooks.map(_.centroids))
      Seq((meta.nLists, meta.dims, meta.m, meta.ks, meta.subDim))
        .toDF("n_lists", "dims", "m", "ks", "sub_dim")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/meta")
      meta.codebooks.zipWithIndex.flatMap { case (cb, s) =>
        cb.zipWithIndex.flatMap { case (cent, c) =>
          cent.zipWithIndex.map { case (x, j) => (s, c, j, x) }
        }
      }.toSeq.toDF("sub", "code", "dim", "value")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/codebook")
      writeMembersTo(base, meta, n * rowBytes(meta) * 2, dir, SaveMode.Overwrite)
      meta
    }
    }
  }

  /** Estimated in-memory bytes of one directory member (vector + code +
    * struct overhead) — the unit the exchange sizing prices from. */
  private def rowBytes(meta: Meta): Long = meta.dims * 4L + meta.m * 4L + 140L

  /** Ingest a delta batch: encode + assign with the STORED codebook/rule
    * and append grouped directory rows into the bucket layout. Work —
    * quantizer CPU, exchange, bytes written — is ∝ |delta|; the base
    * directories are untouched. The assign rule's `nLists` is read from
    * the members tree itself (the `nl` partition level), so an append
    * after a resplitting [[compact]] lands in the re-split cells. */
  def append(df: DataFrame, idCol: String, vecCol: String, path: String,
      payloadCol: String = null): Meta = {
    val spark = df.sparkSession
    Generations.withMaintainerLease(spark, path) {
    val live = membersDir(spark, path)
    val meta = metaForIn(spark, path, live)
    requirePayloadParity(df, path, live, payloadCol)
    val base = prep(df, idCol, vecCol, payloadCol)
    val n = math.max(1L, base.count())
    writeMembersTo(base, meta, n * rowBytes(meta) * 2, live,
      SaveMode.Append, withCnt = storedHasCntIn(spark, live))
    meta
    }
  }

  /** Resolve the LIVE members tree for the index at `path` — the single
    * read point every reader and appender goes through, which is what
    * makes [[compact]] reader-safe ([[Generations.resolve]] has the
    * resolution order). */
  def membersDir(spark: SparkSession, path: String): String =
    Generations.resolve(spark, path)

  /** Garbage-collect superseded members generations — see
    * [[graft.operators.Generations.vacuum]]. Runs automatically at the
    * end of [[build]]/[[compact]]; callable standalone. */
  def vacuum(spark: SparkSession, path: String, graceMs: Long = -1L): Int =
    Generations.vacuum(spark, path, graceMs)

  /** The stored members tree's payload TYPE, when it carries one — read
    * from the `mem` struct's third field. One footer-schema read, no data
    * job. */
  private def storedPayloadTypeIn(spark: SparkSession,
      live: String): Option[org.apache.spark.sql.types.DataType] =
    spark.read.parquet(live).schema("mem").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        s: org.apache.spark.sql.types.StructType, _) if s.length >= 3 =>
        Some(s.fields(2).dataType)
      case _ => None
    }

  /** Does the stored members tree carry the r14 `cnt` column? Appends must
    * match it (mixed footers read arbitrarily); compact always upgrades. */
  private def storedHasCntIn(spark: SparkSession, live: String): Boolean =
    spark.read.parquet(live).columns.contains("cnt")

  /** An append whose payload presence — or TYPE — disagrees with the stored
    * tree would mix member-struct widths inside one parquet directory, and
    * with schema merging off, which footer wins is arbitrary: appended
    * members either silently lose their payload to a null or make every
    * read throw, and a later [[compact]] sampling the narrow schema would
    * DROP every stored payload during the rebuild. A type-mismatched
    * payload (a string into a long-payload tree) is the same hazard one
    * level down. Fail fast instead, all three ways. */
  private def requirePayloadParity(df: DataFrame, path: String, live: String,
      payloadCol: String): Unit = {
    val stored = storedPayloadTypeIn(df.sparkSession, live)
    require(stored.isDefined == (payloadCol != null),
      if (stored.isDefined)
        s"index at $path stores a member payload — append/appendBatch must " +
          "supply the same payloadCol"
      else
        s"index at $path was built without a payload column — rebuild with " +
          "build(payloadCol = ...) before appending payloads")
    stored.foreach { st =>
      val incoming = df.select(col(payloadCol)).schema.head.dataType
      require(st == incoming,
        s"index at $path stores a $st payload — appending a $incoming " +
          s"payload ('$payloadCol') would mix member-struct schemas in one " +
          "directory; cast the column or rebuild the index")
    }
  }

  /** Has `batchId` already been committed by [[appendBatch]]? */
  def ingestCommitted(spark: SparkSession, path: String, batchId: Long): Boolean =
    Generations.ingestCommitted(spark, path, batchId)

  /** EXACTLY-ONCE [[append]]: ingest a delta batch under a caller-supplied
    * batch id (Structured Streaming's `foreachBatch` id — the unit the
    * engine replays after a failure). Returns false (and does nothing) when
    * the batch is already committed.
    *
    * A plain [[append]] is at-least-once under replay: a crash after its
    * files commit but before the caller records progress re-appends the
    * batch, and duplicate members mean duplicate ids in shortlists —
    * degraded answers, silently. This path makes the replay a no-op via
    * the staged, marker-committed protocol [[Generations]] states once;
    * work is ∝ |delta| like [[append]]. */
  def appendBatch(df: DataFrame, idCol: String, vecCol: String, path: String,
      batchId: Long, payloadCol: String = null): Boolean =
    Generations.appendBatch(df.sparkSession, path, batchId, "nl=*/bucket=*") {
      (live, staging) =>
        val meta = metaForIn(df.sparkSession, path, live)
        requirePayloadParity(df, path, live, payloadCol)
        val base = prep(df, idCol, vecCol, payloadCol)
        val n = math.max(1L, base.count())
        writeMembersTo(base, meta, n * rowBytes(meta) * 2, staging,
          SaveMode.Overwrite, withCnt = storedHasCntIn(df.sparkSession, live))
    }

  /** Continuous ingest: a `foreachBatch` writer that [[appendBatch]]es
    * every micro-batch of an embedding STREAM into the stored index —
    * exactly-once end-to-end (the sink is idempotent per batch id, the
    * engine's checkpoint replays failed batches). With `verdictsDir` set,
    * each batch's [[dedupDelta]] keep/drop verdicts (threshold `tau`) also
    * land at `verdictsDir/batch=<id>` — the ingest-time dedup ledger,
    * itself idempotent (Overwrite per batch directory, checked
    * independently of the member marker so a crash between the two
    * completes on replay). Verdicts run AFTER the append, so a batch can
    * match both the stored corpus and its own earlier arrivals (the q87
    * ordering).
    *
    * The caller starts it with a checkpoint:
    * {{{
    * KnnIndex.ingestStream(embStream, "vec_id", "embedding", idxPath,
    *     verdictsDir = s"\$out/verdicts", tau = 0.9)
    *   .option("checkpointLocation", ckpt).start()
    * }}}
    *
    * Stop the query before running [[compact]] or [[build]] on the same
    * path (the single-maintainer contract — see [[compact]]). With
    * `maintainEvery` = N > 0 the contract is satisfied FROM INSIDE the
    * stream instead: every Nth batch ends with a [[maintain]] pass (the
    * measured-threshold policy), so the one writer the contract allows is
    * also the maintainer and a long-lived ingest stream never accumulates
    * the unmaintained fragmentation drift (the 50M campaign's 2.5→5.4 GB
    * per-batch spill trajectory — docs/bench_r15_notes.md). Concurrent
    * delta searches/mining on OTHER sessions stay safe across the policy's
    * compacts via the generation-pointer swap ([[Generations]]); a
    * replayed batch merely re-checks the policy (maintain is a health read
    * when thresholds aren't crossed — idempotent). */
  def ingestStream(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      verdictsDir: String = null,
      tau: Double = 0.9,
      k: Int = 8,
      nprobe: Int = 4,
      payloadCol: String = null,
      maintainEvery: Int = 0
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    emb.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      appendBatch(batch, idCol, vecCol, path, batchId, payloadCol)
      val spark = batch.sparkSession
      if (verdictsDir != null)
        Generations.writeBatchOnce(spark, verdictsDir, batchId)(
          dedupDelta(batch, idCol, vecCol, path, tau, k, nprobe))
      if (maintainEvery > 0 && (batchId + 1) % maintainEvery == 0)
        maintain(spark, path)
      ()
    }

  /** Continuous hard-negative mining: a `foreachBatch` writer that runs
    * [[hardNegativesDelta]] for every micro-batch of an anchor STREAM
    * against the stored label-payload index, landing each batch's mined
    * negatives at `outDir/batch=<id>` — the training-data shape where
    * anchors arrive as batches and each needs its contrastive negatives
    * attached before it ships. Idempotent per batch id (Overwrite into the
    * batch directory, `_SUCCESS`-checked), so the engine's replay after a
    * failure rewrites rather than duplicates. The index is read-only here —
    * safe to run beside [[ingestStream]] on a DIFFERENT index path; the
    * single-maintainer contract still applies to the index being mined
    * (don't [[compact]] it mid-stream). */
  def miningStream(
      anchors: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      path: String,
      outDir: String,
      k: Int = 5,
      nprobe: Int = 4
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    anchors.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      Generations.writeBatchOnce(batch.sparkSession, outDir, batchId)(
        hardNegativesDelta(batch, idCol, vecCol, labelCol, path, k, nprobe))
    }

  /** Tombstone a set of member ids — O(|ids|) append to a side log, no
    * directory rewrite (the LSM delete). [[knnJoinDelta]] filters the ids
    * logically from that point on; [[compact]] applies them physically and
    * truncates the log. A tombstone wins over any append of the same id
    * (old generation or re-ingested) until the next compact — re-adding a
    * deleted id requires compacting first, the standard tombstone
    * semantics.
    *
    * A MAINTAINER operation like every mutator ([[Generations.tombstone]]). */
  def delete(ids: DataFrame, idCol: String, path: String): Unit =
    Generations.tombstone(ids, idCol, path)

  /** Compact the index in place: one directory row per cell again (delta
    * appends leave one per (cell, batch)), tombstones applied physically,
    * files coalesced per bucket, and — with `nLists > 0` — the cell space
    * re-split under a new occupancy policy. The stored codebook is REUSED:
    * cell assignment and PQ codes are pure functions of the vector, so a
    * resplit pays deterministic assign/encode CPU and one sized exchange,
    * never the k-means retrain that makes [[build]] expensive. Work is
    * ∝ |stored bytes| — the amortized cost that keeps a long append
    * campaign's read path at its build-time shape.
    *
    * Crash-safe AND reader-safe: the compacted tree commits through the
    * generation-pointer swap ([[Generations.compactSwap]] — new
    * generation, `CURRENT` commit, tombstone-log truncation, [[vacuum]]).
    * A READER concurrent with the swap resolved the old tree through
    * [[membersDir]] before the commit, and that tree stays complete and
    * untouched until its grace window closes.
    *
    * SINGLE-MAINTAINER CONTRACT (writers only, readers are now safe):
    * compact must not run concurrently with
    * [[append]]/[[appendBatch]]/[[ingestStream]] — a batch landing between
    * compact's read and its pointer swap lands in the generation being
    * superseded while its exactly-once marker survives, so the engine will
    * not replay it. Stop the ingest stream (or quiesce the appender)
    * first; this is the standard LSM coordination point, not a
    * crash-safety gap. The contract is now ENFORCED, not just documented:
    * every mutator runs under [[Generations.withMaintainerLease]], so the
    * racing writer gets a typed [[ConcurrentMaintainerException]] instead
    * of the silent member/tombstone loss above (an ingest stream with
    * `maintainEvery` set never hits it — the stream IS the maintainer). */
  def compact(spark: SparkSession, path: String, nLists: Int = 0): Meta =
    Generations.withMaintainerLease(spark, path) {
    val meta0 = metaFor(spark, path)
    val meta = if (nLists > 0) meta0.copy(nLists = nLists) else meta0
    val fs = Generations.fileSystem(spark, path)
    // residue from a PRE-generation (r14) crashed run: tmp is incomplete
    // by definition; an old tree survives only a crash between the two
    // renames, in which case the legacy live tree may be missing —
    // restore it first
    val legacyLive = new org.apache.hadoop.fs.Path(s"$path/members")
    val legacyTmp = new org.apache.hadoop.fs.Path(s"$path/members.compact.tmp")
    val legacyOld = new org.apache.hadoop.fs.Path(s"$path/members.compact.old")
    if (fs.exists(legacyOld)) {
      if (!fs.exists(legacyLive)) fs.rename(legacyOld, legacyLive)
      else fs.delete(legacyOld, true)
    }
    if (fs.exists(legacyTmp)) fs.delete(legacyTmp, true)
    val live = membersDir(spark, path)
    val stored = spark.read.parquet(live)
    // a payload tree re-compacts with its payload intact (the vmem element
    // carries it as the 4th field)
    val hasPay = stored.schema("vmem").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        s: org.apache.spark.sql.types.StructType, _) => s.length >= 4
      case _ => false
    }
    val rowCols = Seq(col("r.id").as("id"), col("r.norm").as("norm"),
      col("r.v").as("v")) ++ (if (hasPay) Seq(col("r.pay").as("pay")) else Nil)
    val rows = stored
      .select(explode(col("vmem")).as("r"))
      .select(rowCols: _*)
    val kept = Generations.tombstones(spark, path)
      .fold(rows)(ts => rows.join(ts, Seq("id"), "left_anti"))
    // size the rebuild exchange from the stored file bytes (×2 in-memory
    // expansion) — no count job over the base; a tombstone-heavy log only
    // overestimates, which costs nothing
    val bytes = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(live)).getLength * 2
    Generations.compactSwap(spark, path)(
      writeMembersTo(kept, meta, bytes, _, SaveMode.Overwrite))
    meta
    }

  /** One directory row per (cell, batch): codes for the ADC shortlist and
    * vectors for the exact rescore as two parquet COLUMNS of the same row —
    * no exchange ever carries them (the delta probe join is scan-local /
    * broadcast-built), so the knnJoinIvf two-directory split buys nothing
    * at rest and one table keeps append atomicity per batch. The directory
    * exchange is sized by the knnJoinIvf discipline (collect_list state ≤
    * 16 MB of estimated member bytes per task).
    *
    * The tree is written `nl=<nLists>/bucket=<cell mod 256>/…`: the first
    * level makes the directory self-describing (see [[compact]]'s swap
    * consistency), the second is the pruning key.
    *
    * EVERY write coalesces by bucket before the partitioned write (one
    * extra exchange of the directory bytes, sized ~128 MB per write
    * task): the cell-hash agg output holds cells of every bucket in
    * every task, so an unaligned write opens a file per (task × bucket)
    * — measured 54k files for one 4M-member build generation, and every
    * subsequent members read (delta join, mining, health) paid the
    * listing + footer pass: the same probe batch cost 30.7 s against the
    * unaligned build layout vs 4.6 s against the ≤ 256-file compacted
    * tree at IDENTICAL mean_dir_rows = 1. A batch's files stay its own
    * per-batch increments (separate files per append regardless), which
    * compact later folds. */
  private def writeMembersTo(base: DataFrame, meta: Meta, dirBytes: Long,
      dest: String, mode: SaveMode,
      withCnt: Boolean = true): Unit = {
    val dirParts = Stage.width(base, dirBytes / Stage.BuildBytesPerTask)
    val codes = array((0 until meta.m).map(s =>
      graft.functions.VectorExpressions.nearest_centroid(
        slice(col("v"), s * meta.subDim + 1, meta.subDim), meta.codebooks(s))): _*)
    val assignCell = graft.functions.VectorExpressions
      .portable_ivf_assign(col("v"), meta.nLists, meta.dims)
    // payload column, when prep attached one, rides both member structs
    // LAST — the cell expressions read (id, code)/(id, norm, v)
    // positionally and derive the true width from the schema, so
    // payload-blind readers see the same tree
    val hasPay = base.columns.contains("pay")
    val memStruct =
      if (hasPay) struct(col("id"), codes.as("code"), col("pay"))
      else struct(col("id"), codes.as("code"))
    val vmemStruct =
      if (hasPay) struct(col("id"), col("norm"), col("v"), col("pay"))
      else struct(col("id"), col("norm"), col("v"))
    val grouped = base
      .select(assignCell.as("cell"), memStruct.as("m0"), vmemStruct.as("v0"))
      .repartition(dirParts, col("cell"))
      .groupBy(col("cell"))
      .agg(collect_list(col("m0")).as("mem"), collect_list(col("v0")).as("vmem"))
      // cnt (this directory row's member count) rides as its own skinny
      // column so the compaction-policy read ([[health]]) scans (cell,
      // cnt) WITHOUT decoding the code/vector arrays — the full-stats
      // variant of that read cost ~30 s per call on a 4.5M-member tree,
      // turning a per-batch maintain() into the campaign's dominant term.
      // Appends into a pre-cnt tree keep the old schema (mixed footers
      // read arbitrarily — the payload-parity hazard); the next compact
      // upgrades the whole generation.
      .withColumn("cnt", size(col("mem")).cast("long"))
      .withColumn("bucket", pmod(col("cell"), lit(Buckets)))
      .withColumn("nl", lit(meta.nLists))
    val shaped =
      if (withCnt) grouped else grouped.drop("cnt")
    // Target ~128 MB parquet files. One file per bucket while the
    // generation fits Buckets × 128 MB; past that the write salts on
    // pmod(cell div Buckets, filesPerBucket) — still whole-cell-aligned
    // per file, and INDEPENDENT of the partition key `bucket = cell mod
    // Buckets` (a pmod(cell, filesPerBucket) salt is determined BY the
    // bucket whenever filesPerBucket shares a factor with Buckets — fully
    // degenerate at 2, 4, 8, the first values past the 32 GB threshold —
    // collapsing each directory back to ~1 oversized file). Within one
    // bucket the cells are bucket, bucket+Buckets, bucket+2·Buckets, …,
    // so `cell div Buckets` walks 0, 1, 2, … and the pmod spreads them
    // across exactly filesPerBucket files per directory per generation
    // (capping at Buckets tasks instead let files grow unbounded with the
    // corpus: the 50M build wrote ~150 MB files whose default-size row
    // groups of fat array columns OOMed 32 concurrent vectorized readers
    // on the protocol heap).
    val filesPerBucket = math.max(1L,
      (dirBytes + (128L << 20) * Buckets - 1) / ((128L << 20) * Buckets)).toInt
    val keyed =
      if (filesPerBucket <= 1) {
        val fileParts = math.max(1L, math.min(Buckets.toLong,
          dirBytes / (128L << 20))).toInt
        shaped.repartition(fileParts, col("bucket"))
      } else
        shaped.repartition(Buckets * filesPerBucket, col("bucket"),
          pmod(expr(s"cell div $Buckets"), lit(filesPerBucket)))
    // 8 MB row groups (down from parquet-mr's 128 MB default): the
    // vectorized reader decodes min(4096 rows, one row group) into
    // on-heap column vectors that no memory manager tracks, and a members
    // row is a whole cell directory (~20 KB of vector structs at the
    // occupancy-64 policy — CONSTANT in n), so default-size groups hand
    // each of 32 concurrent readers ~100+ MB of decoded array pages —
    // the measured 50M delta-join heap death at protocol heap (the
    // pre-r14 fragmented layout dodged it only by accident: near-empty
    // files meant near-empty reader batches). 8 MB groups ≈ 400 rows ≈
    // ~12 MB decoded per task; the fix rides in the TREE, so any stock
    // session reads it safely.
    // Each write task holds whole buckets (the repartition above), so the
    // rows stream straight into concurrent (8 MB row-group) parquet
    // writers and FileFormatWriter's sorter never materializes
    // ([[Generations.withConcurrentWriters]]).
    Generations.withConcurrentWriters(base.sparkSession)(
      keyed.write.mode(mode)
        .option("parquet.block.size", String.valueOf(8L << 20))
        .partitionBy("nl", "bucket").parquet(dest))
  }

  /** The nLists the stored members were assigned with — read from the
    * LIVE tree's `nl=` partition level (one FS listing, no job), falling
    * back to the build-time `meta` row for a pre-resplit layout. */
  private def storedNLists(spark: SparkSession, live: String,
      fallback: Int): Int = {
    val fs = Generations.fileSystem(spark, live)
    val members = new org.apache.hadoop.fs.Path(live)
    if (!fs.exists(members)) fallback
    else fs.listStatus(members).iterator
      .map(_.getPath.getName)
      .collectFirst { case n if n.startsWith("nl=") => n.drop(3).toInt }
      .getOrElse(fallback)
  }

  /** [[readMeta]] with `nLists` overridden by the members tree's own
    * `nl=` level — what every operation that touches stored cells must
    * use, so a resplitting [[compact]]'s swap is the single source of
    * truth for the assign rule. Operators that read the tree resolve the
    * generation ONCE ([[membersDir]]) and pass it here, so one query
    * never mixes two generations' parameters. */
  private def metaForIn(spark: SparkSession, path: String,
      live: String): Meta = {
    val m = readMeta(spark, path)
    m.copy(nLists = storedNLists(spark, live, m.nLists))
  }

  private def metaFor(spark: SparkSession, path: String): Meta =
    metaForIn(spark, path, membersDir(spark, path))

  /** Index health introspection — the `\$files`/`\$manifests` analogue for
    * the stored directory tree, and the inputs a compaction policy reads:
    * one row of (cells, members, mean/max directory rows per cell — 1.0
    * means fully compacted, higher means append fragmentation the rank
    * stage re-merges on every query — mean/max cell occupancy vs the
    * nLists policy, parquet file count, pending tombstones). One
    * members-tree aggregate (codes column only — vectors never load) plus
    * two FS listings; nothing driver-side beyond the summary row. */
  def stats(spark: SparkSession, path: String): DataFrame = {
    val live = membersDir(spark, path)
    val members = spark.read.parquet(live)
    // the stored per-row count (r14+ trees) spares decoding the code
    // arrays; older trees fall back to size(mem)
    val cnt =
      if (members.columns.contains("cnt")) col("cnt")
      else size(col("mem")).cast("long")
    val perCell = members
      .select(col("cell"), cnt.as("batch_members"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("dir_rows"), sum(col("batch_members")).as("occ"))
    val tombs = Generations.tombstones(spark, path)
      .map(_.distinct().count()).getOrElse(0L)
    val files = Generations.fileSystem(spark, path).globStatus(
      new org.apache.hadoop.fs.Path(s"$live/nl=*/bucket=*/*.parquet"))
    val nFiles = if (files == null) 0 else files.length
    perCell.agg(
      count(lit(1)).as("cells"),
      coalesce(sum(col("occ")), lit(0L)).as("members"),
      round(avg(col("dir_rows")), 3).as("mean_dir_rows"),
      max(col("dir_rows")).as("max_dir_rows"),
      round(avg(col("occ")), 2).as("mean_occupancy"),
      max(col("occ")).as("max_occupancy"))
      .withColumn("files", lit(nFiles))
      .withColumn("tombstones", lit(tombs))
      .withColumn("n_lists", lit(metaForIn(spark, path, live).nLists))
  }

  /** The compaction-policy inputs, extracted from one [[stats]] row:
    * append fragmentation (mean directory rows per cell — 1.0 when fully
    * compacted) and the pending-tombstone fraction of stored members. */
  final case class Health(
      cells: Long,
      members: Long,
      meanDirRows: Double,
      tombstones: Long) {
    def tombstoneFrac: Double =
      if (members <= 0) 0.0 else tombstones.toDouble / members
  }

  /** The policy read — CHEAP by construction: scans only the members
    * tree's (cell, cnt) columns (cnt is the stored per-row member count,
    * written since r14; older trees fall back to `size(mem)`, which
    * decodes the code arrays), plus the tiny tombstone log. Running the
    * full [[stats]] here was measured at ~30 s per call on a 4.5M-member
    * tree — a per-batch maintain() must cost milliseconds, not a scan of
    * every stored code. */
  def health(spark: SparkSession, path: String): Health = {
    val members = spark.read.parquet(membersDir(spark, path))
    val cnt =
      if (members.columns.contains("cnt")) col("cnt")
      else size(col("mem")).cast("long")
    val r = members.select(col("cell"), cnt.as("c"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("dir_rows"), sum(col("c")).as("occ"))
      .agg(count(lit(1)).as("cells"),
        coalesce(sum(col("occ")), lit(0L)).as("members"),
        avg(col("dir_rows")).as("mean_dir_rows"))
      .head()
    // distinct ids, not raw log rows: repeated delete() calls for the same
    // ids (or ids absent from the tree) would inflate tombstoneFrac and
    // fire shouldCompact prematurely — the log is tiny by design, so the
    // distinct costs nothing
    val tombs = Generations.tombstones(spark, path).map(_.distinct().count()).getOrElse(0L)
    Health(r.getAs[Long]("cells"), r.getAs[Long]("members"),
      r.getAs[Double]("mean_dir_rows"), tombs)
  }

  /** Does the index need a [[compact]]? The stats-driven trigger of the
    * LSM lifecycle, with thresholds set from the measured
    * read-amplification curve (docs/corpusbench_local32.jsonl,
    * `knn_index_read_amp` rows — 4.5M base, 10 × 1% appends, 2 tombstone
    * batches, one fixed 50k-row probe batch re-measured per step):
    *
    *  - `maxMeanDirRows` (default 4.0): every probe×cell row re-runs the
    *    ADC shortlist (tables built per row) once per (cell, batch)
    *    directory row, and each append batch adds its own files per
    *    bucket, so delta-search wall grows ~linearly in mean_dir_rows:
    *    at 5M the same probe batch costs 4.6 s on a compacted tree,
    *    8.8 s at mean_dir_rows 3.8, 9.4 s at 5.0 (~2×), and the compact
    *    that resets it costs 25.9 s — ~5 fragmented-vs-compacted search
    *    deltas — so 4.0 amortizes within a handful of post-compact
    *    queries on any search-active campaign. (Before the bucket-aligned
    *    members write the same curve ran 4.6 → 77 s with a 91 s compact:
    *    the dominant term was the file-per-(task × bucket) write layout,
    *    now fixed at the writer — see [[writeMembersTo]].)
    *  - `maxTombstoneFrac` (default 0.02): pending tombstones deepen
    *    every delta rescore to the full shortlist (`rescoreK = cand` —
    *    the exactness contract), a modest wall term at default depths
    *    (within step noise on the curve: 7.1 s tombstoned vs 9.4 s not,
    *    at equal fragmentation) but an unbounded correctness debt — the
    *    filter stays exact only while `cand` covers each probed cell's
    *    SURVIVING members, so a growing log erodes the guarantee. The
    *    fraction threshold bounds that window without letting one tiny
    *    delete force a full rewrite.
    *
    * Pure read — one (cell, cnt) aggregate, no data rewrite. */
  def shouldCompact(spark: SparkSession, path: String,
      maxMeanDirRows: Double = 4.0,
      maxTombstoneFrac: Double = 0.02): Boolean = {
    val h = health(spark, path)
    h.meanDirRows > maxMeanDirRows ||
      (h.tombstones > 0 && h.tombstoneFrac > maxTombstoneFrac)
  }

  /** The policy face of [[compact]]: compacts IFF [[shouldCompact]]'s
    * thresholds are crossed, returning whether it ran. An ingest campaign
    * calls this between batches (quiesced — the single-maintainer
    * contract); the curve-measured thresholds mean the campaign pays the
    * compact exactly when continuing NOT to pay it costs more.
    *
    * Every call also [[vacuum]]s (a few FS ops): a generation superseded
    * by the PREVIOUS compact ages out as soon as its grace window closes,
    * instead of waiting for the next compact to happen by — on the 50M
    * campaign that wait held a second 12 GB tree on disk for 8 batches. */
  def maintain(spark: SparkSession, path: String,
      maxMeanDirRows: Double = 4.0,
      maxTombstoneFrac: Double = 0.02,
      nLists: Int = 0): Boolean = {
    val go = shouldCompact(spark, path, maxMeanDirRows, maxTombstoneFrac)
    if (go) compact(spark, path, nLists)
    else vacuum(spark, path)
    go
  }

  /** Load the persisted metadata + codebook. Two bounded driver collects
    * (5 scalars; m·ks·subDim codebook doubles — ~1k values at the
    * defaults). */
  def readMeta(spark: SparkSession, path: String): Meta = {
    val m0 = spark.read.parquet(s"$path/meta").head()
    val (nLists, dims, m, ks, subDim) =
      (m0.getInt(0), m0.getInt(1), m0.getInt(2), m0.getInt(3), m0.getInt(4))
    val cb = Array.fill(m, ks)(Array.empty[Double])
    spark.read.parquet(s"$path/codebook").collect().groupBy(r => (r.getInt(0), r.getInt(1)))
      .foreach { case ((s, c), rows) =>
        cb(s)(c) = rows.sortBy(_.getInt(2)).map(_.getDouble(3))
      }
    Meta(nLists, dims, m, ks, subDim, cb)
  }

  /** Estimated broadcast payload of the exploded probe stream —
    * nDelta·nprobe·fanout·cells rows of (id, vector, cell[, label]) at 2×
    * in-memory expansion: 40 B of non-vector overhead per row, plus
    * `labelBytes` ([[payloadBytes]]) when mining probes carry the label. */
  private def probeBytesFor(meta: Meta, nDelta: Long, nprobe: Int,
      cellsPerSuper: Int, labelBytes: Long): Long = {
    val fanout = graft.functions.VectorExpressions.probeMidsPerTop(meta.nLists)
    nDelta * nprobe * fanout * cellsPerSuper * (meta.dims * 4L + 40L + labelBytes) * 2
  }

  /** Schema-priced width of a stored payload riding a probe row or a
    * winner struct — the ivfJoinCore lblW rule, `defaultSize + 8`, read
    * from the STORED payload type (which analysis requires to equal the
    * mining labels' type). Never a flat constant: a wide string label
    * priced at a fixed 64 B would undercount the gate and push an
    * oversized exploded stream through the driver collect. */
  private def payloadBytes(
      payType: Option[org.apache.spark.sql.types.DataType]): Long =
    payType.map(_.defaultSize + 8L).getOrElse(24L)

  /** The priced probe stream of a delta of `nDelta` rows — the
    * `probeBytes` [[deltaSearch]] hands [[Stage.probeAttach]] — from one
    * resolve of the live generation. */
  private[graft] def deltaProbeBytes(spark: SparkSession, path: String,
      nDelta: Long, nprobe: Int = 4, cellsPerSuper: Int = 1,
      payload: Boolean = false): Long = {
    val live = membersDir(spark, path)
    probeBytesFor(metaForIn(spark, path, live), nDelta, nprobe, cellsPerSuper,
      if (payload) payloadBytes(storedPayloadTypeIn(spark, live)) else 0L)
  }

  /** The probe-attach route [[knnJoinDelta]] (payload = false) or
    * [[hardNegativesDelta]] (payload = true) will take for a delta of
    * `nDelta` rows — "broadcast_probes" or "shuffled_probes" — the same
    * [[Stage.probeRoute]] comparison over the same inputs the operators
    * gate on (stored meta, the maxResultSize-capped gate, the stored
    * payload type's width), so recorded evidence and scaladoc claims
    * cannot drift from the executed plan (the knnJoinAutoRoute move). */
  def deltaProbeRoute(spark: SparkSession, path: String, nDelta: Long,
      nprobe: Int = 4, cellsPerSuper: Int = 1, payload: Boolean = false): String =
    Stage.probeRoute(
      deltaProbeBytes(spark, path, nDelta, nprobe, cellsPerSuper, payload),
      Stage.driverCollectGate(spark))

  /** k nearest INDEX members for every row of `newDf` — same
    * (id_a, id_b, cosine, rank) contract and same per-cell arithmetic as
    * [[graft.operators.Similarity.knnJoinIvf]], against the stored
    * directories; the plan is [[deltaSearch]]'s. Call [[append]] first
    * when the delta should also be able to match itself (the
    * incremental-dedup ingest shape); self-matches are excluded by id
    * inside the shortlist either way.
    *
    * `restrict`, when given, limits ANSWERS to members whose id is in the
    * frame (an allow-list — "search only the license-clean / same-language
    * subset"). It rides the tombstone machinery: the exact rescore deepens
    * to the full shortlist and disallowed ids are dropped before the rank
    * cut. The filter is exact when the shortlist covers the probed cells
    * (`kCand` ≥ members-per-probed-cell, the spec's setting); with a
    * PARTIAL shortlist, disallowed members that win ADC slots crowd
    * allowed ones out of the shortlist, so a heavily-disallowed corpus
    * needs `kCand` raised toward cell occupancy ÷ allowed-fraction — the
    * LSM read-amplification knob, same arithmetic as a tombstone-heavy
    * log.
    * Oracle anchor: [[graft.operators.Similarity
    * .knnJoinIvfPqPortableRestricted]] (q118) replays the same
    * shortlist→rescore→filter→rank decision order in ANSI SQL.
    *
    * `payloadIn`, when given, filters ANSWERS by the stored per-member
    * payload (set membership — "search only license-clean ∧ lang=en
    * members"): the payload rides each winner struct out of the cell
    * ([[graft.functions.AnnExpressions.CellRescorePayloadTopK]]), the
    * predicate evaluates scan-local on the flat winner stream (no attach
    * join of any kind), and the output gains a `payload_b` column. The
    * exactness contract is `restrict`'s verbatim — rescore deepens to the
    * full shortlist, the filter sits between rescore and the rank cut,
    * and a corpus where the allowed fraction is small needs `kCand`
    * raised toward occupancy ÷ allowed-fraction. Oracle anchor:
    * [[graft.operators.Similarity.knnJoinIvfPqPortablePayloadFiltered]]
    * (q124) — one more predicate over the q114 CTE prefix.
    *
    * `payloadWhere` is `payloadIn` generalized to ARBITRARY predicates
    * over a (possibly STRUCT-typed) stored payload — the production
    * filtered-ANN shape: "license IN (…) AND lang = 'en' AND
    * quality > q" as one Column over the output's `payload_b`
    * (e.g. `col("payload_b.lang") === "en" &&
    * col("payload_b.quality") > 0.25`). Same position, same plan, same
    * deepened-rescore exactness contract: exact while `kCand` covers
    * each probed cell's ALLOWED members, so a highly-selective predicate
    * needs `kCand` raised toward occupancy ÷ allowed-fraction. Oracle
    * anchor: [[graft.operators.Similarity
    * .knnJoinIvfPqPortablePayloadWhere]] (q125) — the same conjunction
    * over the q114 CTE prefix. */
  def knnJoinDelta(
      newDf: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      k: Int,
      nprobe: Int = 4,
      kCand: Int = 0,
      cellsPerSuper: Int = 1,
      restrict: Option[DataFrame] = None,
      payloadIn: Option[Seq[Any]] = None,
      payloadWhere: Option[org.apache.spark.sql.Column] = None
  ): DataFrame =
    deltaSearch(newDf, idCol, vecCol, None, path, k, nprobe, kCand,
      cellsPerSuper, restrict, payloadIn, payloadWhere,
      Stage.driverCollectGate(newDf.sparkSession))

  /** Hard-negative mining for an arriving batch against the STORED index —
    * [[graft.operators.Similarity.hardNegativesAnnCell]]'s in-cell label
    * gate on the [[knnJoinDelta]] lifecycle ([[deltaSearch]]'s label
    * mode): for every delta row, the k most-similar stored members
    * carrying a DIFFERENT label, labels read from the index's own payload
    * column (a [[build]]/[[append]] with `payloadCol` — no corpus attach
    * join at any point; the gate runs inside the ADC shortlist
    * ([[graft.functions.AnnExpressions.IvfPqCellShortlistLabel]]) so every
    * shortlist slot is a candidate negative, and label_b rides the winner
    * struct ([[graft.functions.AnnExpressions.CellRescorePayloadTopK]]).
    *
    * This is the production mining shape: the anchor stream (a training
    * batch needing negatives) is |delta|-sized and the corpus is the
    * index. `restrict` limits mined negatives to an id ALLOW-LIST ("mine
    * only from the license-clean subset") at the same position and with
    * the same exactness condition as [[knnJoinDelta]]'s — shortlist and
    * rescore over all members, filter, rank re-numbers. `payloadIn`
    * restricts mined negatives by CLASS (label_b set membership — "mine
    * only from classes {…}") at the same position: label_b already rides
    * the winner struct, so the predicate is a scan-local filter, and the
    * deepened-rescore exactness contract is restrict's verbatim.
    * Null-label anchors and members never pair.
    *
    * Oracle anchor: [[graft.operators.Similarity
    * .hardNegativesPortableIncremental]] (q121) replays the same
    * probe-restricted, label-gated decision order in ANSI SQL.
    *
    * Returns (id_a, label_a, id_b, label_b, cosine, rank), rank 1..k. */
  def hardNegativesDelta(
      newDf: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      path: String,
      k: Int,
      nprobe: Int = 4,
      kCand: Int = 0,
      cellsPerSuper: Int = 1,
      restrict: Option[DataFrame] = None,
      payloadIn: Option[Seq[Any]] = None
  ): DataFrame =
    deltaSearch(newDf, idCol, vecCol, Some(labelCol), path, k, nprobe, kCand,
      cellsPerSuper, restrict, payloadIn, None,
      Stage.driverCollectGate(newDf.sparkSession))

  /** The one delta search behind [[knnJoinDelta]] (`labelCol` None) and
    * [[hardNegativesDelta]] (`labelCol` set — LABEL mode). Plan shape:
    *
    *  - Snapshot: the live generation resolves ONCE ([[membersDir]]) —
    *    meta, the stored payload type and the member scan all read the
    *    same tree even if a compact commits mid-query (its superseded
    *    tree stays on disk for the grace window).
    *  - Prune: the delta's probe rows (id, vector[, label], probed cell —
    *    delta × nprobe exploded cells) give the distinct probed-bucket
    *    set, a bounded collect (≤ [[Buckets]] rows) pushed as a
    *    partition filter, so the member READ touches only those buckets
    *    — decisive when |delta|·nprobe ≪ nLists, skipped once every
    *    bucket is probed.
    *  - Attach: [[Stage.probeAttach]] on `cell` at `gate`
    *    ([[Stage.driverCollectGate]] for the public forms; the route
    *    [[deltaProbeRoute]] reports), with the probes priced by
    *    [[probeBytesFor]] — broadcast, so the members stream scan-local
    *    and cross NO exchange at any size, else one sized cell exchange
    *    of both sides (probes the SHUFFLE_HASH build), the knnJoinIvf
    *    shape minus directory construction.
    *  - Shortlist + rescore inside the join's projection: the ADC
    *    shortlist ([[graft.functions.AnnExpressions.IvfPqCellShortlist]],
    *    label-gated in label mode) and the exact rescore
    *    ([[graft.functions.AnnExpressions.CellRescoreTopK]]). When a
    *    label or payload rides, the payload rescore carries it out of
    *    the cell in each winner struct. Pending tombstones, a `restrict`
    *    or a payload filter deepen the rescore to the full shortlist
    *    (`cand`) so dropped winners don't promote unseen members — exact
    *    while `cand` covers the probed cells' surviving members, the LSM
    *    read-amplification tradeoff [[compact]] resets.
    *  - Rank: the per-(cell, batch-row) winner arrays exchange on id_a —
    *    the only exchange on the broadcast route, ∝ |delta| winner
    *    structs at 80 B each plus the riding payload's [[payloadBytes]]
    *    (the ivfJoinCore rule) — and explode reduce-side.
    *  - Filters, before the rank cut: the tombstone anti-join and the
    *    `restrict` semi-join (file-backed / dim-sized, so the planner
    *    broadcasts them), then `payloadIn` / `payloadWhere` as scan-local
    *    filters on the flat winner stream (the payload rode the winner
    *    struct — no join of any kind). `row_number` over (cosine desc,
    *    id_b asc) re-numbers the survivors and cuts at k.
    *
    * Label mode reads the payload as labels: null-label anchors drop,
    * the shortlist gates on a different label, and the output carries
    * `label_a`/`label_b`, with `payloadIn` filtering `label_b`. Otherwise
    * a payload rides only for `payloadIn`/`payloadWhere`, as `payload_b`.
    * Either way it needs a tree built with a payload column. */
  private[graft] def deltaSearch(
      newDf: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: Option[String],
      path: String,
      k: Int,
      nprobe: Int,
      kCand: Int,
      cellsPerSuper: Int,
      restrict: Option[DataFrame],
      payloadIn: Option[Seq[Any]],
      payloadWhere: Option[org.apache.spark.sql.Column],
      gate: Long
  ): DataFrame = {
    val spark = newDf.sparkSession
    val label = labelCol.isDefined
    val filtered = payloadIn.isDefined || payloadWhere.isDefined
    val rides = label || filtered
    val live = membersDir(spark, path)
    val meta = metaForIn(spark, path, live)
    val payType = if (rides) storedPayloadTypeIn(spark, live) else None
    if (rides)
      require(payType.isDefined,
        s"index at $path was built without a payload column — " +
          (if (label) "hardNegativesDelta" else "payloadIn/payloadWhere") +
          " needs build/append(payloadCol = ...)")
    val prepped = prep(newDf, idCol, vecCol, labelCol.orNull)
    val base = if (label) prepped.filter(col("pay").isNotNull) else prepped
    val nDelta = math.max(1L, base.count())
    val cand = math.max(k, if (kCand > 0) kCand else 4 * k)
    val tombs = Generations.tombstones(spark, path)
    val rescoreK =
      if (tombs.isDefined || restrict.isDefined || filtered) cand else k
    val fanout = graft.functions.VectorExpressions.probeMidsPerTop(meta.nLists)
    val lblA = if (label) Seq(col("lbl_a")) else Nil
    val probes = base.select(Seq(col("id").as("id_a")) ++
      (if (label) Seq(col("pay").as("lbl_a")) else Nil) ++
      Seq(col("v").as("v_a"),
        explode_outer(graft.functions.VectorExpressions
          .portable_ivf_probe(col("v"), meta.nLists, meta.dims, nprobe, cellsPerSuper))
          .as("cell")): _*)
      .filter(col("cell").isNotNull)
    val members = spark.read.parquet(live)
    val probedBuckets = probes
      .select(pmod(col("cell"), lit(Buckets)).cast("int").as("bucket"))
      .distinct().collect().map(_.getInt(0))
    val pruned =
      if (probedBuckets.length < Buckets)
        members.filter(col("bucket").isin(probedBuckets.map(Integer.valueOf): _*))
      else members
    val payW = if (rides) payloadBytes(payType) else 0L
    val joined = Stage.probeAttach(pruned, probes, Seq("cell"),
      probeBytesFor(meta, nDelta, nprobe, cellsPerSuper,
        if (label) payW else 0L), gate)
    val shortlist =
      if (label)
        graft.functions.AnnExpressions.ivfpq_cell_shortlist_label(col("id_a"),
          col("lbl_a"), col("v_a"), col("mem"), cand, meta.codebooks, meta.subDim)
      else
        graft.functions.AnnExpressions.ivfpq_cell_shortlist(
          col("id_a"), col("v_a"), col("mem"), cand, meta.codebooks, meta.subDim)
    val rescore =
      if (rides)
        graft.functions.AnnExpressions.cell_rescore_payload_topk(col("v_a"),
          shortlist, col("vmem"), rescoreK)
      else
        graft.functions.AnnExpressions.cell_rescore_topk(col("v_a"),
          shortlist, col("vmem"), rescoreK)
    val perRow = joined.select(Seq(col("id_a")) ++ lblA ++ Seq(rescore.as("tk")): _*)
    val rankParts = Stage.width(base, nDelta * nprobe * fanout * cellsPerSuper *
      rescoreK * (80L + payW) / Stage.SortBytesPerTask)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("id_a")).orderBy(col("cosine").desc, col("id_b").asc)
    // label mode: the anchor's label rides as label_a, and the members'
    // payload comes out as label_b instead of payload_b
    val labelA = if (label) Seq(col("label_a")) else Nil
    val payB =
      if (label) Some("label_b") else if (rides) Some("payload_b") else None
    val flat = perRow
      .repartition(rankParts, col("id_a"))
      .select(Seq(col("id_a")) ++ lblA ++ Seq(explode_outer(col("tk")).as("nb")): _*)
      .filter(col("nb").isNotNull)
      .select(Seq(col("id_a")) ++ lblA.map(_.as("label_a")) ++
        Seq(col("nb.id").as("id_b")) ++ payB.map(col("nb.payload").as(_)) ++
        Seq(col("nb.cosine").as("cosine")): _*)
    val liveFlat = tombs.fold(flat)(ts =>
      flat.join(ts.select(col("id").as("id_b")), Seq("id_b"), "left_anti"))
    val allowedFlat = restrict.fold(liveFlat)(r =>
      liveFlat.join(r.select(col(r.columns.head).cast("long").as("id_b"))
        .distinct(), Seq("id_b"), "left_semi"))
    val paySet = payloadIn.fold(allowedFlat)(vals =>
      allowedFlat.filter(col(payB.get).isin(vals: _*)))
    val payFlat = payloadWhere.fold(paySet)(pred => paySet.filter(pred))
    payFlat
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      // the anti-join moves its key first — restate the contract order
      .select(Seq(col("id_a")) ++ labelA ++ Seq(col("id_b")) ++
        payB.map(col) ++ Seq(col("cosine"), col("rank")): _*)
  }

  /** Incremental semantic dedup — the [[graft.operators.Dedup
    * .incrementalMinhashDedup]] verdict contract on the EMBEDDING index:
    * classify an arriving batch against the stored corpus (and against its
    * own earlier arrivals) without ever pairing stored members together.
    * Call [[append]] with the batch FIRST (the ingest order); self-matches
    * are excluded by id inside the shortlist.
    *
    * A batch row is a duplicate when any of its k approximate nearest
    * neighbors clears `tau` and is either a STORED member or a LOWER-id
    * row of the same batch (the greedy leader rule — the min-id copy of a
    * within-batch group survives, [[graft.operators.Similarity
    * .semanticDedup]]'s ordering). Returns the q87 shape:
    * (id, dup_of_old, dup_of_new, kept) with -1 for no match. Work is
    * |delta|-driven end-to-end: one [[knnJoinDelta]] (zero base exchange
    * on the broadcast-probe path) plus |delta|-sized verdict joins
    * ([[Dedup.pairVerdicts]]).
    *
    * Like the native ANN family this is spec-gated (trained PQ shortlist);
    * its oracle anchor is [[graft.operators.Similarity
    * .semanticDedupIncrementalPortable]] (q117), which replays the same
    * verdict rule over the exact-arithmetic portable pipeline in ANSI
    * SQL. */
  def dedupDelta(
      newDf: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      tau: Double,
      k: Int = 8,
      nprobe: Int = 4
  ): DataFrame =
    Dedup.pairVerdicts(knnJoinDelta(newDf, idCol, vecCol, path, k, nprobe),
      newDf.select(col(idCol).cast("long").as("id")), tau)
}
