package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Generations, Stage}

/** Multimodal (image/audio/video) column handling for training-data
  * pipelines: media as opaque `binary` columns with typed metadata, processed
  * by batch-shaped per-partition functions.
  *
  * The Spark-side plumbing — schema contract, partition sizing, batched
  * iteration, deterministic outputs — is real and tested. IMAGE decode is
  * real too: [[imageDecode]] uses the JDK's own `javax.imageio` codecs
  * (PNG/JPEG/GIF/BMP), and [[audioDecode]] the JDK's `javax.sound.sampled`
  * (WAV/AIFF/AU) — no external libraries. VIDEO byte-level decode remains
  * A STUB (no such codec ships in this environment): `decodeStub`
  * derives deterministic fake features from the bytes' hash. A real decoder
  * (JNI/FFI or an Arrow-batched python worker — the Scala analogue of a
  * Pandas UDF over `mapInPandas`) drops in behind `FeatureExtractor`
  * without touching any caller.
  *
  * Scale notes: media rows are large and skewed — `repartitionForMedia`
  * targets a byte budget per task, not a row count, so one 4 GB video and a
  * thousand thumbnails cost a task about the same. Feature extraction is
  * mapPartitions (amortizes any per-batch model-load cost), never a per-row
  * UDF.
  */
object Multimodal {

  /** Canonical media row: id, modality, raw bytes, sparse typed metadata. */
  case class MediaRow(
      media_id: Long,
      media_type: String, // image | audio | video
      bytes: Array[Byte],
      width: Option[Int],
      height: Option[Int],
      duration_ms: Option[Long])

  case class MediaFeatures(
      media_id: Long,
      media_type: String,
      n_bytes: Long,
      features: Array[Float])

  case class Frame(media_id: Long, frame_index: Int, offset_ms: Long, frame_bytes: Array[Byte])

  /** Batch shape for feature extraction: process `batchSize` rows per model
    * invocation — the mapPartitions analogue of a Pandas UDF's Arrow batch. */
  val BatchSize = 64

  /** The decoder seam. Swap the stub for a real codec without touching
    * callers. Must be deterministic per (bytes, dims). */
  type FeatureExtractor = Seq[MediaRow] => Seq[MediaFeatures]

  /** STUB decode: deterministic fake "embedding" from the content hash —
    * stands in for decode→preprocess→model-forward. Real implementation
    * plugs in here. */
  val decodeStub: FeatureExtractor = rows =>
    rows.map { r =>
      val h = java.util.Arrays.hashCode(r.bytes)
      val rng = new scala.util.Random(h.toLong)
      MediaFeatures(r.media_id, r.media_type, r.bytes.length.toLong,
        Array.fill(16)(rng.nextFloat() * 2 - 1))
    }

  /** REAL image decode via the JDK's built-in `javax.imageio` codecs
    * (PNG/JPEG/GIF/BMP — no external libraries). Features (16 floats):
    * width, height, per-channel RGB means and standard deviations, and an
    * 8-bin luminance histogram (fraction of sampled pixels per bin), all
    * from a ≤64×64 uniform pixel grid so cost is bounded regardless of
    * image size. Deterministic per bytes. Rows that are not images, or
    * whose bytes no JDK codec accepts, fall back to [[decodeStub]] — the
    * seam audio/video decode still occupies (those codecs don't ship in
    * the JDK). */
  val imageDecode: FeatureExtractor = rows =>
    rows.map { r =>
      val img =
        if (r.media_type == "image")
          try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.bytes)))
          catch { case _: Exception => None }
        else None
      img match {
        case Some(im) =>
          val w = im.getWidth; val h = im.getHeight
          val stepX = math.max(1, w / 64); val stepY = math.max(1, h / 64)
          val sum = new Array[Double](3); val sumSq = new Array[Double](3)
          val hist = new Array[Double](8)
          var n = 0; var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = im.getRGB(x, y)
              val c = Array((rgb >> 16) & 0xff, (rgb >> 8) & 0xff, rgb & 0xff)
              var k = 0
              while (k < 3) { sum(k) += c(k); sumSq(k) += c(k).toDouble * c(k); k += 1 }
              val lum = (0.299 * c(0) + 0.587 * c(1) + 0.114 * c(2)).toInt
              hist(math.min(7, lum >> 5)) += 1
              n += 1; x += stepX
            }
            y += stepY
          }
          val feats = new Array[Float](16)
          feats(0) = w.toFloat; feats(1) = h.toFloat
          var k = 0
          while (k < 3) {
            val mean = sum(k) / n
            feats(2 + k) = mean.toFloat
            feats(5 + k) = math.sqrt(math.max(0.0, sumSq(k) / n - mean * mean)).toFloat
            k += 1
          }
          var b = 0
          while (b < 8) { feats(8 + b) = (hist(b) / n).toFloat; b += 1 }
          MediaFeatures(r.media_id, r.media_type, r.bytes.length.toLong, feats)
        case None => decodeStub(Seq(r)).head
      }
    }

  /** 64-bit difference hash (dHash) of an image: decode, sample a 9×8
    * luminance grid (nearest-pixel on a uniform lattice, bounded cost at
    * any resolution), and emit one bit per horizontal neighbor pair —
    * bit = left brighter than right. Gradient-based, so it is invariant
    * to uniform brightness/contrast shifts (the classic re-encode /
    * thumbnail near-dup signal) while random content differs in ~32 bits.
    * None for non-images or bytes no JDK codec accepts. Deterministic per
    * bytes. */
  def dHash64(bytes: Array[Byte]): Option[Long] = {
    val img =
      try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
      catch { case _: Exception => None }
    img.map { im =>
      val w = im.getWidth
      val h = im.getHeight
      val lum = Array.ofDim[Double](8, 9)
      var gy = 0
      while (gy < 8) {
        var gx = 0
        while (gx < 9) {
          val x = if (w == 1) 0 else (gx * (w - 1)) / 8
          val y = if (h == 1) 0 else (gy * (h - 1)) / 7
          val rgb = im.getRGB(x, y)
          lum(gy)(gx) = 0.299 * ((rgb >> 16) & 0xff) +
            0.587 * ((rgb >> 8) & 0xff) + 0.114 * (rgb & 0xff)
          gx += 1
        }
        gy += 1
      }
      var hash = 0L
      var bit = 0
      gy = 0
      while (gy < 8) {
        var gx = 0
        while (gx < 8) {
          if (lum(gy)(gx) > lum(gy)(gx + 1)) hash |= (1L << bit)
          bit += 1
          gx += 1
        }
        gy += 1
      }
      hash
    }
  }

  /** Banded near-dup join over any 64-bit perceptual hash — the public
    * signature-level operator ([[imageNearDups]]/[[audioNearDups]] are the
    * decode-then-join faces): split the hash into `bands` equal slices,
    * self-join on (band, slice) so only hash-sharing candidates ever pair,
    * verify full Hamming ≤ `maxHamming`. Any pair within Hamming
    * `bands − 1` shares at least one intact band (pigeonhole), so
    * candidate generation is EXACT for maxHamming ≤ bands − 1 and
    * documented-approximate beyond. The join ships only (id, hash, band,
    * bits) — media bytes never cross the exchange. Input (id, hash);
    * returns (id_a, id_b, hamming), id_a < id_b.
    *
    * Scale shape (the editDistanceStats moves, applied to hashes):
    *
    *  - **No global pair `distinct()`.** A pair sharing several intact
    *    bands would emit once per band; instead each candidate row is
    *    kept only at the pair's FIRST matching band — a row-local filter
    *    over the two hashes the row already carries (both sides compute
    *    the same band set, so each pair survives exactly once). The
    *    distinct's map-side hash state — one entry per candidate pair per
    *    JVM — was the measured spill hazard of every pair stream this
    *    size (cf. Dedup.editDistanceCandidates' 45.8 GB).
    *  - **Sized, reused band exchange.** Both self-join sides read ONE
    *    canonical (band, bits)-keyed exchange (ReusedExchange), priced
    *    from the row-count estimate at the unspillable-build discipline
    *    (n·bands rows × ~96 B in-relation, ≤ 16 MB per task) — the
    *    session constant would hand each task the whole corpus/32 at 5M+
    *    signatures.
    *
    * Volume honesty: with 64-bit hashes and `bands` slices, each band has
    * 2^(64/bands) buckets; once n ≫ 2^(64/bands) (65,536 at bands = 4)
    * RANDOM hashes collide and candidate volume grows ~n²·bands/2^width —
    * the same saturation law as q-gram blocking
    * ([[graft.operators.Dedup.gramSaturation]]), with bands the
    * exactness/volume dial: bands = 2 (32-bit slices) stays sparse to
    * ~10⁹ signatures but is exact only to Hamming 1. Perceptual-hash
    * corpora are gentler than random (near-dups cluster; unrelated media
    * rarely collide on 16 bits of gradient signs) — the grid rows record
    * the measured volume at 500k/5M signatures either way. */
  def hashNearDups(hashes: DataFrame, maxHamming: Int = 3,
      bands: Int = 4, nRows: Long = 0L): DataFrame = {
    require(bands > 1 && 64 % bands == 0, "bands must divide 64 (and be > 1)")
    val width = 64 / bands
    val mask = (1L << width) - 1
    // row-count estimate for the band exchange: explicit hint, else the
    // analyzed estimate over ~24 B/row for stats-backed plans, else one
    // count job (decode-derived frames are priced by their media source's
    // scaled estimate — overestimates only widen, which is benign)
    val n =
      if (nRows > 0) nRows
      else if (Stage.statsKnown(hashes))
        // ~12 B/row divisor: an (id, hash) row is 16 B raw but parquet
        // stats report compressed bytes — overestimating n only widens
        // the exchange, which is benign; undersizing builds is not
        (hashes.queryExecution.analyzed.stats.sizeInBytes / 12).toLong
      else hashes.count()
    val parts = Stage.width(hashes, n * bands * 96L / Stage.BuildBytesPerTask)
    val banded0 = hashes.select(col("id"), col("hash"),
      explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bits",
        expr(s"shiftrightunsigned(hash, band * $width) & $mask"))
    val banded =
      if (parts > hashes.sparkSession.sessionState.conf.numShufflePartitions)
        banded0.repartition(parts, col("band"), col("bits"))
      else banded0
    banded.as("l")
      .join(banded.as("r").hint("SHUFFLE_HASH"),
        col("l.band") === col("r.band") && col("l.bits") === col("r.bits")
          && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        col("l.hash").as("hash_a"), col("r.hash").as("hash_b"), col("l.band").as("band"))
      // keep the pair ONLY at its first matching band — a deterministic
      // function of the two hashes both rows agree on, so no distinct
      .filter(expr(s"band = array_min(filter(sequence(0, ${bands - 1}), " +
        s"b -> (shiftrightunsigned(hash_a, b * $width) & $mask) = " +
        s"(shiftrightunsigned(hash_b, b * $width) & $mask)))"))
      .withColumn("hamming",
        bit_count(col("hash_a").bitwiseXOR(col("hash_b"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  private def bandedHashPairs(hashes: DataFrame, maxHamming: Int,
      bands: Int): DataFrame = hashNearDups(hashes, maxHamming, bands)

  /** Image near-duplicate pairs by banded dHash — the multimodal face of
    * the SimHash text pipeline. Decode happens ONCE, in the scan
    * projection; see [[bandedHashPairs]] for the join shape and the
    * exactness bound. */
  def imageNearDups(
      media: Dataset[MediaRow],
      maxHamming: Int = 3,
      bands: Int = 4
  ): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    bandedHashPairs(media
      .flatMap(r => if (r.media_type == "image") dHash64(r.bytes).map(h => (r.media_id, h))
                    else None)
      .toDF("id", "hash"), maxHamming, bands)
  }

  /** 64-bit audio envelope hash: decode to mono PCM, split into 65 equal
    * time segments, one bit per adjacent segment pair — bit = energy
    * rising. Gradient-based like [[dHash64]], so it is invariant to
    * uniform GAIN (volume scales every segment energy by g², preserving
    * every comparison) — the re-encode/normalize near-dup signal — while
    * different material differs in ~32 bits. None for non-audio bytes. */
  def aHash64(bytes: Array[Byte]): Option[Long] =
    decodePcmMono(bytes).map { case (data, frames, frameBytes, channels, _) =>
      val seg = new Array[Double](65)
      val step = math.max(1, frames / 65536)
      var i = 0
      while (i < frames) {
        var c = 0
        var acc = 0.0
        while (c < channels) {
          val off = i * frameBytes + 2 * c
          val s = ((data(off + 1).toInt << 8) | (data(off) & 0xff)).toShort
          acc += s / 32768.0
          c += 1
        }
        val x = acc / channels
        seg(math.min(64, i * 65L / frames).toInt) += x * x
        i += step
      }
      var hash = 0L
      var b = 0
      while (b < 64) {
        if (seg(b + 1) > seg(b)) hash |= (1L << b)
        b += 1
      }
      hash
    }

  /** Audio near-duplicate pairs by banded envelope hash — same join shape
    * and exactness bound as [[imageNearDups]]. */
  def audioNearDups(
      media: Dataset[MediaRow],
      maxHamming: Int = 3,
      bands: Int = 4
  ): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    bandedHashPairs(media
      .flatMap(r => if (r.media_type == "audio") aHash64(r.bytes).map(h => (r.media_id, h))
                    else None)
      .toDF("id", "hash"), maxHamming, bands)
  }

  /** REAL audio decode via the JDK's built-in `javax.sound.sampled` codecs
    * (WAV/AIFF/AU PCM — no external libraries). The stream is converted to
    * 16-bit signed PCM, mono-mixed, and sampled on a bounded uniform grid
    * (≤ 65536 frames) so cost is independent of clip length. Features (16
    * floats): sample rate, channel count, duration (s), RMS, peak, zero-
    * crossing rate, mean |x|, silence fraction (|x| < 0.01), and the energy
    * fraction in 8 equal time segments (the coarse envelope). Deterministic
    * per bytes. Non-audio rows, and bytes no JDK codec accepts (MP3/OGG
    * don't ship in the JDK), fall back to [[decodeStub]] — the remaining
    * honest stub is video. */
  val audioDecode: FeatureExtractor = rows =>
    rows.map { r =>
      val decoded =
        if (r.media_type == "audio") decodeWavFeatures(r.bytes) else None
      decoded match {
        case Some(f) => MediaFeatures(r.media_id, r.media_type, r.bytes.length.toLong, f)
        case None => decodeStub(Seq(r)).head
      }
    }

  /** Decode any JDK-supported audio container to 16-bit little-endian PCM:
    * (data, frames, frameBytes, channels, sampleRate). None when no codec
    * accepts the bytes or the clip is empty. */
  private def decodePcmMono(
      bytes: Array[Byte]): Option[(Array[Byte], Int, Int, Int, Float)] =
    try {
      import javax.sound.sampled.{AudioFormat, AudioSystem}
      val in = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
      val src = in.getFormat
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        src.getSampleRate, 16, src.getChannels,
        2 * src.getChannels, src.getSampleRate, false)
      val pcm = AudioSystem.getAudioInputStream(fmt, in)
      val channels = fmt.getChannels
      val frameBytes = fmt.getFrameSize
      val data = pcm.readAllBytes()
      pcm.close(); in.close()
      val frames = data.length / frameBytes
      if (frames == 0) None
      else Some((data, frames, frameBytes, channels, fmt.getSampleRate))
    } catch { case _: Exception => None }

  private def decodeWavFeatures(bytes: Array[Byte]): Option[Array[Float]] =
    decodePcmMono(bytes).map { case (data, frames, frameBytes, channels, rate) =>
      wavStats(data, frames, frameBytes, channels, rate)
    }

  private def wavStats(data: Array[Byte], frames: Int, frameBytes: Int,
      channels: Int, sampleRate: Float): Array[Float] = {
      val step = math.max(1, frames / 65536)
      var i = 0; var n = 0
      var sumSq = 0.0; var sumAbs = 0.0; var peak = 0.0
      var zc = 0; var silent = 0; var prev = 0.0
      val segEnergy = new Array[Double](8)
      while (i < frames) {
        // mono mix of the frame, 16-bit little-endian per channel
        var c = 0; var acc = 0.0
        while (c < channels) {
          val off = i * frameBytes + 2 * c
          val s = ((data(off + 1).toInt << 8) | (data(off) & 0xff)).toShort
          acc += s / 32768.0
          c += 1
        }
        val x = acc / channels
        sumSq += x * x; sumAbs += math.abs(x)
        if (math.abs(x) > peak) peak = math.abs(x)
        if (n > 0 && ((x >= 0) != (prev >= 0))) zc += 1
        if (math.abs(x) < 0.01) silent += 1
        segEnergy(math.min(7, i * 8L / frames).toInt) += x * x
        prev = x; n += 1; i += step
      }
      val feats = new Array[Float](16)
      feats(0) = sampleRate
      feats(1) = channels.toFloat
      feats(2) = (frames / sampleRate.toDouble).toFloat
      feats(3) = math.sqrt(sumSq / n).toFloat
      feats(4) = peak.toFloat
      feats(5) = (zc.toDouble / n).toFloat
      feats(6) = (sumAbs / n).toFloat
      feats(7) = (silent.toDouble / n).toFloat
      val total = segEnergy.sum
      var b = 0
      while (b < 8) {
        feats(8 + b) = (if (total > 0) segEnergy(b) / total else 0.0).toFloat
        b += 1
      }
      feats
  }

  /** Modality dispatch: images through [[imageDecode]], audio through
    * [[audioDecode]], everything else (video — no JDK codec) through
    * [[decodeStub]]. */
  val mediaDecode: FeatureExtractor = rows =>
    rows.map { r =>
      r.media_type match {
        case "image" => imageDecode(Seq(r)).head
        case "audio" => audioDecode(Seq(r)).head
        case _ => decodeStub(Seq(r)).head
      }
    }

  /** Bucket fan-out of the stored signature index: band slices map to
    * `bits mod SigBuckets` physical partitions under each band directory,
    * so a trickle delta's probed-(band, bucket) pruning skips most of the
    * stored bytes — the [[graft.operators.KnnIndex]] bucket move in
    * Hamming space. */
  val SigBuckets = 256

  /** Build a persistent banded-signature index at `path` (overwrites any
    * previous one): the media dedup analogue of
    * [[graft.operators.KnnIndex.build]]. Input is (id, hash) — any 64-bit
    * perceptual hash ([[dHash64]], [[aHash64]], SimHash). Each hash is
    * sliced into `bands` keys and stored as (id, hash, band, bits) rows
    * partitioned `band=<b>/bucket=<bits mod 256>`; banding is a pure
    * function of the hash, which is what makes [[appendSigIndex]] possible
    * — an arriving batch lands in exactly the directories the base build
    * would have put it. A `meta` row pins `bands` so every later
    * operation slices identically. The members commit as a fresh
    * generation and the old index's tombstones and ingest markers are
    * cleared ([[Generations.freshBuild]]). */
  def buildSigIndex(hashes: DataFrame, path: String, bands: Int = 4): Unit = {
    require(bands > 1 && 64 % bands == 0, "bands must divide 64 (and be > 1)")
    val spark = hashes.sparkSession
    import spark.implicits._
    Generations.withMaintainerLease(spark, path) {
      Generations.freshBuild(spark, path) { dir =>
        Seq(bands).toDF("bands").coalesce(1)
          .write.mode("overwrite").parquet(s"$path/meta")
        writeSigMembers(hashes, bands, dir, "overwrite")
      }
    }
  }

  /** The LIVE signature members tree — resolved through the shared
    * generation pointer ([[graft.operators.Generations.resolve]]); legacy
    * pre-generation trees (`path/members`) still resolve. */
  def sigMembersDir(spark: SparkSession, path: String): String =
    Generations.resolve(spark, path)

  /** Ingest a delta batch of signatures into the stored index — work
    * (banding CPU, bytes written) ∝ |delta|; the base directories are
    * never read or rewritten (new files into the band/bucket layout of
    * the LIVE generation, the KnnIndex.append contract). */
  def appendSigIndex(newHashes: DataFrame, path: String): Unit = {
    val spark = newHashes.sparkSession
    Generations.withMaintainerLease(spark, path) {
      writeSigMembers(newHashes, sigIndexBands(spark, path),
        sigMembersDir(spark, path), "append")
    }
  }

  /** The stored index's band count — one tiny parquet read. */
  def sigIndexBands(spark: SparkSession, path: String): Int =
    spark.read.parquet(s"$path/meta").head().getInt(0)

  /** Has `batchId` already been committed by [[appendSigBatch]]? */
  def sigIngestCommitted(spark: SparkSession, path: String,
      batchId: Long): Boolean =
    Generations.ingestCommitted(spark, path, batchId)

  /** EXACTLY-ONCE [[appendSigIndex]]: ingest a signature batch under a
    * caller-supplied batch id (Structured Streaming's `foreachBatch` id —
    * the unit the engine replays after a failure). Returns false (and does
    * nothing) when the batch is already committed.
    *
    * [[nearDupDelta]]'s min-id verdicts are already insensitive to
    * at-least-once duplicates (see [[compactSigIndex]]), so a plain
    * replayed [[appendSigIndex]] can never change an ANSWER — what this
    * path removes is the duplicate BYTES a replay would park in the tree
    * until forever (no compact dedups them). The staged,
    * marker-committed protocol is [[Generations]]'s, shared with
    * [[graft.operators.KnnIndex.appendBatch]]. Work ∝ |delta|. */
  def appendSigBatch(newHashes: DataFrame, path: String,
      batchId: Long): Boolean = {
    val spark = newHashes.sparkSession
    Generations.appendBatch(spark, path, batchId, "band=*/bucket=*") {
      (_, staging) =>
        writeSigMembers(newHashes, sigIndexBands(spark, path), staging,
          "overwrite")
    }
  }

  /** Continuous signature ingest: a `foreachBatch` writer that runs each
    * arriving media batch's [[nearDupDelta]] verdicts (when `verdictsDir`
    * is set — idempotent Overwrite per `batch=<id>` directory, `_SUCCESS`-
    * checked) and then [[appendSigBatch]]es the batch into the stored
    * index — exactly-once end-to-end. Verdicts run BEFORE the append (the
    * [[nearDupDelta]] contract: the stored side is "old" by definition,
    * within-batch matches are computed internally), the inverse of
    * [[graft.operators.KnnIndex.ingestStream]]'s order.
    *
    * With `maintainEvery` = N > 0, every Nth batch ends with a
    * [[maintainSig]] pass, so the stream's one permitted writer is also
    * the maintainer and the tree never accumulates the measured
    * files-per-dir read-amp drift (sig_index_read_amp: verdicts run ~2×
    * the compacted floor by 9 files/dir). Concurrent readers stay safe
    * across the policy's compacts via the generation-pointer swap. */
  def sigIngestStream(
      hashes: DataFrame,
      path: String,
      verdictsDir: String = null,
      maxHamming: Int = 3,
      maintainEvery: Int = 0
  ): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    hashes.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val spark = batch.sparkSession
      // the verdict ledger must land BEFORE the members commit: replay
      // after a crash between the two re-reads the batch as still-new
      // (marker absent ⇒ members absent ⇒ verdicts re-run identically)
      if (verdictsDir != null && !sigIngestCommitted(spark, path, batchId))
        Generations.writeBatchOnce(spark, verdictsDir, batchId)(
          nearDupDelta(batch, path, maxHamming))
      appendSigBatch(batch, path, batchId)
      if (maintainEvery > 0 && (batchId + 1) % maintainEvery == 0)
        maintainSig(spark, path)
      ()
    }

  private def writeSigMembers(hashes: DataFrame, bands: Int, dest: String,
      mode: String): Unit = {
    val width = 64 / bands
    val mask = (1L << width) - 1
    // One (band, bucket)-keyed exchange BEFORE the partitioned write so
    // each task holds whole directory groups: without it every write task
    // opens a file per (band, bucket) it touches — measured 32,765 files
    // (269 MB) for a 90k-signature build, parquet footer overhead
    // dominating the bytes and every later read paying the listing. With
    // it the tree holds ≤ parts files per directory (parts ≪ task count),
    // sized from the banded row volume at ~128 MB per write task.
    val est =
      if (Stage.statsKnown(hashes))
        hashes.queryExecution.analyzed.stats.sizeInBytes / 12
      else BigInt(hashes.count())
    val banded = hashes
      .select(col("id").cast("long").as("id"), col("hash").cast("long").as("hash"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bits", expr(s"shiftrightunsigned(hash, band * $width) & $mask"))
      .withColumn("bucket", pmod(col("bits"), lit(SigBuckets)).cast("int"))
    writeSigTree(banded, bands, est * bands * 24 / (128L << 20), dest, mode)
  }

  /** Write banded signature rows as a `band=/bucket=` tree with `want`
    * write tasks, clamped to at most one task per (band, bucket)
    * directory and at least the default parallelism (itself capped at
    * that directory count). Tasks hold whole (band, bucket) groups, so
    * few writers are open at once ([[Generations.withConcurrentWriters]]). */
  private def writeSigTree(rows: DataFrame, bands: Int, want: BigInt,
      dest: String, mode: String): Unit = {
    val spark = rows.sparkSession
    val dirs = bands * SigBuckets
    val parts = Stage.clamp(
      math.min(spark.sparkContext.defaultParallelism, dirs), dirs, want)
    Generations.withConcurrentWriters(spark)(
      rows.repartition(parts, col("band"), col("bucket"))
        .write.mode(mode).partitionBy("band", "bucket").parquet(dest))
  }

  /** The signature-index compaction-policy inputs — pure FS metadata, no
    * data job at all (the [[graft.operators.KnnIndex.health]] discipline,
    * one level cheaper: signature rows are flat, so fragmentation is
    * entirely a FILE phenomenon): every append generation adds ~1 parquet
    * file per touched (band, bucket) directory, and every
    * [[nearDupDelta]] pays the listing + footer pass per file — the exact
    * read amplification the KnnIndex curve measured, one abstraction
    * over. */
  final case class SigHealth(dirs: Long, files: Long) {
    def meanFilesPerDir: Double =
      if (dirs <= 0) 0.0 else files.toDouble / dirs
  }

  /** Tombstone media ids — O(|ids|) append to a side log, no tree
    * rewrite (the [[graft.operators.KnnIndex.delete]] shape for the
    * signature index: the GDPR-removal path a media corpus needs).
    * [[nearDupDelta]] stops naming tombstoned members as `dup_of_old`
    * from this point on (the arriving copy is re-judged against the
    * SURVIVING corpus); [[compactSigIndex]] applies the log physically
    * and truncates it. A tombstone wins over any append of the same id
    * until the next compact — re-adding a deleted id requires compacting
    * first, the standard tombstone semantics. A MAINTAINER operation
    * like every mutator ([[Generations.tombstone]]). */
  def deleteSig(ids: DataFrame, idCol: String, path: String): Unit =
    Generations.tombstone(ids, idCol, path)

  /** One FS glob over the live generation. */
  def sigHealth(spark: SparkSession, path: String): SigHealth = {
    val live = sigMembersDir(spark, path)
    val files = Option(Generations.fileSystem(spark, path).globStatus(
      new org.apache.hadoop.fs.Path(s"$live/band=*/bucket=*/*.parquet")))
      .toSeq.flatten
    val dirs = files.map(_.getPath.getParent.toString).distinct.size
    SigHealth(dirs.toLong, files.size.toLong)
  }

  /** Does the signature index need a [[compactSigIndex]]? Triggered on
    * append fragmentation (mean parquet files per (band, bucket)
    * directory, 1.0-per-generation when fully compacted; default 4.0
    * mirrors the KnnIndex mean_dir_rows policy — each append batch adds
    * one file per touched directory, so the threshold fires after ~3
    * full-scope appends, where the measured sig read-amp curve's drift
    * repays one compact within a handful of queries) OR on tombstone
    * fraction (> 2 % of stored signatures deleted — the bound on the
    * anti-join the log imposes on every verdict, the KnnIndex
    * tombstoneFrac rule). The no-deletes read stays pure FS; the
    * member count behind the fraction (a zero-column footer-bound job)
    * runs ONLY when a tombstone log exists. */
  def shouldCompactSig(spark: SparkSession, path: String,
      maxMeanFilesPerDir: Double = 4.0,
      maxTombstoneFrac: Double = 0.02): Boolean =
    sigHealth(spark, path).meanFilesPerDir > maxMeanFilesPerDir ||
      Generations.tombstones(spark, path).exists { ts =>
        val t = ts.select(col("id")).distinct().count()
        t > 0 && {
          val members =
            spark.read.parquet(sigMembersDir(spark, path)).count()
          val sigs = math.max(1L,
            members / math.max(1, sigIndexBands(spark, path)))
          t.toDouble / sigs > maxTombstoneFrac
        }
      }

  /** Compact the signature index: rewrite the accumulated per-append
    * files into one coalesced tree — work ∝ |stored bytes|, one
    * (band, bucket)-keyed exchange, rows unchanged (banding is already
    * materialized; [[nearDupDelta]]'s min-id verdicts are insensitive to
    * any at-least-once append duplicates, so no dedup pass is owed),
    * tombstones applied physically. Crash- AND reader-safe via the
    * shared swap ([[Generations.compactSwap]]).
    * Single-MAINTAINER like [[graft.operators.KnnIndex.compact]]: don't
    * run concurrently with [[appendSigIndex]] (a batch landing mid-rewrite
    * stays in the superseded tree); readers are safe by construction. */
  def compactSigIndex(spark: SparkSession, path: String): Unit =
    Generations.withMaintainerLease(spark, path) {
    val live = sigMembersDir(spark, path)
    val stored0 = spark.read.parquet(live)
    // the tiny distinct tombstone log broadcasts into one anti-join
    val stored = Generations.tombstones(spark, path).fold(stored0)(ts =>
      stored0.join(broadcast(ts.select(col("id")).distinct()),
        Seq("id"), "left_anti"))
    val bands = sigIndexBands(spark, path)
    val bytes = Generations.fileSystem(spark, path).getContentSummary(
      new org.apache.hadoop.fs.Path(live)).getLength
    // ~128 MB of stored bytes per write task (×2 in-memory expansion) —
    // the writeSigMembers sizing read back from the files instead of a count
    Generations.compactSwap(spark, path)(
      writeSigTree(stored, bands, BigInt(bytes) * 2 / (128L << 20), _, "overwrite"))
    }

  /** The policy face of [[compactSigIndex]] — compacts IFF
    * [[shouldCompactSig]]'s threshold is crossed, returning whether it
    * ran. An ingest campaign calls this between appended batches
    * (quiesced — the single-maintainer contract). */
  def maintainSig(spark: SparkSession, path: String,
      maxMeanFilesPerDir: Double = 4.0): Boolean = {
    val go = shouldCompactSig(spark, path, maxMeanFilesPerDir)
    if (go) compactSigIndex(spark, path)
    // age out generations the PREVIOUS compact superseded (a few FS ops)
    // — the KnnIndex.maintain rule
    else Generations.vacuum(spark, path)
    go
  }

  /** Near-dup verdicts for an arriving media batch against the STORED
    * signature corpus — [[graft.operators.KnnIndex.dedupDelta]]'s shape in
    * Hamming space: a batch row is a duplicate when some hash within
    * `maxHamming` belongs to a STORED member (`dup_of_old` = min such id)
    * or to a LOWER-id row of its own batch (`dup_of_new` — the greedy
    * leader ordering, decided by one [[hashNearDups]] over the |delta|
    * batch alone). Returns (id, dup_of_old, dup_of_new, kept) with -1 for
    * no match; every batch id appears exactly once. Candidate generation
    * is the pigeonhole rule's, so it is EXACT for maxHamming ≤ bands − 1
    * — identical to running [[hashNearDups]] over stored ∪ batch, without
    * ever re-banding or re-scanning the stored corpus beyond the probed
    * buckets.
    *
    * Call BEFORE [[appendSigIndex]]-ing the batch (the stored side is
    * "old" by definition here; within-batch matches are computed
    * internally) — the inverse of KnnIndex.dedupDelta's append-first
    * order, chosen because signatures need no stored-side state to compare
    * a batch with itself.
    *
    * Plan shape: the distinct probed (band, bucket) set (a bounded
    * ≤ bands·256-row collect) prunes the member READ to the touched
    * partitions, decisive for trickle batches, and the banded delta
    * (|delta|·bands skinny rows, priced by [[sigProbeBytes]]) attaches on
    * (band, bits) through [[graft.operators.Stage.probeAttach]] —
    * broadcast under the maxResultSize-capped gate (zero base exchange),
    * else one sized exchange of both sides, the hashNearDups shape. The
    * min-id verdict aggregates make cross-band pair multiplicity
    * irrelevant, so no global pair distinct exists on either path. */
  def nearDupDelta(newHashes: DataFrame, path: String,
      maxHamming: Int = 3): DataFrame =
    nearDupDeltaAt(newHashes, path, maxHamming,
      Stage.driverCollectGate(newHashes.sparkSession))

  /** In-memory price of [[nearDupDelta]]'s banded probe stream:
    * |delta|·bands skinny rows at ~48 B × 2 in-memory expansion. */
  private[graft] def sigProbeBytes(nDelta: Long, bands: Int): Long =
    nDelta * bands * 96L

  /** [[nearDupDelta]] with the probe-attach `gate` given. */
  private[graft] def nearDupDeltaAt(newHashes: DataFrame, path: String,
      maxHamming: Int, gate: Long): DataFrame = {
    val spark = newHashes.sparkSession
    val bands = sigIndexBands(spark, path)
    require(maxHamming <= bands - 1,
      s"maxHamming=$maxHamming needs bands > maxHamming for exact candidates " +
        s"(stored index has bands=$bands)")
    val width = 64 / bands
    val mask = (1L << width) - 1
    val delta = newHashes.select(col("id").cast("long").as("id"),
      col("hash").cast("long").as("hash"))
    val deltaIds = delta.select(col("id"))
    val banded = delta
      .select(col("id").as("id_d"), col("hash").as("hash_d"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bits", expr(s"shiftrightunsigned(hash_d, band * $width) & $mask"))
    // one generation snapshot per query (the KnnIndex.knnJoinDelta rule):
    // a compactSigIndex committing mid-query leaves this tree on disk for
    // the grace window
    val members = spark.read.parquet(sigMembersDir(spark, path))
    // bucket pruning: distinct probed (band, bucket) — bounded collect
    val probed = banded
      .select(col("band"), pmod(col("bits"), lit(SigBuckets)).cast("int").as("bucket"))
      .distinct().collect().map(r => (r.getInt(0), r.getInt(1)))
    val pruned =
      if (probed.length < bands * SigBuckets) {
        // composite partition-column key — prunable (deterministic
        // expression over partition attributes only)
        val keys = probed.map { case (b, bk) => b * SigBuckets + bk }
        members.filter((col("band") * lit(SigBuckets) + col("bucket"))
          .isin(keys.map(Integer.valueOf): _*))
      } else members
    // logical delete: tombstoned members can no longer be dup_of_old —
    // the arriving copy is re-judged against the SURVIVING corpus (the
    // KnnIndex.knnJoinDelta tombstone rule; tiny distinct log broadcasts)
    val prunedLive = Generations.tombstones(spark, path).fold(pruned)(ts =>
      pruned.join(broadcast(ts.select(col("id")).distinct()),
        Seq("id"), "left_anti"))
    val nDelta = math.max(1L, delta.count())
    val joined = Stage.probeAttach(prunedLive, banded, Seq("band", "bits"),
      sigProbeBytes(nDelta, bands), gate)
    val oldQ = joined
      .filter(col("id") =!= col("id_d"))
      .withColumn("hamming",
        bit_count(col("hash").bitwiseXOR(col("hash_d"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("id_d")).agg(min(col("id")).as("min_old"))
    // within-batch leaders: one |delta|-sized banded self-join — pairs
    // come back (id_a < id_b), so each row's candidate leader is min id_a
    val newQ = hashNearDups(delta, maxHamming, bands, nRows = nDelta)
      .groupBy(col("id_b").as("id_d")).agg(min(col("id_a")).as("min_new"))
    Dedup.verdictFold(deltaIds, oldQ, newQ, "id_d")
  }

  /** Repartition media so each task holds ~`targetBytesPerTask` of payload.
    * Uses a cheap pre-aggregated byte count, not a row count — media sizes
    * are wildly skewed. */
  def repartitionForMedia(df: DataFrame, targetBytesPerTask: Long = 256L * 1024 * 1024): DataFrame = {
    val totalBytes = df.agg(sum(length(col("bytes")))).head().getLong(0)
    val parts = math.max(1, (totalBytes / math.max(1, targetBytesPerTask)).toInt)
    df.repartition(math.max(parts, df.sparkSession.sparkContext.defaultParallelism))
  }

  /** Feature extraction over batches within each partition. */
  def extractFeatures(
      media: Dataset[MediaRow],
      extractor: FeatureExtractor = decodeStub
  ): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions(it => it.grouped(BatchSize).flatMap(extractor(_)))
  }

  /** STUB frame sampling for video rows: emits `framesPer` evenly-spaced
    * pseudo-frames (byte slices stand in for decoded frames); images/audio
    * pass through as a single frame. The plumbing — one-to-many explode with
    * deterministic offsets — is the real contract. */
  def sampleFrames(media: Dataset[MediaRow], framesPer: Int = 4): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.flatMap { r =>
      r.media_type match {
        case "video" =>
          val dur = r.duration_ms.getOrElse(0L)
          (0 until framesPer).map { i =>
            val off = if (framesPer <= 1) 0L else dur * i / framesPer
            val sliceLen = math.max(1, r.bytes.length / framesPer)
            val start = math.min(r.bytes.length - 1, i * sliceLen).max(0)
            Frame(r.media_id, i, off,
              java.util.Arrays.copyOfRange(r.bytes, start,
                math.min(r.bytes.length, start + sliceLen)))
          }
        case _ => Seq(Frame(r.media_id, 0, 0L, r.bytes))
      }
    }
  }

  /** Metadata "resize": pure column transform (no decode) recording the
    * target geometry next to the payload — at scale this is a catalog
    * operation, the pixel work happens in the extractor. */
  def withResizeTarget(df: DataFrame, maxSide: Int): DataFrame = {
    val scale = least(
      lit(maxSide) / greatest(col("width"), lit(1)).cast("double"),
      lit(maxSide) / greatest(col("height"), lit(1)).cast("double"),
      lit(1.0))
    df.withColumn("target_width", round(col("width") * scale).cast("int"))
      .withColumn("target_height", round(col("height") * scale).cast("int"))
  }

  /** Deterministic synthetic media table for tests/benches: bytes derived
    * from the id hash (no external fixtures needed). */
  def syntheticMedia(spark: SparkSession, n: Long, seed: Long = 1L): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(0, n).map { id =>
      val rng = new scala.util.Random(seed * 1000003 + id)
      val mt = Seq("image", "audio", "video")(rng.nextInt(3))
      val len = 256 + rng.nextInt(1024)
      val bytes = Array.fill(len)(rng.nextInt().toByte)
      MediaRow(id, mt, bytes,
        if (mt == "image") Some(64 + rng.nextInt(4000)) else None,
        if (mt == "image") Some(64 + rng.nextInt(4000)) else None,
        if (mt != "image") Some(1000L + rng.nextInt(600000)) else None)
    }
  }
}
