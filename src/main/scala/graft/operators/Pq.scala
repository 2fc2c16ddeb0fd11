package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions

/** Product quantization: the memory-compressed ANN path beside IVF and LSH.
  *
  * The vector space is split into `m` contiguous sub-spaces; each sub-space
  * gets its own small k-means codebook (trained with the same deterministic
  * [[Ivf]] recipe on the sliced column), and a vector is stored as `m` small
  * code integers — at 100 TB that is ~`m` bytes per vector instead of
  * `4×dim`, so a compressed index over billions of vectors fits a fraction
  * of the footprint and scans at memory bandwidth.
  *
  * Search uses asymmetric distance computation (ADC): the query precomputes
  * per-sub-space distance tables to every centroid driver-side (m×k doubles
  * — trivially small), and each stored code scores as `m` table lookups via
  * a native codegen'd expression. No vector decode, no per-row allocation.
  *
  * Everything is deterministic (codebooks derive from the [[Ivf]] xxhash64
  * init), so an index re-build reproduces bit-identically.
  */
object Pq {

  /** Per-sub-space codebooks: `codebooks(s)` has `k` centroids of the s-th
    * slice. */
  final case class PqCodebook(subDim: Int, codebooks: Array[Ivf.Codebook]) {
    def m: Int = codebooks.length

    /** ADC lookup tables for a query: table(s)(c) = squared L2 distance of
      * the query's s-th slice to centroid c of sub-space s. */
    def adcTables(query: Array[Double]): Array[Array[Double]] =
      codebooks.zipWithIndex.map { case (cb, s) =>
        val lo = s * subDim
        cb.centroids.map { cent =>
          var d = 0.0; var i = 0
          val n = math.min(subDim, math.max(0, query.length - lo))
          while (i < n) { val x = query(lo + i) - cent(i); d += x * x; i += 1 }
          d
        }
      }
  }

  private def sliceCol(vecCol: String, s: Int, subDim: Int): Column =
    slice(col(vecCol), s * subDim + 1, subDim)

  /** Train `m` sub-space codebooks of `k` centroids each over an
    * `Array[Float]` embedding column of dimension `dim` (must divide by
    * `m`). One deterministic k-means per sub-space. */
  def train(
      df: DataFrame,
      vecCol: String,
      dim: Int,
      m: Int = 8,
      k: Int = 16,
      iters: Int = 3,
      seed: Long = 1L
  ): PqCodebook = {
    require(dim % m == 0, s"dim $dim must divide into m=$m sub-spaces")
    val subDim = dim / m
    val books = (0 until m).map { s =>
      val sub = df.select(sliceCol(vecCol, s, subDim).as("v"))
      Ivf.train(sub, "v", k, iters, seed + s)
    }.toArray
    PqCodebook(subDim, books)
  }

  /** [[train]] (3 iterations) on a deterministic xxhash64 sample of ~64k of
    * `base`'s (`id`, `v`) rows, whatever the corpus size `n`. A thinned
    * sample is cached [[Materialize.during]] training: each of the m·(iters+1)
    * jobs would otherwise re-scan the FULL base (~15 s of the 5M wall). */
  private[graft] def trainOnSample(base: DataFrame, n: Long, dim: Int, m: Int,
      k: Int): PqCodebook = {
    val every = math.max(1L, n / 65536L)
    def fit(sample: DataFrame) = train(sample.select(col("v")), "v", dim, m, k, iters = 3)
    if (every == 1L) fit(base)
    else Materialize.during(base.filter(pmod(xxhash64(col("id")), lit(every)) === 0))(fit)
  }

  /** Encode the corpus: (id, code) where `code` is the array of `m`
    * per-sub-space centroid indices — the compressed index (plus, at rest,
    * whatever partition key the caller pairs it with, e.g. an IVF cluster).
    * Each sub-code is the native [[VectorExpressions.NearestCentroid]] argmin
    * over that sub-space's sliced column — columnar, codegen'd, no UDFs. */
  def encode(df: DataFrame, idCol: String, vecCol: String, cb: PqCodebook): DataFrame = {
    val codes = array((0 until cb.m).map(s =>
      VectorExpressions.nearest_centroid(
        sliceCol(vecCol, s, cb.subDim), cb.codebooks(s).centroids)): _*)
    df.select(col(idCol).as("id"), codes.as("code"))
  }

  /** Approximate top-k by ADC distance over the compressed index: each code
    * row costs `m` lookups into the broadcast-literal query tables. Returns
    * (id, adc_dist) ascending (smaller = closer), id tie-break. */
  def topK(index: DataFrame, cb: PqCodebook, query: Seq[Float], k: Int): DataFrame = {
    val tables = cb.adcTables(query.iterator.map(_.toDouble).toArray)
    index
      .select(col("id"),
        round(graft.functions.VectorExpressions.adc_distance(col("code"), tables), 6)
          .as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("id").asc)
      .limit(k)
  }

  /** IVF+PQ composed index — the production ANN shape: (id, cluster, code),
    * written partitioned by `cluster` at rest. A query reads only `nprobe`
    * clusters (IVF pruning) and scores each candidate with `m` table lookups
    * (PQ compression): scan fraction ≈ nprobe/k_ivf of ~m bytes per vector. */
  def ivfPqIndex(df: DataFrame, idCol: String, vecCol: String,
      ivf: Ivf.Codebook, pq: PqCodebook): DataFrame = {
    val assigned = Ivf.assign(df.select(col(idCol).as("id"), col(vecCol)), vecCol, ivf)
    val codes = array((0 until pq.m).map(s =>
      VectorExpressions.nearest_centroid(
        slice(col("v"), s * pq.subDim + 1, pq.subDim), pq.codebooks(s).centroids)): _*)
    assigned.select(col("id"), col("cluster"), codes.as("code"))
  }

  /** Cluster-pruned ADC top-k over an [[ivfPqIndex]]. */
  def ivfPqTopK(index: DataFrame, ivf: Ivf.Codebook, pq: PqCodebook,
      query: Seq[Float], k: Int, nprobe: Int = 4): DataFrame = {
    val qd = query.iterator.map(_.toDouble).toArray
    val probes = ivf.nearest(qd, nprobe)
    val tables = pq.adcTables(qd)
    index
      .filter(col("cluster").isin(probes: _*))
      .select(col("id"),
        round(graft.functions.VectorExpressions.adc_distance(col("code"), tables), 6)
          .as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("id").asc)
      .limit(k)
  }

  /** Engine-portable PQ top-k — the oracle-checkable twin of this family,
    * completing the portable-twin set (MinHash q54, SimHash q22, hyperplane
    * q69, IVF q73). The native codebooks are k-means-trained floats; here
    * centroid components derive from md5 — component j of code c in
    * sub-space s is `(md5int("pq-s-c-j") mod 2001 − 1000) / 1000`, i.e. a
    * lattice point in [−1, 1] at 10⁻³ resolution — and EVERYTHING is exact
    * bigint arithmetic at the 10⁶ quantization scale: encode (per-sub-space
    * argmin of Σ(xq − cq)², ties to the lower code), the query's ADC tables,
    * and the final Σ-of-lookups score. No float appears anywhere, so the
    * oracle replays the entire index → encode → ADC → top-k pipeline
    * value-for-value; the native path (q40/q41) keeps its recall specs.
    *
    * Same scale shape as the native encode: the codebook is a 1024-row
    * broadcast, encoding is one partial-agg shuffle keyed (id, sub-space,
    * code) — at rest the m code ints per vector are the stored index.
    * Returns (vec_id, adc), the k smallest ADC scores among non-query
    * vectors, (adc asc, id asc)-ordered; `adc` is the exact bigint score at
    * quantization scale (10⁻¹² of squared L2 in original units). */
  def portablePqTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      queryId: Long = 0L,
      m: Int = 8,
      ks: Int = 16,
      k: Int = 10,
      dims: Int = 0
  ): DataFrame = {
    // family-wide dims rule: 0 derives from one sampled row, an explicit
    // width that disagrees raises (Stage.deriveDims)
    val dimsActual = Stage.deriveDims(
      df.select(org.apache.spark.sql.functions.col(vecCol).as("v")), "v", dims)
    require(dimsActual % m == 0,
      s"dim $dimsActual must divide into m=$m sub-spaces")
    val subDim = dimsActual / m
    val spark = df.sparkSession
    import spark.implicits._
    def md5hex(str: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(str.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      d.map(b => f"$b%02x").mkString
    }
    // cq at the same 10⁶ scale as xq: lattice value ∈ [−1000, 1000] × 10³
    val cbDf = (for { s <- 0 until m; c <- 0 until ks; j <- 1 to subDim } yield
        (s, c, s * subDim + j,
          (java.lang.Long.parseLong(md5hex(s"pq-$s-$c-$j").substring(0, 8), 16) % 2001
            - 1000) * 1000L))
      .toDF("sub", "code", "dim", "cq")
    val ve = Stage.ensureWide(df.select(col(idCol).as("id"), col(vecCol).as("v")))
      .select(col("id"), posexplode(col("v")))
      .select(col("id"), (col("pos") + 1).as("dim"),
        round(col("col").cast("double") * 1e6).cast("long").as("xq"))
    val dists = ve.join(broadcast(cbDf), "dim")
      .groupBy(col("id"), col("sub"), col("code"))
      .agg(sum((col("xq") - col("cq")) * (col("xq") - col("cq"))).as("d2"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id"), col("sub")).orderBy(col("d2").asc, col("code").asc)
    val codes = dists.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).select(col("id"), col("sub"), col("code"))
    val qdist = dists.filter(col("id") === queryId)
      .select(col("sub"), col("code"), col("d2").as("qd"))
    codes.filter(col("id") =!= queryId)
      .join(broadcast(qdist), Seq("sub", "code"))
      .groupBy(col("id")).agg(sum(col("qd")).as("adc"))
      .select(col("id").as("vec_id"), col("adc"))
      .orderBy(col("adc").asc, col("vec_id").asc)
      .limit(k)
  }
}
