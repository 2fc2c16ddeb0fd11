package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.HashExpressions

/** Benchmark decontamination — flag training documents that share word
  * n-grams with an evaluation/benchmark set, the standard leakage check
  * before a training run (n-gram overlap à la GPT-3 appendix C / PaLM).
  *
  * Shape at 100 TB: both sides reduce to (doc, shingle-hash) streams via the
  * native [[HashExpressions.ShingleHashes]] pass (distinct 64-bit hashes, no
  * shingle strings in the plan), then one equi-join on the hash. The eval
  * side is a benchmark — thousands of documents, not billions — so AQE
  * broadcasts it when it fits and shuffle-joins otherwise; no explicit
  * broadcast hint for the same reason TF-IDF carries none (an unbounded
  * broadcast is a driver OOM at corpus scale). The train side never
  * shuffles its text: only (id, hash) pairs move.
  */
object Contamination {

  /** Training docs sharing at least `minShared` distinct `shingleLen`-gram
    * shingles with any eval doc. Output per flagged training doc:
    * `(train_id, n_shared, n_eval_docs)` — distinct overlapping shingles and
    * distinct eval documents hit. */
  private def stream(df: DataFrame, idCol: String, textCol: String,
      idAs: String, shingleLen: Int) =
    // tokenize + shingle ABOVE the width exchange (the r15 wide-born rule,
    // as in Dedup.tokenFrame): a narrow input repartitions the RAW
    // (id, text) rows, so the hashing runs at session parallelism instead
    // of inside the lone file split and the exchange carries compact text,
    // not the fatter token arrays.
    Stage.ensureWide(df.select(col(idCol).as(idAs), col(textCol).as("__t")))
      .select(col(idAs), explode_outer(HashExpressions.shingle_hashes(
        split(trim(lower(col("__t"))), "\\s+"), shingleLen)).as("sh_h"))
      .filter(col("sh_h").isNotNull)

  def overlap(
      train: DataFrame,
      trainIdCol: String,
      trainTextCol: String,
      eval0: DataFrame,
      evalIdCol: String,
      evalTextCol: String,
      shingleLen: Int = 3,
      minShared: Int = 1
  ): DataFrame = {
    val t = stream(train, trainIdCol, trainTextCol, "train_id", shingleLen)
    val e = stream(eval0, evalIdCol, evalTextCol, "eval_id", shingleLen)
    t.join(e, "sh_h")
      .groupBy(col("train_id"))
      .agg(countDistinct(col("sh_h")).as("n_shared"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .filter(col("n_shared") >= minShared)
  }

  /** [[overlap]] with a Bloom prefilter on the training side — the
    * production shape when the eval set is too large to broadcast as an
    * exact hash set but its Bloom summary still fits everywhere.
    *
    * A Bloom filter over the eval side's distinct shingle hashes (built
    * distributed via `stat.bloomFilter`, sized from an exact distinct
    * count — one driver action, bounded by the EVAL set) is inlined as a
    * literal into a [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
    * predicate — the same expression Spark's own runtime row-group
    * filtering injects — evaluated scan-side on the train stream. The
    * overwhelming majority of a 100 TB corpus shares nothing with a
    * benchmark, so its (id, hash) rows die BEFORE the exchange instead of
    * shuffling to a join that discards them; the exact equi-join still
    * runs on the survivors, so Bloom false positives are eliminated and
    * the output is bit-identical to [[overlap]] (same oracle). `fpp` only
    * tunes how much dead traffic survives to the join. */
  def overlapBloom(
      train: DataFrame,
      trainIdCol: String,
      trainTextCol: String,
      eval0: DataFrame,
      evalIdCol: String,
      evalTextCol: String,
      shingleLen: Int = 3,
      minShared: Int = 1,
      fpp: Double = 0.01
  ): DataFrame = {
    val t = stream(train, trainIdCol, trainTextCol, "train_id", shingleLen)
    // The eval shingle stream is read three times (distinct count to size
    // the filter, the bloom build, the final exact join) — cache it across
    // the two driver-side actions so the prefilter doesn't triple the eval
    // scan cost it exists to amortize, and release the cache once the bloom
    // bytes are in hand (the lazy join then re-derives the stream once).
    val e = stream(eval0, evalIdCol, evalTextCol, "eval_id", shingleLen)
    val bloom = Materialize.during(e) { cached =>
      val eHashes = cached.select(col("sh_h")).distinct()
      val nItems = math.max(eHashes.count(), 1L)
      eHashes.stat.bloomFilter("sh_h", nItems, fpp)
    }
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val pre = t.filter(org.apache.spark.sql.GraftBridge.toColumn(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          bos.toByteArray,
          org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.GraftBridge.toExpression(col("sh_h")))))
    pre.join(e, "sh_h")
      .groupBy(col("train_id"))
      .agg(countDistinct(col("sh_h")).as("n_shared"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .filter(col("n_shared") >= minShared)
  }
}
