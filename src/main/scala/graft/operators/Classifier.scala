package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** In-engine trained quality classifier — the role a fastText/logistic
  * model plays in web-corpus curation (CCNet-style: score every document
  * against a small labeled target, keep the confident slice). No ML
  * runtime: full-batch logistic regression IS a sequence of aggregates,
  * and Spark's aggregate is exactly the distributed primitive it needs.
  *
  * Each gradient-descent iteration is ONE map-side-combinable aggregate
  * over the feature frame — current weights travel into the scan as
  * literals (re-planned each iteration, so whole-stage codegen compiles
  * the sigmoid with constant weights), and (1 + nFeatures + 1) sums come
  * back to the driver. Driver state is the weight vector; iteration
  * count is a bounded constant. At corpus scale the skinny feature
  * projection (label + a few doubles) is persisted once, so K iterations
  * cost K scans of a few-GB cached column batch, not K scans of the
  * 100 TB text.
  *
  * Determinism: features are per-row closed-form expressions, so the only
  * cross-engine divergence in an ANSI replay is double-sum order inside
  * the gradient (~1e-12 relative per iteration) — far below the 6-decimal
  * rounding on emitted scores. That is what makes the trained model
  * DuckDB-oracle-checkable end to end (unrolled iteration CTEs).
  */
object Classifier {

  /** Fit logistic weights (bias +: one per feature) by `iters` full-batch
    * gradient steps at learning rate `lr`, from zero initialization.
    *
    * `df` must carry `labelCol` in {0,1}; features are arbitrary numeric
    * expressions over its columns. The feature projection is cached
    * [[Materialize.during]] the fit (K scans of the skinny frame) and
    * released before returning. */
  def logisticFit(
      df: DataFrame,
      labelCol: Column,
      featureCols: Seq[Column],
      iters: Int = 5,
      lr: Double = 1.0
  ): Array[Double] = {
    require(featureCols.nonEmpty, "logisticFit needs at least one feature")
    require(iters >= 1, "logisticFit needs at least one iteration")
    val cols = labelCol.cast("double").as("__y") +:
      featureCols.zipWithIndex.map { case (c, i) => c.cast("double").as(s"__f$i") }
    Materialize.during(df.select(cols: _*)) { feats =>
      var w = Array.fill(featureCols.size + 1)(0.0)
      for (_ <- 1 to iters) {
        val err = margin(w, featureCols.indices.map(i => col(s"__f$i"))) - col("__y")
        val aggs =
          (sum(err).as("g0") +:
            featureCols.indices.map(i => sum(err * col(s"__f$i")).as(s"g${i + 1}"))) :+
            count(lit(1)).as("n")
        val r = feats.agg(aggs.head, aggs.tail: _*).head()
        val n = r.getLong(w.length).toDouble
        // empty frame ⇒ every gradient component is 0/0 = NaN — fail
        // loudly instead of returning NaN weights that silently poison
        // downstream scores
        require(n > 0, "logisticFit: empty input frame (no rows to fit)")
        w = w.zipWithIndex.map { case (wj, j) => wj - lr * r.getDouble(j) / n }
      }
      w
    }
  }

  /** Predicted probability column for `weights` over `featureCols`. */
  def logisticScore(weights: Array[Double], featureCols: Seq[Column]): Column =
    margin(weights, featureCols)

  /** sigmoid(bias + w · x) with the weights inlined as literals. */
  private def margin(w: Array[Double], fs: Seq[Column]): Column = {
    val z = fs.zipWithIndex.foldLeft(lit(w(0))) { case (acc, (f, i)) =>
      acc + lit(w(i + 1)) * f
    }
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Hashed-DSIR importance weights (Xie et al. 2023 hash their n-gram
    * features for exactly this reason): per-BUCKET add-one-smoothed
    * target/background log-likelihood ratios over `buckets` hashed token
    * slots, collected to a driver array. Hashing bounds the model at
    * `buckets` doubles no matter how Zipf-unbounded the vocabulary is —
    * the property that lets the scorer broadcast to a stream as one
    * in-row expression ([[dsirScore]]) instead of a per-token join. One
    * aggregate pass over the exploded token stream (conditional sums per
    * bucket); the collect is `buckets` rows by construction. */
  def dsirBucketWeights(docs: DataFrame, textCol: Column, isTarget: Column,
      buckets: Int = 4096): Array[Double] = {
    require(buckets > 0, "need at least one bucket")
    val toks = docs.select(isTarget.cast("long").as("t"),
        explode(split(trim(lower(textCol)), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("t"), pmod(xxhash64(col("tok")), lit(buckets.toLong)).as("b"))
    val stats = toks.groupBy(col("b")).agg(
      count(lit(1)).as("bg"), sum(col("t")).as("tg"))
    val rows = stats.collect()
    val bgTot = rows.map(_.getLong(1)).sum.toDouble
    val tgTot = rows.map(_.getLong(2)).sum.toDouble
    val w = new Array[Double](buckets)
    rows.foreach { r =>
      val b = r.getLong(0).toInt
      w(b) = math.log((r.getLong(2) + 1.0) / (tgTot + buckets)) -
        math.log((r.getLong(1) + 1.0) / (bgTot + buckets))
    }
    // empty buckets: both counts 0 → the same smoothed ratio
    val empty = math.log(1.0 / (tgTot + buckets)) - math.log(1.0 / (bgTot + buckets))
    rows.map(_.getLong(0).toInt).toSet match {
      case seen => (0 until buckets).foreach(b => if (!seen(b)) w(b) = empty)
    }
    w
  }

  /** Per-document hashed-DSIR score as ONE in-row expression: the bucket
    * weights inline as an array literal and each token contributes
    * `weights[hash(tok) mod buckets]` through a single `aggregate` fold —
    * stateless, shuffle-free, streamable. */
  def dsirScore(textCol: Column, weights: Array[Double]): Column = {
    val w = typedLit(weights.toSeq)
    val toks = filter(split(trim(lower(textCol)), "\\s+"), t => t =!= "")
    round(aggregate(toks, lit(0.0), (acc, t) =>
      acc + element_at(w,
        (pmod(xxhash64(t), lit(weights.length.toLong)) + 1).cast("int"))), 6)
  }
}
