package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec

class GenExpressionsSpec extends SparkSpec {

  /** The built-in composition [[GenExpressions.SeededHex]] fuses. */
  private def composed(seed: Long, id: Column, tag: String, idx: Seq[Column], length: Int) =
    substring(concat((0 until (length + 31) / 32).map { b =>
      md5(concat_ws("/", (lit(seed) +: id +: lit(s"$tag/s$b") +: idx): _*))
    }: _*), 1, length)

  test("seeded_hex equals the md5/concat_ws composition, compiled and interpreted") {
    val ids = spark.range(-500, 1500).select(
      when(col("id") % 97 === 0, lit(null)).otherwise(col("id")).as("id"),
      (col("id") % 5).cast("int").as("i"),
      when(col("id") % 3 === 0, lit(null)).otherwise(col("id") * -7919L).as("j"))
    val cases = Seq((1L, Nil, 8), (-42L, Seq("i"), 32), (7L, Seq("i", "j"), 70),
      (Long.MinValue, Seq("j"), 33), (3L, Seq("i"), 0))
    val cols = cases.zipWithIndex.flatMap { case ((seed, idx, len), k) =>
      val tag = s"c$k/é"
      Seq(GenExpressions.seeded_hex(seed, col("id"), tag, idx.map(col), len).as(s"f$k"),
        composed(seed, col("id"), tag, idx.map(col), len).as(s"r$k"))
    }
    def run() = ids.select(cols: _*).collect()
    val compiled = run()
    val interpreted = try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      run()
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(compiled.sameElements(interpreted))
    compiled.foreach { r =>
      cases.indices.foreach(k => assert(r.getString(2 * k) == r.getString(2 * k + 1)))
    }
    assert(compiled.map(_.getString(4)).forall(_.length == 70))
  }

  /** The grid for the rounding kernel: random magnitudes, exact and near
    * ties (k + 0.5)·10^-s at every scale, values past the fast path's
    * 4e15 bound, and the special values; each with its negation. */
  private def roundGrid(n: Int): Seq[Double] = {
    val rnd = new scala.util.Random(20261018L)
    val ties = (0 to 15).flatMap { s =>
      val p = math.pow(10, s)
      Seq.fill(n / 16) {
        val t = (rnd.nextInt(1000000).toDouble + 0.5) / p
        Seq(t, math.nextUp(t), math.nextDown(t), t + t * 1e-14, t - t * 1e-14)
      }.flatten
    }
    val random = Seq.fill(n) {
      rnd.nextDouble() * math.pow(10, rnd.nextInt(40) - 15)
    }
    val big = Seq(4e15, 3.999999999999e15, 4.5e15, 2e16, 1e300, Double.MaxValue)
      .flatMap(v => (0 to 16).map(s => v / math.pow(10, s)))
    val special = Seq(0.0, Double.MinPositiveValue, java.lang.Double.MIN_NORMAL,
      1e-7, 0.5, 1.5, 2.5, 0.0000005, 0.1234565, 9999.9999995,
      Double.NaN, Double.PositiveInfinity)
    val all = ties ++ random ++ big ++ special
    all ++ all.map(v => -v)
  }

  private val roundScales = (-1 to 16)

  test("round_half_up equals Spark's round(x, s) in raw bits, compiled and " +
      "interpreted, over ties, near ties, negatives, -0.0, NaN, ±∞ and |x|·10^s ≥ 4e15") {
    val values = roundGrid(4000)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(values.map(Tuple1(_)), 3))
      .toDF("x")
    val cols = roundScales.flatMap(s => Seq(
      GenExpressions.round_half_up(col("x"), s).as(s"k$s"), round(col("x"), s).as(s"r$s")))
    def run() = df.select(col("x") +: cols: _*).collect()
    val compiled = run()
    val interpreted = try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      run()
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    assert(compiled.length == values.length && interpreted.length == values.length)
    for (rows <- Seq(compiled, interpreted); r <- rows; k <- roundScales.indices) {
      val (got, want) = (r.getDouble(1 + 2 * k), r.getDouble(2 + 2 * k))
      assert(bits(got) == bits(want),
        s"round(${r.getDouble(0)}, ${roundScales(k)}): kernel $got, Spark $want")
    }
    // the kernel alone, on a larger grid plus arbitrary bit patterns
    // (subnormals, huge magnitudes), against the BigDecimal rounding
    // Spark's `round` performs
    val rnd = new scala.util.Random(7L)
    def reference(x: Double, s: Int): Double =
      if (x.isNaN || x.isInfinite) x
      else java.math.BigDecimal.valueOf(x)
        .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()
    val more = roundGrid(20000) ++
      Seq.fill(200000)(java.lang.Double.longBitsToDouble(rnd.nextLong())) ++
      Seq.fill(200000)(rnd.nextDouble() * 10000)
    for (x <- more; s <- roundScales) {
      val (got, want) = (GenExpressions.roundHalfUp(x, s), reference(x, s))
      assert(bits(got) == bits(want), s"roundHalfUp($x, $s): $got vs $want")
    }
  }
}
