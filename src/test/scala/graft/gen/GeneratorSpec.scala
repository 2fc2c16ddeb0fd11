package graft.gen

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.config.Schemas
import graft.model._

class GeneratorSpec extends SparkSpec {

  private val N = 20000L
  private lazy val narrow =
    Generator.generate(spark, Schemas.narrowOrders, 1, N, seed = 1, numPartitions = Some(4)).cache()

  test("schema matches the spec types") {
    val s = narrow.schema
    assert(s("id").dataType == LongType)
    assert(s("user_name").dataType == StringType)
    assert(s("amount").dataType == DoubleType)
    assert(s("created_at").dataType == TimestampType)
    assert(s("age").dataType == IntegerType)
    assert(s("tags").dataType == ArrayType(StringType, containsNull = false))
  }

  test("id column is a dense pass-through of the range") {
    val r = narrow.agg(min("id"), max("id"), countDistinct("id")).head()
    assert(r.getLong(0) == 1L && r.getLong(1) == N && r.getLong(2) == N)
  }

  test("int values respect [min,max] and null rate ~ p") {
    val r = narrow
      .agg(
        min("age"), max("age"),
        sum(when(col("age").isNull, 1).otherwise(0)).as("nulls"))
      .head()
    assert(r.getInt(0) >= 18 && r.getInt(1) <= 78)
    val nullRate = r.getLong(2).toDouble / N
    assert(nullRate > 0.02 && nullRate < 0.04, s"null rate $nullRate")
  }

  test("double values in range, 6-decimal rounded, null rate ~ 0.05") {
    val rows = narrow.select("amount").filter(col("amount").isNotNull).limit(1000).collect()
    rows.foreach { r =>
      val v = r.getDouble(0)
      assert(v >= 0 && v <= 10000)
      assert(math.abs(v * 1e6 - math.round(v * 1e6)) < 1e-3, s"not 6dp-rounded: $v")
    }
    val nulls = narrow.filter(col("amount").isNull).count().toDouble / N
    assert(nulls > 0.035 && nulls < 0.065, s"null rate $nulls")
  }

  test("strings have exact requested length and hex charset") {
    val bad = narrow
      .filter(col("note").isNotNull)
      .filter(length(col("note")) =!= 8 || col("note").rlike("[^0-9a-f]"))
      .count()
    assert(bad == 0L)
    assert(narrow.filter(length(col("user_name")) =!= 16).count() == 0L)
  }

  test("string lengths beyond 32 are fully generated (multi-block)") {
    val cfg = TableConfig("c", "s", "t", columns = Seq("s35" -> StringSpec(35)))
    val df = Generator.generate(spark, cfg, 1, 100, 1, Some(1))
    assert(df.filter(length(col("s35")) =!= 35).count() == 0L)
  }

  test("enum values come from the vocabulary; nullable enum has nulls") {
    val vocab = Set("new", "paid", "delivered", "canceled")
    val distinctStatus =
      narrow.select("status").distinct().collect().map(_.getString(0)).toSet
    assert(distinctStatus == vocab)
    val countryRate = narrow.filter(col("country").isNull).count().toDouble / N
    assert(countryRate > 0.01 && countryRate < 0.03, s"null rate $countryRate")
  }

  test("timestamps uniform in [start, end) at second granularity") {
    val r = narrow
      .agg(min("created_at").cast(LongType), max("created_at").cast(LongType))
      .head()
    val s = java.time.LocalDate.parse("2024-01-01").atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    val e = java.time.LocalDate.parse("2025-01-01").atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond
    assert(r.getLong(0) >= s && r.getLong(1) < e)
    // second granularity: no sub-second component
    assert(narrow.filter(date_format(col("created_at"), "SSS") =!= "000").count() == 0L)
  }

  test("array lengths within [minLen,maxLen], elements from vocabulary, null rate ~0.1") {
    val vocab = Set("alpha", "beta", "gamma", "delta")
    val withTags = narrow.filter(col("tags").isNotNull)
    assert(withTags.filter(size(col("tags")) < 1 || size(col("tags")) > 3).count() == 0L)
    val elems = withTags
      .select(explode(col("tags")).as("t")).distinct().collect().map(_.getString(0)).toSet
    assert(elems == vocab)
    val nullRate = narrow.filter(col("tags").isNull).count().toDouble / N
    assert(nullRate > 0.08 && nullRate < 0.12, s"null rate $nullRate")
  }

  test("generation is deterministic and partition-invariant") {
    val a = Generator.generate(spark, Schemas.narrowOrders, 1, 5000, 1, Some(1))
    val b = Generator.generate(spark, Schemas.narrowOrders, 1, 5000, 1, Some(7))
    assert(a.exceptAll(b).count() == 0L && b.exceptAll(a).count() == 0L)
    // different seed → different data
    val c = Generator.generate(spark, Schemas.narrowOrders, 1, 5000, 2, Some(1))
    assert(a.exceptAll(c).count() > 0L)
  }

  test("batched generation over id sub-ranges equals one-shot generation") {
    val whole = Generator.generate(spark, Schemas.narrowOrders, 1, 6000, 1, Some(2))
    val parts = Seq((1L, 2000L), (2001L, 2000L), (4001L, 2000L)).map { case (s, n) =>
      Generator.generate(spark, Schemas.narrowOrders, s, n, 1, Some(2))
    }.reduce(_ unionAll _)
    assert(whole.exceptAll(parts).count() == 0L && parts.exceptAll(whole).count() == 0L)
  }

  test("wide events schema: 90 columns, enum vocab parity, value sanity") {
    val df = Generator.generate(spark, Schemas.wideEvents, 1, 2000, 1, Some(2)).cache()
    assert(df.columns.length == 90)
    // row_28 vocabulary = first 5 len-1 Mulberry32(seed 1) strings
    val vocab = Rng.generateRandomStrings(5, 1).toSet
    val got = df.select("row_28").distinct().collect().map(_.getString(0)).toSet
    assert(got.subsetOf(vocab) && got.nonEmpty)
    assert(df.filter(length(col("row_32")) =!= 35).count() == 0L)
    val r9 = df.filter(col("row_9").isNotNull).agg(min("row_9"), max("row_9")).head()
    assert(r9.getInt(0) >= 1000 && r9.getInt(1) <= 10000)
    df.unpersist()
  }

  /** `rows:sum of row xxhash64s:md5 of the schema JSON` — changes if any
    * value, row, type or nullability does. */
  private def digest(df: DataFrame, cols: Seq[String]): String = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(cols.map(col): _*).cast(DecimalType(38, 0)))).head()
    val schema = java.security.MessageDigest.getInstance("MD5")
      .digest(df.select(cols.map(col): _*).schema.json.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(12)
    s"${r.getLong(0)}:${r.getDecimal(1)}:$schema"
  }

  /** Edge specs the shipped schemas do not reach. */
  private val edgeSpecs = TableConfig("c", "s", "edge", columns = Seq(
    "id" -> BigintSpec(1, 1),
    "a0" -> ArraySpec(IntSpec(0, 100), minLen = 0, maxLen = 3),
    "a00" -> ArraySpec(EnumSpec(EnumBase.Str, Seq("x", "y")), minLen = 0, maxLen = 0),
    "astr" -> ArraySpec(StringSpec(12, 0.2), minLen = 1, maxLen = 4, nullable = 0.1),
    "nstr" -> StringSpec(10, 0.3),
    "s70" -> StringSpec(70),
    "s0" -> StringSpec(0),
    "a64" -> ArraySpec(BigintSpec(-50, 50), minLen = 2, maxLen = 64),
    "astr40" -> ArraySpec(StringSpec(40), minLen = 0, maxLen = 2),
    "afix" -> ArraySpec(DateSpec("2024-01-01", "2024-12-31", 0.1), 3, 3),
    "adbl" -> ArraySpec(DoubleSpec(-1, 1, 0.5), minLen = 0, maxLen = 5, nullable = 0.2)
  ), idColumn = Some("id"))

  // Frozen digests, first taken from the `transform`/`md5` formulation of the
  // generator; generated values must never change silently (stored variants,
  // sampled-row checks and codec byte counts all depend on them).
  private val frozen = Map(
    "narrowOrders" -> "20000:-257037471540170346887:6e2b7fb8ad69",
    "wideEvents" -> "20000:-215946628954934868258:c6e291ea4c46",
    "a0" -> "5000:-30442752159788173532:4c765ce666af",
    "a00" -> "5000:31177879179951361327:fc9818443b1f",
    "astr" -> "5000:-171477638585971935288:cbf23df9c4ab",
    "nstr" -> "5000:323655694535010730257:4472bbc18dd5",
    "s70" -> "5000:385577499058398831446:ac8faacda25c",
    "s0" -> "5000:108933911812162308972:ea7692413ed5",
    "a64" -> "5000:-172779274539075109754:8d939046c121",
    "astr40" -> "5000:590077844887505492419:20b609713471",
    "afix" -> "5000:-787351814431436844309:578c9da7f146",
    "adbl" -> "5000:-50259060698946388986:6635a54054f6")

  test("generated values are frozen: shipped schemas and edge specs") {
    val got = Seq(Schemas.narrowOrders -> "narrowOrders", Schemas.wideEvents -> "wideEvents")
      .map { case (cfg, key) =>
        val df = Generator.generate(spark, cfg, 1, N, seed = 1, numPartitions = Some(4))
        key -> digest(df, df.columns.toSeq)
      } ++ {
        val df = Generator.generate(spark, edgeSpecs, 1, 5000, seed = 7, numPartitions = Some(3))
          .cache()
        try edgeSpecs.columns.map(_._1).filter(_ != "id").map(c => c -> digest(df, Seq("id", c)))
        finally df.unpersist()
      }
    val diff = got.filter { case (k, v) => !frozen.get(k).contains(v) }
    assert(diff.isEmpty, diff.map { case (k, v) => s""""$k" -> "$v"""" }.mkString("\n", ",\n", ""))
  }

  test("generator projection has no CodegenFallback expression for either shipped schema") {
    Seq(Schemas.narrowOrders, Schemas.wideEvents).foreach { cfg =>
      val plan = Generator.generate(spark, cfg, 1, 10, 1, Some(1)).queryExecution.optimizedPlan
      val fallbacks = plan.expressions.flatMap(_.collect { case e: CodegenFallback => e.prettyName })
      assert(fallbacks.isEmpty, s"${cfg.tableBase}: ${fallbacks.distinct.mkString(", ")}")
    }
  }
}
