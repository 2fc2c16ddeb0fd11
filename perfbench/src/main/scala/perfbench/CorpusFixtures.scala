package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic stand-in for the engine's TPC-H-ish fixture directory
  * (`<dir>/<table>.parquet`, read through `graft.sources.TestTables`): the
  * tables and columns the corpus-ops queries read. Row counts, value domains
  * and distributions follow the parquet fixtures the query corpus was written
  * against, as measured on them (perfbench/README.md lists the figures).
  * Every value is a pure function of (seed, table, row id, column), so a
  * seed fixes the data exactly. `sf` scales row counts like the fixtures'
  * scale factor, with the fixtures' floor of 500 documents and vectors. */
object CorpusFixtures {

  val tables: Seq[String] =
    Seq("region", "nation", "customer", "orders", "lineitem", "events", "documents", "embeddings")

  /** The fixtures' 30-word vocabulary, drawn uniformly. */
  private val words = ("key agg row scan slow fast table value part hash merge batch spark a the " +
    "line sort window data column join small customer query order big stream filter group " +
    "vector").split(" ").toSeq

  def rowCounts(sf: Double): Map[String, Long] = {
    def n(base: Double) = math.max(1L, math.round(base * sf))
    Map("region" -> 5L, "nation" -> 25L, "customer" -> n(150000), "orders" -> n(1500000),
      "lineitem" -> n(6000000), "events" -> n(1000000), "documents" -> math.max(500L, n(50000)),
      "embeddings" -> math.max(500L, n(20000)))
  }

  /** Builds table `name` with `rows` rows from `seed`. */
  def table(spark: SparkSession, name: String, sf: Double, seed: Long): DataFrame = {
    val counts = rowCounts(sf)
    val rows = counts(name)
    val id = col("id")
    // uniform draw in [0, 1) keyed by (seed, table, column, row)
    def u(tag: String, key: Column = id): Column =
      pmod(xxhash64(lit(seed), lit(s"$name.$tag"), key), lit(1000000L)).cast("double") / 1e6
    def pick(tag: String, values: Seq[String]): Column =
      element_at(array(values.map(lit): _*), (floor(u(tag) * values.size) + 1).cast("int"))
    def below(tag: String, n: Long): Column = floor(u(tag) * n).cast("long")
    def day(from: String, tag: String, span: Int): Column =
      (unix_seconds(lit(from).cast("timestamp")) + below(tag, span) * 86400L).cast("timestamp")
    val parts = math.max(1, math.min(spark.sparkContext.defaultParallelism,
      (rows / 50000L).toInt + 1))
    val base = spark.range(0, rows, 1, parts)
    name match {
      case "region" =>
        base.select(id.cast("int").as("r_regionkey"),
          element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
            (id + 1).cast("int")).as("r_name"))
      case "nation" =>
        base.select(id.cast("int").as("n_nationkey"), concat(lit("NATION_"), id).as("n_name"),
          pmod(id, lit(5L)).cast("int").as("n_regionkey"))
      case "customer" =>
        base.select(id.as("c_custkey"), format_string("Customer#%09d", id).as("c_name"),
          below("nation", 25).cast("int").as("c_nationkey"),
          round(u("bal") * 10999.99 - 999.99, 2).as("c_acctbal"),
          pick("seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
            .as("c_mktsegment"))
      case "orders" =>
        base.select(id.as("o_orderkey"), below("cust", counts("customer")).as("o_custkey"),
          pick("status", Seq("O", "F", "P")).as("o_orderstatus"),
          round(u("price") * 499000.0 + 1000.0, 2).as("o_totalprice"),
          day("1995-01-01", "date", 2404).as("o_orderdate"),
          pick("prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
            .as("o_orderpriority"))
      case "lineitem" =>
        base.select(below("order", counts("orders")).as("l_orderkey"),
          below("part", math.max(1L, math.round(200000 * sf))).as("l_partkey"),
          below("supp", math.max(1L, math.round(10000 * sf))).as("l_suppkey"),
          (below("line", 7) + 1).cast("int").as("l_linenumber"),
          (below("qty", 50) + 1).cast("double").as("l_quantity"),
          round(u("price") * 100000.0 + 900.0, 2).as("l_extendedprice"),
          (below("disc", 11).cast("double") / 100.0).as("l_discount"),
          (below("tax", 9).cast("double") / 100.0).as("l_tax"),
          pick("flag", Seq("N", "A", "R")).as("l_returnflag"),
          pick("status", Seq("O", "F")).as("l_linestatus"),
          day("1995-01-02", "ship", 2498).as("l_shipdate"))
      case "events" =>
        // ~30 days of events in id order, jittered within each slot
        val slotUs = math.max(1L, 30L * 86400L * 1000000L / rows)
        base.select(id.as("event_id"),
          timestamp_micros(lit(1704067200000000L) + id * slotUs + below("jitter", slotUs))
            .as("ts"),
          below("user", math.max(1L, math.round(15000 * sf))).as("user_id"),
          pick("type", Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
          round(-log1p(-u("value")) * 50.0, 2).as("value"),
          concat(lit("{\"k\": "), below("k", 100), lit("}")).as("props"))
      case "documents" =>
        // 10–99 uniform words; 5% of the documents are near duplicates: the
        // words of another document plus the token "dup"
        val dup = u("dup") < 0.05
        val src = when(dup, below("src", rows)).otherwise(id)
        val len = (floor(u("len", src) * 90) + 10).cast("int")
        val text = array_join(transform(sequence(lit(1), len), i => {
          val w = pmod(xxhash64(lit(seed), lit("documents.w"), src, i), lit(words.size.toLong))
          element_at(array(words.map(lit): _*), (w + 1).cast("int"))
        }), " ")
        base.select(id.as("doc_id"), when(dup, concat(text, lit(" dup"))).otherwise(text).as("text"),
          pick("lang", Seq("en", "en", "en", "zh", "es", "de", "fr")).as("lang"),
          concat(lit("src"), pmod(id, lit(20L))).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" =>
        // 64 standard normal components (Box–Muller), scaled to unit length
        def open01(tag: String, i: Column) =
          (pmod(xxhash64(lit(seed), lit(tag), id, i), lit(1000000L)).cast("double") + 0.5) / 1e6
        val raw = transform(sequence(lit(0), lit(63)), i =>
          sqrt(log(open01("embeddings.r", i)) * -2.0) * cos(open01("embeddings.a", i) * 2 * math.Pi))
        val norm = sqrt(aggregate(raw, lit(0.0), (acc, x) => acc + x * x))
        base.select(id.as("vec_id"), transform(raw, x => (x / norm).cast("float")).as("embedding"),
          below("label", 10).cast("int").as("label"))
    }
  }

  /** Writes every table under `dir` as `<dir>/<table>.parquet`, the tables
    * as concurrent jobs (most are too small to fill the cores alone). */
  def write(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit =
    Workload.parallel(tables.map(t => () =>
      table(spark, t, sf, seed).write.mode("overwrite").option("compression", "snappy")
        .parquet(s"$dir/$t.parquet")), spark.sparkContext.defaultParallelism)
}
