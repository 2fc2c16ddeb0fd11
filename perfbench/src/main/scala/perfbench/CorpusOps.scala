package perfbench

import org.apache.spark.sql.DataFrame

import graft.SparkEntry
import graft.measure.Sizes
import graft.model.CodecSpec

/** Seventeen queries from `SparkEntry.queries` over the seeded corpus
  * fixtures, in seeded order, each forced through [[HashSink]] (the `noop`
  * sink plus a row digest): the reference's scan shapes (q02–q06, through
  * `graft.queries.Workload`) and twelve operator queries. Set-up fixes every
  * query's digest; every later op must reproduce it. */
final class CorpusOps(ctx: Ctx) extends Workload {
  import CorpusOps._

  private val sf = if (ctx.tiny) 0.001 else Sf
  private var dir: String = _
  private var expected: Map[String, String] = Map.empty
  private val tokens = new java.util.concurrent.atomic.AtomicLong

  def build(rep: Int): Unit = {
    val d = s"${ctx.work}/corpus/b$rep"
    Workload.deleteTree(d)
    CorpusFixtures.write(ctx.spark, d, sf, ctx.seed)
    val counts = CorpusFixtures.rowCounts(sf)
    Workload.parallel(CorpusFixtures.tables.map(t => () => {
      val s = Sizes.measure(ctx.spark, t, s"$d/$t.parquet", CodecSpec("snappy", 0))
      require(s.rows == counts(t), s"corpus fixture $t measured ${s.rows} rows, wrote ${counts(t)}")
    }), ctx.cpus)
    if (rep > 1) Workload.deleteTree(s"${ctx.work}/corpus/b${rep - 1}")
    dir = d
  }

  private def query(q: String): DataFrame = SparkEntry.queries(q)(ctx.spark, dir)

  /** Runs one cycle, on N client threads, whose digests become every later
    * op's expected result. */
  def warmup(): Unit =
    expected = Workload.parallel(cycle().map(op => () => op.label -> op.run().value), ctx.cpus)
      .toMap

  def cycle(): Seq[Op] = ctx.rng.shuffle(queries).map { q =>
    Op(q, () => {
      val token = s"$q-${tokens.incrementAndGet()}"
      val df = query(q)
      df.write.format(classOf[HashSink].getName).option("token", token).mode("overwrite").save()
      val digest = HashSink.take(token).getOrElse(sys.error(s"no digest committed for $token"))
      Outcome(digest.toString, Seq(df.queryExecution))
    }, o => if (o.value == expected(q)) None
      else Some(s"digest ${o.value}, set-up fixed ${expected(q)}"))
  }

  def cleanup(): Unit = Workload.deleteTree(s"${ctx.work}/corpus")
}

object CorpusOps {
  /** Fixture scale factor at full scale. */
  val Sf = 0.01

  val queries: Seq[String] = Seq("q02_count_eq", "q03_count_ts_range", "q04_count_like",
    "q05_count_composite", "q06_select_limit", "q01_pricing_summary", "q07_join_agg", "q10_window_topn",
    "q20_sessionize", "q15_dedup_exact", "q16_token_stats", "q18_langid", "q21_minhash_pairs",
    "q23_ngram_pairs", "q24_cosine_topk", "q36_tfidf", "q37_bm25")
}
