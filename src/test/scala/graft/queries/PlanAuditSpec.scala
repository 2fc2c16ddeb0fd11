package graft.queries

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.ddl.Catalog

/** Physical-plan audit: the properties that make these plans survive a 100×
  * scale-up, asserted on the actual executed plans.
  *
  *  - filters reach the parquet scan (`PushedFilters`) → row-group skipping;
  *  - projections prune the read schema → a 2-column query reads 2 columns;
  *  - dimension joins broadcast → no shuffle of the fact table;
  *  - top-k compiles to TakeOrderedAndProject → no global sort.
  */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.01"
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("predicate pushdown: scan workload filters appear in PushedFilters") {
    val q = graft.SparkEntry.queries("q02_count_eq")(spark, dir)
    val p = plan(q)
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]"),
      s"missing pushed filter in:\n$p")
  }

  test("column pruning: token stats reads only doc_id and text") {
    val q = graft.SparkEntry.queries("q16_token_stats")(spark, dir)
    val p = plan(q)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"unpruned read schema in:\n$p")
  }

  test("late materialization refetch pushes the id IN-list to the scan (q53)") {
    // phase 2 must reach parquet row-group stats as an In filter — that is
    // what makes the wide refetch cost ∝ hits instead of width × size
    val q = graft.SparkEntry.queries("q53_select_latemat")(spark, dir)
    val p = plan(q)
    assert(p.contains("PushedFilters: [In(event_id"),
      s"id refetch not pushed to the scan in:\n$p")
  }

  test("dimension joins broadcast (no fact-side shuffle for q07)") {
    val q = graft.SparkEntry.queries("q07_join_agg")(spark, dir)
    val p = plan(q)
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected sort-merge join in:\n$p")
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val q = graft.SparkEntry.queries("q13_topk")(spark, dir)
    val p = plan(q)
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator in:\n$p")
  }

  test("aggregation is two-phase (map-side partial combine) with pushed scan filter") {
    val q = graft.SparkEntry.queries("q01_pricing_summary")(spark, dir)
    val p = plan(q)
    assert(p.contains("partial_sum") || p.contains("partial_moneysum"),
      s"no map-side combine in:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"shipdate filter not pushed in:\n$p")
  }

  test("dedup self-join: signature computed once, codegen'd, checkpoint freed") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val q = graft.operators.Dedup.minhashLsh(docs, "doc_id", "text",
      numHashes = 64, bands = 16, threshold = 0.5)
    q.collect()
    val p = plan(q)
    // the broadcast plan references the signature pipeline from four
    // subtrees (band shuffle + band broadcast + two attach broadcasts);
    // the small-path checkpoint must collapse them to ONE signature
    // computation — the plan scans the checkpointed rows everywhere else
    assert("minhashshingles".r.findAllIn(p).size <= 1,
      s"signature pipeline recomputed in:\n$p")
    // the fused shingle+minhash projection runs inside whole-stage codegen
    // (in the checkpoint-feeding plan captured at construction)
    val cp = q.queryExecution.analyzed.collectLeaves().mkString("\n")
    assert(cp.contains("LogicalRDD") || p.contains("minhashshingles"),
      s"expected a checkpointed signature leaf in:\n$cp")
    // releasing the consumed output returns executor storage to baseline
    // at once — no blocks outlive their consumers, and no GC is awaited.
    // (The ContextCleaner may drop an older test's unreleased blocks
    // meanwhile, so the check is "no RDD beyond the baseline".)
    graft.operators.Materialize.release(q)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
    assert(leaked.isEmpty, s"operator leaked cached RDDs $leaked into executor storage")
  }

  test("edit-distance candidates: pair dedup is a sized window sort, not a " +
      "pair-keyed aggregate") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val q = graft.operators.Dedup.editDistancePairs(docs, "doc_id", "text",
      maxDist = 3, maxLen = 40, maxTrigramFreq = 1000, rarestK = 4)
    q.collect()
    val p = plan(q)
    // a distinct() here keeps one map-side hash entry per distinct pair
    // per JVM (measured 45.8 GB of spill at 500k hot-trigram titles);
    // the lag-dedup shape carries zero aggregate state
    assert(!"""HashAggregate\(keys=\[id_a""".r.findFirstIn(p).isDefined
        && !"""SortAggregate\(keys=\[id_a""".r.findFirstIn(p).isDefined,
      s"pair dedup reintroduced the pair-keyed aggregate:\n$p")
    assert(p.contains("Window"), s"lag-dedup window missing:\n$p")
  }

  test("every banded self-join reuses its exchange (simhash, embedding)") {
    // other suites cache these tables; a cache hit replaces the scan (and the
    // exchanges above it) with an InMemoryTableScan, hiding what this test
    // audits — drop session caches so the plans are the production shapes
    spark.catalog.clearCache()
    val sfDir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // plant duplicates so the result is non-empty — AQE otherwise collapses
    // an empty aggregate to EmptyRelation and hides the executed stages
    val dup = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 3)
      .select((org.apache.spark.sql.functions.col("vec_id") + 10000).as("vec_id"),
        org.apache.spark.sql.functions.col("embedding"),
        org.apache.spark.sql.functions.col("label"))
    val ops = Seq(
      "simhashPairs" -> graft.operators.Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 8),
      "embeddingNearDups" -> graft.operators.Dedup.embeddingNearDups(
        emb.unionByName(dup), "vec_id", "embedding", threshold = 0.99))
    ops.foreach { case (name, q) =>
      q.collect()
      val p = q.queryExecution.executedPlan.toString
      assert(p.contains("ReusedExchange"), s"$name lost exchange reuse:\n$p")
    }
  }

  test("window-dedup text ops: zero-state frequency gate, no window-stream join") {
    spark.catalog.clearCache()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val ops = Seq(
      "repeatedWindowStats" -> graft.operators.TextOps.repeatedWindowStats(
        docs, "doc_id", "text"),
      "dupSpanStats" -> graft.operators.TextOps.dupSpanStats(docs, "doc_id", "text"))
    ops.foreach { case (name, q) =>
      q.collect()
      val p = q.queryExecution.executedPlan.toString
      // the corpus-frequency gate is the sized-sort run-length stream
      // (O(minFreq) task state): no WindowExec anywhere — the earlier
      // count().over(partitionBy(w)) shape buffered each w-GROUP in
      // WindowExec's row array, and selection-biased hot strings turned
      // single groups into GBs; the run-length gate holds minFreq rows
      assert(!p.contains("Window"), s"$name plans a window:\n$p")
      // a partial_count keyed by the window STRING would be the hazard (one
      // hash entry per distinct window per JVM — measured 16.7 GB of
      // partial-aggregate spill at 500k docs); per-doc counts keyed by id
      // are fine — state is one entry per document
      assert(!"""keys=\[w#[^\]]*\], functions=\[partial_count""".r
          .findFirstIn(p).isDefined,
        s"$name reintroduced the window-keyed map-side frequency aggregate:\n$p")
      // the only joins left are skinny per-doc attaches keyed by id —
      // hash, never sort-merge (the RDD-backed sides carry pinned
      // max-size statistics, so an unhinted plan would SMJ and sort the
      // text-carrying side)
      assert(!p.contains("SortMergeJoin"), s"$name sort-merge joins:\n$p")
      // and the gate's exchange feeds an RDD-boundary scan, not an agg
      assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
        s"$name gate is not the streaming run-length shape:\n$p")
    }
  }

  test("winnow/mod-p selection runs native: no posexplode of the window stream") {
    // the dupSpanStats plan string truncates at the frequency gate's RDD
    // boundary, so the selection subplan is audited on the window-stream
    // frame itself (the probe surface)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val t = docs.selectExpr("doc_id as id", "text as s")
      .filter("length(s) >= 20")
    val ops = Seq(
      "winnow" -> graft.operators.TextOps.probeWinnowWindows(t, 20, 5),
      "mod-p" -> graft.operators.TextOps.probeModPWindows(t, 20, 5, 5))
    ops.foreach { case (name, q) =>
      q.collect()
      val p = q.queryExecution.executedPlan.toString
      // selection must be the native expression over the raw string — ONE
      // generator over the selected starts, not posexplode of all ~n
      // stride-1 window strings followed by a filter
      assert(!p.contains("posexplode"),
        s"$name materializes the full window stream:\n$p")
      assert(p.toLowerCase.contains("winnowstarts")
          || p.toLowerCase.contains("modpstarts"),
        s"$name native selection missing:\n$p")
    }
    // and the full operators stay free of sort-merge joins end to end
    Seq(
      graft.operators.TextOps.dupSpanStats(docs, "doc_id", "text",
        winLen = 20, minFreq = 2, winnowK = 5),
      graft.operators.TextOps.dupSpanStats(docs, "doc_id", "text",
        winLen = 20, stride = 5, minFreq = 2, modP = 5)
    ).foreach { q =>
      q.collect()
      val p = q.queryExecution.executedPlan.toString
      assert(!p.contains("SortMergeJoin"), s"span op sort-merge joins:\n$p")
    }
  }

  test("semantic dedup: in-row assignment, skinny pair join, no dim explode") {
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = graft.operators.Similarity.semanticDedup(vecs, "vec_id", "embedding",
      nLists = 8, tau = 0.45)
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    // assignment is a scalar expression — the plan must contain NO explode
    // of the embedding dims (the join formulation ships |V|·dims rows)
    assert(!p.toLowerCase.contains("posexplode"),
      s"semanticDedup explodes embedding dims:\n$p")
    // no global sort anywhere; the only wide ops are the cluster-keyed
    // pair join and the distinct over dropped ids
    assert(!p.contains("SortMergeJoin"), s"vector payloads sort-merge:\n$p")
  }

  test("mixture balance: rates broadcast back, fact side never shuffles on lang") {
    val q = graft.SparkEntry.queries("q85_mixture_balance")(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    // both the 5-row rates table and the 1-row min-ratio must broadcast;
    // the documents scan must not hash-exchange before the keep filter
    assert(p.contains("BroadcastHashJoin"), s"rates not broadcast:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("CartesianProduct")
        || p.contains("BroadcastExchange"),
      s"min-ratio stats not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact-side shuffle join:\n$p")
  }

  test("ngram jaccard: one corpus scan, no joins — posting lists carry the pairs") {
    spark.catalog.clearCache()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val q = graft.operators.Dedup.ngramJaccard(docs, "doc_id", "text", threshold = 0.3)
    q.collect()
    // AQE toString prints the Initial Plan below the Final one — audit only
    // the final (executed) section
    val p = q.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val scans = "FileScan".r.findAllIn(p).length
    assert(scans == 1, s"expected a single corpus scan, found $scans:\n$p")
    assert(!p.contains("Join"), s"pair generation must not need a join:\n$p")
    // the expensive shingle hashing must not be re-run in an inferred
    // generator filter below the exchange
    assert("Filter [^\\n]*shinglehashes".r.findFirstIn(p).isEmpty,
      s"shingle hashing recomputed inside a pushed filter:\n$p")
  }

  test("connected components returns a truncated lineage, not the iteration ladder") {
    import spark.implicits._
    val edges = (1L to 50L).map(i => (i, i + 1)).toDF("id_a", "id_b") // one long chain
    val labels = graft.operators.ConnectedComponents.components(edges, maxIter = 60)
    // each round localCheckpoints: the returned frame must be rooted at the
    // checkpointed RDD — a downstream consumer must NOT re-execute the
    // whole join ladder (lineage would double per round otherwise)
    val p = labels.queryExecution.optimizedPlan.toString
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD"),
      s"labels frame is not checkpoint-rooted:\n$p")
    assert(!p.contains("Join"), s"iteration ladder leaked into the result plan:\n$p")
    // and the chain actually collapsed to one component labeled by its min
    assert(labels.as[(Long, Long)].collect().forall(_._2 == 1L))
  }

  test("ensureWide is the identity for already-wide inputs, widens narrow ones") {
    import graft.operators.Stage
    val parallelism = spark.sparkContext.defaultParallelism
    val wide = spark.range(1000).toDF("id").repartition(parallelism + 2)
    assert(Stage.ensureWide(wide) eq wide,
      "ensureWide must not insert an exchange when the input is already wide")
    val narrow = spark.range(1000).toDF("id").coalesce(1)
    assert(Stage.ensureWide(narrow).rdd.getNumPartitions == parallelism)
  }

  test("cheap-first conjunct order: substring search evaluates after comparisons") {
    graft.plans.CheapFirstFilterOrder.install(spark)
    // written order in q05 is contains && ts-between && int< — the optimizer
    // must move the Contains to the end so the two long compares and the
    // double compare short-circuit ~95% of rows before the substring search
    val q = graft.SparkEntry.queries("q05_count_composite")(spark, dir)
    val cond = q.queryExecution.optimizedPlan.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.get.toString
    val containsAt = cond.indexOf("Contains")
    val valueAt = cond.indexOf("value")
    assert(containsAt >= 0 && valueAt >= 0 && containsAt > valueAt,
      s"Contains not reordered after cheap comparisons: $cond")
  }

  test("cheap-first ordering never promotes a throwing conjunct past its guard") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    import spark.implicits._
    graft.plans.CheapFirstFilterOrder.install(spark)
    assert(spark.conf.get("spark.sql.ansi.enabled").toBoolean,
      "Spark 4 runs ANSI by default; this test exercises the ANSI-throw guard")
    // the ADVICE r2 scenario: the regex guards the cast — cost-ordering
    // would promote the cheap cast conjunct and throw on the 'abc' row.
    // Parquet-backed so ConvertToLocalRelation can't fold the Filter away.
    val tmp = java.nio.file.Files.createTempDirectory("graft_ansi_guard").toString
    Seq("12", "abc", "7").toDF("s").write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
      .filter($"s".rlike("^[0-9]+$") && $"s".cast("int") < 80)
    val cond = df.queryExecution.optimizedPlan.collectFirst {
      case f: Filter => f.condition
    }.get.toString
    assert(cond.indexOf("RLIKE") >= 0 && cond.indexOf("cast") >= 0 &&
      cond.indexOf("RLIKE") < cond.indexOf("cast"),
      s"throwing cast was moved ahead of its regex guard: $cond")
    assert(df.count() == 2) // would throw CAST_INVALID_INPUT if reordered
  }

  test("cheap-first ordering treats a non-literal LIKE pattern as throwing") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    graft.plans.CheapFirstFilterOrder.install(spark)
    // a column-valued LIKE pattern is compiled per row; a malformed pattern
    // (dangling escape) throws regardless of ANSI mode, so the rule must
    // leave the conjunct order exactly as written (same policy as RLIKE)
    val df = spark.range(10)
      .select(col("id").cast("string").as("s"),
        concat(lit("%"), col("id").cast("string")).as("p"), col("id").as("n"))
      .filter(expr("s LIKE p") && col("n") < 5)
    val cond = df.queryExecution.optimizedPlan.collectFirst {
      case f: Filter => f.condition
    }.get.toString
    assert(cond.indexOf("LIKE") >= 0 && cond.indexOf(" < ") >= 0 &&
      cond.indexOf("LIKE") < cond.indexOf(" < "),
      s"non-foldable LIKE was reordered past the comparison: $cond")
  }

  test("cheap-first ordering skips non-deterministic filters and is idempotent") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    graft.plans.CheapFirstFilterOrder.install(spark)
    // rand() conjunct: reordering would change which rows see which draw —
    // the rule must leave the condition exactly as written
    val nd = spark.range(100).toDF("id")
      .filter(concat(col("id").cast("string"), lit("x")).contains("1x") && rand(7) > 0.5)
    val ndCond = nd.queryExecution.optimizedPlan.collectFirst {
      case f: Filter => f.condition
    }.get.toString
    assert(ndCond.indexOf("Contains") < ndCond.indexOf("rand"),
      s"non-deterministic filter was reordered: $ndCond")
    // idempotency: a second application of the rule is a no-op
    val once = graft.plans.CheapFirstFilterOrder(
      spark.range(100).toDF("id")
        .filter(col("id").cast("string").contains("1") && col("id") > 5)
        .queryExecution.optimizedPlan)
    assert(graft.plans.CheapFirstFilterOrder(once) == once)
  }

  test("scalable ntile: range-partitioned, no window, no single-partition sort") {
    import org.apache.spark.sql.functions._
    val c = graft.sources.TestTables.customer(spark, dir)
    val tiled = graft.operators.Rank.exactNtile(c,
      Seq(col("c_acctbal").desc, col("c_custkey").asc), 10, tileCol = "decile")
    val p = plan(tiled)
    assert(!p.contains("Window"), s"scalable ntile must not plan a window:\n$p")
    // the q52 formulation, by contrast, plans a Window over a global order —
    // the single-task shape q56 exists to avoid
    val windowed = c.select(ntile(10).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("c_acctbal"))).as("d"))
    assert(plan(windowed).contains("Window"))
  }

  test("funnel (q98): expressed as joins + aggregates, no per-user sort window") {
    val q = graft.SparkEntry.queries("q98_funnel")(spark, dir)
    val p = plan(q)
    assert(!p.contains("Window"), s"funnel must not plan a window:\n$p")
  }

  test("grouped quality filter (q88): window-free rank, broadcast totals") {
    // Window.partitionBy(lang) would put each language on ONE task; the
    // grouped range-rank must not plan a Window, and the per-language
    // totals must ride a broadcast join (5 rows), not a shuffle
    val q = graft.SparkEntry.queries("q88_quality_topp")(spark, dir)
    val p = plan(q)
    assert(!p.contains("Window"), s"q88 must not plan a window:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"per-lang totals should broadcast:\n$p")
  }

  test("source cap (q103): window-free grouped rank, cap holds per source") {
    // Window.partitionBy(source) would put each web domain on ONE task —
    // domains are the canonical million-fold-skew key — so the cap must
    // plan through the range-rank, not a Window
    val q = graft.SparkEntry.queries("q103_source_cap")(spark, dir)
    assert(!plan(q).contains("Window"), s"q103 must not plan a window:\n${plan(q)}")
    val perSource = q.groupBy("source").count().collect()
    assert(perSource.nonEmpty && perSource.forall(_.getLong(1) <= 8L))
  }

  test("source token budget (q106): window-free grouped prefix sum, cutoff holds") {
    // a sum().over(Window.partitionBy(source)) would collapse each domain
    // onto one task; the grouped range-sum must plan no Window, and every
    // kept row must sit inside its source's budget
    val q = graft.SparkEntry.queries("q106_source_token_budget")(spark, dir)
    assert(!plan(q).contains("Window"), s"q106 must not plan a window:\n${plan(q)}")
    val rows = q.collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(4) <= 1500L))
  }

  test("dsir weights (q104): English target scores English docs higher") {
    // target LM = the English slice, so English documents must carry a
    // higher mean importance weight than every other language's slice —
    // the signal the resampling step selects on
    val q = graft.SparkEntry.queries("q104_dsir_weights")(spark, dir).cache()
    try {
      val byLang = q.groupBy("lang")
        .agg(org.apache.spark.sql.functions.avg("dsir_weight").as("w"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(byLang("en") > 0.0, s"en mean weight should be positive: $byLang")
      byLang.filterNot(_._1 == "en").foreach { case (l, w) =>
        assert(w < byLang("en"), s"$l mean weight $w !< en ${byLang("en")}")
      }
    } finally q.unpersist(blocking = false)
  }

  test("split leakage (q105): splits computed inline, only minhash joins plan") {
    // split membership is a pure function of the pair ids — the plan must
    // contain exactly the portable-minhash pipeline's joins (band-bucket
    // self-join + two signature attaches), with no extra join against a
    // split-assignment table
    val pairs = graft.SparkEntry.queries("q54_minhash_portable")(spark, dir)
    val leak = graft.SparkEntry.queries("q105_split_leakage")(spark, dir)
    def joins(df: DataFrame): Int =
      "Join".r.findAllIn(plan(df)).length
    assert(joins(leak) == joins(pairs),
      s"q105 must add zero joins over q54: ${joins(leak)} vs ${joins(pairs)}")
    val rows = leak.collect()
    assert(rows.forall(r => r.getString(2) != r.getString(3)))
  }

  test("q36/q37: df and dl are scan-local — no full-corpus (doc_id, term) exchange") {
    // r15 shape: document frequency comes from explode(array_distinct(tokens))
    // (each doc emits each term once → one term-keyed exchange of partial
    // counts), and q37's per-doc length is size(tokens) (no aggregate at
    // all). The former shapes shuffled the full distinct (doc_id, term)
    // stream (q36) and ran a second full tf rollup for dl (q37) — so the
    // Generate (explode) count is the regression canary: q36 = 2 (filtered
    // tf branch + df branch), q37 = 2 (same; dl and corpus stats explode
    // nothing).
    def generates(q: String): Int =
      "Generate explode".r.findAllIn(plan(graft.SparkEntry.queries(q)(spark, dir))).length
    assert(generates("q36_tfidf") <= 2,
      s"q36 re-grew an explode branch: ${generates("q36_tfidf")} Generates")
    assert(generates("q37_bm25") <= 2,
      s"q37 re-grew an explode branch: ${generates("q37_bm25")} Generates")
    // and the scan-local df really is per-doc distinct before the explode
    val p36 = plan(graft.SparkEntry.queries("q36_tfidf")(spark, dir))
    assert(p36.contains("array_distinct"), s"q36 df lost array_distinct:\n$p36")
  }

  test("q18: tokenize sits above the width exchange (wide-born small path)") {
    // the exchange must carry raw (id, text); the split/marker pipeline runs
    // at session parallelism above it. Parents print before children in
    // SparkPlan.toString, so "above the exchange" = appears earlier.
    val p = plan(graft.SparkEntry.queries("q18_langid")(spark, dir))
    val ex = p.indexOf("Exchange RoundRobinPartitioning")
    val split = p.indexOf("split(")
    assert(ex >= 0, s"q18 lost its width exchange:\n$p")
    assert(split >= 0 && split < ex,
      s"q18 tokenizes below the width exchange (split at $split, exchange at $ex):\n$p")
  }

  test("catalog introspection surface") {
    Catalog.registerTestTables(spark, dir)
    val tables = Catalog.showTables(spark).collect().map(_.getString(1)).toSet
    assert(Catalog.TestTableNames.toSet.subsetOf(tables))
    val desc = Catalog.describeTable(spark, "lineitem").collect().map(_.getString(0)).toSet
    assert(desc.contains("l_orderkey") && desc.contains("l_shipdate"))
    assert(Catalog.showCreateTable(spark, "orders").contains("o_totalprice DOUBLE"))
    assert(Catalog.engineVersion(spark).startsWith("4."))
  }
}
