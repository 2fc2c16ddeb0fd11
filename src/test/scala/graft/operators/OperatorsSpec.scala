package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "sf0.001"
  private lazy val docs = sf(dir, "documents").cache()

  test("TextOps: token count, fingerprint, langid on known inputs") {
    val df = Seq(
      (1L, "the cat and the dog"),
      (2L, "  le chat   est une  idée  "),
      (3L, "xyzzy plugh"),
      (4L, "THE  Cat And  THE Dog  ")
    ).toDF("id", "text")
    val prof = df.select($"id",
      TextOps.tokenCount($"text").as("n"),
      TextOps.langId($"text").as("lang"),
      TextOps.fingerprint($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getString(2), r.getString(3)))).toMap
    assert(prof(1L)._1 == 5 && prof(1L)._2 == "en")
    assert(prof(2L)._1 == 5 && prof(2L)._2 == "fr")
    assert(prof(3L)._2 == "und")
    // normalization: case + whitespace collapse → same fingerprint
    assert(prof(1L)._3 == prof(4L)._3)
  }

  test("exact dedup keeps lowest id and counts copies") {
    val df = Seq((5L, "aa"), (2L, "aa"), (9L, "bb")).toDF("id", "t")
    val out = Dedup.exact(df, "id", Seq("t")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out("aa") == ((2L, 2L)) && out("bb") == ((9L, 1L)))
  }

  /** Output columns of each shuffle exchange that sits directly on a scan
    * (no exchange or query stage below it) in the executed plan. */
  private def firstExchangeColumns(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanHelper, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
    df.collect()
    val h = new AdaptiveSparkPlanHelper {}
    h.collect(df.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec if h.find(e.child) {
        case _: Exchange | _: QueryStageExec | _: ReusedExchangeExec => true
        case _ => false
      }.isEmpty => e.output.map(_.name)
    }
  }

  test("exactCounts slim path matches the classic plan (dups, nulls, singletons)") {
    // a file-backed frame with exact dups, a null key, and unique rows —
    // written to parquet so stats are known and the size gate can fire
    val tmp = java.nio.file.Files.createTempDirectory("exactslim").toString
    Seq((5L, "aa"), (2L, "aa"), (9L, "bb"), (11L, null), (3L, null),
        (7L, "cc"), (1L, "aa"))
      .toDF("id", "t").write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp)
    def canon(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val classic = canon(
      Dedup.exact(df, "id", Seq("t")).select($"keep_id", $"n_copies").collect())
    // force the slim path regardless of file size
    spark.conf.set("spark.graft.exactSlim.minBytes", "0")
    try {
      val slim = Dedup.exactCounts(df, "id", Seq("t"))
      assert(canon(slim.collect()) == classic,
        "slim exactCounts diverged from the classic plan")
      assert(classic == Seq((1L, 3L), (3L, 2L), (7L, 1L), (9L, 1L)))
      // the slim plan's first exchange must not carry the key column; the
      // classic plan's does, so the check can tell the two shapes apart
      val slimFirst = firstExchangeColumns(slim)
      assert(slimFirst.nonEmpty && slimFirst.forall(!_.contains("t")),
        s"slim plan's first exchange carries the key: $slimFirst")
      assert(firstExchangeColumns(Dedup.exact(df, "id", Seq("t"))).exists(_.contains("t")))
      // and the broadcast-cap fallback is still the classic result
      spark.conf.set("spark.graft.exactSlim.maxBroadcastKeys", "0")
      assert(canon(Dedup.exactCounts(df, "id", Seq("t")).collect()) == classic,
        "maxBroadcastKeys fallback diverged")
    } finally {
      spark.conf.unset("spark.graft.exactSlim.minBytes")
      spark.conf.unset("spark.graft.exactSlim.maxBroadcastKeys")
    }
  }

  /** Brute-force exact shingle-set Jaccard over all doc pairs (testdata is
    * small enough) — ground truth for MinHash/ngram operators. */
  private lazy val bruteJaccard: Map[(Long, Long), Double] = {
    val sh = docs.select($"doc_id", Dedup.shingles($"text").as("sh"))
      .as[(Long, Seq[String])].collect().map { case (id, s) => id -> s.toSet }
    (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b
      j = (sa & sb).size.toDouble / (sa | sb).size
      if j > 0.05
    } yield (a, b) -> j).toMap
  }

  test("ngramJaccard (postings formulation) matches brute-force exact Jaccard") {
    val expected = bruteJaccard.filter(_._2 >= 0.3)
    Seq[(String, org.apache.spark.sql.DataFrame)](
      "postings" -> Dedup.ngramJaccard(docs, "doc_id", "text", threshold = 0.3)
    ).foreach { case (name, q) =>
      val got = q.as[(Long, Long, Double)].collect()
        .map { case (a, b, j) => (a, b) -> j }.toMap
      assert(got.keySet == expected.keySet,
        s"$name: missing=${expected.keySet -- got.keySet} extra=${got.keySet -- expected.keySet}")
      got.foreach { case (k, j) => assert(math.abs(j - expected(k)) < 1e-4, s"$name $k") }
    }
  }

  test("minhashLsh finds all high-Jaccard pairs with accurate estimates") {
    val got = Dedup.minhashLsh(docs, "doc_id", "text", numHashes = 64, bands = 16,
        threshold = 0.5)
      .as[(Long, Long, Double)].collect().map { case (a, b, j) => (a, b) -> j }.toMap
    val mustFind = bruteJaccard.filter(_._2 >= 0.8).keySet
    assert(mustFind.subsetOf(got.keySet),
      s"missed high-sim pairs: ${mustFind -- got.keySet}")
    // signature estimate within ±0.25 of truth for found pairs that exist in truth
    got.foreach { case (k, est) =>
      bruteJaccard.get(k).foreach(truth => assert(math.abs(est - truth) < 0.25,
        s"pair $k est $est truth $truth"))
    }
  }

  test("editDistancePairs: blocked Levenshtein matches brute force on known strings") {
    val rows = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fux"),   // dist 1 from #1
      (3L, "the quick crown fox"),   // dist 1 from #1, 2 from #2
      (4L, "a completely different sentence"),
      (5L, "the quick brown fox"),   // exact dup of #1
      (6L, "xy")                     // too short for a trigram — excluded
    ).toDF("doc_id", "text")
    val got = Dedup.editDistancePairs(rows, "doc_id", "text", maxDist = 2)
      .as[(Long, Long, Long)].collect().map { case (a, b, d) => (a, b) -> d }.toMap
    // brute force over the same normalized prefixes
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val texts = Seq(1L -> "the quick brown fox", 2L -> "the quick brown fux",
      3L -> "the quick crown fox", 4L -> "a completely different sentence",
      5L -> "the quick brown fox")
    val expected = (for {
      (a, ta) <- texts; (b, tb) <- texts if a < b
      d = lev(ta, tb) if d <= 2
    } yield (a, b) -> d.toLong).toMap
    assert(got == expected, s"got=$got expected=$expected")
    assert(!got.keySet.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("editDistancePairs: df gate bounds candidate volume under a hot trigram") {
    // 20 docs share a stock prefix (every prefix trigram df = 20) but end in
    // pairwise-distant tails — the planted quadratic hazard: they block
    // C(20,2) = 190 candidate pairs through the hot trigrams alone, and none
    // survives Levenshtein verification. One genuine near-dup pair (101, 102)
    // shares only rare (df = 2) trigrams.
    val hot = (0 until 20).map { i =>
      (i.toLong, "send help now " + ("abcdefghijklmnopqrst" (i).toString * 6))
    }
    val rare = Seq((101L, "unique zebra waltz one"), (102L, "unique zebra waltz two"))
    val rows = (hot ++ rare).toDF("doc_id", "text")
    val t = rows.select(col("doc_id").as("id"),
      substring(trim(lower(col("text"))), 1, 40).as("s"))
    val uncapped = Dedup.editDistanceCandidates(t, Int.MaxValue).count()
    val capped = Dedup.editDistanceCandidates(t, 5).count()
    assert(uncapped == 191L, s"uncapped candidates: $uncapped") // 190 hot + 1 rare
    assert(capped == 1L, s"capped candidates: $capped")         // the rare pair only
    // and the gate costs no recall here: verified output matches brute force
    val got = Dedup.editDistancePairs(rows, "doc_id", "text",
        maxDist = 3, maxTrigramFreq = 5)
      .as[(Long, Long, Long)].collect().map { case (a, b, d) => (a, b) -> d }.toMap
    assert(got == Map((101L, 102L) -> 3L), s"got=$got")
  }

  test("editDistancePairs rarest-k: verified pairs preserved, candidates cut") {
    // 12 near-dup pairs whose shared bodies are unique per group (their
    // trigrams have df = 2 → both members' rarest-k sets coincide), the
    // differing tail char's trigrams have df = 1 (gated out either way);
    // 20 filler strings share a stock prefix whose mid-frequency trigrams
    // are exactly the mass the df gate alone lets through.
    val words = Seq("apple", "banana", "cherry", "damson", "elderb", "figfig",
      "grapes", "honeyd", "icaco", "jambul", "kiwana", "lemons")
    val groups = words.zipWithIndex.flatMap { case (w, gi) =>
      val body = s"$w stable suffix $w"
      Seq((100L + 2 * gi, body + " x"), (101L + 2 * gi, body + " y"))
    }
    val fillers = (0 until 20).map(i => (i.toLong, s"common stock header line $i$i$i"))
    val rows = (groups ++ fillers).toDF("doc_id", "text")
    val expected = words.indices.map(gi => (100L + 2 * gi, 101L + 2 * gi) -> 1L).toMap

    def pairs(rarestK: Int) = Dedup.editDistancePairs(rows, "doc_id", "text",
        maxDist = 2, rarestK = rarestK)
      .as[(Long, Long, Long)].collect().map { case (a, b, d) => (a, b) -> d }.toMap
    assert(pairs(0) == expected, s"df-gate-only pairs: ${pairs(0)}")
    assert(pairs(4) == expected, s"rarest-4 pairs: ${pairs(4)}")

    val t = rows.select(col("doc_id").as("id"),
      substring(trim(lower(col("text"))), 1, 40).as("s"))
    val candAll = Dedup.editDistanceCandidates(t, 1000).count()
    val candRk = Dedup.editDistanceCandidates(t, 1000, rarestK = 4).count()
    assert(candRk < candAll,
      s"rarest-k must cut candidate volume: $candRk vs $candAll")
    assert(candRk >= 12L, "every planted pair must still be a candidate")
  }

  test("editdist saturation: tiny-alphabet corpora are diagnosed, the build " +
      "pricing re-prices from full volume, and the pair budget fails fast typed") {
    // 400 strings over a 3-letter alphabet: 27 possible trigrams vs ~7,200
    // windows → meanDf ≫ 1.5, the df ≥ 2 gate passes everything (the r12
    // 50M regime in miniature). A 26-letter corpus of the same shape stays
    // sparse.
    def corpus(alpha: String) = (0 until 400).map { i =>
      val rng = new scala.util.Random(i)
      (i.toLong, (0 until 20).map(_ => alpha(rng.nextInt(alpha.length))).mkString)
    }.toDF("doc_id", "text")
    def t(d: org.apache.spark.sql.DataFrame) = d.select(col("doc_id").as("id"),
      substring(trim(lower(col("text"))), 1, 40).as("s"))
    val saturatedT = t(corpus("abc"))
    val sparseT = t(corpus("abcdefghijklmnopqrstuvwxyz"))
    val satDiag = Dedup.gramSaturation(saturatedT, 3, 400L * 18)
    val sparseDiag = Dedup.gramSaturation(sparseT, 3, 400L * 18)
    assert(satDiag.saturated && satDiag.alphabet == 3 && satDiag.gramSpace == 27.0,
      s"saturation missed: $satDiag")
    assert(!sparseDiag.saturated, s"false saturation: $sparseDiag")
    // the re-priced build count: saturation prices the UNSPILLABLE gate
    // build from the full window volume, not the sparse-regime half
    val vol = 2L * 1000 * 1000 * 1000
    val sat = Dedup.priceGramParts(vol, saturated = true, floor = 32,
      maxParts = 65536L)
    val sparse = Dedup.priceGramParts(vol, saturated = false, floor = 32,
      maxParts = 65536L)
    assert(sat >= 2 * sparse - 1 && sat > sparse,
      s"saturated pricing must double the build count once the build term " +
        s"dominates (mod integer division): $sat vs $sparse")
    // the typed budget gate: volume is exact and checked BEFORE the pair
    // join, so a declared budget yields arithmetic, not an executor OOM
    spark.conf.set("spark.graft.editdist.maxCandidatePairs", "10")
    try {
      val e = intercept[SaturationBudgetExceeded] {
        Dedup.editDistancePairs(corpus("abc"), "doc_id", "text", maxDist = 2)
          .count()
      }
      assert(e.candidatePairs > 10 && e.budgetPairs == 10 && e.meanDf >= 1.5,
        s"budget arithmetic wrong: $e")
      assert(e.getMessage.contains("SATURATED"), e.getMessage)
      // the accounting sibling is the documented route PAST the wall: no
      // pair list, so the budget does not apply and counts stay exact
      val stats = Dedup.editDistanceStats(corpus("abc"), "doc_id", "text",
        maxDist = 2)
      assert(stats.agg(coalesce(sum(col("dup_pairs")), lit(0L)))
        .head().getLong(0) >= 0)
    } finally spark.conf.unset("spark.graft.editdist.maxCandidatePairs")
  }

  test("editDistanceStats: inline-verify accounting ties to the materialized pairs") {
    // accounting must equal groupBy over the pair list — per-doc degree AND
    // min dist — on a corpus with multi-gram pair overlap (near-dups share
    // nearly all grams, the row-local min-shared-gram dedup's hard case),
    // in both rarest-k and df-gate-only modes, on real document text
    val rows = docs.select($"doc_id", $"text")
    for (rk <- Seq(0, 4)) {
      val pairs = Dedup.editDistancePairs(rows, "doc_id", "text",
          maxDist = 3, maxLen = 40, maxTrigramFreq = 1000, rarestK = rk)
        .as[(Long, Long, Long)].collect()
      val expected = pairs.flatMap(p => Seq(p._1 -> p._3, p._2 -> p._3))
        .groupBy(_._1)
        .map { case (id, ds) => id -> ((ds.length.toLong, ds.map(_._2).min)) }
      val got = Dedup.editDistanceStats(rows, "doc_id", "text",
          maxDist = 3, maxLen = 40, maxTrigramFreq = 1000, rarestK = rk)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == expected,
        s"rarestK=$rk stats mismatch: got=${got.size} expected=${expected.size} " +
          s"diff=${(got.toSet -- expected.toSet).take(3)} / ${(expected.toSet -- got.toSet).take(3)}")
      assert(pairs.nonEmpty, s"rarestK=$rk: vacuous tie — no pairs on $dir documents")
    }
  }

  test("portableEmbeddingNearDups: identical vectors always pair, exact cosine") {
    val vecs = Seq(
      (1L, Array.tabulate(8)(i => (i + 1).toFloat)),
      (2L, Array.tabulate(8)(i => (i + 1).toFloat)), // identical to #1
      (3L, Array.tabulate(8)(i => ((i % 2) * 2 - 1).toFloat * (8 - i)))
    ).toDF("vec_id", "embedding")
    val got = Dedup.portableEmbeddingNearDups(vecs, "vec_id", "embedding",
        threshold = 0.99, planes = 4, tables = 2, dims = 8)
      .as[(Long, Long, Double)].collect()
    // identical vectors share every bucket bit in every table — guaranteed found
    assert(got.map(t => (t._1, t._2)).toSet == Set((1L, 2L)), got.mkString(","))
    assert(got.head._3 == 1.0)
  }

  test("portableEmbeddingNearDups: output is a subset of exact pairs, scores equal") {
    val emb = sf(dir, "embeddings")
    val exact = Dedup.embeddingPairsExact(emb, "vec_id", "embedding", 0.45)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    val port = Dedup.portableEmbeddingNearDups(emb, "vec_id", "embedding",
        threshold = 0.45, planes = 4, tables = 4, dims = 64)
      .as[(Long, Long, Double)].collect()
    assert(port.nonEmpty, "portable LSH found no pairs at all")
    port.foreach { case (a, b, c) =>
      assert(exact.get((a, b)).contains(c), s"pair ($a,$b,$c) not in exact set") }
  }

  test("portableMinhashLsh: high-Jaccard pairs found, estimates track truth") {
    val got = Dedup.portableMinhashLsh(docs, "doc_id", "text", numHashes = 32,
        bands = 16, threshold = 0.5)
      .as[(Long, Long, Double)].collect().map { case (a, b, j) => (a, b) -> j }.toMap
    val mustFind = bruteJaccard.filter(_._2 >= 0.8).keySet
    assert(mustFind.subsetOf(got.keySet),
      s"missed high-sim pairs: ${mustFind -- got.keySet}")
    // 32 slots → coarser estimator than the native 64-slot path
    got.foreach { case (k, est) =>
      assert(est >= 0.5 && est <= 1.0, s"pair $k estimate $est out of range")
      bruteJaccard.get(k).foreach(truth => assert(math.abs(est - truth) < 0.35,
        s"pair $k est $est truth $truth"))
    }
    // estimates are exact multiples of 1/32, rounded to 6 dp — the portable
    // arithmetic contract the DuckDB oracle reproduces
    got.values.foreach(est =>
      assert(math.abs(est * 32 - math.round(est * 32)) < 1e-3, s"estimate $est"))
  }

  test("embeddingPairsExact: all pairs over a hand-computed threshold, none below") {
    val emb = sf(dir, "embeddings").limit(40).cache()
    val vecs = emb.as[(Long, Seq[Float], String)].collect()
      .map { case (id, v, _) => id -> v.map(_.toDouble).toArray }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      math.rint(d / (math.sqrt(a.map(x => x * x).sum) *
        math.sqrt(b.map(x => x * x).sum)) * 1e6) / 1e6
    }
    val expected = (for {
      (a, va) <- vecs.toSeq; (b, vb) <- vecs.toSeq if a < b
      c = cos(va, vb) if c >= 0.3
    } yield (a, b, c)).toSet
    val got = Dedup.embeddingPairsExact(emb, "vec_id", "embedding", threshold = 0.3)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == expected, s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
  }

  test("knnJoinExact: identical results to a hand-computed all-pairs top-k") {
    val emb = sf(dir, "embeddings").limit(40).cache()
    val vecs = emb.as[(Long, Seq[Float], String)].collect()
      .map { case (id, v, _) => id -> v.map(_.toDouble).toArray }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val na = math.sqrt(a.map(x => x * x).sum); val nb = math.sqrt(b.map(x => x * x).sum)
      math.rint(d / (na * nb) * 1e6) / 1e6
    }
    val expected = (for {
      (a, va) <- vecs.toSeq
      ranked = vecs.toSeq.filter(_._1 != a)
        .map { case (b, vb) => (b, cos(va, vb)) }
        .sortBy { case (b, c) => (-c, b) }.take(3)
      ((b, c), i) <- ranked.zipWithIndex
    } yield (a, b, c, i + 1)).toSet
    val got = Similarity.knnJoinExact(emb, "vec_id", "embedding", k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got == expected,
      s"missing=${expected -- got} extra=${got -- expected}")
  }

  test("simhash: zero distance for identical text, small for near-identical") {
    val df = Seq(
      (1L, "spark query engine for large scale data processing pipelines"),
      (2L, "spark query engine for large scale data processing pipelines"),
      (3L, "spark query engine for very large scale data processing pipelines"),
      (4L, "completely different words about gardening tulips roses daffodils")
    ).toDF("id", "text")
    val sig = df.select($"id", Dedup.simhash($"text").as("s"))
      .as[(Long, Long)].collect().toMap
    assert(sig(1L) == sig(2L))
    assert(java.lang.Long.bitCount(sig(1L) ^ sig(3L)) <= 12)
    assert(java.lang.Long.bitCount(sig(1L) ^ sig(4L)) > 12)
    val pairs = Dedup.simhashPairs(df, "id", "text", maxHamming = 3)
      .as[(Long, Long, Int)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
  }

  test("asofLeft: latest right row at-or-before each left ts, nulls before any") {
    val trades = Seq( // (key, ts, trade_id)
      (1L, 100L, "t1"), (1L, 200L, "t2"), (1L, 300L, "t3"),
      (2L, 150L, "t4"),
      (3L, 50L, "t5") // key with no quotes at all
    ).toDF("k", "ts", "trade_id")
    val quotes = Seq( // (key, ts, px) — unique per (key, ts)
      (1L, 90L, 1.0), (1L, 200L, 2.0), (1L, 250L, 3.0),
      (2L, 160L, 9.0) // strictly after the only trade for key 2
    ).toDF("k", "qts", "px")
    val out = AsofJoin.asofLeft(trades, quotes, "k", "ts", "qts")
      .collect().map(r => r.getString(2) -> Option(r.get(3)).map(_.asInstanceOf[Double])).toMap
    assert(out("t1").contains(1.0))  // 90 <= 100
    assert(out("t2").contains(2.0))  // equal ts is inclusive
    assert(out("t3").contains(3.0))  // latest of 90/200/250
    assert(out("t4").isEmpty)        // quote is later than the trade
    assert(out("t5").isEmpty)        // no right rows for the key
  }

  test("asofLeft: NULL payload values come from the latest right row, never stitched") {
    val l = Seq((1L, 100L, "e1"), (1L, 300L, "e2")).toDF("k", "ts", "eid")
    val r = Seq((1L, 90L, Option(5.0), Option("a")), (1L, 250L, Option.empty[Double], Option("b")))
      .toDF("k", "rts", "px", "tag")
    val out = AsofJoin.asofLeft(l, r, "k", "ts", "rts").orderBy($"ts").collect()
    assert(out(0).getAs[Double]("px") == 5.0 && out(0).getAs[String]("tag") == "a")
    // e2 at ts=300 must see the 250 row WHOLE: px NULL, not 5.0 from the 90 row
    assert(out(1).isNullAt(out(1).fieldIndex("px")),
      "px was stitched from an older right row past a newer NULL")
    assert(out(1).getAs[String]("tag") == "b")
  }

  test("asofLeft fails fast when a right payload column collides with a left column") {
    val l = Seq((1L, 1L, 2.0)).toDF("k", "ts", "px")
    val r = Seq((1L, 1L, 3.0)).toDF("k", "rts", "px")
    intercept[IllegalArgumentException] {
      AsofJoin.asofLeft(l, r, "k", "ts", "rts")
    }
  }

  test("pointInInterval is exact for longs beyond 2^53 (no double rounding)") {
    val base = 1L << 60 // ~ns-epoch magnitude; double ulp here is 256
    val points = Seq((1L, base + 5L), (2L, base - 3L), (3L, base + 11L)).toDF("pid", "p")
    val intervals = Seq((10L, base - 5L, base + 10L)).toDF("iid", "lo", "hi")
    val got = RangeJoin.pointInInterval(points, "p", intervals, "lo", "hi", binWidth = 7L)
      .select($"pid").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L))
  }

  test("pointInInterval matches the naive range join across bin widths") {
    val points = (1L to 200L).map(i => (i, i * 3 % 101)).toDF("pid", "p")
    val intervals = Seq((1L, 5L, 20L), (2L, 18L, 19L), (3L, 90L, 150L), (4L, 0L, 0L))
      .toDF("iid", "lo", "hi")
    val naive = points.join(intervals, $"p" >= $"lo" && $"p" <= $"hi")
      .select($"pid", $"iid").as[(Long, Long)].collect().sorted.toSeq
    Seq(1L, 7L, 64L, 1000L).foreach { bw =>
      val got = RangeJoin.pointInInterval(points, "p", intervals, "lo", "hi", bw)
        .select($"pid", $"iid").as[(Long, Long)].collect().sorted.toSeq
      assert(got == naive, s"binWidth=$bw diverges from the naive join")
    }
  }

  test("connectedComponents: min-label clusters across chains, pairs, and isolates") {
    import graft.operators.ConnectedComponents
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),      // chain → component rep 1
      (10L, 11L),                        // pair → rep 10
      (20L, 21L), (21L, 22L), (20L, 22L) // triangle → rep 20
    ).toDF("id_a", "id_b")
    val got = ConnectedComponents.components(edges).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    val cl = ConnectedComponents.clusters(edges).as[(Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r._2).toMap
    assert(cl == Map(1L -> 4L, 10L -> 2L, 20L -> 3L))
  }

  test("portableSimhashSigs matches an independent md5 recomputation; near-dups pair") {
    import graft.operators.Dedup
    val texts = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "The  quick BROWN fox jumps over the LAZY dog "), // same after normalize
      (3L, "completely different material about query engines and columns"))
    val df = texts.toDF("doc_id", "text")
    val got = Dedup.portableSimhashSigs(df, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    // independent reference: md5 via java.security, same 60-bit vote rule
    def refSig(text: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val votes = new Array[Int](60)
      text.trim.toLowerCase.split("\\s+").foreach { t =>
        val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
        val h = java.lang.Long.parseLong(hex.take(15), 16)
        var j = 0
        while (j < 60) { votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1); j += 1 }
      }
      (0 until 60).foldLeft(0L)((acc, j) => if (votes(j) > 0) acc | (1L << j) else acc)
    }
    texts.foreach { case (id, t) =>
      assert(got(id) == refSig(t), s"signature mismatch for doc $id")
    }
    // pair structure must equal the rule applied to the reference sigs:
    // ≥1 agreeing 15-bit chunk AND Hamming ≤ 8 (identical docs 1/2 pair at
    // distance 0; doc 3 must only appear if the rule says so — it doesn't)
    val refSigs = texts.map { case (id, t) => id -> refSig(t) }.toMap
    val expected = (for {
      a <- texts.map(_._1); b <- texts.map(_._1) if a < b
      sa = refSigs(a); sb = refSigs(b)
      agree = (0 until 4).exists(c => ((sa >> (c * 15)) & 0x7fff) == ((sb >> (c * 15)) & 0x7fff))
      ham = java.lang.Long.bitCount(sa ^ sb)
      if agree && ham <= 8
    } yield (a, b, ham)).toSet
    val pairs = Dedup.simhashPairsFromSig(
        Dedup.portableSimhashSigs(df, "doc_id", "text"),
        maxHamming = 8, chunks = 4, chunkBits = 15)
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs == expected, s"pair structure diverges from the rule: $pairs vs $expected")
    assert(expected.contains((1L, 2L, 0)), "identical docs must pair at distance 0")
  }

  test("componentsStar: agrees with min-label on random graphs, converges on long chains") {
    import graft.operators.ConnectedComponents._
    // random graph: 300 nodes, 400 edges — many components, mixed shapes
    val rnd = new scala.util.Random(11)
    val randomEdges = Seq.fill(400)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b }
      .toDF("id_a", "id_b")
    val viaLabel = components(randomEdges, maxIter = 60)
      .as[(Long, Long)].collect().toMap
    val viaStar = componentsStar(randomEdges)
      .as[(Long, Long)].collect().toMap
    assert(viaStar == viaLabel)
    // a 400-hop chain: min-label needs 400 rounds; star contraction must
    // finish inside its default 50 (it needs O(log^2 n) ≈ a handful)
    val chain = (0L until 400L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = componentsStar(chain).as[(Long, Long)].collect()
    assert(got.length == 401 && got.forall(_._2 == 0L),
      s"chain must collapse to rep 0: ${got.filter(_._2 != 0L).take(5).toSeq}")
    // empty edges: empty labels, no throw
    assert(componentsStar(Seq.empty[(Long, Long)].toDF("id_a", "id_b")).count() == 0)
  }

  test("connectedComponents: ids near Long.MaxValue converge without ANSI overflow") {
    import graft.operators.ConnectedComponents
    assert(spark.conf.get("spark.sql.ansi.enabled").toBoolean,
      "Spark 4 runs ANSI by default; this test exercises the checksum overflow guard")
    // xxhash64-derived doc ids live at 2^63 magnitude: three of them already
    // overflow a LongType sum (r3 verdict — the old checksum threw mid-job)
    val m = Long.MaxValue
    val edges = Seq((m, m - 1L), (m - 1L, m - 2L), (m - 4L, m - 5L))
      .toDF("id_a", "id_b")
    val got = ConnectedComponents.components(edges).as[(Long, Long)].collect().toMap
    assert(got == Map(m -> (m - 2L), (m - 1L) -> (m - 2L), (m - 2L) -> (m - 2L),
      (m - 4L) -> (m - 5L), (m - 5L) -> (m - 5L)))
  }

  test("connectedComponents: empty edge set returns empty labels, no NPE") {
    import graft.operators.ConnectedComponents
    val edges = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(ConnectedComponents.components(edges).count() == 0)
    assert(ConnectedComponents.clusters(edges).count() == 0)
  }

  test("pointInInterval is exact within binWidth of Long.MinValue") {
    // the old bin formula `lc - pmod(lc, w)` left the Long range for points
    // within w-1 of Long.MinValue — ANSI throw or a silently wrong bin
    val lo = Long.MinValue
    val points = Seq((1L, lo + 3L), (2L, lo), (3L, lo + 9L), (4L, lo + 25L))
      .toDF("pid", "p")
    val intervals = Seq((10L, lo, lo + 10L)).toDF("iid", "lo", "hi")
    val got = RangeJoin.pointInInterval(points, "p", intervals, "lo", "hi", binWidth = 10L)
      .select($"pid").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L))
  }

  test("contamination overlap finds the planted eval/train shingle leak") {
    import graft.operators.Contamination
    val eval0 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated benchmark prompt text here")
    ).toDF("doc_id", "text")
    val train = Seq(
      (100L, "story begins the quick brown fox jumps away"), // shares 3 trigrams w/ doc 1
      (101L, "no overlap with anything in the benchmark"),
      (102L, "the quick brown fox jumps over the lazy dog indeed") // near copy of doc 1
    ).toDF("doc_id", "text")
    val got = Contamination.overlap(train, "doc_id", "text", eval0, "doc_id", "text",
        shingleLen = 3, minShared = 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.contains(100L) && got(100L)._2 == 1L)
    assert(got.contains(102L) && got(102L)._1 >= 7L && got(102L)._2 == 1L)
    assert(!got.contains(101L), "clean doc flagged")
  }

  test("bloom-prefiltered decontamination: identical output, prefilter in plan") {
    import graft.operators.Contamination
    // randomized corpus with planted leaks: bloom path must equal exact
    // path bit-for-bit (FPs die in the join), at every tested fpp
    val rng = new scala.util.Random(41)
    def doc() = (0 until 12).map(_ => "t" + rng.nextInt(30)).mkString(" ")
    val evalDocs = (0L until 10L).map(i => (i, doc()))
    val trainDocs = (100L until 160L).map { i =>
      // every 10th train doc embeds an eval doc's text (the leak)
      if (i % 10 == 0) (i, evalDocs(((i - 100) / 10).toInt % 10)._2 + " extra tail")
      else (i, doc())
    }
    val e = evalDocs.toDF("doc_id", "text")
    val t = trainDocs.toDF("doc_id", "text")
    for (fpp <- Seq(0.2, 0.01)) {
      val exact = Contamination.overlap(t, "doc_id", "text", e, "doc_id", "text",
          shingleLen = 3, minShared = 2)
        .as[(Long, Long, Long)].collect().toSet
      val bloomed = Contamination.overlapBloom(t, "doc_id", "text", e, "doc_id", "text",
          shingleLen = 3, minShared = 2, fpp = fpp)
        .as[(Long, Long, Long)].collect().toSet
      assert(bloomed == exact, s"fpp=$fpp")
      assert(exact.nonEmpty, "planted leaks not found")
    }
    val plan = Contamination.overlapBloom(t, "doc_id", "text", e, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"bloom prefilter missing from plan:\n$plan")
  }

  test("shingle_dup_stats: counts, distincts, and max frequency match hand-computed") {
    import graft.functions.HashExpressions
    val df = Seq(
      (1L, "a b a b a"),   // bigrams: ab,ba,ab,ba → (4, 2, 2)
      (2L, "x"),           // short → single whole-text shingle → (1, 1, 1)
      (3L, "w w w w")      // ww,ww,ww → (3, 1, 3)
    ).toDF("id", "text")
    val got = df.select($"id", HashExpressions.shingle_dup_stats(
        split(trim(lower($"text")), "\\s+"), 2).as("st"))
      .select($"id", $"st.n_shingles", $"st.n_distinct", $"st.max_freq")
      .as[(Long, Int, Int, Int)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == Map(1L -> ((4, 2, 2)), 2L -> ((1, 1, 1)), 3L -> ((3, 1, 3))))
  }

  test("embedding near-dups via LSH find the duplicated vectors") {
    val emb = sf(dir, "embeddings")
    // plant an exact duplicate pair by unioning a copy with shifted ids
    val dup = emb.filter($"vec_id" < 3)
      .select(($"vec_id" + 10000).as("vec_id"), $"embedding", $"label")
    val all = emb.unionByName(dup)
    val pairs = Dedup.embeddingNearDups(all, "vec_id", "embedding", threshold = 0.99)
      .as[(Long, Long, Double)].collect()
    (0 until 3).foreach { i =>
      assert(pairs.exists(p => p._1 == i && p._2 == i + 10000 && p._3 > 0.999),
        s"missing planted dup $i")
    }
  }

  test("knnJoin: planted duplicates are each other's rank-1 neighbor") {
    val emb = sf(dir, "embeddings")
    val dup = emb.filter($"vec_id" < 3)
      .select(($"vec_id" + 10000).as("vec_id"), $"embedding", $"label")
    val all = emb.unionByName(dup)
    val nn = Similarity.knnJoin(all, "vec_id", "embedding", k = 3)
      .as[(Long, Long, Double, Int)].collect()
    (0 until 3).foreach { i =>
      val top = nn.filter(p => p._1 == i && p._4 == 1)
      assert(top.nonEmpty && top.head._2 == i + 10000 && top.head._3 > 0.999,
        s"vector $i's rank-1 neighbor should be its planted copy, got ${top.toSeq}")
    }
    // every left id has at most k ranked neighbors, ranks are 1..k
    nn.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length))
    }
  }

  test("knnJoinIvf: planted duplicates are each other's rank-1 neighbor") {
    val emb = sf(dir, "embeddings")
    val dup = emb.filter($"vec_id" < 3)
      .select(($"vec_id" + 10000).as("vec_id"), $"embedding", $"label")
    val all = emb.unionByName(dup)
    val nn = Similarity.knnJoinIvf(all, "vec_id", "embedding", k = 3,
        nLists = 8, nprobe = 4)
      .as[(Long, Long, Double, Int)].collect()
    (0 until 3).foreach { i =>
      val top = nn.filter(p => p._1 == i && p._4 == 1)
      assert(top.nonEmpty && top.head._2 == i + 10000 && top.head._3 > 0.999,
        s"vector $i's rank-1 neighbor should be its planted copy, got ${top.toSeq}")
    }
    nn.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length))
    }
  }

  test("knnJoinIvf: recall vs the exact join; cosines are exact for found pairs") {
    val emb = sf(dir, "embeddings").cache()
    val exact = Similarity.knnJoinExact(emb, "vec_id", "embedding", k = 3)
      .as[(Long, Long, Double, Int)].collect()
    val exactPairs = exact.map(r => (r._1, r._2)).toSet
    val exactCos = exact.map(r => (r._1, r._2) -> r._3).toMap
    val ivf = Similarity.knnJoinIvf(emb, "vec_id", "embedding", k = 3,
        nLists = 8, nprobe = 4)
      .as[(Long, Long, Double, Int)].collect()
    val ivfPairs = ivf.map(r => (r._1, r._2)).toSet
    val recall = (exactPairs & ivfPairs).size.toDouble / exactPairs.size
    info(f"knnJoinIvf recall@3 vs exact = $recall%.3f (nLists=8, nprobe=4)")
    assert(recall >= 0.5, s"recall $recall collapsed")
    // every returned cosine is the EXACT rounded cosine (the PQ code only
    // shortlists; scores come from the full vectors)
    ivf.foreach { r =>
      exactCos.get((r._1, r._2)).foreach(c =>
        assert(c == r._3, s"approximate cosine leaked: ${(r._1, r._2)} $c vs ${r._3}"))
    }
  }

  test("knnJoinIvf split pipeline: shortlist+rescore is byte-identical to the fused expression") {
    import graft.functions.AnnExpressions._
    // The fused reference is a plain-Scala oracle of the whole rule: sort
    // by (ADC, id), cut at kCand, take the exact rounded cosine, sort by
    // (cosine desc, id asc), cut at k. 2 subspaces × 4 centroids over
    // 8 dims; a 44-member cell with kCand=6 so the ADC shortlist genuinely
    // gates (and a second pass with kCand=64 covering the cell, the
    // exact-path shortcut)
    val dims = 8; val m = 2; val subDim = 4; val k = 5
    val cb: Array[Array[Array[Double]]] = Array.tabulate(m)(s =>
      Array.tabulate(4)(c => Array.tabulate(subDim)(j =>
        math.sin(s * 7.0 + c * 3.0 + j))))
    val rnd = new scala.util.Random(7)
    def nearest(v: Seq[Float]): Seq[Int] = (0 until m).map(s =>
      (0 until 4).minBy(c => (0 until subDim)
        .map(j => v(s * subDim + j) - cb(s)(c)(j)).map(x => x * x).sum))
    def mem(id: Long, v: Seq[Float], code: Seq[Int]) =
      (id, math.sqrt(v.map(x => x.toDouble * x).sum), code, v)
    val qv = Seq.fill(dims)(rnd.nextFloat())
    def nearQ() = qv.map(x => x + (rnd.nextFloat() - 0.5f) * 0.05f)
    def adc(code: Seq[Int]): Double = (0 until m).map { s =>
      var t = 0.0
      for (j <- 0 until subDim) {
        val x = qv(s * subDim + j).toDouble - cb(s)(code(s))(j); t += x * x
      }
      t
    }.sum
    // ids 0, 10, …, 390: room for tie members on either side of a base id
    val base = (0 until 40).map { i =>
      val v = Seq.fill(dims)(rnd.nextFloat() * 2 - 1)
      mem(i * 10L, v, nearest(v))
    }
    val self = 50L // a member: self-exclusion must hold in both passes
    // equal rounded cosine: two members with one vector near the query,
    // carrying the ADC-best code so both survive the kCand=6 cut
    val bestCode = base.filter(_._1 != self).minBy(r => (adc(r._3), r._1))._3
    val twin = nearQ()
    val withTwins = base ++ Seq(mem(3L, twin, bestCode), mem(7L, twin, bestCode))
    // equal ADC: the member at the kCand=6 cut gets two neighbours with its
    // code, one id below and one above, both near the query, so the (ADC,
    // id) tie-break alone decides which of the three is shortlisted and
    // the survivor shows in the top k
    val edge = withTwins.filter(_._1 != self).sortBy(r => (adc(r._3), r._1)).apply(5)
    val mems = withTwins ++
      Seq(mem(edge._1 - 1, nearQ(), edge._3), mem(edge._1 + 1, nearQ(), edge._3))

    def round6(x: Double): Double = java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val normQ = math.sqrt(qv.map(x => x.toDouble * x).sum)
    def oracle(kCand: Int): Seq[(Long, Double)] =
      mems.filter(_._1 != self).sortBy(r => (adc(r._3), r._1)).take(kCand)
        .map { case (id, nrm, _, v) =>
          id -> round6(qv.zip(v).map { case (a, b) => a.toDouble * b }.sum / (normQ * nrm))
        }
        .sortBy { case (id, c) => (-c, id) }.take(k)

    val adcOrder = mems.filter(_._1 != self).map(r => adc(r._3)).sorted
    assert(adcOrder(5) == adcOrder(6), "the kCand=6 cut must fall inside an ADC tie")
    val splitDf = Seq((self, qv,
      mems.map { case (id, _, code, _) => CodeMem(id, code) },
      mems.map { case (id, nrm, _, v) => VecMem(id, nrm, v) }))
      .toDF("id_a", "v_a", "cm", "vm")
    for (kCand <- Seq(6, 64)) {
      val expected = oracle(kCand)
      assert(expected.sliding(2).exists { case Seq(a, b) => a._2 == b._2 },
        s"kCand=$kCand: the top $k must hold an equal-cosine pair")
      val split = splitDf.select(
        cell_rescore_topk($"v_a",
          ivfpq_cell_shortlist($"id_a", $"v_a", $"cm", kCand, cb, subDim),
          $"vm", k))
        .head().getSeq[org.apache.spark.sql.Row](0)
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(split == expected, s"kCand=$kCand: oracle $expected != split $split")
      assert(split.length == k && !split.map(_._1).contains(self))
    }
  }

  test("cell expressions reject a member struct of the wrong layout at analysis") {
    import graft.functions.AnnExpressions._
    val cb = Array(Array(Array(0.0, 0.0)))
    val df = Seq((1L, Seq(1f, 0f),
      Seq(LblCodeMem(2L, Seq(0), "x")), Seq(VecMem(2L, 1.0, Seq(1f, 0f)))))
      .toDF("id_a", "v_a", "cm", "vm")
    // (id, code, extra) read as (id, norm, v) scored every member 0.0
    val misread = Seq(
      "cell_rescore_topk" -> cell_rescore_topk($"v_a", array(lit(2L)), $"cm", 1),
      "ivfpq_cell_shortlist" -> ivfpq_cell_shortlist($"id_a", $"v_a", $"vm", 1, cb, 2),
      "leader_dedup_cell" -> leader_dedup_cell($"cm", 0.9))
    misread.foreach { case (fn, c) =>
      val e = intercept[org.apache.spark.sql.AnalysisException](df.select(c))
      assert(e.getMessage.contains(s"$fn expects"), e.getMessage)
    }
    // the layouts they are meant for, payload fields appended, still resolve
    val ok = df.select(
      cell_rescore_topk($"v_a", array(lit(2L)), $"vm", 1),
      ivfpq_cell_shortlist($"id_a", $"v_a", $"cm", 1, cb, 2),
      leader_dedup_cell($"vm", 0.9)).head()
    assert(ok.getSeq[org.apache.spark.sql.Row](0).map(_.getDouble(1)) == Seq(1.0))
    assert(ok.getSeq[Long](1) == Seq(2L))
  }

  test("knnJoinAuto: small corpora route to LSH, big estimates to IVF, same contract") {
    val emb = sf(dir, "embeddings")
    // sf0.001 (500 vectors, ~130 KB) is far under the 1 GB boundary → LSH
    val auto = Similarity.knnJoinAuto(emb, "vec_id", "embedding", k = 3)
    val autoPlan = auto.queryExecution.optimizedPlan.toString.toLowerCase
    assert(autoPlan.contains("hyperplanebuckets"), "small corpus must take the LSH path")
    // forcing the boundary to 0 routes the same input to the IVF engine...
    val ivfRoute = Similarity.knnJoinAuto(emb, "vec_id", "embedding", k = 3,
      lshMaxBytes = 0L)
    val ivfPlan = ivfRoute.queryExecution.optimizedPlan.toString.toLowerCase
    assert(ivfPlan.contains("cellrescoretopk"), "past the boundary must take the IVF path")
    // ...with rows identical to a direct knnJoinIvf call at default policy
    val direct = Similarity.knnJoinIvf(emb, "vec_id", "embedding", k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    val routed = ivfRoute.as[(Long, Long, Double, Int)].collect().toSet
    assert(routed == direct, "IVF route must equal the direct IVF call")
    // contract holds on the LSH route too: ranks are 1..<=k per anchor
    val lsh = auto.as[(Long, Long, Double, Int)].collect()
    assert(lsh.nonEmpty)
    lsh.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length))
    }
  }

  test("knnJoinIvfPqPortable: native and portable joins agree on planted verdicts") {
    val emb = sf(dir, "embeddings")
    val dup = emb.filter($"vec_id" < 3)
      .select(($"vec_id" + 10000).as("vec_id"), $"embedding", $"label")
    val all = emb.unionByName(dup)
    val portable = Similarity.knnJoinIvfPqPortable(all, "vec_id", "embedding",
        k = 3, nLists = 8, nprobe = 2)
      .as[(Long, Long, Double, Long)].collect()
    val native = Similarity.knnJoinIvf(all, "vec_id", "embedding", k = 3,
        nLists = 8, nprobe = 4)
      .as[(Long, Long, Double, Int)].collect()
    (0 until 3).foreach { i =>
      val pt = portable.filter(p => p._1 == i && p._4 == 1L)
      val nt = native.filter(p => p._1 == i && p._4 == 1)
      assert(pt.nonEmpty && pt.head._2 == i + 10000 && pt.head._3 > 0.999,
        s"portable rank-1 for $i should be its planted copy, got ${pt.toSeq}")
      assert(nt.nonEmpty && pt.head._2 == nt.head._2,
        s"native/portable verdict mismatch on planted pair $i")
    }
    portable.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length.toLong))
    }
  }

  test("hardNegativesAnn: a near-identical different-label vector is the top negative") {
    val emb = sf(dir, "embeddings")
    val dup = emb.filter($"vec_id" < 3)
      .select(($"vec_id" + 10000).as("vec_id"), $"embedding",
        lit(-7).as("label")) // embeddings.label is INTEGER; -7 never occurs
    val all = emb.unionByName(dup)
    val out = Similarity.hardNegativesAnn(all, "vec_id", "embedding", "label",
        k = 3, nLists = 8, nprobe = 4)
      .select($"id_a", $"label_a", $"id_b", $"label_b", $"cosine", $"rank")
      .as[(Long, Int, Long, Int, Double, Int)].collect()
    (0 until 3).foreach { i =>
      val top = out.filter(r => r._1 == i && r._6 == 1)
      assert(top.nonEmpty && top.head._3 == i + 10000 && top.head._5 > 0.999,
        s"anchor $i's top hard negative should be its different-label copy, got ${top.toSeq}")
    }
    out.foreach(r => assert(r._2 != r._4, s"same-label pair leaked: $r"))
  }

  test("hardNegativesAnnCell: planted different-label copy is rank 1; no same-label leaks") {
    val emb = sf(dir, "embeddings")
    val dup = emb.filter($"vec_id" < 3)
      .select(($"vec_id" + 10000).as("vec_id"), $"embedding",
        lit(-7).as("label"))
    val all = emb.unionByName(dup)
    val out = Similarity.hardNegativesAnnCell(all, "vec_id", "embedding",
        "label", k = 3, nLists = 8, nprobe = 4)
      .as[(Long, Int, Long, Int, Double, Int)].collect()
    (0 until 3).foreach { i =>
      val top = out.filter(r => r._1 == i && r._6 == 1)
      assert(top.nonEmpty && top.head._3 == i + 10000 && top.head._5 > 0.999,
        s"anchor $i's top hard negative should be its different-label copy, got ${top.toSeq}")
    }
    out.foreach { r =>
      assert(r._2 != r._4, s"same-label pair leaked: $r")
    }
    out.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._6).sorted.toSeq == (1 to rows.length))
    }
  }

  test("hardNegativesAnnCell ≡ exact hardNegatives when probing covers every cell") {
    // nprobe = nLists probes every cell and kCand covers any occupancy, so
    // the in-cell gate's candidate set IS the full corpus: output must
    // equal the O(N²) baseline row for row (same rounding, same
    // tie-breaks) — the exact-path anchor the approximate regimes
    // degrade from
    val emb = sf(dir, "embeddings")
    val cell = Similarity.hardNegativesAnnCell(emb, "vec_id", "embedding",
        "label", k = 3, nLists = 8, nprobe = 8, kCand = 100000)
      .as[(Long, Int, Long, Int, Double, Int)].collect().toSet
    val exact = Similarity.hardNegatives(emb, "vec_id", "embedding",
        "label", k = 3)
      .as[(Long, Int, Long, Int, Double, Int)].collect().toSet
    assert(cell == exact,
      s"missing=${(exact -- cell).take(5)} extra=${(cell -- exact).take(5)}")
  }

  test("hardNegativesAnnCell vs hardNegativesPortable: planted verdicts agree") {
    val emb = sf(dir, "embeddings")
    val dup = emb.filter($"vec_id" < 3)
      .select(($"vec_id" + 10000).as("vec_id"), $"embedding",
        lit(-7).as("label"))
    val all = emb.unionByName(dup)
    val portable = Similarity.hardNegativesPortable(all, "vec_id",
        "embedding", "label", k = 3, nLists = 8, nprobe = 2)
      .as[(Long, Int, Long, Int, Double, Long)].collect()
    val native = Similarity.hardNegativesAnnCell(all, "vec_id", "embedding",
        "label", k = 3, nLists = 8, nprobe = 4)
      .as[(Long, Int, Long, Int, Double, Int)].collect()
    (0 until 3).foreach { i =>
      val pt = portable.filter(p => p._1 == i && p._6 == 1L)
      val nt = native.filter(p => p._1 == i && p._6 == 1)
      assert(pt.nonEmpty && pt.head._3 == i + 10000 && pt.head._5 > 0.999,
        s"portable rank-1 negative for $i should be its planted copy, got ${pt.toSeq}")
      assert(nt.nonEmpty && pt.head._3 == nt.head._3,
        s"native/portable hard-negative verdict mismatch on planted pair $i")
    }
    portable.foreach(r => assert(r._2 != r._4, s"same-label pair leaked: $r"))
  }

  test("hardNegativesAnnCellBalanced ≡ exact per-class reference at whole-cell " +
      "depth; quota holds per (anchor, foreign label)") {
    val emb = sf(dir, "embeddings")
    val balanced = Similarity.hardNegativesAnnCellBalanced(emb, "vec_id",
        "embedding", "label", k = 2, nLists = 8, nprobe = 8, kCand = 100000)
      .as[(Long, Int, Long, Int, Double, Int)].collect()
    // quota: at most k rows per (anchor, foreign label), ranks 1..<=k
    balanced.groupBy(r => (r._1, r._4)).foreach { case (_, rows) =>
      assert(rows.length <= 2 && rows.map(_._6).sorted.toSeq == (1 to rows.length))
    }
    balanced.foreach(r => assert(r._2 != r._4, s"same-label pair leaked: $r"))
    // exact reference: all different-label pairs, re-ranked per
    // (anchor, label_b), cut at k — whole-cell depth makes the index path
    // exact within probed cells, and nprobe = nLists probes everything
    import org.apache.spark.sql.expressions.Window
    val wr = Window.partitionBy($"id_a", $"label_b")
      .orderBy($"cosine".desc, $"id_b".asc)
    val ref = Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
        k = 100000)
      .withColumn("rank2", row_number().over(wr))
      .filter($"rank2" <= 2)
      .select($"id_a", $"label_a", $"id_b", $"label_b", $"cosine",
        $"rank2".as("rank"))
      .as[(Long, Int, Long, Int, Double, Int)].collect().toSet
    assert(balanced.toSet == ref, s"balanced mining diverged: " +
      s"only-bal=${(balanced.toSet -- ref).take(5)} only-ref=${(ref -- balanced.toSet).take(5)}")
    // the balance property: the plain top-k can be crowded by one class;
    // per anchor the balanced output covers at least as many classes
    val plain = Similarity.hardNegativesAnnCell(emb, "vec_id", "embedding",
        "label", k = 2, nLists = 8, nprobe = 8, kCand = 100000)
      .as[(Long, Int, Long, Int, Double, Int)].collect()
    val classesPlain = plain.groupBy(_._1).view.mapValues(_.map(_._4).toSet.size)
    val classesBal = balanced.groupBy(_._1).view.mapValues(_.map(_._4).toSet.size)
    classesPlain.foreach { case (a, c) =>
      assert(classesBal.getOrElse(a, 0) >= c,
        s"anchor $a lost class coverage under the quota")
    }
  }

  test("label-gated cell expressions: mismatch-only shortlist, null labels skipped, payload rides out") {
    import graft.functions.AnnExpressions._
    val dims = 8; val m = 2; val subDim = 4
    val cb: Array[Array[Array[Double]]] = Array.tabulate(m)(s =>
      Array.tabulate(4)(c => Array.tabulate(subDim)(j =>
        math.sin(s * 7.0 + c * 3.0 + j))))
    val rnd = new scala.util.Random(11)
    // 12 members: ids 0-11; labels: even id → "pos", odd → "neg", id 9 null
    val mems = (0 until 12).map { i =>
      val v = Array.fill(dims)(rnd.nextFloat() * 2 - 1)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      val code = (0 until m).map(s =>
        (0 until 4).minBy(c => (0 until subDim)
          .map(j => v(s * subDim + j) - cb(s)(c)(j)).map(x => x * x).sum))
      val lbl = if (i == 9) null else if (i % 2 == 0) "pos" else "neg"
      (i.toLong, norm, code, v.toSeq, lbl)
    }
    val qv = Seq.fill(dims)(rnd.nextFloat())
    val df = Seq((0L, "pos", qv,
      mems.map { case (id, _, code, _, l) => LblCodeMem(id, code, l) },
      mems.map { case (id, nrm, _, v, l) => LblVecMem(id, nrm, v, l) }))
      .toDF("id_a", "lbl_a", "v_a", "cm", "vm")
    val winners = df.select(
      cell_rescore_payload_topk($"v_a",
        ivfpq_cell_shortlist_label($"id_a", $"lbl_a", $"v_a", $"cm", 4, cb, subDim),
        $"vm", 3))
      .head().getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // only odd-id ("neg") members are eligible: evens share the probe
    // label, id 9's null label never matches, id 0 is self
    assert(winners.nonEmpty && winners.length <= 3)
    winners.foreach { case (id, lbl, _) =>
      assert(id % 2 == 1 && id != 9L, s"ineligible member shortlisted: $id")
      assert(lbl == "neg", s"payload mismatch for $id: $lbl")
    }
    // shortlist depth gates genuinely: kCand=4 over 5 eligible members —
    // winners must be ordered by (cosine desc, id asc)
    assert(winners.sliding(2).forall {
      case Seq(a, b) => a._3 > b._3 || (a._3 == b._3 && a._1 < b._1)
      case _ => true
    })
    // duplicate member ids degrade gracefully (buffer sized to nMem)
    val dupDf = Seq((0L, "pos", qv,
      (mems ++ mems.take(3)).map { case (id, _, code, _, l) => LblCodeMem(id, code, l) },
      (mems ++ mems.take(3)).map { case (id, nrm, _, v, l) => LblVecMem(id, nrm, v, l) }))
      .toDF("id_a", "lbl_a", "v_a", "cm", "vm")
    val dupWinners = dupDf.select(
      cell_rescore_payload_topk($"v_a",
        ivfpq_cell_shortlist_label($"id_a", $"lbl_a", $"v_a", $"cm", 100, cb, subDim),
        $"vm", 3))
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(dupWinners.nonEmpty) // no ArrayIndexOutOfBounds on duplicate ids
  }

  test("knnJoin: in-sort lag dedup ≡ distinct + window top-k, row for row") {
    import org.apache.spark.sql.expressions.Window
    val emb = sf(dir, "embeddings")
    val got = Similarity.knnJoin(emb, "vec_id", "embedding", k = 4)
      .as[(Long, Long, Double, Int)].collect().toSet
    // reference: the same candidate stream, duplicates removed by a global
    // distinct() before a plain row_number() top-k
    val w = Window.partitionBy($"id_a").orderBy($"cosine".desc, $"id_b".asc)
    val ref = Similarity.scoredCandidates(emb, "vec_id", "embedding",
        planes = 6, tables = 8)
      .distinct()
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 4)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(got == ref,
      s"missing=${(ref -- got).take(5)} extra=${(got -- ref).take(5)}")
  }

  test("annTopK recall vs brute-force cosine top-k") {
    val emb = sf(dir, "embeddings").cache()
    val q = emb.filter($"vec_id" === 0).head().getSeq[Float](1)
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    val index = Similarity.buildLshIndex(emb, "vec_id", "embedding")
    val approx = Similarity.annTopK(index, q, 10).as[(Long, Double)].collect().map(_._1).toSet
    val recall = (exact & approx).size / 10.0
    info(s"ANN recall@10 = $recall (candidates from 8 tables × 64 buckets)")
    assert(approx.contains(0L), "query vector itself must be found")
    assert(recall >= 0.5, s"recall $recall too low")
  }

  test("repeatedWindowStats: shared and internal spans flagged, unique text not") {
    val boiler = "SUBSCRIBE-TO-OUR-NEWSLETTER-TODAY" // 33 chars
    val df = Seq(
      // docs 1/2 share the boilerplate at stride-aligned offsets (doc 2's
      // head is exactly 20 chars, so both emit the same boiler windows)
      (1L, boiler + " unique tail one xxxxxxxx"),
      (2L, "different head yyyy " + boiler),
      (3L, "abcdefghijklmnopqrstuvwxyz0123456789 qqq"),
      // internal repeat: window at 1 == window at 21, stride-aligned
      (4L, "ABCDEFGHIJKLMNOPQRST" * 2)
    ).toDF("id", "text")
    val out = TextOps.repeatedWindowStats(df, "id", "text",
        winLen = 20, stride = 5, minFreq = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // n_windows = floor((len - 20) / 5) + 1, closed form
    assert(out(3L) == ((5L, 0L, 0.0)), s"unique doc flagged: ${out(3L)}")
    assert(out(1L)._2 >= 3, s"doc 1 boiler windows not flagged: ${out(1L)}")
    assert(out(2L)._2 >= 3, s"doc 2 boiler windows not flagged: ${out(2L)}")
    assert(out(4L) == ((5L, 2L, 0.4)), s"internal repeat miscounted: ${out(4L)}")
  }

  test("piiScan: planted emails, IPs, and phones counted and redacted") {
    val df = Seq(
      (1L, "contact john.doe@example.com or admin@sub.domain.org today"),
      (2L, "server at 10.0.0.1 and 192.168.1.255, call +1 555 123 4567"),
      (3L, "no pii here at all")
    ).toDF("id", "text")
    val out = TextOps.piiScan(df, "id", "text").collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L)._1 == 2 && out(1L)._2 == 0 && out(1L)._3 == 0, s"${out(1L)}")
    assert(out(2L)._1 == 0 && out(2L)._2 == 2 && out(2L)._3 == 1, s"${out(2L)}")
    assert(out(2L)._4 ==
      "server at [PII] and [PII], call [PII]".length, s"${out(2L)}")
    assert(out(3L) == ((0L, 0L, 0L, 18L)), s"clean doc touched: ${out(3L)}")
  }

  test("portableIvfTopK: cosines exact, descending, disjoint from query") {
    val emb = sf(dir, "embeddings").cache()
    val q = emb.filter($"vec_id" === 0).head().getSeq[Float](1)
    // exact cosine for EVERY vector — ground truth the IVF scores must match
    val exactAll = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 500)
      .as[(Long, Double)].collect().toMap
    val got = Similarity.portableIvfTopK(emb, "vec_id", "embedding",
      queryId = 0L, nLists = 8, nprobe = 2, k = 10).as[(Long, Double)].collect()
    assert(got.length == 10, s"expected 10 rows, got ${got.length}")
    assert(!got.map(_._1).contains(0L), "query must be excluded")
    assert(got.map(_._2).sliding(2).forall(p => p.head >= p.last), "not descending")
    got.foreach { case (id, c) =>
      assert(exactAll.get(id).contains(c), s"IVF cosine for $id is $c, exact ${exactAll.get(id)}") }
    val exactTop = Similarity.cosineTopK(emb, "vec_id", "embedding", q, 11)
      .as[(Long, Double)].collect().map(_._1).filter(_ != 0L).take(10).toSet
    val recall = (exactTop & got.map(_._1).toSet).size / 10.0
    info(s"portable IVF recall@10 = $recall (nprobe 2 of 8 lists)")
  }

  test("dupSpanStats: overlapping windows merge, adjacent spans stay separate") {
    val boiler = "SUBSCRIBE-TO-OUR-NEWSLETTER-TODAY" // 33 chars
    val df = Seq(
      (1L, boiler + " unique tail one xxxxxxxx"),        // dup starts 1,6,11
      (2L, "different head yyyy " + boiler),             // dup starts 21,26,31
      (3L, "abcdefghijklmnopqrstuvwxyz0123456789 qqq"),  // nothing duplicated
      (4L, "ABCDEFGHIJKLMNOPQRST" * 2)                   // dup starts 1,21: ADJACENT
    ).toDF("id", "text")
    val out = TextOps.dupSpanStats(df, "id", "text", winLen = 20, stride = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // docs 1/2: starts {1,6,11} / {21,26,31} overlap pairwise → ONE merged
    // 30-char span each
    assert(out(1L) == ((58L, 1L, 30L, 0.4828)), s"${out(1L)}")
    assert(out(2L) == ((53L, 1L, 30L, 0.434)), s"${out(2L)}")
    assert(out(3L) == ((40L, 0L, 0L, 1.0)), s"${out(3L)}")
    // [1,20] and [21,40] touch but do not overlap → TWO spans, all removed
    assert(out(4L) == ((40L, 2L, 40L, 0.0)), s"${out(4L)}")
  }

  test("removeDupSpans: splices exactly the merged spans, short docs pass through") {
    val boiler = "SUBSCRIBE-TO-OUR-NEWSLETTER-TODAY"
    val df = Seq(
      (1L, boiler + " unique tail one xxxxxxxx"),  // merged span [1,30]
      (2L, "different head yyyy " + boiler),       // merged span [21,50]
      (3L, "abcdefghijklmnopqrstuvwxyz0123456789 qqq"),
      (4L, "ABCDEFGHIJKLMNOPQRST" * 2),            // spans [1,20],[21,40]: all cut
      (5L, "short doc")                            // < winLen: untouched
    ).toDF("id", "text")
    val out = TextOps.removeDupSpans(df, "id", "text", winLen = 20, stride = 5)
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "DAY unique tail one xxxxxxxx", s"'${out(1L)}'")
    assert(out(2L) == "different head yyyy " + boiler.drop(30), s"'${out(2L)}'")
    assert(out(3L) == "abcdefghijklmnopqrstuvwxyz0123456789 qqq")
    assert(out(4L) == "", s"'${out(4L)}'")
    assert(out(5L) == "short doc")
    // invariant vs dupSpanStats: length(clean) == n_chars - removed_chars
    val stats = TextOps.dupSpanStats(df, "id", "text", winLen = 20, stride = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    stats.foreach { case (id, (n, rem)) =>
      assert(out(id).length == n - rem, s"doc $id: ${out(id).length} != $n - $rem") }
  }

  test("bigramLmScore: hand-computed MLE log-probs, short docs excluded") {
    val df = Seq((1L, "a b a b"), (2L, "a c"), (3L, "solo")).toDF("id", "text")
    // c12: (a,b)=2 (b,a)=1 (a,c)=1; c1: a=3 b=1
    val out = TextOps.bigramLmScore(df, "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out.keySet == Set(1L, 2L), s"short doc not excluded: ${out.keySet}")
    val d1 = (2 * math.log(2.0 / 3) + math.log(1.0)) / 3
    assert(out(1L) == ((3L, BigDecimal(d1).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble)), s"${out(1L)} vs $d1")
    assert(out(2L)._1 == 1L && out(2L)._2 == -1.0986, s"${out(2L)}")
  }

  test("span dedup family: randomized corpora agree with a brute-force reference") {
    val winLen = 8; val stride = 3
    val rng = new scala.util.Random(42)
    (1 to 3).foreach { round =>
      // small alphabet + short docs → plenty of genuine cross-doc repeats
      val corpus = (0L until 40L).map { id =>
        val len = 5 + rng.nextInt(40)
        id -> (0 until len).map(_ => ('a' + rng.nextInt(3)).toChar).mkString
      }
      // brute force: stride windows, corpus instance-frequency, merged spans
      val freq = scala.collection.mutable.Map.empty[String, Int]
      val winsOf = corpus.toMap.map { case (id, s) =>
        id -> (1 to (s.length - winLen + 1) by stride).map(i =>
          (i, s.substring(i - 1, i + winLen - 1)))
      }
      winsOf.values.flatten.foreach { case (_, w) => freq(w) = freq.getOrElse(w, 0) + 1 }
      val expected = corpus.toMap.map { case (id, s) =>
        if (s.length < winLen) id -> ((s.length, 0, 0, s))
        else {
          val spans = winsOf(id).collect { case (i, w) if freq(w) >= 2 => (i, i + winLen - 1) }
          val merged = spans.foldLeft(List.empty[(Int, Int)]) {
            case (acc @ ((s0, e0) :: rest), (s1, e1)) =>
              if (s1 <= e0) (s0, math.max(e0, e1)) :: rest else (s1, e1) :: acc
            case (Nil, iv) => iv :: Nil
          }.reverse
          val removed = merged.map { case (a, b) => b - a + 1 }.sum
          val clean = merged.reverse.foldLeft(s) { case (t, (a, b)) =>
            t.substring(0, a - 1) + t.substring(b) }
          id -> ((s.length, merged.size, removed, clean))
        }
      }
      val df = corpus.toDF("id", "text")
      val stats = TextOps.dupSpanStats(df, "id", "text", winLen, stride)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1).toInt, r.getLong(2).toInt, r.getLong(3).toInt))).toMap
      val clean = TextOps.removeDupSpans(df, "id", "text", winLen, stride)
        .as[(Long, String)].collect().toMap
      expected.foreach { case (id, (n, spans, removed, cl)) =>
        if (n >= winLen)
          assert(stats(id) == ((n, spans, removed)),
            s"round $round doc $id stats ${stats(id)} != ($n,$spans,$removed)")
        else assert(!stats.contains(id), s"round $round short doc $id in stats")
        assert(clean(id) == cl,
          s"round $round doc $id clean '${clean(id)}' != '$cl'")
      }
    }
  }

  test("mod-p window selection finds MISALIGNED duplicates the stride grid misses") {
    // 60-char shared span at offsets 1 and 3 (offset delta 2, not a stride
    // multiple): every stride-5 window of doc 1 inside the span sits at a
    // different span-relative position than doc 2's, so the grids share no
    // window string — content-defined selection depends only on content
    val span = "THE-QUICK-BROWN-FOX-JUMPS-OVER-THE-LAZY-DOG-AGAIN-AND-AGAIN!"
    val df = Seq(
      (1L, span + " tail padding here"),
      (2L, "ab" + span + " other ending text")
    ).toDF("id", "text")
    val stride = TextOps.dupSpanStats(df, "id", "text",
        winLen = 20, stride = 5, minFreq = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(stride.values.forall(_ == 0L),
      s"stride grid unexpectedly matched misaligned dups: $stride")
    val cdc = TextOps.dupSpanStats(df, "id", "text",
        winLen = 20, stride = 5, minFreq = 2, modP = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(cdc(1L)._1 >= 1 && cdc(2L)._1 >= 1,
      s"content-defined selection missed the shared span: $cdc")
    // the same windows are selected in both docs, so removal is symmetric
    assert(cdc(1L)._2 == cdc(2L)._2, s"asymmetric removal: $cdc")
  }

  test("decontaminateSpans: planted eval leak flagged at a misaligned offset") {
    val evalSent = "WHAT-IS-THE-CAPITAL-OF-FRANCE-PARIS-IS-THE-ANSWER-HERE!"
    val eval = Seq((900L, evalSent + " plus benchmark framing text")).toDF("id", "text")
    val train = Seq(
      // leak at offset 4 — no alignment with the eval doc's offset 1
      (1L, "xy. " + evalSent + " and some training prose after"),
      (2L, "a completely independent training document with its own words")
    ).toDF("id", "text")
    val out = TextOps.decontaminateSpans(train, "id", "text", eval, "id", "text",
        winLen = 20, stride = 5, modP = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L)._1 >= 1 && out(1L)._2 >= 20,
      s"planted leak not flagged: ${out(1L)}")
    assert(out(2L) == ((0L, 0L)), s"clean doc flagged: ${out(2L)}")
  }

  test("winnow decontamination: a minimal-length leak is caught with certainty") {
    // the MOSS guarantee: a shared span of winLen + k - 1 = 24 chars
    // contains one fully-interior frame in BOTH docs, so detection is
    // certain regardless of alignment (mod-p would catch a span this
    // short only with probability ~1-(1-1/5)^5)
    val leak = "SHARED-EVAL-SPAN-24-CHAR" // exactly 24 chars
    assert(leak.length == 24)
    val eval = Seq((900L, "eval framing " + leak + " more eval text here")).toDF("id", "text")
    val train = Seq(
      (1L, "abcdefg " + leak + " unrelated training prose follows"), // misaligned
      (2L, "a completely independent training document with its own words")
    ).toDF("id", "text")
    val out = TextOps.decontaminateSpans(train, "id", "text", eval, "id", "text",
        winLen = 20, winnowK = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L)._1 >= 1 && out(1L)._2 >= 20, s"guaranteed leak missed: ${out(1L)}")
    assert(out(2L) == ((0L, 0L)), s"clean doc flagged: ${out(2L)}")
  }

  test("winnowing: misaligned dups found AND the density guarantee holds") {
    val span = "THE-QUICK-BROWN-FOX-JUMPS-OVER-THE-LAZY-DOG-AGAIN-AND-AGAIN!"
    val df = Seq(
      (1L, span + " tail padding here"),
      (2L, "ab" + span + " other ending text"),   // offset delta 2: misaligned
      (3L, "abcdefghijklmnopqrstuvwxyz0123456789 and completely novel stuff")
    ).toDF("id", "text")
    val out = TextOps.dupSpanStats(df, "id", "text",
        winLen = 20, minFreq = 2, winnowK = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L)._1 >= 1 && out(2L)._1 >= 1, s"misaligned span missed: $out")
    assert(out(1L)._2 == out(2L)._2, s"asymmetric removal: $out")
    assert(out(3L) == ((0L, 0L)), s"unique doc flagged: ${out(3L)}")
    // density guarantee: every frame of k consecutive window positions
    // contains a selected one, so consecutive selected starts gap <= k
    val t = df.select(col("id"), col("text").as("s"))
      .filter(length(col("s")) >= 20)
    val sel = TextOps.winnowWindows(t, 20, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    sel.foreach { case (id, starts) =>
      assert(starts.head <= 5, s"doc $id first selection late: ${starts.head}")
      starts.sliding(2).foreach { p =>
        if (p.length == 2) assert(p(1) - p(0) <= 5,
          s"doc $id gap ${p(1) - p(0)} > k between ${p(0)} and ${p(1)}") }
    }
  }

  test("native winnow selection is bit-identical to the HOF formulation") {
    // small alphabet → repeated windows → equal md5 hashes inside one frame,
    // exercising the leftmost tie-break; the multi-byte doc exercises the
    // char-vs-byte offset walk; short/boundary lengths hit the n<k frame
    val rnd = new scala.util.Random(4207)
    val alpha = "abc d"
    val docs = (1L to 60L).map { id =>
      val len = 20 + rnd.nextInt(120)
      (id, (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    } ++ Seq(
      (900L, "héllo wörld ünïcode — spän dedup over multi-byte çhars here"),
      (901L, "exactly-twenty-chars"),          // n = 1 < k: one frame
      (902L, "twenty-three-chars-long"))       // n = 4 < k: one frame
    val t = docs.toDF("id", "text")
      .select(col("id"), col("text").as("s")).filter(length(col("s")) >= 20)
    def starts(native: Boolean): Map[Long, Seq[Int]] =
      TextOps.winnowWindows(t, 20, 5, useNative = native)
        .collect().map(r => (r.getLong(0), r.getInt(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val nat = starts(true)
    val hof = starts(false)
    assert(nat == hof,
      s"native/HOF diverge: ${nat.keySet.union(hof.keySet).filter(k => nat.get(k) != hof.get(k))
        .map(k => s"$k: nat=${nat.get(k)} hof=${hof.get(k)}").mkString("; ")}")
  }

  test("native mod-p selection is bit-identical to the HOF formulation") {
    val rnd = new scala.util.Random(9313)
    val alpha = "abc d"
    val docs = (1L to 60L).map { id =>
      val len = 20 + rnd.nextInt(120)
      (id, (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    } ++ Seq(
      (900L, "héllo wörld ünïcode — spän dedup over multi-byte çhars here"),
      (901L, "exactly-twenty-chars"))
    val t = docs.toDF("id", "text")
      .select(col("id"), col("text").as("s")).filter(length(col("s")) >= 20)
    def wins(native: Boolean): Set[(Long, Int, String)] =
      TextOps.spanWindows(t, 20, 5, modP = 5, useNative = native)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val nat = wins(true)
    val hof = wins(false)
    assert(nat == hof, s"native/HOF diverge: ${(nat diff hof) ++ (hof diff nat)}")
  }

  test("semanticDedup: earlier near-dup drops later vectors, distinct content survives") {
    val a = Array.fill(64)(0.1f)
    val aNear = a.clone(); aNear(0) = 0.11f          // cosine ≈ 0.99997 to a
    val ortho = Array.fill(64)(0.0f); ortho(1) = 1.0f // cosine 0.125 to a
    val zero = Array.fill(64)(0.0f)                   // excluded (zero norm)
    val df = Seq(
      (1L, a.toSeq), (2L, a.toSeq), (3L, aNear.toSeq),
      (4L, ortho.toSeq), (5L, zero.toSeq)
    ).toDF("vec_id", "embedding")
    val out = graft.operators.Similarity
      .semanticDedup(df, "vec_id", "embedding", nLists = 4, tau = 0.95)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(!out.contains(5L), s"zero-norm vector not excluded: $out")
    assert(out(1L)._2 == 1L, s"leader dropped: $out")
    assert(out(2L)._2 == 0L, s"identical later vector kept: $out")
    assert(out(3L)._2 == 0L, s"near-dup later vector kept: $out")
    assert(out(4L)._2 == 1L, s"distinct vector dropped: $out")
    // near-parallel vectors must share a cluster or the pair is never seen
    assert(out(1L)._1 == out(2L)._1 && out(1L)._1 == out(3L)._1,
      s"near-dups split across clusters: $out")
  }

  test("winnow removal splices exactly what winnow stats account") {
    val rnd = new scala.util.Random(7719)
    val alpha = "abcd "
    val docs = (1L to 40L).map { id =>
      val len = 15 + rnd.nextInt(150)
      (id, (0 until len).map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    }
    val df = docs.toDF("id", "text")
    val removed = TextOps.dupSpanStats(df, "id", "text",
        winLen = 20, minFreq = 2, winnowK = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val clean = TextOps.removeDupSpans(df, "id", "text",
        winLen = 20, minFreq = 2, winnowK = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.foreach { case (id, s) =>
      val cut = removed.getOrElse(id, 0L) // short docs absent from stats
      assert(s.length - clean(id).length == cut,
        s"doc $id: stats removed $cut chars, splice cut ${s.length - clean(id).length}")
      if (s.length < 20) assert(clean(id) == s, s"short doc $id altered")
    }
  }

  test("semanticDedup: randomized corpora agree with a brute-force reference") {
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
        .doubleValue()
    val rnd = new scala.util.Random(20260813)
    for (trial <- 1 to 3) {
      val n = 30 + rnd.nextInt(30)
      val base = Array.fill(8)(Array.fill(64)(rnd.nextFloat() * 2 - 1))
      val vecs = (1L to n.toLong).map { id =>
        // half the corpus clusters tightly around 8 anchors (near-dups),
        // half is fresh noise; occasional zero vector exercises the gate
        val v =
          if (id % 13 == 0) Array.fill(64)(0.0f)
          else if (rnd.nextBoolean()) {
            val b = base(rnd.nextInt(8))
            b.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
          } else Array.fill(64)(rnd.nextFloat() * 2 - 1)
        (id, v.toSeq)
      }
      val got = graft.operators.Similarity
        .semanticDedup(vecs.toDF("vec_id", "embedding"), "vec_id", "embedding",
          nLists = 4, tau = 0.9)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // brute-force reference: same assignment (driver mirror), same
      // left-to-right double accumulation, same rounded-cosine gate
      val withMeta = vecs.flatMap { case (id, v) =>
        val norm = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x))
        if (norm > 0)
          Some((id, v, norm, graft.functions.VectorExpressions
            .portableIvfAssignLocal(v.map(_.toDouble), 4)))
        else None
      }
      val expected = withMeta.map { case (id, v, norm, c) =>
        val dropped = withMeta.exists { case (id2, v2, norm2, c2) =>
          id2 < id && c2 == c && {
            var dot = 0.0
            var i = 0
            while (i < 64) { dot += v2(i).toDouble * v(i).toDouble; i += 1 }
            round6(dot / (norm2 * norm)) >= 0.9
          }
        }
        id -> ((c.toLong, if (dropped) 0L else 1L))
      }.toMap
      assert(got == expected,
        s"trial $trial (n=$n): ${(got.toSet diff expected.toSet) ++ (expected.toSet diff got.toSet)}")
    }
  }

  test("incrementalMinhashDedup: new docs classify against old corpus and earlier new docs") {
    val body = "the quick brown fox jumps over the lazy dog while autumn " +
      "leaves drift slowly down the quiet river valley this very day"
    val novel = "entirely novel content never seen before in any corpus " +
      "with many unique words and surprising phrases in it"
    val old = Seq(
      (10L, body + " alpha"),
      (11L, "completely different material about catalyst planning and " +
        "shuffle exchanges in spark engines at corpus scale"))
    val nw = Seq(
      (400L, body + " beta"),   // near-dup of OLD doc 10
      (401L, novel),            // fresh — kept
      (402L, novel + " too"))   // near-dup of EARLIER NEW doc 401
    val out = graft.operators.Dedup.incrementalMinhashDedup(
        old.toDF("id", "text"), nw.toDF("id", "text"), "id", "text",
        numHashes = 32, bands = 16, threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(400L) == ((10L, -1L, 0L)), s"old-dup misclassified: $out")
    assert(out(401L) == ((-1L, -1L, 1L)), s"fresh doc not kept: $out")
    assert(out(402L) == ((-1L, 401L, 0L)), s"new-dup misclassified: $out")
    assert(out.size == 3, s"old docs leaked into the output: $out")
    // the native signature family classifies the same planted scenario
    val native = graft.operators.Dedup.incrementalMinhashDedupNative(
        old.toDF("id", "text"), nw.toDF("id", "text"), "id", "text",
        numHashes = 64, bands = 16, threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(native == out, s"native/portable verdicts diverge: $native vs $out")
  }

  test("semanticDedupKmeans: learned clusters, brute-force leader parity") {
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
        .doubleValue()
    val rnd = new scala.util.Random(991)
    val anchors = Array.fill(4)(Array.fill(64)(rnd.nextFloat() * 2 - 1))
    val vecs = (1L to 40L).map { id =>
      val v =
        if (id <= 32) anchors(((id - 1) % 4).toInt)
          .map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
        else Array.fill(64)(rnd.nextFloat() * 2 - 1)
      (id, v.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val got = graft.operators.Similarity
      .semanticDedupKmeans(df, "vec_id", "embedding", k = 4, iters = 5, tau = 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // reference: retrain the (deterministic) codebook, replay assignment
    // via Codebook.nearest and the leader rule with the rounded gate
    val cb = graft.operators.Ivf.train(df.select(col("embedding")), "embedding",
      k = 4, iters = 5, seed = 1L)
    val withMeta = vecs.map { case (id, v) =>
      val norm = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x))
      (id, v, norm, cb.nearest(v.map(_.toDouble).toArray, 1).head)
    }
    val expected = withMeta.map { case (id, v, norm, c) =>
      val dropped = withMeta.exists { case (id2, v2, norm2, c2) =>
        id2 < id && c2 == c && {
          var dot = 0.0
          var i = 0
          while (i < 64) { dot += v2(i).toDouble * v(i).toDouble; i += 1 }
          round6(dot / (norm2 * norm)) >= 0.9
        }
      }
      id -> ((c.toLong, if (dropped) 0L else 1L))
    }.toMap
    assert(got == expected,
      s"${(got.toSet diff expected.toSet) ++ (expected.toSet diff got.toSet)}")
    // each anchor family's smallest id has no earlier near-dup → always kept
    (0 until 4).foreach { g =>
      assert(got(g + 1L)._2 == 1L, s"family $g leader dropped: ${got(g + 1L)}")
    }
    // learned clusters co-locate by content: the 32 anchored vectors
    // collapse to a handful of representatives
    val keptAnchored = (1L to 32L).count(id => got(id)._2 == 1L)
    assert(keptAnchored <= 8, s"anchored corpus barely deduped: $keptAnchored kept")
  }

  test("semanticDedup: hierarchical regime (nLists=128) agrees with the brute-force reference") {
    // same randomized-parity harness as the flat spec, but nLists crosses
    // the 64-list threshold so assignment runs the two-level md5-sign rule
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
        .doubleValue()
    val rnd = new scala.util.Random(20260814)
    for (trial <- 1 to 2) {
      val n = 40 + rnd.nextInt(30)
      val base = Array.fill(6)(Array.fill(64)(rnd.nextFloat() * 2 - 1))
      val vecs = (1L to n.toLong).map { id =>
        val v =
          if (id % 17 == 0) Array.fill(64)(0.0f)
          else if (rnd.nextBoolean()) {
            val b = base(rnd.nextInt(6))
            b.map(x => x + (rnd.nextFloat() - 0.5f) * 0.02f)
          } else Array.fill(64)(rnd.nextFloat() * 2 - 1)
        (id, v.toSeq)
      }
      val got = graft.operators.Similarity
        .semanticDedup(vecs.toDF("vec_id", "embedding"), "vec_id", "embedding",
          nLists = 128, tau = 0.9)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val withMeta = vecs.flatMap { case (id, v) =>
        val norm = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x))
        if (norm > 0)
          Some((id, v, norm, graft.functions.VectorExpressions
            .portableIvfAssignLocal(v.map(_.toDouble), 128)))
        else None
      }
      val expected = withMeta.map { case (id, v, norm, c) =>
        val dropped = withMeta.exists { case (id2, v2, norm2, c2) =>
          id2 < id && c2 == c && {
            var dot = 0.0
            var i = 0
            while (i < 64) { dot += v2(i).toDouble * v(i).toDouble; i += 1 }
            round6(dot / (norm2 * norm)) >= 0.9
          }
        }
        id -> ((c.toLong, if (dropped) 0L else 1L))
      }.toMap
      assert(got == expected,
        s"trial $trial (n=$n): ${(got.toSet diff expected.toSet) ++ (expected.toSet diff got.toSet)}")
    }
  }

  test("semanticDedupKmeans: hierarchical assignment (k > 64) mirrors Ivf.hierarchy exactly") {
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP)
        .doubleValue()
    val rnd = new scala.util.Random(4177)
    val anchors = Array.fill(10)(Array.fill(64)(rnd.nextFloat() * 2 - 1))
    val vecs = (1L to 300L).map { id =>
      val v =
        if (id <= 200) anchors(((id - 1) % 10).toInt)
          .map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f)
        else Array.fill(64)(rnd.nextFloat() * 2 - 1)
      (id, v.toSeq)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val k = 100 // > the 64-centroid flat-scan threshold → two-level path
    val got = graft.operators.Similarity
      .semanticDedupKmeans(df, "vec_id", "embedding", k = k, iters = 3, tau = 0.9)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val cb = graft.operators.Ivf.train(df.select(col("embedding")), "embedding",
      k = k, iters = 3, seed = 1L)
    val hier = graft.operators.Ivf.hierarchy(cb)
    assert(hier.blocks.map(_.length).sum == k, "hierarchy must partition the codebook")
    // agreement with the flat argmin is a quality diagnostic (semantic
    // grouping should track it closely), exact parity is with the MIRROR
    val flatAgree = vecs.count { case (_, v) =>
      val vd = v.map(_.toDouble).toArray
      hier.nearest(vd) == cb.nearest(vd, 1).head
    } / vecs.length.toDouble
    info(f"two-level vs flat argmin agreement = $flatAgree%.3f (k=$k)")
    val withMeta = vecs.map { case (id, v) =>
      val norm = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x))
      (id, v, norm, hier.nearest(v.map(_.toDouble).toArray))
    }
    val expected = withMeta.map { case (id, v, norm, c) =>
      val dropped = withMeta.exists { case (id2, v2, norm2, c2) =>
        id2 < id && c2 == c && {
          var dot = 0.0
          var i = 0
          while (i < 64) { dot += v2(i).toDouble * v(i).toDouble; i += 1 }
          round6(dot / (norm2 * norm)) >= 0.9
        }
      }
      id -> ((c.toLong, if (dropped) 0L else 1L))
    }.toMap
    assert(got == expected,
      s"${(got.toSet diff expected.toSet) ++ (expected.toSet diff got.toSet)}")
    assert(flatAgree >= 0.6, s"two-level grouping degenerated: $flatAgree")
  }

  test("compressionSignal: repetitive text compresses far below high-entropy text") {
    val rnd = new scala.util.Random(31337)
    val repetitive = "click here to buy now best price " * 40
    val entropic = (0 until 1200).map(_ => rnd.nextPrintableChar()).mkString
    val df = Seq((1L, repetitive), (2L, entropic), (3L, "")).toDF("id", "text")
    val out = TextOps.compressionSignal(df, "id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getDouble(3) < 0.2,
      s"boilerplate barely compressed: ${out(1L).getDouble(3)}")
    assert(out(2L).getDouble(3) > 0.6,
      s"high-entropy text over-compressed: ${out(2L).getDouble(3)}")
    assert(out(1L).getLong(1) == repetitive.getBytes("UTF-8").length.toLong)
    assert(out(3L).isNullAt(1) && out(3L).isNullAt(3), "empty doc should be NULL")
  }

  test("topNgrams: exact counts, lexicographic tie-break, short docs ignored") {
    val df = Seq(
      (1L, "a b c a b c"), (2L, "x y z w"), (3L, "one two")
    ).toDF("id", "text")
    val got = TextOps.topNgrams(df, "id", "text", n = 3, k = 3)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("a b c", 2L), ("b c a", 1L), ("c a b", 1L)), s"$got")
  }

  test("topNgramsApprox: SpaceSaving invariants against exact counts") {
    // Zipf-ish corpus: token j drawn ∝ 1/(j+1) — heavy head, long tail
    val rng = new scala.util.Random(31)
    def draw(): String = { val u = rng.nextDouble(); "w" + math.floor(math.pow(40, u) - 1).toInt }
    val corpus = (0L until 200L)
      .map(id => (id, (0 until 30).map(_ => draw()).mkString(" ")))
      .toDF("id", "text")
    val counters = 64
    // k = counters: presence is guaranteed in the SUMMARY, so the test
    // must see all of it, not a top-20 prefix
    val approx = TextOps.topNgramsApprox(corpus, "id", "text", n = 2, k = counters,
        counters = counters)
      .as[(String, Long, Long)].collect()
    val exact = TextOps.topNgrams(corpus, "id", "text", n = 2, k = 100000)
      .as[(String, Long)].collect().toMap
    val totalN = exact.values.sum
    // (a) est ≥ true ≥ est − err for every returned row
    approx.foreach { case (g, est, err) =>
      val truth = exact.getOrElse(g, 0L)
      assert(est >= truth && truth >= est - err, s"$g est=$est err=$err true=$truth")
    }
    // (b) every GUARANTEED hitter (freq > N/counters) is in the summary —
    // check within the returned top-k prefix that dominates the threshold
    val guaranteed = exact.filter(_._2 > totalN / counters).keySet
    val returned = approx.map(_._1).toSet
    val missing = guaranteed -- returned
    assert(guaranteed.nonEmpty && missing.isEmpty,
      s"guaranteed hitters missing from summary: $missing")
    // (c) output truncated to k, sorted by est desc
    assert(approx.length <= counters)
    assert(approx.map(-_._2).toSeq == approx.map(-_._2).toSeq.sorted)
  }

  test("topNgramsApprox with ample counters reproduces the exact top-k head") {
    // counters ≫ distinct keys → no eviction ever happens, err = 0, and
    // the head of the summary IS the exact ranking
    val df = Seq((1L, "a b c a b c a b"), (2L, "b c a b c")).toDF("id", "text")
    val approx = TextOps.topNgramsApprox(df, "id", "text", n = 2, k = 3,
        counters = 1024)
      .as[(String, Long, Long)].collect().toSeq
    val exact = TextOps.topNgrams(df, "id", "text", n = 2, k = 3)
      .as[(String, Long)].collect().toSeq
    assert(approx.map(t => (t._1, t._2)) == exact, s"$approx vs $exact")
    assert(approx.forall(_._3 == 0L))
  }

  test("topNgramsApprox survives items longer than writeUTF's 64 KB limit") {
    // one token of 70k chars → the tracked key's UTF-8 encoding exceeds
    // 65535 bytes; the summary must serialize across the exchange anyway
    // (length-prefixed bytes, not DataOutputStream.writeUTF)
    val giant = "x" * 70000
    val df = Seq((1L, s"$giant $giant $giant"), (2L, "a b a b a b a b"))
      .toDF("id", "text").repartition(4)
    val approx = TextOps.topNgramsApprox(df, "id", "text", n = 2, k = 4,
        counters = 64)
      .as[(String, Long, Long)].collect()
    assert(approx.exists(_._1 == s"$giant $giant"),
      "the giant bigram must be tracked and survive serialization")
    assert(approx.exists(_._1 == "a b"))
  }

  test("bigramLmScore: randomized corpora agree with a brute-force reference") {
    val rng = new scala.util.Random(7)
    val corpus = (0L until 30L).map { id =>
      val len = 2 + rng.nextInt(30)
      id -> (0 until len).map(_ => "w" + rng.nextInt(8)).mkString(" ")
    }
    val toks = corpus.toMap.map { case (id, s) =>
      id -> s.trim.toLowerCase.split("\\s+").toSeq }
    val bigrams = toks.values.flatMap(ts => ts.zip(ts.tail))
    val c12 = bigrams.groupBy(identity).map { case (k, v) => k -> v.size }
    val c1 = bigrams.groupBy(_._1).map { case (k, v) => k -> v.size }
    val expected = toks.map { case (id, ts) =>
      val bs = ts.zip(ts.tail)
      id -> ((bs.size.toLong,
        bs.map(b => math.log(c12(b).toDouble / c1(b._1))).sum / bs.size))
    }
    val got = TextOps.bigramLmScore(corpus.toDF("id", "text"), "id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, (n, lp)) =>
      assert(got(id)._1 == n, s"doc $id n_bigrams ${got(id)._1} != $n")
      assert(math.abs(got(id)._2 - lp) <= 1e-4,
        s"doc $id avg_logp ${got(id)._2} != $lp") }
  }

  test("portablePqTopK: exact copy of the query ranks first with minimal ADC") {
    // deterministic 64-d vectors; id 1 is an exact copy of the query (id 0),
    // so it encodes to the query's own codes and its ADC — Σ over sub-spaces
    // of the query's distance to its own nearest centroid — is the minimum
    // any vector can score
    def vec(seed: Long): Seq[Float] =
      (0 until 64).map(i => (((seed * 31 + i) % 997).toFloat / 997f) * 2f - 1f)
    val rows = (0L, vec(7L)) :: (1L, vec(7L)) ::
      (2L to 31L).map(i => (i, vec(i * 131 + 11))).toList
    val df = rows.toDF("vec_id", "embedding")
    val got = Pq.portablePqTopK(df, "vec_id", "embedding",
      queryId = 0L, m = 8, ks = 16, k = 5).as[(Long, Long)].collect()
    assert(got.length == 5 && !got.map(_._1).contains(0L))
    assert(got.head._1 == 1L, s"copy not rank 1: ${got.toSeq}")
    assert(got.map(_._2).sliding(2).forall(p => p.head <= p.last), "not ascending")
    assert(got.forall(_._2 >= got.head._2), "copy ADC must be minimal")
  }
}

/** Row shapes for the cell-expression tests (top level so the Product
  * encoders resolve). */
private[operators] case class CodeMem(id: Long, code: Seq[Int])
private[operators] case class VecMem(id: Long, norm: Double, v: Seq[Float])
private[operators] case class LblCodeMem(id: Long, code: Seq[Int], lbl: String)
private[operators] case class LblVecMem(id: Long, norm: Double, v: Seq[Float], lbl: String)
