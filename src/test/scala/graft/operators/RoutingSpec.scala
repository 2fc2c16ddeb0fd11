package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The knnJoinAuto dispatch boundary and the structural stats check it
  * rides on — asserted per regime so a mis-set default is a failing spec,
  * not a silent 54 GB-spill LSH run (or a fabricated-estimate exchange). */
class RoutingSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = sf("sf0.001", "embeddings").cache()

  test("statsKnown: file-backed projections yes; statless plans no, even when " +
      "width-ratio arithmetic fabricates a below-sentinel estimate") {
    assert(Stage.statsKnown(emb.select($"vec_id", $"embedding")))
    // a LogicalRDD with NO propagated stats (localCheckpoint is the
    // benign case in Spark 4 — it copies the parent plan's statistics
    // into the leaf, so it stays "known"; a raw RDD-backed frame is the
    // genuinely statless one)
    val statless = spark.createDataFrame(emb.rdd, emb.schema)
    assert(!Stage.statsKnown(statless))
    assert(Stage.statsKnown(emb.localCheckpoint()),
      "localCheckpoint carries propagated stats in Spark 4 — structural " +
        "check must honor them, not blanket-distrust LogicalRDD")
    // the trap the estimate-vs-sentinel idiom fell into: a narrowing
    // Project over a statless leaf scales Long.MaxValue DOWN by the
    // width ratio, so its own stats read as "known" while the leaf is not
    val narrowed = statless.select(col("vec_id"))
    val sentinel = BigInt(spark.sessionState.conf.defaultSizeInBytes)
    info(s"narrowed statless estimate = " +
      s"${narrowed.queryExecution.analyzed.stats.sizeInBytes} (sentinel $sentinel)")
    assert(!Stage.statsKnown(narrowed),
      "projection arithmetic must not launder a statless leaf into known stats")
  }

  test("knnJoinAuto routes: small file-backed → lsh; above lshMaxBytes → ivf; " +
      "statless → ivf (never gamble on a driver broadcast collect)") {
    assert(Similarity.knnJoinAutoRoute(emb, "vec_id", "embedding") == "lsh")
    assert(Similarity.knnJoinAutoRoute(emb, "vec_id", "embedding",
      lshMaxBytes = 1L) == "ivf")
    assert(Similarity.knnJoinAutoRoute(
      spark.createDataFrame(emb.rdd, emb.schema), "vec_id",
      "embedding") == "ivf")
  }

  test("knnJoinAuto derives dims from the data — a 16-dim corpus routed to IVF " +
      "assigns cells on all 16 components, not a fabricated 64") {
    // 16-dim slices of the fixture vectors, forced onto the IVF path
    val short = emb.select($"vec_id", slice($"embedding", 1, 16).as("embedding"))
    val auto = Similarity.knnJoinAuto(short, "vec_id", "embedding", k = 3,
        lshMaxBytes = 1L)
      .as[(Long, Long, Double, Int)].collect().toSet
    val direct = Similarity.knnJoinIvf(short, "vec_id", "embedding", k = 3,
        dims = 16)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(auto == direct, "auto route with derived dims must equal an " +
      "explicit dims=16 IVF join")
    assert(auto.nonEmpty)
  }

  test("portable incremental twin: equals the full portable join restricted " +
      "to the delta anchors (the probe filter IS the semantics)") {
    val old = emb.filter($"vec_id" % 5 =!= 0)
    val neu = emb.filter($"vec_id" % 5 === 0)
    val inc = Similarity.knnJoinIvfPqPortableIncremental(old, neu,
        "vec_id", "embedding", k = 3, nLists = 8, nprobe = 2, kCand = 20)
      .as[(Long, Long, Double, Long)].collect().toSet
    val full = Similarity.knnJoinIvfPqPortable(emb, "vec_id", "embedding",
        k = 3, nLists = 8, nprobe = 2, kCand = 20)
      .filter($"id_a" % 5 === 0)
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(inc == full)
    assert(inc.nonEmpty && inc.forall(_._1 % 5 == 0))
  }

  test("dims derivation at every entry point: a 128-d corpus with DEFAULTED " +
      "dims gets correct cell assignment (knnJoinIvf + hardNegativesAnnCell), " +
      "and an explicit mismatch raises the typed error, not degraded recall") {
    // 128-d corpus: each fixture vector concatenated with its reverse —
    // the upper half carries signal a fabricated dims=64 would TRUNCATE
    val wide = emb.select($"vec_id",
      concat($"embedding", reverse($"embedding")).as("embedding"))
    val derived = Similarity.knnJoinIvf(wide, "vec_id", "embedding", k = 3,
        nLists = 8, nprobe = 4, kCand = 100000)
      .as[(Long, Long, Double, Int)].collect().toSet
    val explicit = Similarity.knnJoinIvf(wide, "vec_id", "embedding", k = 3,
        nLists = 8, nprobe = 4, kCand = 100000, dims = 128)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(derived == explicit && derived.nonEmpty,
      "defaulted dims must assign on all 128 components")
    val withLbl = wide.withColumn("lbl", pmod($"vec_id", lit(4L)))
    val minedDerived = Similarity.hardNegativesAnnCell(withLbl, "vec_id",
        "embedding", "lbl", k = 2, nLists = 8, nprobe = 4, kCand = 100000)
      .as[(Long, Long, Long, Long, Double, Int)].collect().toSet
    val minedExplicit = Similarity.hardNegativesAnnCell(withLbl, "vec_id",
        "embedding", "lbl", k = 2, nLists = 8, nprobe = 4, kCand = 100000,
        dims = 128)
      .as[(Long, Long, Long, Long, Double, Int)].collect().toSet
    assert(minedDerived == minedExplicit && minedDerived.nonEmpty)
    // explicit dims that disagrees with the data raises — typed, at once
    val ex = intercept[DimsMismatchException] {
      Similarity.knnJoinIvf(wide, "vec_id", "embedding", k = 3, dims = 64)
        .collect()
    }
    assert(ex.explicitDims == 64 && ex.sampledDims == 128)
    intercept[DimsMismatchException] {
      Similarity.knnJoinIvfPqPortable(wide, "vec_id", "embedding", k = 3,
        dims = 64).collect()
    }
    intercept[DimsMismatchException] {
      val p = java.nio.file.Files.createTempDirectory("graft_dims").toString
      KnnIndex.build(wide, "vec_id", "embedding", p, nLists = 8, dims = 64)
    }
  }

  test("the width clamp: below the floor gives the floor, inside passes " +
      "through, above the conf cap gives the cap, past Int range gives the cap") {
    assert(Stage.clamp(4, 100L, 0) == 4)
    assert(Stage.clamp(4, 100L, 3) == 4)
    assert(Stage.clamp(4, 100L, 57) == 57)
    assert(Stage.clamp(4, 100L, 101) == 100)
    assert(Stage.clamp(4, 100L, BigInt(Int.MaxValue) + 1) == 100)
    // a cap past Int range saturates instead of wrapping to the floor
    assert(Stage.clamp(4, 3000000000L, BigInt(10).pow(12)) == Int.MaxValue)
    assert(Stage.clamp(4, 1L << 32, BigInt(10).pow(12)) == Int.MaxValue)
    // the frame form: session floor, spark.graft.maxExchangeParts cap
    val floor = spark.sessionState.conf.numShufflePartitions
    assert(Stage.width(emb, 0) == floor)
    assert(Stage.width(emb, floor - 1) == floor)
    assert(Stage.width(emb, 1000) == 1000)
    assert(Stage.width(emb, BigInt(Int.MaxValue) + 1) == 65536)
    spark.conf.set("spark.graft.maxExchangeParts", "128")
    try {
      assert(Stage.width(emb, 127) == 127)
      assert(Stage.width(emb, 129) == 128)
      assert(Stage.width(emb, BigInt(Long.MaxValue) * 4) == 128)
    } finally spark.conf.unset("spark.graft.maxExchangeParts")
  }

  test("estimateWidth: a statless frame gets the session floor; file-backed " +
      "and checkpointed frames keep their estimate-priced width") {
    val floor = spark.sessionState.conf.numShufflePartitions
    val file = sf("sf0.001", "embeddings")
    val statless = spark.createDataFrame(file.rdd, file.schema)
    assert(!Stage.statsKnown(statless))
    assert(Stage.sizedBuildParts(statless) == floor)
    assert(Stage.estimateWidth(statless, 2, Stage.SortBytesPerTask) == floor)
    assert(Stage.estimateWidth(statless, 100000, Stage.BuildBytesPerTask) == floor)
    // a file-backed frame prices estimate × expand ÷ per-task bytes, as before
    def priced(df: org.apache.spark.sql.DataFrame): Int =
      Stage.width(df, (BigDecimal(df.queryExecution.optimizedPlan.stats.sizeInBytes) *
        100000 / BigDecimal(Stage.BuildBytesPerTask)).toBigInt)
    assert(priced(file) > floor)
    assert(Stage.estimateWidth(file, 100000, Stage.BuildBytesPerTask) == priced(file))
    assert(Stage.sizedBuildParts(file) == Stage.estimateWidth(file, 2, Stage.BuildBytesPerTask))
    // a checkpoint leaf carries its origin's estimate: still known, still priced
    val cp = Materialize.checkpoint(file)
    try {
      assert(Stage.statsKnown(cp))
      assert(Stage.estimateWidth(cp, 100000, Stage.BuildBytesPerTask) == priced(cp))
      assert(priced(cp) > floor)
    } finally Materialize.release(cp)
  }

  test("driver-collect gate: 2 GB, capped at spark.driver.maxResultSize " +
      "(0 = unlimited)") {
    val gb = 1L << 30
    assert(Stage.driverCollectGate(0L) == 2 * gb)
    assert(Stage.driverCollectGate(gb) == gb)
    assert(Stage.driverCollectGate(4 * gb) == 2 * gb)
    // the session form reads the running session's setting (1g default)
    assert(Stage.driverCollectGate(spark) == Stage.driverCollectGate(
      spark.sparkContext.getConf.getSizeAsBytes("spark.driver.maxResultSize", "1g")))
  }

  test("maxExchangeParts is conf-tied: a sized exchange's derived partition " +
      "count caps at spark.graft.maxExchangeParts, not a baked-in literal") {
    assert(Stage.maxExchangeParts(emb) == 65536L)
    spark.conf.set("spark.graft.maxExchangeParts", "128")
    try {
      assert(Stage.maxExchangeParts(emb) == 128L)
      // a priced volume far past the cap: hashNearDups' band exchange
      // wants n·bands·96B/16MB parts ≈ 190k at the hinted n — the plan
      // must carry the conf cap instead
      val hashes = emb.select($"vec_id".as("id"), xxhash64($"embedding").as("hash"))
      val got = graft.multimodal.Multimodal.hashNearDups(hashes,
        maxHamming = 3, bands = 4, nRows = 8L * 1000 * 1000 * 1000)
      val parts = got.queryExecution.logical.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
          r.optNumPartitions
      }.flatten
      assert(parts.contains(128),
        s"band exchange must size at the conf cap 128, got $parts")
    } finally spark.conf.unset("spark.graft.maxExchangeParts")
    def exchangeParts(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      df.queryExecution.logical.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
          r.optNumPartitions
      }.flatten
    // between floor and cap the plan carries the priced count itself:
    // 10M hinted rows · 4 bands · 96 B / 16 MB = 228.9 → 228
    val hashes = emb.select($"vec_id".as("id"), xxhash64($"embedding").as("hash"))
    assert(exchangeParts(graft.multimodal.Multimodal.hashNearDups(hashes,
      maxHamming = 3, bands = 4, nRows = 10L * 1000 * 1000)).contains(228))
    // estimate-sized: a 100M-row range estimates 8 B/row = 800 MB with no
    // job run; sizedBuild prices 800 MB × 2 / 16 MB = 95.4 → 95
    val range = spark.range(100L * 1000 * 1000).toDF()
    assert(range.queryExecution.optimizedPlan.stats.sizeInBytes ==
      BigInt(800L * 1000 * 1000))
    assert(exchangeParts(Stage.sizedBuild(range, Seq("id"))) == Seq(95))
  }

  test("deltaProbeRoute matches the executed probe attach, both regimes") {
    val path = java.nio.file.Files.createTempDirectory("graft_route").toString
    KnnIndex.build(emb, "vec_id", "embedding", path, nLists = 8,
      payloadCol = "label")
    val tiny = emb.filter($"vec_id" < 50)
    // tiny delta: the route says broadcast, and the executed plan IS a
    // broadcast join (the stored members cross no exchange)
    assert(KnnIndex.deltaProbeRoute(spark, path, 50) == "broadcast_probes")
    val plan = KnnIndex.knnJoinDelta(tiny, "vec_id", "embedding", path, k = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"tiny delta must broadcast probes, plan was:\n$plan")
    val planMine = KnnIndex.hardNegativesDelta(tiny, "vec_id", "embedding",
        "label", path, k = 3)
      .queryExecution.executedPlan.toString
    assert(planMine.contains("BroadcastHashJoin"),
      s"tiny mining delta must broadcast probes, plan was:\n$planMine")
    // a delta big enough to blow the gate routes shuffled — the same
    // arithmetic the operator gates on, so the bench tag cannot drift
    assert(KnnIndex.deltaProbeRoute(spark, path, 500L * 1000 * 1000) ==
      "shuffled_probes")
  }

  test("probe attach, both routes: gate 0 plans a SHUFFLE_HASH probe join " +
      "and answers row-equal to the broadcast route (knnJoinDelta with a " +
      "tombstone and a restrict, hardNegativesDelta with payloadIn, " +
      "nearDupDelta with a tombstone); the route comparison names the " +
      "branch that runs") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledHashJoinExec}
    import graft.multimodal.Multimodal
    val gates = Seq(0L, Stage.driverCollectGate(spark))
    // the probe join(s) of a delta plan: a hash join on `keys` whose
    // build side carries the probe column, named by its route
    def probeJoins(df: DataFrame, keys: Seq[String], probeCol: String): Seq[String] = {
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      def names(ks: Seq[Expression]) = ks.flatMap(_.references.map(_.name))
      plan.collect {
        case j: ShuffledHashJoinExec if names(j.rightKeys) == keys &&
            j.right.output.exists(_.name == probeCol) => "shuffled_probes"
        case j: BroadcastHashJoinExec if names(j.rightKeys) == keys &&
            j.right.output.exists(_.name == probeCol) => "broadcast_probes"
      }
    }
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq
    def bothRoutes(what: String, keys: Seq[String], probeCol: String,
        priced: Long)(run: Long => DataFrame): Seq[String] = {
      val outs = gates.map { g =>
        val route = Stage.probeRoute(priced, g)
        assert(route == (if (g == 0L) "shuffled_probes" else "broadcast_probes"))
        val df = run(g)
        assert(probeJoins(df, keys, probeCol) == Seq(route),
          s"$what at gate $g must run $route; plan was:\n" +
            df.queryExecution.executedPlan)
        rows(df)
      }
      assert(outs.head.nonEmpty, s"$what answered nothing")
      assert(outs.head == outs.last, s"$what: shuffled and broadcast rows differ")
      outs.head
    }

    val path = java.nio.file.Files.createTempDirectory("graft_attach").toString
    KnnIndex.build(emb.filter($"vec_id" % 5 =!= 0), "vec_id", "embedding",
      path, nLists = 8, payloadCol = "label")
    KnnIndex.delete(emb.filter($"vec_id" % 7 === 1).select($"vec_id"),
      "vec_id", path)
    val neu = emb.filter($"vec_id" % 5 === 0)
    val n = neu.count()
    val allow = emb.filter($"vec_id" % 3 =!= 0).select($"vec_id")
    bothRoutes("knnJoinDelta", Seq("cell"), "id_a",
        KnnIndex.deltaProbeBytes(spark, path, n)) { g =>
      KnnIndex.deltaSearch(neu, "vec_id", "embedding", None, path, k = 3,
        nprobe = 4, kCand = 0, cellsPerSuper = 1, restrict = Some(allow),
        payloadIn = None, payloadWhere = None, gate = g)
    }
    bothRoutes("hardNegativesDelta", Seq("cell"), "id_a",
        KnnIndex.deltaProbeBytes(spark, path, n, payload = true)) { g =>
      KnnIndex.deltaSearch(neu, "vec_id", "embedding", Some("label"), path,
        k = 3, nprobe = 4, kCand = 0, cellsPerSuper = 1, restrict = None,
        payloadIn = Some(Seq(1, 3, 5)), payloadWhere = None, gate = g)
    }

    // signature index: the batch is a one-bit flip of every fifth stored
    // member, and half of those originals are tombstoned, so their
    // copies are re-judged against the surviving corpus
    val sigPath = java.nio.file.Files.createTempDirectory("graft_attach_sig").toString
    val hashes = emb.select($"vec_id".as("id"), xxhash64($"embedding").as("hash"))
    Multimodal.buildSigIndex(hashes, sigPath, bands = 4)
    Multimodal.deleteSig(emb.filter($"vec_id" % 10 === 0).select($"vec_id"),
      "vec_id", sigPath)
    val batch = hashes.filter($"id" % 5 === 0)
      .select(($"id" + 100000L).as("id"), $"hash".bitwiseXOR(lit(1L << 9)).as("hash"))
    val verdicts = bothRoutes("nearDupDelta", Seq("band", "bits"), "id_d",
        Multimodal.sigProbeBytes(batch.count(), 4)) { g =>
      Multimodal.nearDupDeltaAt(batch, sigPath, maxHamming = 3, gate = g)
    }
    // both verdicts occur: surviving originals drop their copy, and the
    // tombstoned ones' copies are kept
    assert(verdicts.exists(_.endsWith(",0]")) && verdicts.exists(_.endsWith(",1]")),
      s"verdicts: $verdicts")
  }
}
