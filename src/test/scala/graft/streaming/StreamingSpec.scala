package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.SparkSpec
import graft.streaming.EventStreams.{Event, Session}

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 00:$min%02d:$sec%02d")

  private val sample = Seq(
    Event(1, ts(0), 1, "click", 1.0),
    Event(2, ts(1), 1, "click", 2.0),
    Event(3, ts(2), 2, "view", 3.0),
    Event(4, ts(11), 1, "click", 4.0),
    Event(5, ts(12), 2, "view", 5.0),
    Event(6, ts(25), 1, "view", 6.0)
  )

  test("windowedCounts: streaming (complete mode) matches batch grouping") {
    val batch = EventStreams.windowedCounts(sample.toDF()).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(sample: _*)
    val q = EventStreams.windowedCounts(mem.toDF())
      .writeStream.format("memory").queryName("wc")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("wc").collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch)
    assert(batch.exists { case (_, t, n, _) => t == "click" && n == 2 }) // first window
  }

  test("trendingNgramsStream: SpaceSaving invariants over multi-batch ingest") {
    // two micro-batches of a Zipf-ish doc stream; after the second trigger
    // the complete-mode summary must satisfy the est/err sandwich and
    // contain every guaranteed hitter over EVERYTHING ingested so far
    val rng = new scala.util.Random(43)
    def draw() = "w" + math.floor(math.pow(20, rng.nextDouble()) - 1).toInt
    def doc(id: Long) = (id, (0 until 20).map(_ => draw()).mkString(" "))
    val batch1 = (0L until 60L).map(doc)
    val batch2 = (60L until 120L).map(doc)
    val counters = 48

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    // ONE query, two processed micro-batches: the second trigger merges
    // its partials into the streaming state through the aggregate's
    // merge rule — the cross-batch path under test
    val q = EventStreams.trendingNgramsStream(
        mem.toDF().toDF("doc_id", "text"), n = 2, k = counters, counters = counters)
      .writeStream.format("memory").queryName("trending")
      .outputMode("complete").start()
    mem.addData(batch1: _*); q.processAllAvailable()
    mem.addData(batch2: _*); q.processAllAvailable()
    q.stop()

    val approx = spark.table("trending")
      .as[(String, Long, Long)].collect()
    val exact = graft.operators.TextOps.topNgrams(
        (batch1 ++ batch2).toDF("doc_id", "text"), "doc_id", "text",
        n = 2, k = 1000000)
      .as[(String, Long)].collect().toMap
    val totalN = exact.values.sum
    approx.foreach { case (g, est, err) =>
      val truth = exact.getOrElse(g, 0L)
      assert(est >= truth && truth >= est - err, s"$g est=$est err=$err true=$truth")
    }
    val guaranteed = exact.filter(_._2 > totalN / counters).keySet
    val missing = guaranteed -- approx.map(_._1).toSet
    assert(guaranteed.nonEmpty && missing.isEmpty,
      s"guaranteed hitters missing after second batch: $missing")
  }

  test("sessionize (stateful stream) emits closed sessions matching batch semantics") {
    // user 1: events at 0,1 min then a >30min gap then 40 min → first session closes
    val events = Seq(
      Event(1, ts(0), 1, "click", 1.0),
      Event(2, ts(1), 1, "click", 1.0),
      Event(3, ts(40), 1, "click", 1.0),
      Event(4, ts(2), 2, "view", 1.0) // user 2: single session, open after the first run
    )
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val dir = java.nio.file.Files.createTempDirectory("graft_sessions").toString
    // each run drains what is available, then ends; the checkpoint carries
    // the open sessions and the watermark into the next run
    def drain(): StreamingQuery = {
      val q = EventStreams.sessionize(mem.toDS())
        .writeStream.format("parquet")
        .option("checkpointLocation", s"$dir/checkpoint")
        .outputMode("append").trigger(Trigger.AvailableNow()).start(s"$dir/sessions")
      try assert(q.awaitTermination(60000), "the AvailableNow query did not finish")
      finally q.stop()
      q
    }
    def emitted(): Array[Session] = spark.read.parquet(s"$dir/sessions").as[Session].collect()
    mem.addData(events: _*)
    drain()
    val closed = emitted()
    assert(closed.length == 1)
    assert(closed.head.user_id == 1 && closed.head.n_events == 2)
    assert(closed.head.session_start == ts(0) && closed.head.session_end == ts(1))

    // batch oracle: same gap rule over the same data
    val batch = EventStreams.sessionizeBatch(events.toDS()).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    assert(batch == Set(
      (1L, ts(0), ts(1), 2L),
      (1L, ts(40), ts(40), 1L),
      (2L, ts(2), ts(2), 1L)))

    // an event 2 h after the last one moves the watermark past both open
    // sessions: user 1's closes on the gap, user 2's on its event-time
    // timeout, which Spark fires once the watermark is past it
    val later = Event(5, Timestamp.valueOf("2024-01-01 02:40:00"), 1, "click", 1.0)
    mem.addData(later)
    val watermark = java.time.Instant.parse(
      drain().lastProgress.eventTime.get("watermark")).toEpochMilli
    val gapMs = 30 * 60 * 1000L
    val passed = EventStreams.sessionizeBatch((events :+ later).toDS()).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      .filter(_._3.getTime + gapMs < watermark)
    val streamed = emitted()
      .map(s => (s.user_id, s.session_start, s.session_end, s.n_events))
    assert(passed.length == 3 && streamed.length == 3 && streamed.toSet == passed.toSet,
      s"watermark ${new Timestamp(watermark)}: streamed ${streamed.toSeq}, " +
        s"batch sessions it passed ${passed.toSeq}")
  }

  test("streaming dedup collapses redelivered events within the watermark") {
    val dup = Seq(
      Event(1, ts(0), 1, "click", 1.0),
      Event(1, ts(0), 1, "click", 1.0), // exact redelivery
      Event(2, ts(1), 1, "view", 2.0),
      Event(2, ts(1, 30), 1, "view", 2.0), // same id, slightly later ts
      Event(3, ts(2), 2, "click", 3.0)
    )
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(dup: _*)
    val q = EventStreams.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val ids = spark.table("dedup").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L))
  }

  test("stream-static enrichment join broadcasts the dimension, matches batch") {
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "segment")
    val batch = EventStreams.enrich(sample.toDF(), dim, "user_id")
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[String]("segment"))).toSet

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(sample: _*)
    val q = EventStreams.enrich(mem.toDF(), dim, "user_id")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("enriched").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("segment"))).toSet
    assert(streamed == batch)
    assert(streamed.contains((1L, "gold")) && streamed.contains((2L, "basic")))
  }

  test("document profiling runs unchanged over a stream (stream/batch parity)") {
    val docs = Seq(
      (1L, "the cat and the dog sat on the mat with a hat"),
      (2L, "le chat est une idée grande et belle aussi")
    )
    val batch = EventStreams.profileDocsStream(docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getString(3))).toSet

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData(docs: _*)
    val q = EventStreams.profileDocsStream(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("docprof")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("docprof").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2), r.getString(3))).toSet
    assert(streamed == batch)
    assert(streamed.exists { case (id, _, lang, _) => id == 1L && lang == "en" })
    assert(streamed.exists { case (id, _, lang, _) => id == 2L && lang == "fr" })
  }

  test("classifier scoring: retrained weights hot-swap into a running stream") {
    import org.apache.spark.sql.functions.{length => flen, _}
    // The production cadence: a long-lived scoring stream applies whatever
    // the LATEST published weights are — retraining happens out-of-band and
    // swaps a reference the foreachBatch body reads at every micro-batch
    // (weights enter each batch's plan as literals, so a swap between
    // triggers re-codegens the next batch and never tears a batch in half).
    val feats = Seq(least(flen(col("text")) / lit(50.0), lit(2.0)))
    def corpus(n: Int) = (1 to n).map { i =>
      val good = i % 2 == 0
      (i.toLong, if (good) "a long quality document body here" * 3
                 else "spam".repeat(2))
    }.toDF("doc_id", "text")
    val label = when(col("text").contains("quality"), 1.0).otherwise(0.0)
    val w1 = graft.operators.Classifier.logisticFit(corpus(60), label, feats,
      iters = 5, lr = 2.0)
    val w2 = graft.operators.Classifier.logisticFit(corpus(400), label, feats,
      iters = 40, lr = 2.0)
    assert(!w1.sameElements(w2))

    val live = new java.util.concurrent.atomic.AtomicReference[Array[Double]](w1)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val scored = EventStreams.classifierScoreStream(batch, live.get(), feats)
          .select($"doc_id", $"p").as[(Long, Double)].collect()
        seen.synchronized { seen ++= scored.map(r => (id, r._1, r._2)) }
        (): Unit
      }
      .start()
    val arrivals = Seq((1L, "quality prose " * 10), (2L, "junk"))
    mem.addData(arrivals: _*); q.processAllAvailable()
    live.set(w2) // retrain published between triggers
    mem.addData(arrivals: _*); q.processAllAvailable()
    q.stop()

    def expect(w: Array[Double]) = EventStreams
      .classifierScoreStream(arrivals.toDF("doc_id", "text"), w, feats)
      .select($"doc_id", $"p").as[(Long, Double)].collect().toMap
    val batches = seen.groupBy(_._1).toSeq.sortBy(_._1).map(_._2)
    assert(batches.size == 2)
    val (e1, e2) = (expect(w1), expect(w2))
    assert(batches(0).forall { case (_, id, p) => p == e1(id) },
      s"pre-swap batch != w1 scores: ${batches(0)} vs $e1")
    assert(batches(1).forall { case (_, id, p) => p == e2(id) },
      s"post-swap batch != w2 scores: ${batches(1)} vs $e2")
    // and the swap was observable: the same doc scored differently
    assert(e1(1L) != e2(1L))
  }

  test("classifier scoring: batch-trained weights score the stream identically") {
    import org.apache.spark.sql.functions.{length => flen, _}
    // offline: fit on a separable corpus (label = text mentions 'quality')
    val corpus = (1 to 200).map { i =>
      val good = i % 2 == 0
      (i.toLong, if (good) "a long quality document body here" * 3
                 else "spam".repeat(2))
    }.toDF("doc_id", "text")
    val feats = Seq(least(flen(col("text")) / lit(50.0), lit(2.0)))
    val w = graft.operators.Classifier.logisticFit(corpus,
      when(col("text").contains("quality"), 1.0).otherwise(0.0),
      feats, iters = 30, lr = 2.0)
    // arriving docs: one good, one spammy
    val arrivals = Seq((1L, "quality prose " * 10), (2L, "junk"))
    val batch = EventStreams.classifierScoreStream(
        arrivals.toDF("doc_id", "text"), w, feats)
      .select($"doc_id", $"p", $"keep").as[(Long, Double, Boolean)]
      .collect().toSet
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData(arrivals: _*)
    val q = EventStreams.classifierScoreStream(
        mem.toDF().toDF("doc_id", "text"), w, feats)
      .select($"doc_id", $"p", $"keep")
      .writeStream.format("memory").queryName("clfscore")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("clfscore")
      .as[(Long, Double, Boolean)].collect().toSet
    assert(streamed == batch, s"stream $streamed != batch $batch")
    assert(batch.exists { case (id, _, keep) => id == 1L && keep })
    assert(batch.exists { case (id, _, keep) => id == 2L && !keep })
  }

  test("hashed-DSIR scoring: batch-mined bucket weights score the stream identically") {
    import org.apache.spark.sql.functions._
    // target slice talks about telescopes; background about cooking
    val corpus = (1 to 100).map { i =>
      if (i % 2 == 0) (i.toLong, "telescope mirror optics star galaxy lens " * 3, true)
      else (i.toLong, "flour butter oven sugar recipe whisk " * 3, false)
    }.toDF("doc_id", "text", "is_target")
    val w = graft.operators.Classifier.dsirBucketWeights(
      corpus, col("text"), col("is_target"), buckets = 512)
    assert(w.length == 512)
    val arrivals = Seq(
      (1L, "star galaxy telescope optics"), (2L, "butter sugar oven flour"))
    val batch = EventStreams.dsirScoreStream(arrivals.toDF("doc_id", "text"), w)
      .select($"doc_id", $"dsir_weight").as[(Long, Double)].collect().toMap
    // the target-like doc must outscore the background-like doc
    assert(batch(1L) > 0 && batch(2L) < 0 && batch(1L) > batch(2L), s"$batch")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData(arrivals: _*)
    val q = EventStreams.dsirScoreStream(mem.toDF().toDF("doc_id", "text"), w)
      .select($"doc_id", $"dsir_weight")
      .writeStream.format("memory").queryName("dsirscore")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("dsirscore").as[(Long, Double)].collect().toMap
    assert(streamed == batch, s"stream $streamed != batch $batch")
  }

  test("boilerplate filter: batch-mined blocklist flags the stream identically") {
    val boiler = "SUBSCRIBE-TO-OUR-NEWSLETTER-TODAY"
    // offline corpus mines the blocklist; docs 10/11 share the boilerplate
    val mined = Seq(
      (10L, boiler + " some page body here"),
      (11L, "other page text " + boiler + "!"),
      (12L, "completely original body with no repeats at all")
    ).toDF("doc_id", "text")
    // mod-p mining: the two boiler occurrences sit at MISALIGNED offsets
    // (1 and 17), which a stride grid cannot pair — content-defined
    // selection pairs them at any alignment
    val blocklist = graft.operators.TextOps.hotWindows(
      mined, "doc_id", "text", winLen = 20, stride = 5, minFreq = 2, modP = 5)
    assert(blocklist.count() >= 1, "blocklist should contain boiler windows")
    // arriving docs: 1 carries the boilerplate, 2 is clean, 3 is short
    val arrivals = Seq(
      (1L, "fresh article " + boiler + " trailing content"),
      (2L, "a genuinely novel document body with new words"),
      (3L, "tiny"))
    val batch = EventStreams.boilerplateFilterStream(
        arrivals.toDF("doc_id", "text"), blocklist)
      .select($"doc_id", $"flagged").as[(Long, Boolean)].collect().toMap
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData(arrivals: _*)
    val q = EventStreams.boilerplateFilterStream(
        mem.toDF().toDF("doc_id", "text"), blocklist)
      .select($"doc_id", $"flagged")
      .writeStream.format("memory").queryName("boilerflag")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("boilerflag").as[(Long, Boolean)].collect().toMap
    assert(streamed == batch, s"stream $streamed != batch $batch")
    assert(batch == Map(1L -> true, 2L -> false, 3L -> false), s"$batch")
  }

  test("streaming span decontamination: in-row interval merge matches batch") {
    val evalSent = "WHAT-IS-THE-CAPITAL-OF-FRANCE-PARIS-IS-THE-ANSWER-HERE!"
    val evalDf = Seq((900L, evalSent + " benchmark framing")).toDF("doc_id", "text")
    val trains = Seq(
      (1L, "xy. " + evalSent + " and training prose"),    // misaligned leak
      (2L, "an independent training document with its own clean words"),
      (3L, "tiny"),                                        // shorter than winLen
      (4L, evalSent + "abc" + evalSent))                   // two merged-or-split spans
    val evalW = graft.operators.TextOps.hotWindows(
      evalDf, "doc_id", "text", winLen = 20, stride = 5, minFreq = 1, modP = 5)
    val batch = graft.operators.TextOps.decontaminateSpans(
        trains.toDF("doc_id", "text"), "doc_id", "text",
        evalDf, "doc_id", "text", winLen = 20, stride = 5, modP = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData(trains: _*)
    val q = EventStreams.decontaminateSpansStream(
        mem.toDF().toDF("doc_id", "text"), evalW, winLen = 20, modP = 5)
      .select($"doc_id", $"n_spans", $"removed_chars")
      .writeStream.format("memory").queryName("spandecon")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.table("spandecon").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // batch drops sub-window docs; the stream passes them through unflagged
    assert(streamed(3L) == ((0L, 0L)), s"short doc flagged: ${streamed(3L)}")
    batch.foreach { case (id, exp) =>
      assert(streamed(id) == exp, s"doc $id: stream ${streamed(id)} != batch $exp") }
    assert(batch(1L)._1 >= 1, s"planted leak not flagged in batch: ${batch(1L)}")
  }

  test("winnow-mined blocklist + all-window stream probe keeps the certainty guarantee") {
    // eval side mines winnow-SELECTED windows; arriving docs probe ALL
    // stride-1 windows (modP = 0) — any leaked span >= winLen + k - 1
    // contains an eval-selected window, so detection stays certain at any
    // alignment (the stream-side analogue of q84)
    val leak = "SHARED-EVAL-SPAN-24-CHAR" // winLen + k - 1 = 24 exactly
    val evalDf = Seq((900L, "eval framing " + leak + " more eval text here"))
      .toDF("doc_id", "text")
    val evalW = graft.operators.TextOps.hotWindows(
      evalDf, "doc_id", "text", winLen = 20, minFreq = 1, winnowK = 5)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    mem.addData(
      (1L, "abcdefg " + leak + " unrelated training prose follows"), // misaligned
      (2L, "an independent training document with its own clean words"))
    val q = EventStreams.decontaminateSpansStream(
        mem.toDF().toDF("doc_id", "text"), evalW, winLen = 20, modP = 0)
      .select($"doc_id", $"n_spans", $"removed_chars")
      .writeStream.format("memory").queryName("winnowdecon")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val got = spark.table("winnowdecon").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L)._1 >= 1 && got(1L)._2 >= 20, s"guaranteed leak missed: ${got(1L)}")
    assert(got(2L) == ((0L, 0L)), s"clean doc flagged: ${got(2L)}")
  }

  test("streaming decontamination: stream-static shingle join matches batch overlap") {
    val evalDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")
    ).toDF("doc_id", "text")
    val trainDocs = Seq(
      (100L, "alpha beta gamma delta other words here"), // 3 shared trigrams
      (101L, "something alpha beta gamma unrelated"),    // 1 shared trigram
      (102L, "completely clean document with no overlap at all")
    )
    val batch = graft.operators.Contamination.overlap(
        trainDocs.toDF("doc_id", "text"), "doc_id", "text",
        evalDocs, "doc_id", "text", shingleLen = 3, minShared = 2)
      .select($"train_id", $"n_shared")
      .as[(Long, Long)].collect().toSet

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.decontaminateStream(
        mem.toDF().toDF("doc_id", "text"), evalDocs, minShared = 2)
      .writeStream.format("memory").queryName("decontam")
      .outputMode("update").start()
    mem.addData(trainDocs.take(2): _*)
    q.processAllAvailable()
    mem.addData(trainDocs.drop(2): _*)
    q.processAllAvailable()
    q.stop()
    // update mode re-emits a doc's row as its count grows; the final value
    // per doc is the max
    val streamed = spark.table("decontam").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (id, rows) => (id, rows.map(_._2).max) }.toSet
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed.exists(_._1 == 100L) && !streamed.exists(_._1 == 102L))
  }

  test("stream-stream interval join: purchases attribute to preceding clicks, batch parity") {
    val clicks = Seq(
      Event(10, ts(0), 1, "click", 0.0),
      Event(11, ts(5), 1, "click", 0.0),
      Event(12, ts(0), 2, "click", 0.0))
    val purchases = Seq(
      Event(20, ts(3), 1, "purchase", 9.0),   // within 10 min of clicks 10 and 11? 10 yes (3<10), 11 no (before it)
      Event(21, ts(14), 1, "purchase", 7.0),  // within 10 min of click 11 only
      Event(22, ts(40), 2, "purchase", 5.0))  // 40 min after click 12 — outside
    val batch = EventStreams.attributeStream(clicks.toDF(), purchases.toDF())
      .select($"click_id", $"purchase_id", $"value").as[(Long, Long, Double)]
      .collect().toSet
    assert(batch == Set((10L, 20L, 9.0), (11L, 21L, 7.0)))

    implicit val sqlCtx = spark.sqlContext
    val memC = MemoryStream[Event]; val memP = MemoryStream[Event]
    val q = EventStreams.attributeStream(memC.toDF(), memP.toDF())
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").trigger(Trigger.AvailableNow())
    memC.addData(clicks: _*)
    memP.addData(purchases: _*)
    // advance both watermarks far past every event so all joins emit
    memC.addData(Event(99, ts(59), 9, "click", 0.0))
    memP.addData(Event(98, ts(59), 9, "purchase", 0.0))
    val qq = q.start()
    qq.awaitTermination(60000)
    val streamed = spark.table("attrib")
      .select($"click_id", $"purchase_id", $"value").as[(Long, Long, Double)]
      .collect().toSet
    // the watermark-advancing sentinel events join each other (user 9, 0 gap)
    assert(streamed - ((99L, 98L, 0.0)) == batch, s"streamed=$streamed")
  }

  test("streaming near-dup filter: dups flagged against admitted docs, batch parity") {
    // 1 and 2 share all but one word (near-identical simhash); 3 is distinct;
    // 4 arrives later and duplicates 1 exactly
    val b1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again today"),
      (2L, "the quick brown fox jumps over the lazy cat again and again today"),
      (3L, "completely unrelated text about spark catalyst optimizer internals"))
    val b2 = Seq(
      (4L, "the quick brown fox jumps over the lazy dog again and again today"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.nearDupFilterStream(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("neardup")
      .outputMode("append").start()
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("neardup").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    // reference implementation over the real signatures, in arrival order
    import org.apache.spark.sql.functions.{lower, split, trim}
    val sigs = (b1 ++ b2).toDF("doc_id", "text").select($"doc_id",
        graft.functions.HashExpressions.simhash64(
          split(trim(lower($"text")), "\\s+")).as("sig"))
      .as[(Long, Long)].collect().toMap
    def reference(order: Seq[Long]): Map[Long, (Boolean, Long)] = {
      var seen = Map.empty[Long, List[(Long, Long)]].withDefaultValue(Nil)
      order.map { id =>
        val sig = sigs(id); val bucket = sig >>> 48
        seen(bucket).find { case (s, _) =>
          java.lang.Long.bitCount(s ^ sig) <= 8 } match {
          case Some((_, admitted)) => id -> ((true, admitted))
          case None =>
            seen = seen.updated(bucket, (sig, id) :: seen(bucket))
            id -> ((false, -1L))
        }
      }.toMap
    }
    val expected = reference(b1.map(_._1).sorted ++ b2.map(_._1).sorted)
    assert(got == expected, s"got=$got expected=$expected")
    // the structural guarantees regardless of hash specifics:
    assert(got(1L) == ((false, -1L)), "first arrival is admitted")
    assert(got(4L) == ((true, 1L)), "exact text dup flagged cross-batch against doc 1")
    // batch parity: same docs, one pass, same verdicts (ids arrive sorted)
    val batch = EventStreams.nearDupFilterStream((b1 ++ b2).toDF("doc_id", "text"))
      .collect().map(v => v.doc_id -> ((v.is_dup, v.dup_of))).toMap
    assert(batch == got)
  }

  test("streaming semantic filter: leader dedup at ingest, chain divergence from batch") {
    // u + k·δ·e1: collinear points — a~b and b~c within tau, a~c outside it;
    // all three land in portable-IVF cluster 3 (asserted below)
    val u = Seq.fill(64)(0.1f)
    val a = u
    val b = (u.head + 0.235f) +: u.tail
    val c = (u.head + 0.470f) +: u.tail
    val ortho = 0.0f +: 1.0f +: Seq.fill(62)(0.0f)
    val zero = Seq.fill(64)(0.0f)
    Seq(a, b, c).foreach { v =>
      assert(graft.functions.VectorExpressions
        .portableIvfAssignLocal(v.map(_.toDouble), 4) == 3, "chain split across clusters")
    }
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Float])]
    // a streaming frame cannot be sampled pre-start, so the width is
    // explicit here — the dims0 = 0 default derives it on batch frames
    val q = EventStreams.semanticDedupFilterStream(
        mem.toDF().toDF("vec_id", "embedding"), nLists = 4, tau = 0.95,
        dims = 64)
      .writeStream.format("memory").queryName("semdedup")
      .outputMode("append").start()
    mem.addData((1L, a), (2L, b), (3L, c), (4L, ortho), (9L, zero))
    q.processAllAvailable()
    mem.addData((5L, a)) // exact dup of 1, next micro-batch
    q.processAllAvailable()
    q.stop()
    val got = spark.table("semdedup").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(2), r.getLong(3)))).toMap
    assert(!got.contains(9L), s"zero-norm vector emitted: $got")
    assert(got(1L) == ((false, -1L)), s"leader not admitted: $got")
    assert(got(2L) == ((true, 1L)), s"near-dup of leader not flagged: $got")
    // the documented leader-vs-batch divergence: c is outside tau of the
    // only ADMITTED rep (a), so the stream admits it...
    assert(got(3L) == ((false, -1L)), s"chain tail not admitted by stream: $got")
    assert(got(4L) == ((false, -1L)), s"distinct vector flagged: $got")
    assert(got(5L) == ((true, 1L)), s"cross-batch exact dup not flagged: $got")
    // ...while the batch rule drops c through the dropped-but-earlier b
    val batch = graft.operators.Similarity.semanticDedup(
        Seq((1L, a), (2L, b), (3L, c), (4L, ortho)).toDF("vec_id", "embedding"),
        "vec_id", "embedding", nLists = 4, tau = 0.95)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(batch(3L) == 0L, s"batch should drop the chain tail: $batch")
    // chain-free parity: on {a, its dup, ortho} stream admitted == batch kept
    val chainFree = Seq((1L, a), (2L, a), (4L, ortho))
    val streamed = EventStreams.semanticDedupFilterStream(
        chainFree.toDF("vec_id", "embedding"), nLists = 4, tau = 0.95)
      .collect().filter(!_.is_dup).map(_.vec_id).toSet
    val batchKept = graft.operators.Similarity.semanticDedup(
        chainFree.toDF("vec_id", "embedding"), "vec_id", "embedding",
        nLists = 4, tau = 0.95)
      .collect().filter(_.getLong(2) == 1L).map(_.getLong(0)).toSet
    assert(streamed == batchKept, s"stream=$streamed batch=$batchKept")
  }

  test("near-dup TTL: eviction forgets ONLY docs older than the horizon") {
    // TTL = 10 min. doc 1 admitted at t=0; doc 2 (exact dup) at t=5min is
    // INSIDE the horizon → flagged; doc 3 (exact dup) at t=20min is past it
    // (horizon 20−10=10min > t(1)=0) → original evicted, 3 re-admitted as
    // the bucket's new blocker; doc 4 at t=25min then flags against 3, not 1.
    val dup = "the quick brown fox jumps over the lazy dog again and again today"
    val b1 = Seq((1L, dup, ts(0)), (2L, dup, ts(5)),
      (5L, "completely unrelated text about spark catalyst optimizer internals", ts(6)))
    val b2 = Seq((3L, dup, ts(20)), (4L, dup, ts(25)))
    val expected = Map(
      1L -> ((false, -1L)), 2L -> ((true, 1L)), 5L -> ((false, -1L)),
      3L -> ((false, -1L)), 4L -> ((true, 3L)))

    def toDf(rows: Seq[(Long, String, Timestamp)]) =
      rows.toDF("doc_id", "text", "ts")
    val ttl = 10 * 60 * 1000L

    val batch = EventStreams.nearDupFilterStreamTtl(toDf(b1 ++ b2), ttlMs = ttl)
      .collect().map(v => v.doc_id -> ((v.is_dup, v.dup_of))).toMap
    assert(batch == expected, s"batch=$batch")

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val q = EventStreams.nearDupFilterStreamTtl(
        mem.toDF().toDF("doc_id", "text", "ts"), ttlMs = ttl)
      .writeStream.format("memory").queryName("neardup_ttl")
      .outputMode("append").start()
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("neardup_ttl").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
    assert(streamed == expected, s"streamed=$streamed")
  }

  test("file-source streaming reads the events table incrementally") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    // testdata events carry NANOS timestamps — stage through our accessor
    val src = graft.sources.TestTables.events(spark, "/root/testdata/sf0.001")
    src.limit(100).write.mode("overwrite").parquet(dir)
    val counts = EventStreams.windowedCounts(
      EventStreams.readEventsStream(spark, dir), windowLen = "1 hour")
    val q = counts.writeStream.format("memory").queryName("filewc")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    assert(spark.table("filewc").agg(org.apache.spark.sql.functions.sum("n_events"))
      .head().getLong(0) == 100L)
  }
}
