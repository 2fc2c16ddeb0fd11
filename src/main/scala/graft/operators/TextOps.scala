package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language identification, and document
  * fingerprinting. All are pure `Column` expressions — whole-stage-codegen'd,
  * no UDFs, embarrassingly parallel at any scale — and every one is
  * SQL-expressible so the DuckDB oracle can check them exactly.
  */
object TextOps {

  /** Whitespace tokenization (the BPE-ish regex variant splits punctuation
    * off as its own tokens). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0)).otherwise(size(tokens(text)))

  /** Sub-word token count under a BPE-ish regex: runs of letters, runs of
    * digits, or single non-alphanumeric non-space characters. Formulated with
    * `regexp_extract_all` (no lookarounds) so RE2-based engines — including
    * the DuckDB oracle — compute the identical count. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Compression-ratio quality signal (per doc): deflate_bytes / n_bytes
    * at zlib level 6 — highly repetitive text (boilerplate, spam, tag
    * soup) compresses far below natural prose, a standard cheap
    * pretraining filter feature. Scan-local, zero shuffle; the one
    * spec-gated TextOps member (no zlib in ANSI SQL), ratio NULL for
    * empty docs. Returns (id, n_bytes, deflate_bytes, ratio). */
  def compressionSignal(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.HashExpressions.deflate_stats(col(textCol)).as("ds"))
      .select(col("id"),
        col("ds.n_bytes").cast("long").as("n_bytes"),
        col("ds.deflate_bytes").cast("long").as("deflate_bytes"),
        round(col("ds.deflate_bytes").cast("double") / col("ds.n_bytes"), 4)
          .as("ratio"))

  /** Ratio of punctuation chars to all chars, 4 decimals. */
  def punctRatio(text: Column): Column =
    round(length(regexp_replace(text, "[^.,;:!?'\"()-]", "")) /
      greatest(length(text), lit(1)).cast("double"), 4)

  /** Mean whitespace-token length, 4 decimals. */
  def avgWordLen(text: Column): Column =
    round(length(regexp_replace(text, "\\s+", "")) /
      greatest(tokenCount(text), lit(1)).cast("double"), 4)

  private val Stopwords =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "for", "on", "with", "as")

  /** Fraction of whitespace tokens that are English stopwords, 4 decimals. */
  def stopwordRatio(text: Column): Column = {
    val toks = tokens(lower(text))
    round(hits(toks, Stopwords) / greatest(size(toks), lit(1)).cast("double"), 4)
  }

  /** Composite quality score in [0,1]: length sweet-spot, moderate
    * punctuation, presence of stopwords — the usual cheap heuristics used to
    * filter web text before training. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text) / lit(500.0), lit(1.0))
    val punctOk = when(punctRatio(text) < 0.2, lit(1.0)).otherwise(lit(0.5))
    val stopOk = when(stopwordRatio(text) > 0.01, lit(1.0)).otherwise(lit(0.6))
    round(lenScore * lit(0.5) + punctOk * lit(0.25) + stopOk * lit(0.25), 4)
  }

  /** Per-language marker words for the n-gram/stopword language-ID
    * heuristic. Tiny by design: language ID over web text at 100 TB must stay
    * a scan-local expression; a real model slots in behind the same column
    * contract. */
  private val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "with"),
    "de" -> Seq("der", "die", "und", "ist", "nicht"),
    "fr" -> Seq("le", "la", "les", "est", "une"),
    "es" -> Seq("el", "los", "es", "una", "como"),
    "zh" -> Seq("的", "是", "不", "了", "在")
  )

  /** Marker-hit count for one word list — a native one-pass set-membership
    * count ([[graft.functions.TextExpressions.MarkerCounts]]); the
    * `size(filter(_, isin))` formulation is an interpreted higher-order
    * function and pulls its whole projection out of codegen. */
  private def hits(toks: Column, words: Seq[String]): Column =
    element_at(graft.functions.TextExpressions.marker_counts(toks, Seq(words)), 1)

  /** Heuristic language ID from a precomputed lowercase token array: the
    * language with the most marker-word hits, first-listed wins ties, 'und'
    * (undetermined) when no marker hits. Pass a *materialized* token column
    * (own projection step) — this expression walks the array once per
    * language, and an inlined split would be re-evaluated each time. */
  def langIdFromTokens(tk: Column): Column = {
    val scored = LangMarkers.map { case (lang, ws) => (lang, hits(tk, ws)) }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    scored.reverse.foldLeft(lit("und")) { case (acc, (lang, h)) =>
      when(h > 0 && h === best, lit(lang)).otherwise(acc)
    }
  }

  /** Heuristic language ID of raw text (see [[langIdFromTokens]]). */
  def langId(text: Column): Column = langIdFromTokens(tokens(lower(text)))

  /** Dataframe-level language ID, staged for throughput: tokens → per-language
    * hit-count columns → winner CASE. Each stage is a real projection, so the
    * token array is split once and each hit count is one array pass — the
    * single-expression [[langId]] re-evaluates hits ~6× via the shared
    * `greatest` subtree (fine for a few rows, not for a corpus). */
  def langIdFrame(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // one native pass computes every language's hit count at once
    val hitCols = LangMarkers.zipWithIndex.map { case ((lang, _), i) =>
      element_at(col("h"), i + 1).as(s"h_$lang")
    }
    val best = LangMarkers.map { case (lang, _) => col(s"h_$lang") }
      .reduce((a, b) => greatest(a, b))
    val winner = LangMarkers.reverse.foldLeft(lit("und")) { case (acc, (lang, _)) =>
      when(col(s"h_$lang") > 0 && col(s"h_$lang") === best, lit(lang)).otherwise(acc)
    }
    // tokenize ABOVE the width exchange (the r15 wide-born rule, as in
    // Dedup.tokenFrame): a narrow input repartitions the RAW (id, text)
    // rows, so the split runs at session parallelism instead of inside the
    // lone file split and the exchange carries compact text, not the
    // fatter token arrays. Catalyst keeps expressions above a repartition.
    Stage.ensureWide(df.select(col(idCol), col(textCol)))
      .select(col(idCol), tokens(lower(col(textCol))).as("tk"))
      .select(col(idCol),
        graft.functions.TextExpressions.marker_counts(col("tk"), LangMarkers.map(_._2)).as("h"))
      .select(col(idCol) +: hitCols: _*)
      .select(col(idCol), winner.as("lang_guess"))
  }

  /** Normalized-content fingerprint: md5 of lowercased,
    * whitespace-collapsed, trimmed text. md5 (not xxhash64) so any engine —
    * including the DuckDB oracle — computes the identical fingerprint. */
  def fingerprint(text: Column): Column =
    md5(to_binary(trim(regexp_replace(lower(text), "\\s+", " ")), lit("utf-8")))

  /** Sliding-window document chunking: split each document into
    * `chunkSize`-token chunks overlapping by `overlap` tokens — the standard
    * context-window preparation step. Chunk `i` covers token positions
    * `[i·step, i·step + chunkSize)` with `step = chunkSize − overlap`;
    * the chunk count is `ceil(max(n − overlap, 1) / step)`, so a short
    * document yields exactly one chunk and the final chunk always reaches
    * the last token. Entirely built-in expressions (explode + slice +
    * concat_ws): codegen'd, scan-local, one row per chunk. */
  def chunkFrame(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 50, overlap: Int = 10): DataFrame = {
    require(overlap >= 0 && overlap < chunkSize, "need 0 <= overlap < chunkSize")
    val step = chunkSize - overlap
    df.select(col(idCol), tokens(trim(lower(col(textCol)))).as("tk"))
      .withColumn("n", size(col("tk")))
      .withColumn("cnt",
        ceil(greatest(col("n") - overlap, lit(1)).cast("double") / step).cast("int"))
      .select(col(idCol), col("tk"), col("n"),
        posexplode(sequence(lit(0), col("cnt") - 1)))
      .select(col(idCol), col("pos").as("chunk_idx"),
        concat_ws(" ", slice(col("tk"), col("pos") * step + 1, lit(chunkSize))).as("chunk_text"),
        least(col("n") - col("pos") * step, lit(chunkSize)).cast("long").as("n_tokens"))
  }

  /** Sequential-fill context packing: within each `groupCol`, documents are
    * taken in `idCol` order and assigned to the bin in which their first
    * token lands under a running token count — `bin = floor((cumsum − n) /
    * capacity)`. Deterministic, one window per group (parallel across
    * groups; packing is inherently order-serial within one), SQL-mirrorable
    * for the oracle. A bin may overrun capacity by at most one document's
    * tail — the usual trade for single-pass packing. */
  def packBins(df: DataFrame, idCol: String, textCol: String, groupCol: String,
      capacity: Int = 2000): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(idCol))
    df.select(col(idCol), col(groupCol), tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin", floor((col("cum") - col("n_tokens")) / capacity).cast("long"))
  }

  /** Exact repeated-substring statistics — the window-level twin of
    * document-level dedup (the technique of "Deduplicating Training Data
    * Makes Language Models Better", Lee et al. 2022: corpus-duplicated
    * SPANS, not just duplicated documents, drive memorization). Each
    * document emits its length-`winLen` character windows at `stride`
    * spacing; a window is "duplicated" when it occurs at least `minFreq`
    * times across the corpus (within-document repeats count — boilerplate
    * repeated inside one page is exactly what this flags). Output per
    * document: window count, duplicated-window count, and the duplicated
    * fraction — the per-doc signal a cleaning pipeline thresholds on.
    *
    * Scale shape: window frequencies come from ONE window-count over a
    * SIZED hash exchange on the window string ([[dupWindowInstances]] —
    * the r8 rebuild that removed a measured 16.7 GB of aggregate spill at
    * 500k docs; see there for the state math), and `n_windows` is
    * CLOSED-FORM from the document length — no second pass over the
    * window stream. Windows key the shuffle as plain substrings (winLen
    * bytes, engine-portable byte equality), so the whole pipeline
    * replays in the ANSI oracle. The stride grid is ALIGNMENT-SENSITIVE
    * (see [[spanWindows]]) — misaligned cross-doc duplicates can be
    * missed; `modP > 0` switches to content-defined mod-p window
    * selection, which detects duplicated spans at ANY alignment for the
    * same expected volume (p ≈ stride). */
  def repeatedWindowStats(df: DataFrame, idCol: String, textCol: String,
      winLen: Int = 20, stride: Int = 5, minFreq: Long = 2,
      modP: Int = 0): DataFrame = {
    require(winLen >= 1 && stride >= 1, "need winLen >= 1 and stride >= 1")
    val t = df.select(col(idCol).as("id"), col(textCol).as("s"))
      .filter(length(col("s")) >= winLen)
    val wins = spanWindows(t, winLen, stride, modP).select(col("id"), col("w"))
    val perDoc = dupWindowInstances(wins, minFreq,
        windowExpansion(winLen, stride, modP, winnowK = 0))
      .groupBy(col("id")).agg(count(lit(1)).as("n_dup"))
      .hint("SHUFFLE_HASH")
    // stride grid: window count is CLOSED-FORM from doc length (no second
    // pass); mod-p selection is content-dependent, so count the stream
    val nwin =
      if (modP <= 0) t.select(col("id"),
        (floor((length(col("s")) - winLen) / stride) + 1).cast("long").as("n_windows"))
      else t.select(col("id"))
        .join(wins.groupBy(col("id")).agg(count(lit(1)).as("nw")), Seq("id"), "left")
        .select(col("id"), coalesce(col("nw"), lit(0L)).as("n_windows"))
    nwin.join(perDoc, Seq("id"), "left")
      .select(col("id"), col("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        when(col("n_windows") === 0, lit(0.0)).otherwise(
          round(coalesce(col("n_dup"), lit(0L)).cast("double") / col("n_windows"), 4))
          .as("dup_ratio"))
  }

  /** The removal half of span-level dedup: merge each document's
    * corpus-duplicated windows (the [[repeatedWindowStats]] detection) into
    * maximal character intervals — classic gaps-and-islands over (start,
    * end) pairs — and report what a cleaning pass would cut (both engines
    * produce the same merged intervals, so the oracle replays the merge
    * exactly as a windowed gaps-and-islands). Output per document: char
    * count, merged duplicated-span count, chars those spans cover, and the
    * kept fraction — the numbers a pipeline thresholds on before the
    * (engine-local) splice that actually cuts the text.
    *
    * Scale: frequency gating is the sized window-count of
    * [[dupWindowInstances]] (zero aggregate state per JVM), and the merge
    * is the sized in-sort streaming pass of [[mergedSpanArrays]] (zero
    * aggregate state there too) — two sized hash exchanges total (window
    * string, then doc id), no per-doc window frames over the exploded
    * stream, no global sort anywhere, accounting read in-row off the
    * merged array. */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
      winLen: Int = 20, stride: Int = 5, minFreq: Long = 2,
      modP: Int = 0, portableSel: Boolean = true,
      winnowK: Int = 0): DataFrame = {
    val t = df.select(col(idCol).as("id"), col(textCol).as("s"))
      .filter(length(col("s")) >= winLen)
    spanAccounting(t,
      mergedDupSpans(t, winLen, stride, minFreq, modP, portableSel, winnowK))
  }

  /** The (id, start, window) stream every span operator builds on.
    *
    * Two selection modes. `modP = 0` (default): fixed-stride grid — fast
    * (len/stride windows/doc) but ALIGNMENT-SENSITIVE: two occurrences of
    * the same span only share a window string when their offsets agree
    * modulo the stride, so cross-document duplicates at arbitrary offsets
    * can be missed entirely (each occurrence's grid hits one residue class
    * of span-relative positions). Right for templated corpora (shared
    * prefixes/suffixes, whole-doc dups, aligned tandem repeats) and for
    * the exact accounting the oracles replay. `modP = p > 0`:
    * CONTENT-DEFINED selection — all stride-1 windows, keep those whose
    * md5 head ≡ 0 (mod p), the mod-p flavor of winnowing fingerprint
    * selection. Both occurrences of a span select the same span-relative
    * windows REGARDLESS of alignment (selection depends only on window
    * content), expected volume len/p per doc, and md5 keeps the rule
    * replayable in the ANSI oracle. A span of length L ≥ winLen contains
    * L − winLen + 1 windows, each selected with rate 1/p, so a duplicated
    * span of length ≥ winLen + a few·p is detected with near-certainty at
    * any alignment. */
  private[operators] def spanWindows(t: DataFrame, winLen: Int, stride: Int,
      modP: Int, portableSel: Boolean = true,
      useNative: Boolean = true): DataFrame = {
    val wide = widenForExpansion(t, windowExpansion(winLen, stride, modP, 0))
    // selection hash: md5 replays in the ANSI oracle (the default the
    // oracled queries pin); xxhash64 is an alternative hash family with
    // identical recall math (selection is content-defined either way).
    // The md5 default runs through the native ModPStarts expression — one
    // O(n) in-row pass, only the ~n/p SELECTED starts ever explode,
    // bit-identical to the HOF filter (which posexplodes ALL ~135M
    // stride-1 window strings at 500k docs before filtering — the
    // measured bulk of the mod-p premium). `useNative = false` keeps the
    // HOF formulation as the executable spec the cross-check test pins
    // the expression against.
    if (modP > 0 && portableSel && useNative)
      wide
        .select(col("id"), col("s"),
          explode(graft.functions.HashExpressions.mod_p_starts(
            col("s"), winLen, modP)).as("start"))
        .select(col("id"), col("start"),
          col("s").substr(col("start"), lit(winLen)).as("w"))
    else {
      val step = if (modP > 0) 1 else stride
      val base = wide
        .select(col("id"), posexplode(transform(
          sequence(lit(1), length(col("s")) - (winLen - 1), lit(step)),
          i => col("s").substr(i, lit(winLen)))))
        .select(col("id"), (col("pos") * step + 1).as("start"), col("col").as("w"))
      if (modP > 0 && portableSel)
        base.filter(
          conv(substring(md5(to_binary(col("w"), lit("utf-8"))), 1, 8), 16, 10)
            .cast("long") % modP === 0)
      else if (modP > 0)
        base.filter(pmod(xxhash64(col("w")), lit(modP.toLong)) === 0)
      else base
    }
  }

  /** TRUE winnowing (Schleimer et al. 2003, the MOSS fingerprinting
    * algorithm): every frame of `k` consecutive stride-1 windows selects
    * its minimum-hash window (leftmost on ties — `array_position` is
    * first-occurrence in both engines, so the oracle replays the
    * tie-break). Strictly stronger than mod-p selection: still
    * content-defined (alignment-free), but with a DENSITY GUARANTEE — one
    * selected window in every k consecutive positions, so no duplicated
    * span of length ≥ winLen + k − 1 can escape (mod-p only detects with
    * probability 1 − (1 − 1/p)^spanWindows). Expected density ≈ 2/(k+1).
    *
    * Computed ENTIRELY IN-ROW — no shuffle, no per-doc window sort; only
    * the selected windows explode. The default path is the native
    * [[graft.functions.HashExpressions.WinnowStarts]] expression: one O(n)
    * monotonic-deque pass per document, BIT-IDENTICAL in hash (md5 head)
    * and tie-break (leftmost) to the higher-order-function formulation the
    * q82 oracle replays in ANSI SQL — so the fast path IS the portable
    * path. `useNative = false` keeps the O(n·k) HOF formulation
    * (slice + array_min + array_position per frame) as the executable spec
    * the cross-check test pins the native expression against. Returns the
    * same (id, start, w) contract as [[spanWindows]]. */
  private[operators] def winnowWindows(t: DataFrame, winLen: Int,
      k: Int, useNative: Boolean = true): DataFrame = {
    val wide = widenForExpansion(t, windowExpansion(winLen, 1, 0, k))
    if (useNative)
      wide
        .select(col("id"), col("s"),
          explode(graft.functions.HashExpressions.winnow_starts(
            col("s"), winLen, k)).as("start"))
        .select(col("id"), col("start"),
          col("s").substr(col("start"), lit(winLen)).as("w"))
    else {
      val n = length(col("s")) - (winLen - 1)
      val hs = transform(sequence(lit(1), n),
        i => conv(substring(md5(to_binary(col("s").substr(i, lit(winLen)),
          lit("utf-8"))), 1, 8), 16, 10).cast("long"))
      wide
        .select(col("id"), col("s"), hs.as("hs"))
        .select(col("id"), col("s"),
          explode(array_distinct(transform(
            sequence(lit(1), greatest(n - (k - 1), lit(1))),
            j => j + array_position(slice(col("hs"), j, lit(k)),
              array_min(slice(col("hs"), j, lit(k)))) - 1))).as("i"))
        .select(col("id"), col("i").cast("int").as("start"),
          col("s").substr(col("i").cast("int"), lit(winLen)).as("w"))
    }
  }

  /** Hash-repartition `df` by `key` with the partition count sized from
    * Catalyst's no-action size estimate ([[Stage.estimateWidth]]) so each
    * partition's downstream sort fits task memory (~48 MB in-memory per
    * task). `spark.sql.shuffle.partitions` is a SESSION constant,
    * but the window stream it has to carry grows with the corpus: pinning
    * the exchange at the session count means per-task sort state grows
    * linearly with data and eventually spills, while a size-derived count
    * keeps per-task state constant at any scale.
    *
    * `expand` corrects the estimate for what stats cannot see: Catalyst's
    * size-only visitor passes a `Generate` (explode) through at the CHILD's
    * size, so a window stream inherits the compressed parquet scan bytes —
    * measured 25× below its in-memory sort footprint at 500k docs (219 MB
    * scan vs ~5.5 GB of window rows). Callers pass the algebraic expansion
    * of their explode (rows-per-input-byte × bytes-per-row). */
  private def sizedByKey(df: DataFrame, key: Column,
      expand: Double = 1.0): DataFrame =
    df.repartition(sizedParts(df, expand), key)

  /** Round-robin the DOC stream before a window explode so each task's
    * EXPLODED output fits task memory. Without this the parquet scan packs
    * ~500k documents into a few dozen input splits and each split explodes
    * to hundreds of MB of window rows — the downstream exchange's
    * map-side shuffle writer then overruns its execution-memory share and
    * spills the stream to disk before it ever crosses the wire (a per-stage
    * listener attributed 5.4 of the 7.3 GB winnow spill at 500k docs to
    * exactly this, invariant to REDUCE-side partition counts because it happens in
    * the map tasks). Costs one cheap exchange of the compressed doc
    * stream; sized with the same expansion math as the window exchange
    * itself. */
  private def widenForExpansion(t: DataFrame, expand: Double): DataFrame =
    t.repartition(sizedParts(t, expand))

  /** The partition count [[sizedByKey]] would choose for `df` — exposed
    * separately so stages downstream of an RDD boundary can size from the
    * frame that still HAS statistics: `createDataFrame(rdd)` plans a
    * LogicalRDD whose size estimate is `spark.sql.defaultSizeInBytes`
    * (Long.MaxValue), and a sizedByKey directly on such a frame gets only
    * the session floor ([[Stage.estimateWidth]] cannot price it). Callers
    * compute the count from the pre-boundary window stream (an upper bound:
    * the gated/matched stream is a subset with skinnier rows) and pass it
    * down. */
  private def sizedParts(df: DataFrame, expand: Double): Int =
    Stage.estimateWidth(df, expand, Stage.SortBytesPerTask)

  /** In-memory bytes of window-stream sort state per COMPRESSED input byte
    * — the `expand` for [[sizedByKey]]: ×2 parquet→raw text, one window
    * row per `stride` chars (or per `modP` chars under mod-p selection,
    * density 2/(k+1) under winnowing), ~(winLen + 80) bytes per row
    * (UnsafeRow null bitmap + three fixed slots + padded string bytes +
    * sorter pointer/prefix — 48 was measured low: the winnow variant, the
    * densest stream, still spilled 7 GB at 500k docs under it). */
  private def windowExpansion(winLen: Int, stride: Int, modP: Int,
      winnowK: Int): Double = {
    val perChar =
      if (winnowK > 0) 2.0 / (winnowK + 1)
      else if (modP > 0) 1.0 / modP
      else 1.0 / stride
    2.0 * (winLen + 80.0) * perChar
  }

  /** The shared corpus-frequency gate: window instances whose window string
    * occurs ≥ `minFreq` times corpus-wide, computed as a SIZED w-keyed
    * exchange + in-partition sort + O(minFreq) run-length gate — after
    * the sort every instance of a window is adjacent, so a streaming pass
    * buffers at most `minFreq` rows of the current run and emits runs
    * that reach the threshold. (The hash-count + probe-join shape was
    * measured and rejected; see the rationale bullets below.)
    *
    * Why this shape (the r8 rebuilds, each measured at 500k docs):
    *  - `groupBy(w).count` + join-back keeps its state in the MAP-SIDE
    *    partial aggregate — one hash entry per DISTINCT window per JVM,
    *    ~125M 20-char keys ≈ 16.7 GB of spill, invariant to the shuffle
    *    partition count because partial aggregation runs pre-exchange.
    *  - `count().over(Window.partitionBy(w))` on a sized exchange killed
    *    that — zero spill on the stride/mod-p variants — but hash
    *    partitioning sends EVERY instance of one window string to one
    *    partition, and winnowing's selection is biased: a globally
    *    low-hash boilerplate string is selected at nearly every
    *    occurrence, so its partition alone sorted/spilled ~7.3 GB however
    *    many partitions were sized (stride/mod-p sample hot strings at
    *    1/stride and never concentrated a partition). A run-length gate
    *    over the same sorted exchange measured IDENTICAL spill — the sort
    *    itself, not the window buffer, was the cost.
    *  - A hash-count + SHUFFLE_HASH probe-join gate (no sort anywhere) was
    *    skew-immune but crossed the stream twice and measured slower on
    *    every variant — and left the spill intact, which is what exposed
    *    the real source: per-stage attribution put the bulk on the MAP-side
    *    shuffle writer of the window exchange (too few scan splits, each
    *    exploding hundreds of MB — fixed upstream by
    *    [[widenForExpansion]]).
    *  - A single-pass streaming HASH-gate (count per key, buffer each
    *    key's first minFreq−1 rows, stream the rest) OOM'd at 500k: its
    *    pending state is deserialized JVM Rows, INVISIBLE to Spark's
    *    memory manager — where sort state is managed UnsafeRows that
    *    spill instead of killing the JVM. The lesson stands in this doc:
    *    operator state must live in managed memory.
    * So: sized exchange + in-partition sort + O(minFreq) run-length gate.
    * After the w-sort every instance of a window is adjacent; buffer at
    * most minFreq rows of the current run, and once it reaches the
    * threshold stream the rest through one by one. A pathologically hot
    * key concentrates its sort in one partition — managed memory, spills
    * gracefully, and the gate itself never holds more than minFreq rows.
    * Emits the input columns unchanged. */
  private def dupWindowInstances(wins: DataFrame, minFreq: Long,
      expand: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.Row
    val spark = wins.sparkSession
    val sorted = sizedByKey(wins, col("w"), expand)
      .sortWithinPartitions(col("w"))
    val schema = sorted.schema
    val wIdx = schema.fieldIndex("w")
    val need = math.max(1L, math.min(minFreq, Int.MaxValue.toLong)).toInt
    val gated = sorted.rdd.mapPartitions { it =>
      val buf = it.buffered
      new Iterator[Row] {
        private val queue = scala.collection.mutable.Queue.empty[Row]
        private var inTail = false
        private var tailW: Any = null
        private def fill(): Unit = {
          while (queue.isEmpty && buf.hasNext) {
            if (inTail && buf.head.get(wIdx) == tailW) queue += buf.next()
            else {
              inTail = false
              val w0 = buf.head.get(wIdx)
              val head = scala.collection.mutable.ArrayBuffer.empty[Row]
              while (head.size < need && buf.hasNext && buf.head.get(wIdx) == w0)
                head += buf.next()
              if (head.size >= need) {
                queue ++= head
                inTail = true
                tailW = w0
              } // else: run shorter than minFreq — not duplicated, dropped
            }
          }
        }
        def hasNext: Boolean = { fill(); queue.nonEmpty }
        def next(): Row = { fill(); queue.dequeue() }
      }
    }
    spark.createDataFrame(gated, schema)
  }

  /** Exact per-key window frequencies ≥ `minFreq` — (w, freq), one row per
    * distinct window. The count runs AFTER a sized hash exchange on the
    * bare key stream: the explicit repartition is a barrier no partial
    * aggregate can sink below, so the hash aggregate above it holds only
    * the DISTINCT keys of its own partition (not the per-JVM map-side
    * state that spilled 16.7 GB — see [[dupWindowInstances]]), and that
    * state lives in Spark-MANAGED execution memory with the sort-based
    * fallback — it spills gracefully where an unmanaged JVM map would OOM
    * on a low-duplication corpus whose distinct-key bytes approach the
    * total stream bytes the exchange was sized from. Staying a DataFrame
    * end to end (no RDD round trip) also keeps Catalyst size statistics
    * flowing to downstream exchanges. Serves [[hotWindows]] directly and
    * sizes the same way as every other window exchange. */
  private def windowFreqs(wins: DataFrame, minFreq: Long,
      expand: Double = 1.0): DataFrame =
    sizedByKey(wins.select(col("w")), col("w"), expand)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)

  /** Shared core of [[dupSpanStats]] / [[removeDupSpans]]: each document's
    * corpus-duplicated windows merged into maximal disjoint intervals,
    * returned as ONE sorted array column — (id, ivs:
    * array<struct<s0,e0>>), 1-indexed inclusive bounds, disjoint and
    * ascending.
    *
    * The merge is gaps-and-islands over a SIZED id-keyed exchange: skinny
    * (id, start) rows shuffle once, sort by (id, start) inside partitions
    * sized by [[sizedByKey]], and one streaming pass emits each doc's
    * merged array with O(1) state. The previous formulation —
    * `groupBy(id).agg(sort_array(collect_list(...)))` + in-row fold — kept
    * its state in the map-side partial aggregate: `collect_list` is a
    * TypedImperativeAggregate, and past the object-hash fallback threshold
    * (128 distinct groups, i.e. always at corpus scale) the partial
    * aggregate turns into a sort of the whole matched stream per MAP task
    * — invariant to the shuffle partition count, measured 6.9–7.2 GB of
    * spill at 500k docs on the densest (winnow, 2/(k+1) char density)
    * stream. The sized exchange divides that same sort across as many
    * partitions as the stream needs, exactly like the frequency stage.
    * `numParts` is the caller's [[sizedParts]] of the pre-boundary window
    * stream — matched instances are a subset with skinnier rows, so it
    * upper-bounds this exchange (and the matched frame itself may sit
    * behind an RDD boundary or a join, where size statistics are
    * useless). */
  private def mergedSpanArrays(matched: DataFrame, winLen: Int,
      numParts: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = matched.sparkSession
    val skinny = matched.select(col("id"), col("start").cast("int").as("s"))
    val ranged = skinny.repartition(numParts, col("id"))
      .sortWithinPartitions(col("id"), col("s"))
    val idType = ranged.schema("id").dataType
    val outSchema = StructType(Seq(
      StructField("id", idType),
      StructField("ivs", ArrayType(StructType(Seq(
        StructField("s0", IntegerType, nullable = false),
        StructField("e0", IntegerType, nullable = false))),
        containsNull = false), nullable = false)))
    val merged = ranged.rdd.mapPartitions { it =>
      val buf = it.buffered
      new Iterator[Row] {
        def hasNext: Boolean = buf.hasNext
        def next(): Row = {
          val first = buf.next()
          val curId = first.get(0)
          val ivs = scala.collection.mutable.ArrayBuffer.empty[Row]
          var s0 = first.getInt(1)
          var e0 = s0 + (winLen - 1)
          while (buf.hasNext && buf.head.get(0) == curId) {
            val st = buf.next().getInt(1)
            if (st <= e0) { val e = st + (winLen - 1); if (e > e0) e0 = e }
            else { ivs += Row(s0, e0); s0 = st; e0 = st + (winLen - 1) }
          }
          ivs += Row(s0, e0)
          Row(curId, ivs.toSeq)
        }
      }
    }
    spark.createDataFrame(merged, outSchema)
  }

  // --- window-selection subplans, exposed for plan audits (PlanAuditSpec) ---
  private[graft] def probeWinnowWindows(t: DataFrame, winLen: Int, k: Int): DataFrame =
    winnowWindows(t, winLen, k)
  private[graft] def probeModPWindows(t: DataFrame, winLen: Int, stride: Int,
      modP: Int): DataFrame =
    spanWindows(t, winLen, stride, modP)

  /** Per-doc accounting columns off a merged-interval array frame — shared
    * tail of [[dupSpanStats]] / [[decontaminateSpans]]: span count and
    * covered chars read IN-ROW from the array (size + one fold), no
    * explode, no second aggregation. */
  private def spanAccounting(t: DataFrame, ivsDf: DataFrame): DataFrame =
    // SHUFFLE_HASH: the merged-array side is RDD-backed (size statistics
    // pinned at defaultSizeInBytes), so the planner would otherwise pick a
    // sort-merge join and SORT the side that carries nothing but per-doc
    // arrays — and the doc side in [[removeDupSpans]] carries full text
    t.select(col("id"), length(col("s")).cast("long").as("n_chars"))
      .join(ivsDf.hint("SHUFFLE_HASH"), Seq("id"), "left")
      .select(col("id"), col("n_chars"),
        coalesce(size(col("ivs")), lit(0)).cast("long").as("n_spans"),
        coalesce(aggregate(col("ivs"), lit(0L),
          (a, iv) => a + (iv.getField("e0") - iv.getField("s0") + 1)), lit(0L))
          .as("removed_chars"),
        round((col("n_chars") - coalesce(aggregate(col("ivs"), lit(0L),
            (a, iv) => a + (iv.getField("e0") - iv.getField("s0") + 1)), lit(0L)))
          / col("n_chars").cast("double"), 4).as("kept_ratio"))

  private def mergedDupSpans(t: DataFrame, winLen: Int, stride: Int,
      minFreq: Long, modP: Int, portableSel: Boolean = true,
      winnowK: Int = 0): DataFrame = {
    val wins =
      if (winnowK > 0) winnowWindows(t, winLen, winnowK)
      else spanWindows(t, winLen, stride, modP, portableSel)
    val sel = wins.select(col("id"), col("start"), col("w"))
    val expand = windowExpansion(winLen, stride, modP, winnowK)
    mergedSpanArrays(
      dupWindowInstances(sel, minFreq, expand),
      winLen, sizedParts(sel, expand))
  }

  /** Span-level decontamination — the substring counterpart of the
    * doc-level shingle-overlap check ([[Contamination]]): any window of a
    * TRAIN document that also occurs anywhere in the EVAL benchmark marks
    * a contaminated interval, intervals merge per doc, and the output
    * accounts what a scrub pass would cut (same columns as
    * [[dupSpanStats]]). Default `modP = 5`: decontamination must catch the
    * leaked span at ANY offset, so content-defined selection is the right
    * default — both corpora select the same span-relative windows
    * regardless of alignment. The eval window set is distinct (a benchmark
    * is small next to the training corpus) and probes as the hash-build
    * side; the train stream never sorts.
    *
    * `winnowK > 0` switches both corpora to TRUE winnowing selection
    * ([[winnowWindows]]): frames are chosen from each document's local
    * context, but any substring the two corpora SHARE of length ≥
    * winLen + k − 1 contains a frame fully interior to it in both, and an
    * interior frame's leftmost-min depends only on span content — so a
    * leaked span that long is caught with CERTAINTY at any offset (the
    * MOSS matching guarantee), where mod-p catches it with probability
    * 1 − (1 − 1/p)^spanWindows. */
  def decontaminateSpans(train: DataFrame, trainId: String, trainText: String,
      eval: DataFrame, evalId: String, evalText: String,
      winLen: Int = 20, stride: Int = 5, modP: Int = 5,
      portableSel: Boolean = true, winnowK: Int = 0): DataFrame = {
    val t = train.select(col(trainId).as("id"), col(trainText).as("s"))
      .filter(length(col("s")) >= winLen)
    val e = eval.select(col(evalId).as("id"), col(evalText).as("s"))
      .filter(length(col("s")) >= winLen)
    def wins(df: DataFrame): DataFrame =
      if (winnowK > 0) winnowWindows(df, winLen, winnowK)
      else spanWindows(df, winLen, stride, modP, portableSel)
    val evalWins = wins(e)
      .select(col("w")).distinct().hint("SHUFFLE_HASH")
    val trainWins = wins(t)
    spanAccounting(t, mergedSpanArrays(
      trainWins.join(evalWins, "w").select(col("id"), col("start")), winLen,
      sizedParts(trainWins, windowExpansion(winLen, stride, modP, winnowK))))
  }

  /** The splice that [[dupSpanStats]] accounts for: cut every merged
    * duplicated span out of the text. [[mergedDupSpans]] already delivers
    * each document's intervals as one sorted disjoint array, and a single
    * `aggregate` fold emits the kept segments — no per-row UDF, no driver
    * round-trip. Documents shorter than `winLen` carry no windows and pass
    * through unchanged. Returns (id, clean_text). */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
      winLen: Int = 20, stride: Int = 5, minFreq: Long = 2,
      modP: Int = 0, portableSel: Boolean = true,
      winnowK: Int = 0): DataFrame = {
    val t = df.select(col(idCol).as("id"), col(textCol).as("s"))
    val eligible = t.filter(length(col("s")) >= winLen)
    val ivs =
      mergedDupSpans(eligible, winLen, stride, minFreq, modP, portableSel, winnowK)
    t.join(ivs.hint("SHUFFLE_HASH"), Seq("id"), "left")
      .select(col("id"),
        aggregate(
          coalesce(col("ivs"), array().cast("array<struct<s0:int,e0:int>>")),
          struct(lit(1).cast("int").as("p"), lit("").as("acc")),
          (acc, iv) => struct(
            (iv.getField("e0") + 1).cast("int").as("p"),
            concat(acc.getField("acc"),
              col("s").substr(acc.getField("p"),
                (iv.getField("s0") - acc.getField("p")).cast("int"))).as("acc")),
          acc => concat(acc.getField("acc"),
            col("s").substr(acc.getField("p"),
              (length(col("s")) - acc.getField("p") + 1).cast("int")))
        ).as("clean_text"))
  }

  /** The blocklist half of [[repeatedWindowStats]], exposed for reuse:
    * character windows whose corpus instance-frequency is ≥ `minFreq`,
    * with counts — the mined boilerplate set a streaming ingest filter
    * ([[graft.streaming.EventStreams.boilerplateFilterStream]]) or a later
    * cleaning pass consumes. Returns (w, freq). */
  def hotWindows(df: DataFrame, idCol: String, textCol: String,
      winLen: Int = 20, stride: Int = 5, minFreq: Long = 2,
      modP: Int = 0, portableSel: Boolean = true,
      winnowK: Int = 0): DataFrame = {
    val t = df.select(col(idCol).as("id"), col(textCol).as("s"))
      .filter(length(col("s")) >= winLen)
    val wins =
      if (winnowK > 0) winnowWindows(t, winLen, winnowK)
      else spanWindows(t, winLen, stride, modP, portableSel)
    // post-shuffle hash count ([[windowFreqs]]) — one (w, freq) row per
    // distinct window, skew-immune, no distinct pass needed
    windowFreqs(wins.select(col("w")), minFreq,
      windowExpansion(winLen, stride, modP, winnowK))
  }

  /** Top-k most frequent token n-grams across the corpus — the boilerplate
    * / contamination-list miner (the lists [[repeatedWindowStats]]-style
    * cleaning and benchmark decontamination consume). One explode, one
    * n-gram-keyed exchange, and a TakeOrdered top-k — no global sort; ties
    * break lexicographically so the result is deterministic cross-engine.
    *
    * The frequency stage is shape-switched on the expected key
    * distribution, both exact:
    *  - default: counts via `count().over(Window.partitionBy(ngram))` on a
    *    [[sizedByKey]] exchange + `row_number = 1` — ZERO map-side state.
    *    The groupBy formulation's partial aggregate holds one hash entry
    *    per distinct n-gram per JVM, which on a heavy-tailed n≥2 stream
    *    (most n-grams near-unique) combines nothing and spills
    *    (measured: 14.5 GB at 500k docs for trigrams); the window's
    *    per-task sort is partition-count-bound at any corpus size.
    *  - `lowCardinality = true`: the groupBy partial-agg shape — right
    *    when the key space is small (unigrams over a bounded vocabulary),
    *    where map-side combine collapses the stream before the exchange
    *    and the window shape would ship every instance. */
  def topNgrams(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 20, lowCardinality: Boolean = false): DataFrame = {
    val tk = tokens(trim(lower(col(textCol))))
    // when() guard, not greatest(.., 0): Spark's sequence(1, 0) generates
    // DESCENDING [1, 0] and would fabricate n-grams for short docs
    val stream = df.select(explode(when(size(tk) >= n, transform(
        sequence(lit(1), size(tk) - (n - 1)),
        i => concat_ws(" ", slice(tk, i, lit(n)))))
      .otherwise(array())).as("ngram"))
    val freqs =
      if (lowCardinality)
        stream.groupBy(col("ngram")).agg(count(lit(1)).as("freq"))
      else {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("ngram")).orderBy(col("ngram"))
        // ~6 chars per token+separator, (6n + 48) bytes of sort state per
        // instance row, ×2 parquet→raw — the sizedByKey expansion
        sizedByKey(stream, col("ngram"), expand = 2.0 * (6.0 * n + 48) / 6.0)
          .withColumn("freq", count(lit(1)).over(w))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("ngram"), col("freq"))
      }
    freqs.orderBy(col("freq").desc, col("ngram").asc).limit(k)
  }

  /** Approximate corpus heavy hitters via the SpaceSaving summary
    * ([[graft.functions.SpaceSavingTopK]]) — the boilerplate miner when the
    * exact [[topNgrams]] groupBy is no longer affordable. The exact path
    * shuffles one row per DISTINCT n-gram (billions on a web corpus); this
    * one aggregates to `counters` slots per partition and ships exactly
    * those — exchange volume O(partitions × counters), independent of
    * corpus size AND key cardinality. est ≥ true ≥ est − err per returned
    * row; any n-gram with frequency > N/counters is guaranteed present.
    * Returns (ngram, est, err) sorted by est desc. Spec-gated (eviction
    * order is not ANSI-replayable), verified against exact counts. */
  def topNgramsApprox(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, k: Int = 20, counters: Int = 256): DataFrame = {
    val tk = tokens(trim(lower(col(textCol))))
    df.select(explode(when(size(tk) >= n, transform(
        sequence(lit(1), size(tk) - (n - 1)),
        i => concat_ws(" ", slice(tk, i, lit(n)))))
      .otherwise(array())).as("ngram"))
      .agg(graft.functions.SpaceSavingTopK
        .space_saving_topk(col("ngram"), counters, k).as("top"))
      .select(explode(col("top")).as("t"))
      .select(col("t.item").as("ngram"), col("t.est"), col("t.err"))
  }

  /** Corpus-self-trained bigram language-model scoring — the n-gram flavor
    * of the CCNet/Gopher LM-quality filter: documents whose token
    * transitions are improbable under the corpus's own bigram MLE score
    * low (gibberish, boilerplate soup, wrong-language fragments). For each
    * document: mean over its bigrams of ln P(w2|w1), with
    * P(w2|w1) = c(w1,w2) / c(w1·) and c(w1·) the count of bigrams starting
    * with w1 — so P ≤ 1 and the score is ≤ 0; higher is more fluent.
    * Documents with fewer than two tokens carry no bigrams and are
    * excluded (same rule in the oracle).
    *
    * Scale shape: one explode of the zipped bigram stream, two partial-agg
    * shuffles for the count tables (bigram + first-token marginal — the
    * second rolls up from the first, reusing its exchange), then the doc
    * stream joins the count tables keyed by bigram. The model IS a
    * DataFrame — at 100 TB the count tables are written once and reused
    * across scoring runs. Returns (id, n_bigrams, avg_logp ROUND 4). */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tk = tokens(trim(lower(col(textCol))))
    val big = df.select(col(idCol).as("id"), tk.as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("id"), explode(arrays_zip(
        slice(col("ts"), lit(1), size(col("ts")) - 1),
        slice(col("ts"), lit(2), size(col("ts")) - 1))).as("p"))
      .select(col("id"), col("p").getField("0").as("w1"),
        col("p").getField("1").as("w2"))
    val c12 = big.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    big.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log(col("c12").cast("double") / col("c1"))), 4).as("avg_logp"))
  }

  /** PII-bearing patterns for [[piiScan]]. Deliberately restricted to the
    * regex subset Java and RE2 evaluate identically (character classes,
    * bounded repetition, `\b` word boundaries — no lookaround, no
    * backreferences), so the scan replays exactly in the ANSI oracle. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val phoneRe = "\\+\\d[\\d -]{7,}\\d"

  /** PII detection + redaction accounting — the scrub step of a
    * training-data pipeline. Per document: match counts for email / IPv4 /
    * international-phone patterns and the length of the text after all
    * three are replaced with a fixed `[PII]` token (replacement order
    * email → ip → phone, mirrored in the oracle). Counts rather than the
    * redacted strings keep the output skinny; the redaction itself is the
    * same `regexp_replace` chain a writer would apply in place. Scan-local
    * and codegen'd — zero shuffles, linear in corpus bytes, trivially
    * partition-parallel at 100 TB. */
  /** The redaction [[piiScan]] accounts for: all three PII patterns
    * replaced with a fixed token, email → ip → phone order (mirrored in
    * every oracle that composes it). */
  def piiRedact(t: Column): Column =
    regexp_replace(
      regexp_replace(regexp_replace(t, emailRe, "[PII]"), ipv4Re, "[PII]"),
      phoneRe, "[PII]")

  def piiScan(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val redacted = piiRedact(t)
    df.select(
      col(idCol),
      size(regexp_extract_all(t, lit(emailRe), lit(0))).cast("long").as("n_email"),
      size(regexp_extract_all(t, lit(ipv4Re), lit(0))).cast("long").as("n_ipv4"),
      size(regexp_extract_all(t, lit(phoneRe), lit(0))).cast("long").as("n_phone"),
      length(redacted).cast("long").as("redacted_len"))
  }

  /** Full per-document profile. */
  def profile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(
      col(idCol),
      length(t).as("n_chars"),
      tokenCount(t).as("n_tokens"),
      avgWordLen(t).as("avg_word_len"),
      punctRatio(t).as("punct_ratio"),
      stopwordRatio(t).as("stopword_ratio"),
      qualityScore(t).as("quality"),
      langId(t).as("lang_guess"),
      fingerprint(t).as("fingerprint")
    )
  }
}
