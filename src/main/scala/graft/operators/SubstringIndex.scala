package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ddl.ManifestSidecarFormat
import graft.model.CodecSpec

/** Persisted positional trigram index for exact substring search — the
  * corpus-tooling query ("which documents contain this leaked string /
  * phone number / eval answer?") answered WITHOUT a full-text scan per
  * query. The q109 inline formulation rebuilt its postings on every search,
  * which is a full corpus scan — exactly the cost this operator exists to
  * amortize: postings are built ONCE (and appended as the corpus grows),
  * and each query touches only the handful of index files that can contain
  * the pattern's own trigrams.
  *
  * Index layout (the scale contract):
  *  - one row per character-trigram OCCURRENCE: `(tri string, doc_id long,
  *    pos int)` with `pos` 1-based — a positional inverted index, the
  *    standard IR structure (Manning et al., IIR §2.4). Storing positions
  *    (not just distinct (tri, doc) memberships) is what makes the query
  *    INDEX-ONLY: a pattern match is pure position arithmetic over posting
  *    rows, no verify join back to the document table — so query cost is
  *    bounded by the pattern's posting lists, independent of corpus size.
  *  - rows are range-partitioned by `(tri, doc_id)` and sorted within
  *    partitions, so each data file holds a contiguous trigram range (the
  *    `tri` column RLE/dictionary-encodes to almost nothing, and doc_id
  *    delta-encodes) — and the [[graft.ddl.ManifestSidecarFormat]] manifest
  *    records per-file min/max bounds on `tri` at commit (lifted from the
  *    parquet footers, zero re-read).
  *  - a search plans its file set from MANIFEST BOUNDS ALONE
  *    ([[ManifestSidecarFormat.planRange]] once per distinct pattern
  *    trigram): a file is read only when its `tri` range can contain one of
  *    the pattern's trigrams. Inside kept files, `tri IN (...)` pushes into
  *    the parquet scan (sorted column → row-group stats + dictionary skip).
  *  - appends are new batches through the same seam (append-only commits,
  *    like every load in this engine): each batch is independently
  *    range-clustered, so a query prunes per batch — the LSM-style shape; a
  *    periodic rewrite (the B12 optimize op) can re-cluster batches
  *    together, but correctness and pruning never require it.
  *
  * Match semantics: pattern `p` (length L ≥ 3) occurs at 1-based position
  * `q` of a document iff for every 0-based pattern offset `i ∈ [0, L-3]`
  * the posting `(p[i..i+2], doc, q+i)` exists — each character of the
  * occurrence is covered by some required trigram, so the positions jointly
  * DETERMINE the substring and the answer is exact, never probabilistic.
  * The query joins the pattern's posting rows to a broadcast (tri, offset)
  * table, rebases each row to its implied match start (`anchor = pos -
  * offset` — for a fixed anchor a posting row can satisfy at most one
  * offset, so a plain count suffices), and keeps (doc, anchor) groups whose
  * count equals L-2. One skinny shuffle of the pattern's posting rows;
  * nothing document-sized moves.
  */
object SubstringIndex {

  private[graft] val indexFormat = new ManifestSidecarFormat(Seq("tri"))

  /** Positional trigram posting stream for `df`: (tri, doc_id, pos), one
    * row per trigram occurrence, pos 1-based. Documents shorter than 3
    * chars contribute nothing (they cannot contain a ≥3-char pattern). */
  private[graft] def postings(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("doc_id"), col(textCol).as("s"))
      .filter(col("s").isNotNull && length(col("s")) >= 3)
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(1), length(col("s")) - 2),
        i => col("s").substr(i, lit(3)))))
      .select(col("col").as("tri"), col("doc_id"), (col("pos") + 1).cast("int").as("pos"))

  /** Sized range-partition count for a posting write: one skinny aggregate
    * over the text column prices the exact posting volume (Σ max(len-2, 0)
    * — Catalyst's size-only estimate cannot see the explode), ~48 bytes of
    * sort/write state per posting row ([[Stage.width]]). The eager job is
    * deliberate and documented: it is the same exchange-sizing discipline
    * as Dedup.minhashLsh, and a one-pass scan of ONE column is noise next
    * to the write it sizes. */
  private def sizedParts(df: DataFrame, textCol: String): Int = {
    val volume = df.agg(coalesce(sum(greatest(length(col(textCol)) - 2, lit(0))
      .cast("long")), lit(0L))).head().getLong(0)
    Stage.width(df, volume * 48L / Stage.SortBytesPerTask)
  }

  /** Build the index at `path` as batch 0 (overwrites any previous batch
    * 0). The committed manifest carries per-file min/max bounds on `tri`,
    * which [[search]] prunes against. */
  def buildIndex(df: DataFrame, idCol: String, textCol: String, path: String,
      codec: CodecSpec = CodecSpec("zstd", 1), batch: Int = 0): Unit = {
    val p = postings(df, idCol, textCol)
      .repartitionByRange(sizedParts(df, textCol), col("tri"), col("doc_id"))
    indexFormat.writeBatch(p, path, batch, codec, "PARQUET", Nil,
      Seq("tri", "doc_id", "pos"))
  }

  /** Index maintenance: commit postings for NEWLY INGESTED documents as the
    * next batch — only the delta is scanned, existing batches are never
    * rewritten. Returns the batch index committed. Callers are responsible
    * for `newDocs` being genuinely new (duplicate doc_ids would yield
    * duplicate postings, as in any append-only index). */
  def appendIndex(newDocs: DataFrame, idCol: String, textCol: String, path: String,
      codec: CodecSpec = CodecSpec("zstd", 1)): Int = {
    val spark = newDocs.sparkSession
    val fs = FileSystem.get(new java.net.URI(path),
      spark.sparkContext.hadoopConfiguration)
    val dir = new Path(path, "_manifests")
    val batchRe = """batch-(\d+)\.json""".r
    val next =
      if (!fs.exists(dir)) 0
      else fs.listStatus(dir).toSeq.flatMap(_.getPath.getName match {
        case batchRe(i) => Some(i.toInt)
        case _ => None
      }).reduceOption(_ max _).map(_ + 1).getOrElse(0)
    buildIndex(newDocs, idCol, textCol, path, codec, next)
    next
  }

  /** The index files a search for `pattern` must read, planned from
    * manifest bounds alone — one [[ManifestSidecarFormat.planRange]] probe
    * per distinct pattern trigram, unioned. Returns (kept file paths, total
    * manifested files) so callers and benchmarks can see the skip rate. */
  def planFiles(spark: SparkSession, path: String, pattern: String): (Seq[String], Int) = {
    val tris = pattern.sliding(3).filter(_.length == 3).toSeq.distinct
    val plans = tris.map(t =>
      indexFormat.planRange(spark, path, "tri", Some(t), Some(t)))
    (plans.flatMap(_._1).distinct, plans.headOption.map(_._2).getOrElse(0))
  }

  /** Every occurrence of `pattern` in the indexed corpus, answered from the
    * index alone: (doc_id, pos) per occurrence, pos 1-based. Exact — see
    * the object scaladoc for the coverage argument. */
  def searchAll(spark: SparkSession, path: String, pattern: String): DataFrame = {
    require(pattern.length >= 3,
      s"substring search needs a pattern of >= 3 chars, got '$pattern'")
    import spark.implicits._
    val offsets = pattern.sliding(3).zipWithIndex.toSeq // (tri, 0-based offset)
    val need = offsets.size // = L - 2
    val (files, _) = planFiles(spark, path, pattern)
    if (files.isEmpty)
      return spark.emptyDataFrame
        .select(lit(0L).as("doc_id"), lit(0L).as("pos")).limit(0)
    val tris = offsets.map(_._1).distinct
    val post = spark.read.format("parquet").option("basePath", path)
      .load(files: _*)
      .filter(col("tri").isin(tris: _*))
    post.join(broadcast(offsets.toDF("tri", "off")), "tri")
      .select(col("doc_id"), (col("pos") - col("off")).cast("long").as("anchor"))
      .filter(col("anchor") >= 1L)
      .groupBy(col("doc_id"), col("anchor"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") === lit(need.toLong))
      .select(col("doc_id"), col("anchor").as("pos"))
  }

  /** First occurrence per document — `instr`/`strpos` semantics: (doc_id,
    * pos) with pos the smallest 1-based match position, one row per
    * matching document. */
  def search(spark: SparkSession, path: String, pattern: String): DataFrame =
    searchAll(spark, path, pattern)
      .groupBy(col("doc_id"))
      .agg(min(col("pos")).as("pos"))
}
