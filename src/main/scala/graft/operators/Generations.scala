package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** A second maintainer attempted a mutating index operation while another
  * holds the `_MAINTAINER` lease — the single-maintainer contract,
  * ENFORCED: without it two concurrent mutators corrupt silently (the
  * sharpest case: a [[graft.operators.KnnIndex.delete]] landing between a
  * concurrent compact's tombstone read and its log truncation is simply
  * LOST). Wait for the holder, or if it crashed the lease expires after
  * `spark.graft.index.leaseTtlMs` (default 30 min — size it above the
  * longest mutation; the 50M build measured ~250 s). */
final class ConcurrentMaintainerException(path: String, holder: String)
  extends RuntimeException(
    s"index at $path is being mutated by another maintainer ($holder); " +
      "wait for it to finish — a crashed holder's lease expires after " +
      "spark.graft.index.leaseTtlMs")

/** The on-disk lifecycle of a stored index root — the one owner for both
  * index families, [[graft.operators.KnnIndex]] (IVF+PQ directories,
  * leaves `nl=<n>/bucket=<b>`) and [[graft.multimodal.Multimodal]]'s banded
  * signature index (leaves `band=<b>/bucket=<k>`). A family supplies its
  * members schema, partition levels, sizing and health policy; everything
  * below is decided here, once.
  *
  * Layout under an index root `path`:
  *  - `members-gen-<N>/` — one complete members tree per generation, in
  *    the family's two-level leaf partitioning;
  *  - `CURRENT` — a tiny text file holding the live generation number,
  *    committed by temp + rename (the ManifestSidecarFormat ordering);
  *  - `members/` — the pre-generation legacy layout, still resolvable;
  *  - `_MAINTAINER` — the single-maintainer lease ([[withMaintainerLease]]);
  *  - `ingest_log/batch-<id>` — one empty marker per committed
  *    [[appendBatch]] batch;
  *  - `staging/batch-<id>/` — a batch's tree while it is being appended;
  *  - `tombstones/` — the parquet log of deleted member ids;
  *  - the family's own tables (`meta`, and `codebook` for KnnIndex).
  *
  * A rewrite (fresh build or compaction) writes a new generation beside
  * the live one and commits it by swapping `CURRENT`; superseded trees
  * stay on disk for [[vacuum]]'s grace window so a query that resolved the
  * old generation before the commit finishes on a complete, untouched
  * snapshot. This is the reference's `EXECUTE optimize` swap discipline
  * (src/commands/bench.ts:201-249 rebuilds variants whole-table), made
  * concurrent-reader-safe.
  *
  * The exactly-once append protocol ([[appendBatch]]), keyed by a
  * caller-supplied batch id (Structured Streaming's `foreachBatch` id —
  * the unit the engine replays after a failure):
  *
  *  1. committed-marker check (`ingest_log/batch-<id>`) — a fully
  *     committed batch short-circuits (and cleans a staging tree a crash
  *     after step 5's marker left behind);
  *  2. the batch's members tree stages to `staging/batch-<id>`
  *     (Overwrite — a half-written staging tree from a crashed attempt is
  *     simply rewritten);
  *  3. any `ingest-b<id>-*` files a PARTIAL previous move left in the
  *     live tree are deleted (one FS glob, no data read);
  *  4. the staged files RENAME into the live tree's leaf directories
  *     under deterministic batch-scoped names (`ingest-b<id>-<seq>.parquet`)
  *     — metadata-only moves, no byte copy;
  *  5. the marker commits, the staging tree deletes.
  *
  * A crash between 4 and 5 replays 2–4 over the same deterministic names —
  * idempotent; a crash earlier leaves the live tree untouched. Work is
  * ∝ |batch| (one staging write + O(files) renames).
  */
object Generations {

  val CurrentFile = "CURRENT"
  val SupersededFile = "_SUPERSEDED"
  val LeaseFile = "_MAINTAINER"
  private val IngestLogDir = "ingest_log"
  private val StagingDir = "staging"
  private val TombstonesDir = "tombstones"
  private val GenPrefix = "members-gen-"

  /** The Hadoop FileSystem holding `path`. */
  def fileSystem(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  private def genDir(path: String, gen: Long): String = s"$path/$GenPrefix$gen"

  private def leaseTtlMs(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.index.leaseTtlMs")
      .map(_.toLong).getOrElse(30L * 60 * 1000)

  /** Run `op` as the index's single MAINTAINER — the enforcement face of
    * the contract every mutating entry point documents. Acquire is an
    * atomic create-no-overwrite of `_MAINTAINER` (underscore-prefixed so
    * parquet readers ignore it; payload = the holder's JVM name for the
    * error message). A live lease raises [[ConcurrentMaintainerException]]
    * — typed, instead of the silent corruption two concurrent mutators
    * produce; a lease older than `spark.graft.index.leaseTtlMs` is
    * presumed crashed and broken (size the TTL above the longest
    * mutation — there is deliberately no heartbeat, one FS op per
    * mutation is the entire cost). Released on every exit, success or
    * throw. READERS never touch the lease: delta searches, mining and
    * health stay lease-free by construction (the generation pointer is
    * what makes them safe beside a compacting maintainer).
    *
    * Known limit, stated honestly: the stale-lease BREAK is
    * delete-then-create, not compare-and-swap (HDFS offers none), so two
    * maintainers recovering the same crashed holder simultaneously can
    * both acquire — a scenario that already requires two concurrent
    * mutators, i.e. the very contract violation the lease exists to
    * surface. The lease is a tripwire for the common accident (one stray
    * second writer), not a distributed lock service. */
  def withMaintainerLease[T](spark: SparkSession, path: String)(op: => T): T = {
    val fs = fileSystem(spark, path)
    val root = new Path(path)
    if (!fs.exists(root)) fs.mkdirs(root)
    val lease = new Path(s"$path/$LeaseFile")
    def tryAcquire(): Boolean =
      try {
        val out = fs.create(lease, false)
        try out.write(java.lang.management.ManagementFactory
          .getRuntimeMXBean.getName
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    var acquired = tryAcquire()
    if (!acquired) {
      val staleOrGone =
        try System.currentTimeMillis() -
          fs.getFileStatus(lease).getModificationTime > leaseTtlMs(spark)
        catch { case _: java.io.FileNotFoundException => true }
      if (staleOrGone) {
        fs.delete(lease, false)
        acquired = tryAcquire()
      }
    }
    if (!acquired) {
      val holder =
        try {
          val in = fs.open(lease)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        } catch { case scala.util.control.NonFatal(_) => "unknown" }
      throw new ConcurrentMaintainerException(path, holder)
    }
    try op finally fs.delete(lease, false)
  }

  /** Resolve the LIVE members tree for the index at `path` — the single
    * read point every reader and appender goes through. Resolution order:
    *  1. `CURRENT`'s generation, when the file parses and its directory
    *     exists — the normal path (one FS read, no data job); an
    *     unreadable CURRENT (torn write, checksum-sidecar mismatch) is
    *     the same as an unparseable one: fall back, don't throw;
    *  2. the HIGHEST completely-written generation — `_SUCCESS` present
    *     (every generation is one parquet Overwrite) and not
    *     `_SUPERSEDED`-marked, then highest overall;
    *  3. the pre-generation legacy layout `path/members`. */
  def resolve(spark: SparkSession, path: String): String = {
    val fs = fileSystem(spark, path)
    val cur = new Path(s"$path/$CurrentFile")
    val fromCurrent: Option[String] =
      try {
        if (!fs.exists(cur)) None
        else {
          val in = fs.open(cur)
          val txt =
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
            finally in.close()
          txt.toLongOption.map(genDir(path, _))
            .filter(d => fs.exists(new Path(d)))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    fromCurrent.orElse {
      val committed = scanned(fs, path).sorted(Ordering[Long].reverse)
        .map(genDir(path, _))
        .filter(d => fs.exists(new Path(s"$d/_SUCCESS")))
      committed.find(d => !fs.exists(new Path(s"$d/$SupersededFile")))
        .orElse(committed.headOption)
    }.getOrElse(s"$path/members")
  }

  /** Generation numbers of every `members-gen-*` directory on disk —
    * committed or not (one FS glob). */
  def scanned(fs: FileSystem, path: String): Seq[Long] =
    Option(fs.globStatus(new Path(s"$path/$GenPrefix*"))).toSeq.flatten
      .flatMap(_.getPath.getName.stripPrefix(GenPrefix).toLongOption)

  /** The next unused generation number — past every directory on disk,
    * committed or crash-stranded, so a rewrite never collides with a
    * half-written tree a reader's fallback might otherwise observe. */
  def next(fs: FileSystem, path: String): Long =
    scanned(fs, path).maxOption.getOrElse(-1L) + 1

  /** Commit generation `gen` as the live tree: write `CURRENT.tmp`, then
    * swap it in. The delete+rename pair (portable across Hadoop
    * FileSystems, which reject rename-onto-existing) has a sub-ms window
    * where `CURRENT` is absent — [[resolve]]'s fallback resolves the
    * highest committed generation there, which is exactly `gen`. */
  def commit(fs: FileSystem, path: String, gen: Long): Unit = {
    val tmp = new Path(s"$path/$CurrentFile.tmp")
    val out = fs.create(tmp, true)
    try out.write(gen.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    fs.delete(new Path(s"$path/$CurrentFile"), false)
    fs.rename(tmp, new Path(s"$path/$CurrentFile"))
  }

  /** A FRESH BUILD's tail, run under the caller's lease: clear the old
    * index's lifecycle state (`tombstones/`, `ingest_log/`, `staging/`),
    * then [[swap]] in the generation `write(dir)` produces. The reset
    * comes first: stale tombstones would filter new members that reuse an
    * id, and stale ingest markers would make [[appendBatch]] silently drop
    * a new campaign's batches whose engine batch ids collide with the
    * previous stream's. `write` may also (over)write the family's own
    * tables before the members tree. */
  def freshBuild[T](spark: SparkSession, path: String)(write: String => T): T = {
    val fs = fileSystem(spark, path)
    Seq(TombstonesDir, IngestLogDir, StagingDir)
      .foreach(d => fs.delete(new Path(s"$path/$d"), true))
    swap(spark, path, truncateTombstones = false)(write)
  }

  /** A COMPACTION's tail, run under the caller's lease: [[swap]] in the
    * compacted generation `write(dir)` produces, whose rows already have
    * the tombstone log applied, then truncate the log. A crash before the
    * truncation merely re-applies already-removed ids on the next compact
    * (the anti-join of an absent id is a no-op). */
  def compactSwap[T](spark: SparkSession, path: String)(write: String => T): T =
    swap(spark, path, truncateTombstones = true)(write)

  /** Next generation, `write` it, [[commit]], optionally truncate the
    * tombstone log, [[vacuum]]. A crash at any point leaves `CURRENT`
    * aimed at a complete generation; a stranded uncommitted tree is
    * invisible to [[resolve]] and collected by a later vacuum. */
  private def swap[T](spark: SparkSession, path: String,
      truncateTombstones: Boolean)(write: String => T): T = {
    val fs = fileSystem(spark, path)
    val gen = next(fs, path)
    val out = write(genDir(path, gen))
    commit(fs, path, gen)
    if (truncateTombstones) fs.delete(new Path(s"$path/$TombstonesDir"), true)
    vacuum(spark, path)
    out
  }

  /** Has `batchId` already been committed by [[appendBatch]]? */
  def ingestCommitted(spark: SparkSession, path: String, batchId: Long): Boolean =
    fileSystem(spark, path).exists(new Path(s"$path/$IngestLogDir/batch-$batchId"))

  /** The exactly-once append (steps 1–5 of the protocol above). `leaves`
    * is the family's two-level leaf glob under a members tree (both
    * partition levels as wildcards); `stage(live, dir)` writes the batch
    * as a members tree at `dir` (Overwrite), reading what it needs (meta,
    * schema) from the LIVE tree `live`. Takes the lease; returns false,
    * doing nothing else, when the batch is already committed. */
  def appendBatch(spark: SparkSession, path: String, batchId: Long,
      leaves: String)(stage: (String, String) => Unit): Boolean = {
    val fs = fileSystem(spark, path)
    val staging = s"$path/$StagingDir/batch-$batchId"
    if (ingestCommitted(spark, path, batchId)) {
      // a crash between the marker commit and the staging delete leaves
      // the staged copy behind; the committed replay is where it gets
      // cleaned (the only code path guaranteed to run after such a crash)
      fs.delete(new Path(staging), true)
      false
    } else withMaintainerLease(spark, path) {
      val live = resolve(spark, path)
      stage(live, staging)
      Option(fs.globStatus(new Path(s"$live/$leaves/ingest-b$batchId-*.parquet")))
        .toSeq.flatten.foreach(st => fs.delete(st.getPath, false))
      Option(fs.globStatus(new Path(s"$staging/$leaves/*.parquet")))
        .toSeq.flatten.zipWithIndex.foreach { case (st, seq) =>
          val leaf = st.getPath.getParent
          val dest = new Path(new Path(live, leaf.getParent.getName), leaf.getName)
          fs.mkdirs(dest)
          fs.rename(st.getPath, new Path(dest, s"ingest-b$batchId-$seq.parquet"))
        }
      val marker = new Path(s"$path/$IngestLogDir/batch-$batchId")
      fs.mkdirs(marker.getParent)
      fs.create(marker, true).close()
      fs.delete(new Path(staging), true)
      true
    }
  }

  /** Tombstone member ids — an O(|ids|) append of the distinct ids to the
    * side log, no tree rewrite (the LSM delete). A MAINTAINER operation:
    * a delete landing between a concurrent compact's tombstone read and
    * its log truncation would be LOST, and the lease turns that race into
    * a typed [[ConcurrentMaintainerException]]. */
  def tombstone(ids: DataFrame, idCol: String, path: String): Unit =
    withMaintainerLease(ids.sparkSession, path) {
      ids.select(col(idCol).cast("long").as("id")).distinct()
        .write.mode(SaveMode.Append).parquet(s"$path/$TombstonesDir")
    }

  /** The tombstone log as a DataFrame of `id`, when any deletes are
    * pending. */
  def tombstones(spark: SparkSession, path: String): Option[DataFrame] =
    if (fileSystem(spark, path).exists(new Path(s"$path/$TombstonesDir")))
      Some(spark.read.parquet(s"$path/$TombstonesDir"))
    else None

  /** Run a partitioned members write with concurrent output writers
    * instead of FileFormatWriter's sort-by-partition-columns. Both
    * families repartition so each write task holds whole leaf
    * directories, so at most a handful of leaves are open at once; the
    * default sort path instead buffers the task's ENTIRE ~128 MB share
    * through a spillable sorter whose 75 MB execution slice (32
    * concurrent tasks, protocol heap) forces one spill generation per
    * task — the measured 2.4–16 GB "one-time rewrite spill" on 50M-class
    * KnnIndex build/compact rows and 12 GB on the 50M sig compact. Writer
    * memory stays bounded: ≤ 32 open writers × one row group.
    *
    * The setting is SESSION-wide: `spark.sql.maxConcurrentOutputFileWriters`
    * is 32 for the duration of `write` and restored after, so another
    * thread's write on the same session in that window also gets
    * concurrent writers. */
  def withConcurrentWriters[T](spark: SparkSession)(write: => T): T = {
    val key = "spark.sql.maxConcurrentOutputFileWriters"
    val prev = spark.conf.get(key, "0")
    spark.conf.set(key, "32")
    try write finally spark.conf.set(key, prev)
  }

  /** The idempotent per-batch output of a `foreachBatch` sink: write `out`
    * to `dir/batch=<id>` (Overwrite) unless an earlier attempt of the
    * same batch already committed it (`_SUCCESS` present), so the
    * engine's replay after a failure rewrites rather than duplicates. */
  def writeBatchOnce(spark: SparkSession, dir: String, batchId: Long)(
      out: => DataFrame): Unit = {
    val dest = s"$dir/batch=$batchId"
    if (!fileSystem(spark, dir).exists(new Path(s"$dest/_SUCCESS")))
      out.write.mode(SaveMode.Overwrite).parquet(dest)
  }

  /** GC grace window before a superseded generation is deleted — long
    * enough for any query that resolved the old tree pre-commit to finish
    * reading it. Conf-tied like the exchange caps. */
  private def gcGraceMs(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.index.gcGraceMs")
      .map(_.toLong).getOrElse(15L * 60 * 1000)

  /** Garbage-collect superseded members generations — every on-disk tree
    * except the live one (older committed generations, crash-stranded
    * uncommitted ones, the legacy `members` layout after a migrating
    * compact). Two-phase so in-flight readers survive: an unmarked tree
    * first gets a `_SUPERSEDED` stamp (underscore-prefixed — parquet
    * readers ignore it), and only once the stamp is older than the grace
    * window (`graceMs`, default `spark.graft.index.gcGraceMs` = 15 min;
    * `0` deletes in the same pass) is the tree deleted. A MAINTAINER
    * operation like compact itself (must not race another writer), but
    * safe beside readers by construction. Returns trees deleted. */
  def vacuum(spark: SparkSession, path: String, graceMs: Long = -1L): Int = {
    val fs = fileSystem(spark, path)
    val grace = if (graceMs >= 0) graceMs else gcGraceMs(spark)
    val live = resolve(spark, path)
    val legacy = s"$path/members"
    val candidates = scanned(fs, path).map(genDir(path, _)) ++
      (if (fs.exists(new Path(legacy))) Seq(legacy) else Nil)
    val now = System.currentTimeMillis()
    var deleted = 0
    candidates.filterNot(_ == live).foreach { dir =>
      val marker = new Path(s"$dir/$SupersededFile")
      if (!fs.exists(marker)) fs.create(marker, true).close()
      else if (now - fs.getFileStatus(marker).getModificationTime >= grace) {
        fs.delete(new Path(dir), true)
        deleted += 1
      }
      if (grace <= 0 && fs.exists(new Path(dir))) {
        fs.delete(new Path(dir), true)
        deleted += 1
      }
    }
    deleted
  }
}
