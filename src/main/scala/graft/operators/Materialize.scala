package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

/** The one owner of materialized intermediates: every operator that keeps a
  * frame's rows in executor storage (MEMORY_AND_DISK) does it here, and
  * [[release]] of an operator's output frees what that output reads.
  *
  *  - [[checkpoint]] cuts the lineage. Its blocks are the frame's only copy:
  *    not fault tolerant (a lost executor fails the query), a snapshot of
  *    the input at construction, and never readable again once released —
  *    not even by a task retry. Unreleased, they go when the frame is GC'd.
  *  - [[cached]] keeps the lineage (a lost block recomputes). The entry is
  *    keyed by plan, so an equal plan shares it, and lives until [[release]]
  *    or `spark.catalog.clearCache()`.
  *  - [[during]] is [[cached]] for one driver-side computation. */
object Materialize {

  // Storage made here and not yet released: checkpoints by RDD id, cache
  // entries by their size accumulator's id (unique per entry, no reference).
  private val checkpoints = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val caches = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  /** Eager `localCheckpoint(true)`. The RDD keeps the caller's call site, so
    * plans and the Spark UI name the operator, not this module. */
  def checkpoint(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val prior = sc.getLocalProperty("callSite.short")
    val caller = new Throwable().getStackTrace.find(!_.getClassName.startsWith(getClass.getName))
    if (prior == null) caller.foreach(f =>
      sc.setCallSite(s"localCheckpoint at ${f.getFileName}:${f.getLineNumber}"))
    val out = try df.localCheckpoint(true)
      finally sc.setLocalProperty("callSite.short", prior)
    out.queryExecution.logical.collect { case lr: LogicalRDD => lr.rdd.id }.foreach(checkpoints.add)
    out
  }

  /** Lazy `persist` of `df`; returns `df`. An already-cached plan keeps its
    * existing entry and owner. */
  def cached(df: DataFrame): DataFrame = {
    val cm = df.sparkSession.sharedState.cacheManager
    if (cm.lookupCachedData(df).isEmpty) {
      df.persist(StorageLevel.MEMORY_AND_DISK)
      cm.lookupCachedData(df).foreach(cd =>
        caches.add(cd.cachedRepresentation.cacheBuilder.sizeInBytesStats.id))
    }
    df
  }

  /** `f` over [[cached]] `df`, released when `f` returns or throws. */
  def during[T](df: DataFrame)(f: DataFrame => T): T =
    try f(cached(df)) finally release(df)

  /** Free the checkpoints and cache entries made here that `df`'s plan,
    * planned afresh, reads directly: its checkpoint leaves and cached
    * fragments. Storage under a cached fragment, and storage the caller made
    * (a `cache()` or checkpoint of an input), is left alone. Non-blocking. */
  def release(df: DataFrame): Unit = {
    val cm = df.sparkSession.sharedState.cacheManager
    val plan = df.sparkSession.sessionState.executePlan(df.queryExecution.analyzed)
    plan.withCachedData.foreachWithSubqueries {
      case lr: LogicalRDD if checkpoints.remove(lr.rdd.id) => lr.rdd.unpersist(blocking = false)
      case r: InMemoryRelation if caches.remove(r.cacheBuilder.sizeInBytesStats.id) =>
        cm.uncacheQuery(df.sparkSession, r.cacheBuilder.logicalPlan, cascade = false,
          blocking = false)
      case _ => ()
    }
  }
}
