package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.multimodal.Multimodal

/** The index-root lifecycle [[Generations]] runs for both index families. */
class GenerationsSpec extends SparkSpec {
  import spark.implicits._

  /** One index family's entry points over an (id, value) frame. `nearest`
    * names the stored member an exact copy of a member matches. */
  private case class Family(
      name: String,
      source: DataFrame,
      build: (DataFrame, String) => Unit,
      delete: (Long, String) => Unit,
      appendBatch: (DataFrame, String, Long) => Boolean,
      storedIds: String => Set[Long],
      nearest: (DataFrame, String) => Long)

  private lazy val knn = Family("KnnIndex",
    sf("sf0.001", "embeddings").select($"vec_id".as("id"), $"embedding".as("v")),
    (df, path) => KnnIndex.build(df, "id", "v", path, nLists = 8),
    (id, path) => KnnIndex.delete(Seq(id).toDF("id"), "id", path),
    (df, path, b) => KnnIndex.appendBatch(df, "id", "v", path, b),
    path => spark.read.parquet(KnnIndex.membersDir(spark, path))
      .select(explode($"vmem.id")).as[Long].collect().toSet,
    (copy, path) => KnnIndex.knnJoinDelta(copy, "id", "v", path, k = 3, nprobe = 4)
      .as[(Long, Long, Double, Int)].collect().filter(_._4 == 1).head._2)

  private lazy val sig = {
    val rng = new scala.util.Random(23)
    Family("signature index",
      (0 until 200).map(i => (i.toLong, rng.nextLong())).toDF("id", "hash"),
      (df, path) => Multimodal.buildSigIndex(df, path, bands = 4),
      (id, path) => Multimodal.deleteSig(Seq(id).toDF("id"), "id", path),
      (df, path, b) => Multimodal.appendSigBatch(df, path, b),
      path => spark.read.parquet(Multimodal.sigMembersDir(spark, path))
        .select($"id").as[Long].collect().toSet,
      (copy, path) => Multimodal.nearDupDelta(copy, path, maxHamming = 3)
        .select($"dup_of_old").as[Long].head())
  }

  test("a rebuild at the same path starts a fresh lifecycle: batch ids and " +
      "tombstones of the old index no longer apply (both families)") {
    Seq(knn, sig).foreach { f =>
      val path = java.nio.file.Files.createTempDirectory("graft_gens").toString
      val (deleted, first, second) = (7L, 5L, 10L)
      val base = f.source.filter(!$"id".isin(first, second))
      def row(id: Long) = f.source.filter($"id" === id)
      f.build(base, path)
      f.delete(deleted, path)
      assert(f.appendBatch(row(first), path, 0L), s"${f.name}: first batch 0")
      f.build(base, path)
      assert(f.appendBatch(row(second), path, 0L),
        s"${f.name}: the rebuilt index dropped its batch 0 as already committed")
      assert(f.storedIds(path).contains(second), s"${f.name}: batch 0 row not stored")
      val copy = row(deleted).withColumn("id", lit(90000L + deleted))
      assert(f.nearest(copy, path) == deleted,
        s"${f.name}: the old index's tombstone hid the rebuilt member $deleted")
    }
  }
}
