package graft.operators

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Lifetimes of materialized intermediates: what each operator leaves in
  * executor storage, and that [[Materialize.release]] frees exactly that. */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def cm = spark.sharedState.cacheManager
  private def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
  private def checkpointIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves().collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  test("release of a knnJoinIvf output empties the cache entry ivfJoinCore made") {
    val emb = sf("sf0.001", "embeddings")
    // `cached` keeps an entry that already exists, so an earlier suite's
    // unreleased knnJoinIvf over the same embeddings would hide this call's
    // entry in the baseline: release any leftover output of this plan first
    Materialize.release(Similarity.knnJoinIvf(emb, "vec_id", "embedding", k = 3))
    val rdds = persistent
    val out = Similarity.knnJoinIvf(emb, "vec_id", "embedding", k = 3)
    val rows = out.collect().map(_.toString).sorted
    val entries = out.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r.cacheBuilder.logicalPlan
    }
    assert(entries.nonEmpty, "the vector base is cached at sf0.001")
    assert(entries.forall(cm.lookupCachedData(spark, _).isDefined))
    assert((persistent -- rdds).nonEmpty, "the base cache holds executor storage")
    Materialize.release(out)
    assert(entries.forall(cm.lookupCachedData(spark, _).isEmpty))
    assert((persistent -- rdds).isEmpty, "released output left storage behind")
    // a cache keeps its lineage: the released output still evaluates
    assert(out.collect().map(_.toString).sorted.sameElements(rows))
  }

  test("components leaves only the final labels checkpoint; release frees it") {
    val rdds = persistent
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)).toDF("id_a", "id_b")
    val labels = ConnectedComponents.components(edges)
    val left = persistent -- rdds
    assert(left.size == 1 && left == checkpointIds(labels),
      s"expected only the labels checkpoint, got $left")
    assert(labels.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 8L -> 7L))
    Materialize.release(labels)
    assert((persistent -- rdds).isEmpty)

    val star = ConnectedComponents.componentsStar(edges)
    assert((persistent -- rdds).size == 1)
    Materialize.release(star)
    assert((persistent -- rdds).isEmpty)
  }

  test("a caller's own cache() and localCheckpoint of the input survive release") {
    val emb = sf("sf0.001", "embeddings").filter($"vec_id" >= 0).cache()
    try {
      emb.count()
      val out = Similarity.knnJoinIvf(emb, "vec_id", "embedding", k = 3)
      out.collect()
      Materialize.release(out)
      assert(cm.lookupCachedData(emb).isDefined, "the caller's cache() was freed")

      val edges = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b").localCheckpoint()
      val labels = ConnectedComponents.components(edges)
      // one plan reading both the caller's checkpoint and the operator's
      val joined = labels.join(edges.select($"id_a".as("id")), "id")
      joined.collect()
      Materialize.release(joined)
      assert(persistent.intersect(checkpointIds(labels)).isEmpty)
      assert(checkpointIds(edges).subsetOf(persistent), "the caller's checkpoint was freed")
      assert(edges.count() == 2)
    } finally emb.unpersist()
  }

  test("during releases its cache when the body throws") {
    val df = spark.range(1000).toDF("id").filter($"id" % 7 === 3)
    val rdds = persistent
    val e = intercept[IllegalStateException] {
      Materialize.during(df) { c =>
        assert(c.count() == 143)
        assert(cm.lookupCachedData(df).isDefined)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(cm.lookupCachedData(df).isEmpty)
    assert((persistent -- rdds).isEmpty)
  }

  /** One owner per decision: `pattern` may match only in `owner`'s file.
    * A `codeOnly` row ignores comments, so scaladoc may still name what
    * the owner keeps. */
  private case class Owner(owner: String, what: String,
      pattern: scala.util.matching.Regex, codeOnly: Boolean)

  private val owners = Seq(
    Owner("Materialize", "persist, cache, checkpoint or unpersist call",
      """\.(persist|cache|localCheckpoint|unpersist)\b|(?<!Materialize)\.checkpoint\b""".r,
      codeOnly = false),
    Owner("Generations", "index-root lifecycle name or concurrent-writers conf",
      """ingest_log|/tombstones|staging/batch|ingest-b|members-gen-|maxConcurrentOutputFileWriters""".r,
      codeOnly = true),
    Owner("Dedup", "q87 verdict fold (a dup_of_old column)",
      """\.as\("dup_of_old"\)""".r, codeOnly = true),
    Owner("Rank", "cross-partition stitch (a runJob or mapPartitionsWithIndex call)",
      """runJob\(|mapPartitionsWithIndex""".r, codeOnly = true),
    // query widening, per-member ADC sum, bounded-insertion shortlist,
    // cap-covers-cell shortcut, member cosine, shortlist membership,
    // (cosine desc, id asc) cut, member-struct layout match
    Owner("CellScoring", "IVF-PQ in-cell scoring step",
      ("""\)\s*=\s*\w+\.getFloat\(\w+\)\.toDouble|code\.getInt\(|slDist|\w+ <= kCand\b|""" +
        """vB\.getFloat|binarySearch\(slSorted|sortBy\(q => \(-|ArrayType\([_s]: StructType, _\)""").r,
      codeOnly = true))

  /** `line` without its comment: a scaladoc or block-comment line is
    * dropped whole, a trailing `//` comment is cut. */
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*")) ""
    else line.indexOf("//") match {
      case -1 => line
      case i => line.substring(0, i)
    }
  }

  owners.foreach { o =>
    test(s"no ${o.what} in src/main outside ${o.owner}") {
      val root = Paths.get("src/main/scala")
      assert(Files.isDirectory(root), s"run from the repository root (no $root)")
      val hits = Files.walk(root).iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != s"${o.owner}.scala")
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if o.pattern.findFirstIn(
                if (o.codeOnly) code(line) else line).isDefined =>
              s"$p:${i + 1}: ${line.trim}"
          }
        }.toList
      assert(hits.isEmpty, s"go through ${o.owner}:\n" +
        hits.mkString("\n"))
    }
  }
}
