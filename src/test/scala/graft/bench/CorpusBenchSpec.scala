package graft.bench

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The corpus-bench generators are the measurement substrate for the scale
  * artifacts (docs/corpusbench_local32.jsonl) — pin their determinism and
  * the planted-duplicate structure the benched operators are scored on. */
class CorpusBenchSpec extends SparkSpec {
  import spark.implicits._

  test("document corpus: deterministic, planted 3-member near-dup groups") {
    val a = CorpusBench.corpus(spark, 200).orderBy("doc_id").collect()
    val b = CorpusBench.corpus(spark, 200).orderBy("doc_id").collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq, "corpus not deterministic")
    val byId = a.map(r => r.getLong(0) -> r.getString(1)).toMap
    // replicas of a block share everything after the replica marker
    def body(id: Long) = byId(id).split(" ", 2)(1)
    assert(body(0L) == body(1L) && body(1L) == body(2L),
      "dup-group replicas must share the body")
    assert(byId(0L) != byId(1L), "replica markers must differ")
    assert(body(3L) != body(4L), "non-group docs must not share bodies")
    // documents are 51-201 tokens (50-200 words + marker)
    val lens = a.map(_.getString(1).split(" ").length)
    assert(lens.min >= 51 && lens.max <= 201)
  }

  test("embedding corpus: deterministic, replicas at cosine >= 0.999, strangers far") {
    val e = CorpusBench.embCorpus(spark, 100).orderBy("vec_id")
      .as[(Long, Array[Float])].collect().toMap
    val e2 = CorpusBench.embCorpus(spark, 100).orderBy("vec_id")
      .as[(Long, Array[Float])].collect().toMap
    assert(e.view.mapValues(_.toSeq).toMap == e2.view.mapValues(_.toSeq).toMap)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    assert(cos(e(0L), e(1L)) >= 0.999, s"replica cosine ${cos(e(0L), e(1L))}")
    assert(cos(e(20L), e(22L)) >= 0.999)
    assert(math.abs(cos(e(0L), e(40L))) < 0.5, "unrelated vectors should be near-orthogonal")
    assert(e(0L).length == 64)
  }

  test("deleteTree removes a nested tree; a missing path is a no-op") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("corpusbench-deltree")
    val tree = root.resolve("idx")
    Files.createDirectories(tree.resolve("members/cell=1"))
    Files.createDirectories(tree.resolve("meta"))
    Files.writeString(tree.resolve("members/cell=1/part-0.parquet"), "x")
    Files.writeString(tree.resolve("meta/_SUCCESS"), "")
    Files.writeString(root.resolve("sibling.txt"), "keep")
    CorpusBench.deleteTree(tree.toString)
    assert(!Files.exists(tree), "tree not removed")
    assert(Files.exists(root.resolve("sibling.txt")), "deleteTree reached outside its root")
    CorpusBench.deleteTree(tree.toString) // already gone: no-op, no throw
    CorpusBench.deleteTree(root.toString)
    assert(!Files.exists(root))
  }
}
