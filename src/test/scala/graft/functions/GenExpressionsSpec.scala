package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec

class GenExpressionsSpec extends SparkSpec {

  /** The built-in composition [[GenExpressions.SeededHex]] fuses. */
  private def composed(seed: Long, id: Column, tag: String, idx: Seq[Column], length: Int) =
    substring(concat((0 until (length + 31) / 32).map { b =>
      md5(concat_ws("/", (lit(seed) +: id +: lit(s"$tag/s$b") +: idx): _*))
    }: _*), 1, length)

  test("seeded_hex equals the md5/concat_ws composition, compiled and interpreted") {
    val ids = spark.range(-500, 1500).select(
      when(col("id") % 97 === 0, lit(null)).otherwise(col("id")).as("id"),
      (col("id") % 5).cast("int").as("i"),
      when(col("id") % 3 === 0, lit(null)).otherwise(col("id") * -7919L).as("j"))
    val cases = Seq((1L, Nil, 8), (-42L, Seq("i"), 32), (7L, Seq("i", "j"), 70),
      (Long.MinValue, Seq("j"), 33), (3L, Seq("i"), 0))
    val cols = cases.zipWithIndex.flatMap { case ((seed, idx, len), k) =>
      val tag = s"c$k/é"
      Seq(GenExpressions.seeded_hex(seed, col("id"), tag, idx.map(col), len).as(s"f$k"),
        composed(seed, col("id"), tag, idx.map(col), len).as(s"r$k"))
    }
    def run() = ids.select(cols: _*).collect()
    val compiled = run()
    val interpreted = try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      run()
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    assert(compiled.sameElements(interpreted))
    compiled.foreach { r =>
      cases.indices.foreach(k => assert(r.getString(2 * k) == r.getString(2 * k + 1)))
    }
    assert(compiled.map(_.getString(4)).forall(_.length == 70))
  }
}
