package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.TimestampType

import graft.SparkSpec

class TestTablesSpec extends SparkSpec {

  /** The sf0.001 fixture directory, as the shared `sf` reader resolves it. */
  private lazy val dir =
    new org.apache.hadoop.fs.Path(sf("sf0.001", "orders").inputFiles.head).getParent.toUri.getPath

  private def relationOf(df: DataFrame) =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l }.get

  /** A private copy of one fixture as a directory of part files. */
  private def copyFixture(name: String, parts: Int): String = {
    val d = Files.createTempDirectory("test_tables").toString
    Files.createDirectories(Paths.get(s"$d/$name.parquet"))
    (0 until parts).foreach(addPart(d, name, _))
    d
  }

  private def addPart(d: String, name: String, i: Int): Unit =
    Files.copy(Paths.get(s"$dir/$name.parquet"), Paths.get(s"$d/$name.parquet/part-$i.parquet"))

  test("a warm fixture read launches no Spark job") {
    val d = copyFixture("orders", 1)
    assert(jobsLaunchedBy(TestTables.orders(spark, d)) >= 1,
      "a cold read should infer the schema with a Spark job")
    assert(jobsLaunchedBy(TestTables.orders(spark, d)) == 0)
    assert(jobsLaunchedBy(TestTables.events(spark, dir)) <= 1)
    assert(jobsLaunchedBy(TestTables.events(spark, dir)) == 0)
  }

  test("each read gets fresh attribute IDs; a self-join equals the uncached read's") {
    val a = TestTables.orders(spark, dir)
    val b = TestTables.orders(spark, dir)
    assert(relationOf(a).relation eq relationOf(b).relation)
    assert(a.queryExecution.analyzed.outputSet.intersect(b.queryExecution.analyzed.outputSet).isEmpty)
    def selfJoin(x: DataFrame, y: DataFrame) =
      x.join(y, x("o_custkey") === y("o_custkey") && x("o_orderkey") < y("o_orderkey"))
        .select(x("o_orderkey"), y("o_orderkey"), y("o_totalprice"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.get(2).toString)).sorted.toSeq
    val cached = selfJoin(a, b)
    val uncached = selfJoin(sf("sf0.001", "orders"), sf("sf0.001", "orders"))
    assert(cached.nonEmpty && cached == uncached)
  }

  test("a file added to a fixture directory shows in the next read") {
    val d = copyFixture("region", 1)
    val n = TestTables.region(spark, d).count()
    assert(TestTables.region(spark, d).count() == n)
    addPart(d, "region", 1)
    assert(TestTables.region(spark, d).count() == 2 * n)
  }

  test("schemas, and the events.ts type, equal the uncached read's") {
    graft.ddl.Catalog.TestTableNames.foreach { t =>
      TestTables.table(spark, dir, t) // resolve, so the next call is served warm
      val warm = TestTables.table(spark, dir, t).schema
      val raw = spark.read.parquet(s"$dir/$t.parquet").schema
      if (t == "events") {
        assert(warm("ts").dataType == TimestampType)
        assert(warm.filterNot(_.name == "ts") == raw.filterNot(_.name == "ts"))
        assert(warm.fieldNames.toSeq == raw.fieldNames.toSeq)
      } else assert(warm == raw, t)
    }
  }

  test("a new session does not reuse another session's relation") {
    val mine = relationOf(TestTables.nation(spark, dir)).relation
    val other: SparkSession = spark.newSession()
    // same parquet confs, so only the session tells the two apart
    spark.conf.getAll.foreach { case (k, v) =>
      if (k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet."))
        other.conf.set(k, v)
    }
    assert(jobsLaunchedBy(TestTables.nation(other, dir)) >= 1)
    val theirs = relationOf(TestTables.nation(other, dir))
    assert(!(theirs.relation eq mine))
    assert(theirs.relation.asInstanceOf[HadoopFsRelation].sparkSession eq other)
  }
}
