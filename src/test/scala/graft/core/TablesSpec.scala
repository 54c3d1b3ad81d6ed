package graft.core

import java.nio.file.Files

import graft.SparkSpec

/** `Tables.load` infers a parquet schema once per file version: an
  * unchanged table loads with no Spark job, a rewritten one with its new
  * schema. */
class TablesSpec extends SparkSpec {

  test("an unchanged table loads a second time without a Spark job") {
    val first = Tables.names.map(n => n -> Tables.load(spark, sf0001, n).schema)
    val (second, jobs) = jobsOf(
      Tables.names.map(n => n -> Tables.load(spark, sf0001, n).schema))
    assert(jobs.isEmpty, s"reloading unchanged tables ran jobs $jobs")
    assert(second == first)
    val (_, registerJobs) = jobsOf(Tables.registerAll(spark, sf0001))
    assert(registerJobs.isEmpty, s"registerAll ran jobs $registerJobs")
    assert(spark.table("region").count() ==
      spark.read.parquet(s"$sf0001/region.parquet").count())
  }

  test("a rewritten table loads with its new schema") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft_tables").toString
    Seq((1, "x"), (2, "y")).toDF("a", "b").write.parquet(s"$dir/t.parquet")
    val before = Tables.load(s, dir, "t")
    assert(before.schema.fieldNames.toSeq == Seq("a", "b"))
    assert(Tables.load(s, dir, "t").as[(Int, String)].collect().sorted.toSeq ==
      Seq((1, "x"), (2, "y")))
    Seq(10L, 20L, 30L).toDF("c").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val after = Tables.load(s, dir, "t")
    assert(after.schema.fieldNames.toSeq == Seq("c"))
    assert(after.as[Long].collect().sorted.toSeq == Seq(10L, 20L, 30L))
  }

  test("a missing table fails as a bare parquet read does") {
    val dir = Files.createTempDirectory("graft_tables_missing").toString
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Tables.load(spark, dir, "absent"))
    assert(e.getMessage.contains("absent.parquet"), e.getMessage)
  }
}
