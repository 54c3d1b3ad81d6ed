package graft.functions

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

/** The native expressions must be bit-compatible with the HOF formulations
  * the oracle queries use, null-safe, and must run inside codegen. */
class CosineSimSpec extends SparkSpec {

  private def hofCosine = expr(
    """aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)),
      |          cast(0.0 as double), (acc, v) -> acc + v)
      | / (sqrt(aggregate(a, cast(0.0 as double), (acc, x) -> acc + cast(x as double) * cast(x as double)))
      |  * sqrt(aggregate(b, cast(0.0 as double), (acc, x) -> acc + cast(x as double) * cast(x as double))))
      |""".stripMargin.replaceAll("\n", " "))

  test("cosine_sim is bit-identical to the higher-order formulation") {
    val s = spark
    val emb = Tables.embeddings(s, sf0001).limit(50)
      .select(col("embedding").as("a"))
      .crossJoin(Tables.embeddings(s, sf0001).limit(5)
        .select(col("embedding").as("b")))
    val diff = emb.select(
      expr("cosine_sim(a, b)").as("native"), hofCosine.as("hof"))
      .where(col("native") =!= col("hof"))
    assert(diff.count() == 0, "native and HOF cosine disagree")
  }

  test("dot_f matches sequential double accumulation and handles nulls") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(0.5f, -0.5f), Array(2.0f, 2.0f))
    ).toDF("a", "b")
    val vals = df.select(expr("dot_f(a, b)")).as[Double].collect()
    assert(vals(0) == 1.0 * 4 + 2.0 * 5 + 3.0 * 6)
    assert(vals(1) == 0.0)
    val withNull = df.select(expr("dot_f(a, cast(null as array<float>))"))
      .collect()
    assert(withNull.forall(_.isNullAt(0)))
  }

  test("native expressions execute inside whole-stage codegen") {
    val s = spark
    val df = Tables.embeddings(s, sf0001)
      .select(expr("cosine_sim(embedding, embedding)").as("c"))
    df.collect()
    val plan = df.queryExecution.executedPlan.collectFirst {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
    }.getOrElse(df.queryExecution.executedPlan.toString)
    assert(plan.contains("*(1)"), s"expression fell out of codegen:\n$plan")
    val selfSim = df.collect().map(_.getDouble(0))
    assert(selfSim.forall(v => math.abs(v - 1.0) < 1e-9))
  }

  test("engine sessions carry the function table and no planner extras") {
    // a newSession() child of the engine's session: the extension reaches
    // it, where a register() on the parent would not
    val child = spark.newSession()
    def usage(s: org.apache.spark.sql.SparkSession, name: String): String =
      s.sql(s"DESCRIBE FUNCTION $name").collect().map(_.getString(0))
        .find(_.startsWith("Usage:")).getOrElse("")
    def resolvesAll(s: org.apache.spark.sql.SparkSession): Unit =
      for ((id, info, _) <- GraftFunctions.table) {
        val name = id.funcName
        assert(s.catalog.functionExists(name), s"$name does not resolve")
        assert(usage(s, name) ==
          s"Usage: ${info.getUsage.replace("_FUNC_", name)}", name)
      }
    assert(GraftFunctions.table.size == 13)
    resolvesAll(child)
    // the fallback path over an extension-built session changes nothing
    GraftFunctions.register(child)
    resolvesAll(child)
    // the extension injects functions only: the top-k strategy and the
    // self-similarity rule stay off unless a session opts in
    def strategies(s: org.apache.spark.sql.SparkSession) =
      s.sessionState.planner.strategies
    def rules(s: org.apache.spark.sql.SparkSession) =
      s.sessionState.optimizer.batches.flatMap(_.rules)
    assert(!strategies(child).contains(graft.plans.TopKPerGroupStrategy))
    assert(!rules(child).contains(graft.plans.SimplifySelfSimilarity))
    // and the probes see them once a session does opt in
    val optedIn = spark.newSession()
    graft.plans.TopK.install(optedIn)
    graft.plans.Rules.register(optedIn)
    assert(strategies(optedIn).contains(graft.plans.TopKPerGroupStrategy))
    assert(rules(optedIn).contains(graft.plans.SimplifySelfSimilarity))
  }

  test("function builders reject wrong arity on both registration paths") {
    // the SAME table backs register() and the extensions injector, so
    // pinning its builders here covers simhash64(a, b) resolved either way
    def builder(name: String) =
      GraftFunctions.table.find(_._1.funcName == name).get._3
    import org.apache.spark.sql.catalyst.expressions.Literal
    val one = Seq[org.apache.spark.sql.catalyst.expressions.Expression](
      Literal(1))
    val two = one ++ one
    intercept[IllegalArgumentException](builder("simhash64")(two))
    intercept[IllegalArgumentException](builder("cosine_sim")(one))
    intercept[IllegalArgumentException](builder("dot_f")(one ++ two))
    // and a registry-resolved wrong-arity call fails analysis loudly
    val err = intercept[Exception](
      spark.sql("SELECT simhash64(array('a'), array('b'))").collect())
    assert(err.getMessage.contains("simhash64 takes exactly 1 argument"),
      s"unexpected analysis error: ${err.getMessage}")
  }
}
