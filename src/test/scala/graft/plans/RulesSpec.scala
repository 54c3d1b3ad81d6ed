package graft.plans

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

/** The rule is opt-in per session, so each test installs it on its own
  * child session and the shared one never plans with it. */
class RulesSpec extends SparkSpec {

  test("cosine_sim(x, x) folds to a literal for non-nullable x") {
    val s = spark.newSession()
    Rules.register(s)
    val df = Tables.embeddings(s, sf0001)
      .select(coalesce(col("embedding"),
        array(lit(1.0f))).as("e")) // non-nullable by construction
      .select(expr("cosine_sim(e, e)").as("c"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(!opt.contains("cosine_sim"), s"self-cosine not folded:\n$opt")
    assert(df.collect().forall(_.getDouble(0) == 1.0))
  }

  test("nullable input is NOT folded (null propagation preserved)") {
    val s = spark.newSession()
    Rules.register(s)
    val df = Tables.embeddings(s, sf0001)
      .select(expr("cosine_sim(embedding, embedding)").as("c"))
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("cosine_sim"), s"nullable self-cosine wrongly folded:\n$opt")
  }

  test("zero-norm and empty vectors still return NaN after the fold") {
    val s = spark.newSession()
    Rules.register(s)
    // parquet-backed input (a local Seq would be constant-folded by
    // ConvertToLocalRelation before the rule could ever fire); zero and
    // empty vectors derived from the non-nullable embedding column
    def shaped(vcol: org.apache.spark.sql.Column) =
      Tables.embeddings(s, sf0001).limit(3)
        .select(vcol.as("e"))
        .select(expr("transform(e, x -> float(0.0))").as("z"),
                expr("slice(e, 1, 0)").as("emp"), col("e"))
        .select(expr("cosine_sim(z, z)").as("zero"),
                expr("cosine_sim(emp, emp)").as("empty"),
                expr("cosine_sim(e, e)").as("self"))
    val folded = shaped(coalesce(col("embedding"), array(lit(1.0f))))
    val opt = folded.queryExecution.optimizedPlan.toString
    assert(!opt.contains("cosine_sim"), s"self-cosine not folded:\n$opt")
    // reference: nullable child keeps the raw (unfolded) expression
    val ref = shaped(col("embedding"))
    assert(ref.queryExecution.optimizedPlan.toString.contains("cosine_sim"))
    val (g, r) = (folded.head(), ref.head())
    assert(r.getDouble(0).isNaN && r.getDouble(1).isNaN,
      "unoptimized 0/0 must be NaN")
    assert(g.getDouble(0).isNaN && g.getDouble(1).isNaN,
      s"folded zero-norm/empty results changed: $g")
    // non-zero vector: the fold CANONICALIZES to exactly 1.0; the raw
    // d/(sqrt(d)*sqrt(d)) may sit 1 ulp below (e.g. d=2 -> 0.99999999999999978)
    // — the fold is the mathematically correct value, at most 1 ulp away
    assert(g.getDouble(2) == 1.0)
    val rawUlps = math.abs(r.getDouble(2) - 1.0) / math.ulp(1.0)
    assert(rawUlps <= 1.0, s"raw self-cosine ${r.getDouble(2)} is $rawUlps ulps off")
  }

  test("distinct vectors are untouched by the rule") {
    val s = spark.newSession()
    import s.implicits._
    Rules.register(s)
    val df = Seq((Array(1.0f, 0.0f), Array(0.0f, 1.0f))).toDF("a", "b")
      .select(expr("cosine_sim(a, b)").as("c"))
    assert(df.head().getDouble(0) == 0.0)
  }

  test("jaro_winkler(x, x) folds to 1.0; lcs_len(x, x) folds to size") {
    val s = spark.newSession()
    import s.implicits._
    Rules.register(s)
    val df = Seq(("hello world", "the cat sat on the mat"))
      .toDF("a", "b")
      .select(expr("jaro_winkler(a, a)").as("jw"),
        expr("lcs_len(split(b, ' '), split(b, ' '))").as("lcs"))
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("jaro_winkler"), plan)
    assert(!plan.contains("lcs_len"), plan)
    val r = df.head()
    assert(r.getDouble(0) === 1.0)
    assert(r.getInt(1) === 6)
    // distinct args: the rule must NOT rewrite — values come from the
    // real kernels (ConstantFolding may still evaluate them at plan time
    // over this literal relation, which also exercises eval)
    val d = Seq(("ab", "ba")).toDF("x", "y")
      .select(expr("jaro_winkler(x, y)").as("jw"),
        expr("lcs_len(split(x, ''), split(y, ''))").as("lcs"))
    assert(d.head().getDouble(0) === 0.0)
    assert(d.head().getInt(1) === 1)
  }
}
