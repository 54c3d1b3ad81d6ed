package graft.functions

import graft.SparkSpec
import graft.operators.PTransform
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

class BucketHashSpec extends SparkSpec {
  private val s0 = spark
  import s0.implicits._

  test("graft_bucket: codegen expression ≡ driver twin, no ScalaUDF, in WSCG") {
    val df = (1L to 2000L).toDF("id").withColumn("b",
      call_function("graft_bucket", col("id").cast("string"), lit(16)))
    // bit-identical to the driver-side probe twin for every row
    df.collect().foreach { r =>
      assert(r.getString(1) ==
        PTransform.bucketOf(r.getLong(0).toString, 16).toString)
    }
    // uniform-ish spread (hash quality): no bucket empty at 2000/16
    val counts = df.groupBy("b").count().as[(String, Long)].collect().toMap
    assert(counts.size == 16 && counts.values.forall(_ > 50), s"$counts")
    // NULL in → NULL out
    val n = Seq[Option[String]](None).toDF("s")
      .select(call_function("graft_bucket", col("s"), lit(8)))
      .collect().head
    assert(n.isNullAt(0))
  }

  test("graft_bucket rejects non-positive bucket counts at analysis") {
    // n = 0 must be an analysis-time refusal, not an ArithmeticException
    // thrown from generated code; n < 0 likewise (negative bucket-id
    // strings could never match logged pvals)
    for (n <- Seq(0, -3)) {
      val e = intercept[Exception] {
        Seq("x").toDF("s")
          .select(call_function("graft_bucket", col("s"), lit(n)))
          .collect()
      }
      assert(!e.isInstanceOf[ArithmeticException] &&
        e.getMessage.contains("positive"), s"n=$n: $e")
    }
    // n = 1 is degenerate but well-defined: everything lands in bucket 0
    val one = Seq("a", "b").toDF("s")
      .select(call_function("graft_bucket", col("s"), lit(1)))
      .collect().map(_.getString(0)).toSet
    assert(one == Set("0"))
  }

  test("partition derive plan carries no ScalaUDF and stays codegen") {
    val c = PTransform.parse("bucket(8,id)").derivedExpr(LongType)
    val proj = spark.range(1, 101).toDF("id").withColumn("gb", c)
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    val hasUdf = proj.queryExecution.analyzed.expressions
      .exists(_.exists(_.isInstanceOf[ScalaUDF]))
    assert(!hasUdf, "the partitioned-write derive column must be native")
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    assert(proj.queryExecution.executedPlan.exists {
        case w: WholeStageCodegenExec =>
          w.toString.contains("graft_bucket")
        case _ => false
      },
      "bucket derive must run inside whole-stage codegen:\n" +
        proj.queryExecution.executedPlan.toString)
    // derived values agree with the transform's probe twin
    proj.collect().foreach { r =>
      assert(r.getString(1) ==
        PTransform.parse("bucket(8,id)")
          .derive(r.getLong(0).toString, isIntegral = true).get)
    }
  }
}
