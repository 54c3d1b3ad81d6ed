package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** TopKPerGroupStrategy / TopKPerGroupExec: the strategy fires on exactly
  * the safe pattern, the heap operator is row-for-row equivalent to the
  * default WindowExec plan, and non-matching shapes fall through.
  */
class TopKSpec extends SparkSpec {

  // fresh session so the installed strategy never leaks into the shared one
  private def session(): SparkSession = {
    val s2 = spark.newSession()
    TopK.install(s2)
    s2
  }

  private def topkQuery(s: SparkSession, k: Int): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    s.read.parquet(s"$sf001/orders.parquet")
      .select(col("o_custkey"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("price"),
        row_number().over(w).as("rn"))
      .where(col("rn") <= k)
      .orderBy(col("o_custkey"), col("rn"))
  }

  test("strategy plans the two heap phases, no WindowExec, no pre-exchange sort") {
    val s2 = session()
    val plan = topkQuery(s2, 3).queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerGroupExec"), plan.take(2000))
    assert(plan.contains("TopKPerGroupPartial"), "map-side combine phase missing")
    assert(!plan.contains("WindowExec"), "full WindowExec should be gone")
    assert(!plan.contains("WindowGroupLimit"),
      "sort-based pre-limiter should be subsumed by the heap phases")
    // the ONLY Sort left is the final presentation orderBy above the filter
    assert("Sort \\[".r.findAllIn(plan).size === 1, plan.take(2000))
  }

  test("heap operator is row-for-row equal to the default window plan") {
    val native = topkQuery(session(), 3).collect().map(_.toSeq)
    val default = topkQuery(spark, 3).collect().map(_.toSeq)
    assert(native.toSeq === default.toSeq)
    assert(native.nonEmpty)
  }

  test("k = 1 (argmax per group) and rn < k spelling both work") {
    val s2 = session()
    val one = topkQuery(s2, 1)
    assert(one.queryExecution.executedPlan.toString
      .contains("TopKPerGroupExec"))
    assert(one.collect().map(_.toSeq).toSeq ===
      topkQuery(spark, 1).collect().map(_.toSeq).toSeq)
    // rn < 4 ≡ rn <= 3
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    val lt = s2.read.parquet(s"$sf001/orders.parquet")
      .select(col("o_custkey"), col("o_orderkey"),
        row_number().over(w).as("rn"))
      .where(col("rn") < 4)
    assert(lt.queryExecution.executedPlan.toString
      .contains("TopKPerGroupExec"))
    assert(lt.count() === topkQuery(spark, 3).count())
  }

  test("non-matching shapes fall through to the default planner") {
    val s2 = session()
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    // rank() is not row_number — ties would change semantics
    val ranked = s2.read.parquet(s"$sf001/orders.parquet")
      .select(col("o_custkey"), rank().over(w).as("rk"))
      .where(col("rk") <= 3)
    assert(!ranked.queryExecution.executedPlan.toString
      .contains("TopKPerGroupExec"))
    // unpartitioned window: global top-k is TakeOrdered territory, not ours
    val global = s2.read.parquet(s"$sf001/orders.parquet")
      .select(col("o_orderkey"),
        row_number().over(Window.orderBy(col("o_totalprice").desc)).as("rn"))
      .where(col("rn") <= 3)
    assert(!global.queryExecution.executedPlan.toString
      .contains("TopKPerGroupExec"))
  }

  test("partial phase flushes at maxGroupsPerPartition and stays exact") {
    val s2 = session()
    // ~1500 distinct custkeys per map partition; bound 400 forces map-side
    // flushes (a flushed group re-opens and forwards extra candidates)
    // while each of the 4 reduce partitions holds ~375 groups — under the
    // bound, so the final phase merges the duplicates exactly
    s2.conf.set(TopKPerGroupStrategy.maxGroupsKey, "400")
    // pin the reduce side at 8 partitions (~190 groups each, under the
    // bound) so this test exercises the in-memory final fast path — AQE
    // would otherwise coalesce to ONE partition and take the spill path
    // (covered by its own test below)
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    try {
      val q = topkQuery(s2, 3)
      assert(q.queryExecution.executedPlan.toString.contains("TopKPerGroupExec"))
      assert(q.collect().map(_.toSeq).toSeq ===
        topkQuery(spark, 3).collect().map(_.toSeq).toSeq)
    } finally {
      s2.conf.unset(TopKPerGroupStrategy.maxGroupsKey)
      s2.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
      s2.conf.set("spark.sql.shuffle.partitions", "4")
    }
  }

  test("final phase spills past the group bound and stays exact") {
    val s2 = session()
    // bound 10 with ~1500 distinct custkeys (AQE coalesces the tiny
    // shuffle to one reduce partition) → the final map spills ~150
    // key-sorted runs and the k-way merge must still produce the
    // bit-identical answer the in-memory fast path gives
    s2.conf.set(TopKPerGroupStrategy.maxGroupsKey, "10")
    try {
      val q = topkQuery(s2, 3)
      assert(q.queryExecution.executedPlan.toString.contains("TopKPerGroupExec"))
      assert(q.collect().map(_.toSeq).toSeq ===
        topkQuery(spark, 3).collect().map(_.toSeq).toSeq)
      // the degrade must be OBSERVABLE: the final phase's spill metrics
      // surface in the executed plan (UI/explain), not just temp-dir churn
      val finalPlan = q.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      // collect() stops at AQE query-stage leaves; recurse through them
      def findFinals(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[TopKPerGroupExec] =
        (p match {
          case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            findFinals(qs.plan)
          case t: TopKPerGroupExec if !t.partial => Seq(t)
          case _ => Seq.empty
        }) ++ p.children.flatMap(findFinals)
      val execs = findFinals(finalPlan)
      assert(execs.nonEmpty, finalPlan.toString.take(2000))
      assert(execs.head.metrics("numSpills").value > 0, "spills not counted")
      assert(execs.head.metrics("spillBytes").value > 0, "spill bytes not counted")
    } finally s2.conf.unset(TopKPerGroupStrategy.maxGroupsKey)
  }

  test("spill dir resolution mirrors Spark's precedence: cluster-manager env over conf") {
    val tmpA = java.nio.file.Files.createTempDirectory("graft_ld_a").toString
    val tmpB = java.nio.file.Files.createTempDirectory("graft_ld_b").toString
    // YARN-style LOCAL_DIRS wins over everything
    assert(TopKPerGroupExec.resolveSpillDir(
      Map("LOCAL_DIRS" -> s"$tmpA,$tmpB").getOrElse(_, null)).getPath === tmpA)
    // standalone/K8s SPARK_LOCAL_DIRS next
    assert(TopKPerGroupExec.resolveSpillDir(
      Map("SPARK_LOCAL_DIRS" -> tmpB).getOrElse(_, null)).getPath === tmpB)
    // no env → falls through to conf (unset in tests) / java.io.tmpdir,
    // but never a non-directory: a bogus env entry is skipped
    val resolved = TopKPerGroupExec.resolveSpillDir(
      Map("LOCAL_DIRS" -> "/nonexistent/scratch").getOrElse(_, null))
    assert(resolved.isDirectory)
  }

  test("truncated spill run fails loudly instead of dropping groups") {
    def writeRun(groups: Seq[(Array[Byte], Seq[Array[Byte]])],
                 truncateBytes: Int = 0): java.io.File = {
      val f = java.io.File.createTempFile("graft-topk-spec-", ".run")
      f.deleteOnExit()
      val bos = new java.io.ByteArrayOutputStream()
      val os = new java.io.DataOutputStream(bos)
      groups.foreach { case (key, rows) =>
        os.writeInt(key.length); os.write(key)
        os.writeInt(rows.length)
        rows.foreach { r => os.writeInt(r.length); os.write(r) }
      }
      os.close()
      val bytes = bos.toByteArray
      val out = new java.io.FileOutputStream(f)
      out.write(bytes, 0, bytes.length - truncateBytes)
      out.close()
      f
    }
    val g1 = (Array[Byte](1, 2, 3, 4), Seq(new Array[Byte](8), new Array[Byte](8)))
    val g2 = (Array[Byte](9, 9), Seq(new Array[Byte](4)))
    // clean file: reads both groups then returns false (clean EOF)
    val clean = new TopKPerGroupExec.SpillRun(writeRun(Seq(g1, g2)))
    assert(clean.advance()); assert(clean.key.toSeq === g1._1.toSeq)
    assert(clean.rows.length === 2)
    assert(clean.advance()); assert(clean.key.toSeq === g2._1.toSeq)
    assert(!clean.advance(), "EOF at a record boundary is a clean end")
    // truncated mid-record: drop all of g2 (18 bytes) plus 5 bytes off
    // g1's second row — advance() gets past the first readInt, then hits
    // EOF inside the record and must THROW, not end cleanly (a swallowed
    // EOF here silently drops half of g1's rows and all of g2)
    val truncated = new TopKPerGroupExec.SpillRun(
      writeRun(Seq(g1, g2), truncateBytes = 18 + 5))
    val err = intercept[java.io.IOException] { truncated.advance() }
    assert(err.getMessage.contains("truncated"), err.getMessage)
    truncated.close()
  }

  test("every group emits exactly min(k, group size) rows, ranks 1..") {
    val s2 = session()
    val rows = topkQuery(s2, 3).collect()
    val byGroup = rows.groupBy(_.getLong(0))
    byGroup.foreach { case (g, rs) =>
      assert(rs.length <= 3, s"group $g")
      assert(rs.map(_.getInt(3)).sorted.toSeq === (1 to rs.length), s"group $g")
      // descending price within the group, orderkey tiebreak
      val prices = rs.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
    }
    // exhaustive: a group with ≥3 orders must emit exactly 3
    val counts = spark.read.parquet(s"$sf001/orders.parquet")
      .groupBy(col("o_custkey")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    byGroup.foreach { case (g, rs) =>
      assert(rs.length === math.min(3L, counts(g)).toInt, s"group $g")
    }
    assert(byGroup.size === counts.size, "every group must be represented")
  }
}
