package graft.operators

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  test("cosine of a vector with itself is 1.0") {
    val s = spark
    import s.implicits._
    val df = Seq((1L, Array(1.0f, 2.0f, 3.0f))).toDF("vec_id", "embedding")
    val c = df.select(Similarity.cosine(col("embedding"), col("embedding")))
      .head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-9)
  }

  test("brute-force top-k is ordered and respects k") {
    val emb = Tables.embeddings(spark, sf0001)
    val rows = Similarity
      .bruteForceTopK(emb.where(col("vec_id") < 5), emb, k = 3)
      .collect()
    assert(rows.length == 5 * 3)
    rows.groupBy(_.getLong(0)).foreach { case (_, g) =>
      val cs = g.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cs.sameElements(cs.sorted.reverse), "cos not descending within query")
    }
  }

  test("IVF assignment is a partition: every candidate in exactly one list") {
    val emb = Tables.embeddings(spark, sf0001)
    val cents = Ivf.trainCentroids(emb, nCentroids = 16, iters = 2)
    assert(cents.length == 16)
    // all unit-norm (argmax dot == argmax cosine depends on this)
    cents.foreach { c =>
      val n = math.sqrt(c.foldLeft(0.0)((a, x) => a + x.toDouble * x))
      assert(math.abs(n - 1.0) < 1e-5, s"centroid norm $n")
    }
    val assigned = Ivf.assign(emb, cents)
    assert(assigned.count() == emb.count())
    assert(assigned.select("vid").distinct().count() == emb.count())
    // no single list degenerates into "most of the corpus"
    val maxList = assigned.groupBy("cid").count()
      .agg(max("count")).head().getLong(0)
    assert(maxList < emb.count() / 2, s"degenerate list of $maxList")
  }

  test("IVF ANN recall@5 >= 0.6 vs brute force with nProbe=8 of 16") {
    val emb = Tables.embeddings(spark, sf0001)
    val q = emb.where(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(q, emb, k = 5))
    val approx = pairs(Ivf.ivfTopK(q, emb, k = 5, nCentroids = 16, nProbe = 8))
    val recall = exact.count(approx).toDouble / exact.size
    assert(recall >= 0.6, s"recall=$recall (|exact|=${exact.size})")
    // full probe (nProbe = nCentroids) must be exact — every list is scanned
    val full = pairs(Ivf.ivfTopK(q, emb, k = 5, nCentroids = 16, nProbe = 16))
    assert(full == exact, "probing all lists must equal brute force")
    // the catalog configuration (one Lloyd step) meets the same recall bar
    val oneStep = pairs(Ivf.ivfTopK(q, emb, k = 5, nCentroids = 16,
      nProbe = 8, iters = 1))
    val recall1 = exact.count(oneStep).toDouble / exact.size
    assert(recall1 >= 0.6, s"iters=1 recall=$recall1")
  }

  test("IVF probe join broadcasts queries — candidates never shuffle on cid") {
    val emb = Tables.embeddings(spark, sf0001)
    val df = Ivf.ivfTopK(emb.where(col("vec_id") < 10), emb, k = 5,
      nCentroids = 16, nProbe = 8, iters = 1)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"probe join must broadcast the query side:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(cid"),
      s"candidate side must not shuffle on cid:\n$plan")
  }

  test("IVF training sample is bounded by maxTrainRows by default") {
    val emb = Tables.embeddings(spark, sf0001)
    val n = emb.count()
    // a cap far below the corpus: the derived modulus must shrink the
    // sample to ~cap (hash-mod sampling is approximate — allow 3x slack)
    val cap = 64L
    val sampled = Ivf.trainingSample(emb, cap).count()
    assert(sampled < n, s"sample $sampled must be smaller than corpus $n")
    assert(sampled <= 3 * cap, s"sample $sampled far above cap $cap")
    assert(sampled > 0, "sample must be non-empty")
    // a cap above the corpus keeps every row (mod = 1, no filter)
    assert(Ivf.trainingSample(emb, n + 1).count() == n)
    // a caller-supplied knownCount skips the count() and selects the SAME
    // deterministic sample (filtered inputs use this to avoid a scan)
    val viaKnown = Ivf.trainingSample(emb, cap, knownCount = Some(n))
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    val viaCount = Ivf.trainingSample(emb, cap)
      .select("vec_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(viaKnown == viaCount, "knownCount must reproduce the counted sample")
    // and training on the bounded sample still yields usable centroids
    val cents = Ivf.trainCentroids(emb, nCentroids = 8, iters = 1,
      maxTrainRows = cap)
    assert(cents.length == 8 && cents.forall(_.nonEmpty))
  }

  test("stored IVF lists partition-prune: probes read only probed cids") {
    val emb = Tables.embeddings(spark, sf0001)
    val cents = Ivf.trainCentroids(emb, nCentroids = 16, iters = 1)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_lists")
      .toString
    Ivf.writeLists(emb, cents, dir)
    val q = emb.where(col("vec_id") < 5)
    val stored = Ivf.ivfTopKStored(q, dir, cents, k = 5, nProbe = 4)
    // golden equality with the in-memory path on the same centroids
    val mem = Ivf.ivfTopK(q, emb, k = 5, nCentroids = 16, nProbe = 4, iters = 1)
    val key = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(key(stored) == key(mem),
      "stored-lists probe must equal the in-memory probe")
    // the scan must touch ONLY probed list directories — this is the
    // 100 TB claim: unprobed inverted lists are pruned at plan time.
    // (inputFiles lists the UNPRUNED file index, so assert on the executed
    // scan node: its partition filter and its partitions-read metric)
    val s = spark
    import s.implicits._
    val probed = q.select(explode(Ivf.probeCentroids(col("embedding"), cents, 4))
      .as("cid")).distinct().as[Int].collect().toSet
    assert(probed.size < 16, "fixture must not probe every list")
    stored.collect()
    // AQE wraps materialized stages in childless QueryStageExec nodes —
    // descend through them explicitly or the scan is unreachable
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        scans(r.child)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(stored.queryExecution.executedPlan)
      .filter(_.relation.partitionSchema.fieldNames.contains("cid"))
      .head
    assert(scan.metadata("PartitionFilters").contains("cid"),
      s"probe cids not pushed as partition filters: ${scan.metadata}")
    val partsRead = scan.metrics("numPartitions").value
    assert(partsRead == probed.size,
      s"scan read $partsRead list partitions, probed only ${probed.size}")
  }

  test("LSH ANN recall@5 >= 0.5 vs brute force on sf0.001 embeddings") {
    val emb = Tables.embeddings(spark, sf0001)
    val q = emb.where(col("vec_id") < 20)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(q, emb, k = 5))
    val approx = pairs(Similarity.lshTopK(q, emb, k = 5, dim = 64))
    val recall = exact.count(approx).toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall (|exact|=${exact.size})")
  }

  test("int8 top-k recall@5 >= 0.9 vs float brute force (dot ranking)") {
    val emb = Tables.embeddings(spark, sf0001)
    val q = emb.where(col("vec_id") < 20)
    // compare against the float DOT ranking (int8TopK approximates the
    // dot, not the cosine): norms differ per candidate, so rank by
    // descaled dot on both sides
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("score").desc, col("vid").asc)
    val exact = q.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .crossJoin(emb.select(col("vec_id").as("vid"), col("embedding").as("cv")))
      .where(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        expr("dot_f(qv, cv)").as("score"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
      .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.int8TopK(q, emb, k = 5)
      .select("qid", "vid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(approx).toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall")
  }

  test("int8 top-k score approximates the true dot within the quantization bound") {
    val emb = Tables.embeddings(spark, sf0001)
    val q = emb.where(col("vec_id") < 5)
    val truth = q.select(col("vec_id").as("qid"), col("embedding").as("qv"))
      .crossJoin(emb.select(col("vec_id").as("vid"), col("embedding").as("cv")))
      .select(col("qid"), col("vid"), expr("dot_f(qv, cv)").as("t"))
    val rows = Similarity.int8TopK(q, emb, k = 5)
      .join(truth, Seq("qid", "vid"))
      .select("score", "t").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (s, t) = (r.getDouble(0), r.getDouble(1))
      // per-element error ≤ scale/2 each side ⇒ dot error is O(d·s_a·s_b);
      // with 64 dims and unit-ish synthetic vectors a 5% relative + small
      // absolute envelope is conservative
      assert(math.abs(s - t) <= math.abs(t) * 0.05 + 0.05, s"score=$s truth=$t")
    }
  }

  test("binaryQuantize packs sign bits word-by-word") {
    val s = spark
    import s.implicits._
    val vs = Seq(
      (0L, Array.fill(64)(1.0f)),
      (1L, Array.fill(64)(-1.0f)),
      (2L, Array.tabulate(64)(i => if (i < 32) 1.0f else -1.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.binaryQuantize(vs).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(0L) == Seq(0xFFFFFFFFL, 0xFFFFFFFFL), s"${got(0L)}")
    assert(got(1L) == Seq(0L, 0L))
    assert(got(2L) == Seq(0xFFFFFFFFL, 0L))
  }

  test("hammingTopK: exact integer Hamming ordering") {
    val s = spark
    import s.implicits._
    val base = Array.fill(64)(1.0f)
    def flip(k: Int) = base.zipWithIndex.map { case (x, i) =>
      if (i < k) -x else x }
    val vs = Seq((0L, base), (1L, flip(64)), (2L, flip(32)), (3L, flip(1)))
      .toDF("vec_id", "embedding")
    val got = Similarity.hammingTopK(vs.where(col("vec_id") === 0), vs, k = 3)
      .select("rn", "vid", "hd").as[(Int, Long, Int)].collect().toList
      .sortBy(_._1)
    assert(got == List((1, 3L, 1), (2, 2L, 32), (3, 1L, 64)), s"$got")
  }

  test("randomProject: deterministic, linear, dimension-correct") {
    val s = spark
    import s.implicits._
    val v = Array.tabulate(64)(i => (i % 7 - 3).toFloat)
    val vs = Seq((0L, v), (1L, v), (2L, v.map(_ * 2))).toDF("vec_id", "embedding")
    val got = Similarity.randomProject(vs, outDim = 16).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(got(0L).size == 16)
    assert(got(0L) == got(1L), "same input must project identically")
    got(0L).zip(got(2L)).foreach { case (y1, y2) =>
      assert(math.abs(y2 - 2 * y1) < 1e-9, s"linearity: $y1 vs $y2") }
    // signs are md5-derived, not constant: some coordinate must differ
    // from the all-plus projection sum/4
    val allPlus = v.map(_.toDouble).sum / 4.0
    assert(got(0L).exists(y => math.abs(y - allPlus) > 1e-9))
  }

  test("twoStageTopK: planted exact duplicate survives the coarse stage") {
    val s = spark
    import s.implicits._
    val emb = graft.core.Tables.embeddings(s, sf0001)
    // plant vec 9000 = copy of vec 0: coarse cosine 1.0 keeps it in any
    // pool, full rerank puts it at rn 1
    val dup = emb.where(col("vec_id") === 0)
      .select((col("vec_id") + 9000).as("vec_id"), col("embedding"),
        col("label"))
    val got = Similarity.twoStageTopK(emb.where(col("vec_id") === 0),
        emb.unionByName(dup), coarseDims = 16, poolSize = 10, k = 3)
      .where(col("rn") === 1).select("vid").as[Long].head()
    assert(got == 9000L)
  }

  test("twoStageTopK with a full-corpus pool equals brute force") {
    val s = spark
    import s.implicits._
    val emb = graft.core.Tables.embeddings(s, sf0001)
    val n = emb.count().toInt
    val two = Similarity.twoStageTopK(emb.where(col("vec_id") < 3), emb,
        coarseDims = 16, poolSize = n, k = 5)
      .select("qid", "rn", "vid").as[(Long, Int, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb.where(col("vec_id") < 3), emb, 5)
      .select("qid", "rn", "vid").as[(Long, Int, Long)].collect().toSet
    assert(two == brute)
  }
}
