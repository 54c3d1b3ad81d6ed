package graft.operators

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

class PqSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf0001)
  private lazy val model = Pq.train(emb, dim = 64, m = 32, ksub = 16, iters = 2)

  test("codebooks have the declared shape") {
    assert(model.m == 32 && model.ksub == 16 && model.dsub == 2)
    model.codebooks.foreach(book =>
      book.foreach(c => assert(c.length == 2)))
  }

  test("codes are valid, complete, and deterministic") {
    val codes = Pq.encode(emb, model).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val n = emb.count()
    assert(codes.size == n, "every vector must encode")
    codes.values.foreach { cs =>
      assert(cs.length == 32)
      cs.foreach(c => assert(c >= 0 && c < 16, s"code $c out of range"))
    }
    val again = Pq.encode(emb, model).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes == again, "encoding must be deterministic")
  }

  test("encoding matches a local argmin-L2 recompute") {
    val vecs = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val codes = Pq.encode(emb, model).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // mirror the adjusted-dot identity the codegen'd path uses
    // (argmin‖x−c‖² = argmax(x·c − ‖c‖²/2)), double-cast like dot_f
    vecs.foreach { case (vid, v) =>
      val want = (0 until 32).map { j =>
        val sub = v.slice(j * 2, (j + 1) * 2)
        (0 until 16).maxBy { k =>
          val c = model.codebooks(j)(k)
          sub.indices.map(i => sub(i).toDouble * c(i)).sum -
            c.map(x => x.toDouble * x).sum / 2.0
        }
      }
      assert(codes(vid) == want, s"vec $vid: ${codes(vid)} vs $want")
    }
  }

  test("ADC top-k recalls brute-force neighbors at useful rates") {
    val queries = emb.where(col("vec_id") < 10)
    val codes = Pq.encode(emb, model)
    val got = Pq.adcTopK(queries, codes, model, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val truth = Similarity.bruteForceTopK(queries, emb, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(got.keySet == truth.keySet)
    got.foreach { case (_, vids) => assert(vids.size == 5) }
    val recall = truth.keys.toSeq
      .map(q => (got(q) & truth(q)).size / 5.0).sum / truth.size
    // full-entropy synthetic vectors are PQ's worst case (no low intrinsic
    // dimension to exploit); 16x-compressed codes must still find a useful
    // share of the true neighborhood, deterministically (fixed init+data)
    assert(recall >= 0.5, s"ADC recall@5 = $recall < 0.5")
  }

  test("IVFPQ: useful recall at nProbe=8, and full probe loses nothing") {
    val queries = emb.where(col("vec_id") < 10)
    def topSets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val truth = topSets(Similarity.bruteForceTopK(queries, emb, k = 5))
    val got = topSets(Pq.ivfPqTopK(queries, emb, k = 5, dim = 64,
      nCentroids = 16, nProbe = 8, m = 32, ksub = 16, iters = 2))
    assert(got.keySet == truth.keySet)
    val recall = truth.keys.toSeq
      .map(q => (got(q) & truth(q)).size / 5.0).sum / truth.size
    assert(recall >= 0.5, s"IVFPQ recall@5 = $recall < 0.5")
    // probing ALL lists must reduce exactly to plain ADC over everything:
    // the coarse quantizer prunes IO, never changes scores
    val full = topSets(Pq.ivfPqTopK(queries, emb, k = 5, dim = 64,
      nCentroids = 16, nProbe = 16, m = 32, ksub = 16, iters = 2))
    val adc = topSets(Pq.adcTopK(queries, Pq.encode(emb, model), model, 5))
    assert(full == adc, "full-probe IVFPQ must equal plain ADC top-k")
    // the residual-coding variant stays a valid ANN (complete result sets,
    // useful recall) — it measures BELOW raw coding on this full-entropy
    // corpus (0.44 vs 0.56, which is why raw is the default; see the
    // ivfPqTopK scaladoc), and that measurement is pinned here
    val res = topSets(Pq.ivfPqTopK(queries, emb, k = 5, dim = 64,
      nCentroids = 16, nProbe = 8, m = 32, ksub = 16, iters = 2,
      residual = true))
    assert(res.keySet == truth.keySet)
    res.foreach { case (_, vids) => assert(vids.size == 5) }
    val resRecall = truth.keys.toSeq
      .map(q => (res(q) & truth(q)).size / 5.0).sum / truth.size
    assert(resRecall >= 0.35 && resRecall <= recall,
      s"residual recall $resRecall should be useful but ≤ raw $recall here")
  }

  test("stored IVFPQ equals the in-memory path and prunes unprobed lists") {
    val dir = java.nio.file.Files.createTempDirectory("pq_stored").toString
    val cents = Ivf.trainCentroids(emb, nCentroids = 16, iters = 2)
    Pq.writeCodes(emb, cents, model, dir)
    val queries = emb.where(col("vec_id") < 3)
    val stored = Pq.ivfPqTopKStored(queries, dir, cents, model,
      k = 5, nProbe = 4)
    // training is deterministic (fixed init + fixed data), so the
    // in-memory path re-trains the SAME cents/model internally — row-level
    // parity means the round-trip through parquet changes nothing
    val mem = Pq.ivfPqTopK(queries, emb, k = 5, dim = 64,
      nCentroids = 16, nProbe = 4, m = 32, ksub = 16, iters = 2)
    val a = stored.collect().map(_.toSeq).sortBy(_.toString)
    val b = mem.collect().map(_.toSeq).sortBy(_.toString)
    assert(a.toSeq == b.toSeq, "stored IVFPQ must equal in-memory IVFPQ")
    // partition pruning: 3 queries x 4 probes cover at most 12 of 16 list
    // directories — the executed scan must select only probed partitions
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    // two scans exist (the broadcast query side also reads parquet); the
    // index scan is the one with the cid partition column
    val scan = scans(stored.queryExecution.executedPlan)
      .find(_.relation.partitionSchema.fieldNames.contains("cid"))
      .getOrElse(fail("no cid-partitioned file scan in stored-IVFPQ plan"))
    val probed = queries
      .select(explode(Ivf.probeCentroids(col("embedding"), cents, 4)))
      .distinct().count()
    assert(scan.selectedPartitions.partitionCount == probed,
      s"scan read ${scan.selectedPartitions.partitionCount} partitions, " +
        s"probe set is $probed")
    assert(scan.selectedPartitions.partitionCount < 16,
      "pruning must leave unprobed list directories unread")
  }

  test("native pq_encode/adc_score are bit-identical to the HOF formulation") {
    // the generated-loop expressions replaced a transform/aggregate HOF
    // nest (CodegenFallback); this pins exact score/code parity against
    // that formulation rebuilt here, so the swap can never drift
    val m = model.m; val ksub = model.ksub; val dsub = model.dsub
    val mat = typedLit(model.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val half = typedLit(model.codebooks.map(_.map(c =>
      c.foldLeft(0.0)((a, x) => a + x.toDouble * x) / 2.0).toSeq).toSeq)
    val hofCodes = transform(sequence(lit(0), lit(m - 1)), j =>
      (lit(0) - array_max(transform(sequence(lit(0), lit(ksub - 1)), k =>
        call_function("named_struct",
          lit("s"), call_function("dot_f",
            slice(col("embedding"), j * dsub + 1, lit(dsub)),
            element_at(element_at(mat, j + 1), k + 1))
            - element_at(element_at(half, j + 1), k + 1),
          lit("nk"), (lit(0) - k).cast("int")))).getField("nk"))
        .cast("int"))
    val both = emb.select(col("vec_id"),
      call_function("pq_encode", col("embedding"), mat).as("native"),
      hofCodes.as("hof"))
    assert(both.where(col("native") =!= col("hof")).count() == 0,
      "pq_encode must equal the HOF transform nest exactly")
    // ADC: native vs the aggregate fold, on raw doubles (no rounding)
    val codes = Pq.encode(emb, model)
    val q = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val hofAdc = aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
      (acc, j) => acc + call_function("dot_f",
        slice(col("qv"), j * dsub + 1, lit(dsub)),
        element_at(element_at(mat, j + 1),
          element_at(col("codes"), j + 1) + 1)))
    val pairs = broadcast(q).crossJoin(codes)
      .select(
        call_function("adc_score", col("qv"), col("codes"), mat,
          lit(0.0)).as("native"),
        hofAdc.as("hof"))
    assert(pairs.where(col("native") =!= col("hof")).count() == 0,
      "adc_score must equal the HOF aggregate fold bit-exactly")
  }

  test("ADC approximates the true dot within the quantization error") {
    // per-vector: |dot(q, x) − adc(q, codes(x))| should be far below the
    // score's dynamic range, and self-ADC should be near the self-dot
    val vecs = emb.where(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val codes = Pq.encode(emb.where(col("vec_id") < 50), model).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.indices.map(i => a(i).toDouble * b(i)).sum
    def adc(q: Array[Float], cs: Seq[Int]): Double =
      (0 until 32).map { j =>
        dot(q.slice(j * 2, (j + 1) * 2), model.codebooks(j)(cs(j)))
      }.sum
    val errs = for ((qid, q) <- vecs.toSeq; (vid, v) <- vecs.toSeq
                    if qid != vid)
      yield math.abs(dot(q, v) - adc(q, codes(vid)))
    val dots = for ((qid, q) <- vecs.toSeq; (vid, v) <- vecs.toSeq
                    if qid != vid) yield math.abs(dot(q, v))
    val meanErr = errs.sum / errs.size
    val meanAbs = dots.sum / dots.size
    assert(meanErr < meanAbs,
      s"quantization error $meanErr must beat the signal scale $meanAbs")
  }
}
