package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>), SURVEY §2B.
  *
  * Two paths:
  *  - `bruteForceTopK`: exact. Query side broadcast; candidate side scanned
  *    once, no shuffle until the final (tiny) per-query top-k. Right when
  *    |queries| is small — the scan is embarrassingly parallel at any scale.
  *  - `lshTopK`: approximate scale path. Random-hyperplane LSH buckets both
  *    sides; only same-bucket pairs are scored. At 100 TB this turns O(n·q)
  *    into O(Σ bucket²) with uniform bucket keys (hyperplanes are random, so
  *    buckets are balanced unless the data genuinely clusters). Defaults
  *    (4 planes × 8 tables) target recall ≈0.8 at cos≈0.5 — per-table hit
  *    prob (1-θ/π)^planes, union over tables; raise planes (and tables) as
  *    the corpus grows to keep buckets small.
  *
  * All dot products / norms accumulate in double (float inputs upcast) so
  * results are deterministic and engine-comparable at 4 decimals.
  */
object Similarity {

  /** sqrt(Σ x²) in double. */
  def l2Norm(v: Column): Column =
    sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** Σ x·y in double (positional zip of two equal-length arrays). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** Native codegen'd cosine (graft.functions.CosineSim) — bit-compatible
    * with `cosine` but with no intermediate array allocations; used on the
    * hot scoring paths. Requires float-array inputs. */
  private def nativeCosine(a: String, b: String): Column =
    expr(s"cosine_sim($a, $b)")

  /** Exact top-k cosine neighbors for each query vector.
    * queries/candidates: (vec_id, embedding). Returns (qid, rn, vid, cos). */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"),
      l2Norm(col("embedding")).as("qn"))
    // candidate side spread only when scan parallelism is deficient: the
    // dot-product scan is the CPU-bound stage and single-file inputs pin it
    // to one core, but at corpus scale the scan has thousands of splits and
    // a blind repartition would shuffle the whole corpus for nothing
    val c = graft.core.Tables.spread(candidates, col("vec_id"))
      .select(col("vec_id").as("vid"), col("embedding").as("cv"),
      l2Norm(col("embedding")).as("cn"))
    // native dot + precomputed norms: O(q+n) norm work, one codegen'd loop
    // per pair, zero intermediate arrays
    val scored = broadcast(q).crossJoin(c)
      .where(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        round(expr("dot_f(qv, cv)") / (col("qn") * col("cn")), 4).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vid").asc)
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vid"), col("cos"))
  }

  /** (vec_id, table, bucket) for ALL tables in ONE pass over the vectors:
    * every table's signature is a column of one projection, exploded to
    * rows. One scan of a 100 TB embedding table instead of `tables` scans —
    * and a self-join on (table, bucket) shuffles once, with Spark's
    * exchange reuse sharing that shuffle between the two sides. */
  private[operators] def hyperplaneBuckets(df: DataFrame, dim: Int,
                                           nPlanes: Int, tables: Int): DataFrame = {
    df.select(col("vec_id"),
      posexplode(array((0 until tables).map(t =>
        hyperplaneSig(col("embedding"), dim, nPlanes, t * nPlanes)): _*))
        .as(Seq("table", "bucket")))
  }

  /** Deterministic random hyperplane signature: plane p of table t has
    * components mix64((planeOffset+p)·dim + j) scaled to [-1, 1); the sign
    * bits pack into one int bucket id. Projections run through the native
    * dot_f expression — one codegen'd loop per plane instead of a
    * zip_with/aggregate HOF chain. */
  private def hyperplaneSig(v: Column, dim: Int, nPlanes: Int,
                            planeOffset: Int): Column = {
    val comps: Seq[Column] = (0 until nPlanes).map { p =>
      val weights = typedLit((0 until dim).map(j =>
        (graft.functions.Sketches.mix64((planeOffset + p).toLong * dim + j)
          .toDouble / Long.MaxValue).toFloat).toArray)
      val proj = call_function("dot_f", v, weights)
      when(proj >= 0, lit(1)).otherwise(lit(0))
    }
    comps.zipWithIndex.map { case (b, i) => b * lit(1 << i) }.reduce(_ + _)
  }

  /** Approximate top-k: hyperplane-LSH bucket join, exact cosine re-scoring
    * within buckets, per-query top-k. `tables` independent hash tables are
    * unioned before scoring (multi-table raises recall). */
  def lshTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              dim: Int = 64, nPlanes: Int = 4, tables: Int = 8): DataFrame = {
    // spread only when scan parallelism is deficient (no-op at corpus scale)
    val cand = graft.core.Tables.spread(candidates, col("vec_id"))
    // ids-first (see Dedup.embeddingNearDup): the cross-table distinct
    // carries only (qid, vid); vectors are re-attached for scoring. All
    // tables' buckets come from ONE pass over each side (posexplode of the
    // per-table signature array), so the candidate corpus is scanned once
    // instead of `tables` times
    val qsig = hyperplaneBuckets(queries, dim, nPlanes, tables)
      .select(col("vec_id").as("qid"), col("table"), col("bucket"))
    val csig = hyperplaneBuckets(cand, dim, nPlanes, tables)
      .select(col("vec_id").as("vid"), col("table"), col("bucket"))
    val pairs = broadcast(qsig)
      .join(csig, Seq("table", "bucket"))
      .where(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"))
      .distinct()
    val scored = pairs
      .join(broadcast(queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))), "qid")
      .join(cand.select(col("vec_id").as("vid"), col("embedding").as("cv")), "vid")
      .select(col("qid"), col("vid"),
        round(nativeCosine("qv", "cv"), 4).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vid").asc)
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vid"), col("cos"))
  }

  /** Symmetric per-vector int8 quantization (the standard 4× embedding
    * compression ahead of ANN serving): scale = max|x| / 127, code_i =
    * sign(x_i) · floor(|x_i|/scale + 0.5), clamped to ±127 (the clamp only
    * ever fires on the max element's own rounding). Map-only, whole-stage
    * codegen; all arithmetic in double so codes are integer-exact and
    * engine-comparable.
    *
    * round-half-AWAY-from-zero is written out as sign·floor(|x|+0.5)
    * deliberately: `round()` half-even vs half-up differs between engines
    * (the established halfway-case contract).
    *
    * Returns (vec_id, codes array<int>, scale). Zero vectors quantize to
    * all-zero codes with scale 0. */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val xd = transform(col("embedding"), x => x.cast("double"))
    val maxAbs = array_max(transform(col("embedding"), x => abs(x.cast("double"))))
    embeddings
      .withColumn("scale", maxAbs / lit(127.0))
      .withColumn("codes",
        when(col("scale") === 0.0,
          transform(xd, _ => lit(0)))
        .otherwise(transform(xd, x =>
          least(lit(127.0), floor(abs(x) / col("scale") + lit(0.5)))
            .multiply(signum(x)).cast("int"))))
      .select(col("vec_id"), col("codes"), col("scale"))
  }

  /** Exact top-k over int8-QUANTIZED vectors: both sides quantized by
    * [[quantizeInt8]], scored with the native integer dot
    * ([[graft.functions.DotProductI8]]) and de-scaled,
    * score = (Σ qa·qb) · scale_a · scale_b ≈ ⟨a,b⟩. Same broadcast-query /
    * scan-candidates shape as [[bruteForceTopK]] but moving 4× fewer bytes
    * per vector — the bandwidth-bound regime a 100 TB embedding sweep
    * lives in. The integer dot is exact, so the ranking is fully
    * deterministic (only the two scale multiplications are floating
    * point, pinned left-associative for engine parity).
    *
    * Returns (qid, rn, vid, score). Recall vs the float path is a
    * property (SimilaritySpec), not a guarantee — quantization perturbs
    * near-ties. */
  def int8TopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = quantizeInt8(queries)
      .select(col("vec_id").as("qid"), col("codes").as("qc"), col("scale").as("qs"))
    val c = quantizeInt8(graft.core.Tables.spread(candidates, col("vec_id")))
      .select(col("vec_id").as("vid"), col("codes").as("cc"), col("scale").as("cs"))
    val scored = broadcast(q).join(c, col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        (call_function("dot_i8", col("qc"), col("cc")).cast("double")
          * col("qs") * col("cs")).as("score"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vid").asc)
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vid"), col("score"))
  }

  /** 1-bit sign quantization: each 32-dim slice of `embedding` packs into
    * one long word (bit i of word w set ⇔ embedding[32w+i] ≥ 0) —
    * 32× smaller than float32, the memory floor of the binary-embedding
    * retrieval stack (and the exact code a Hamming-distance index stores).
    * Map-only, no shuffle. Returns (vec_id, code: array<long>). */
  def binaryQuantize(embeddings: DataFrame): DataFrame = {
    val d = embeddings.select(size(col("embedding"))).first().getInt(0)
    val words = (d + 31) / 32
    embeddings.select(col("vec_id"),
      array((0 until words).map { w =>
        expr(s"""aggregate(sequence(0, ${math.min(31, d - 32 * w - 1)}), 0L,
          (acc, i) -> acc + IF(element_at(embedding, ${32 * w} + i + 1) >= 0,
                               shiftleft(1L, i), 0L))""")
      }: _*).as("code"))
  }

  /** Exact Hamming top-k over [[binaryQuantize]] codes:
    * hd = Σ_w bit_count(qw XOR cw) — the asymmetric-free, integer-exact
    * distance of binary embeddings (Hamming ≈ monotone in angular
    * distance for sign codes). Same broadcast-query / scan-candidate
    * shape as [[bruteForceTopK]] but moving 32× fewer bytes than float —
    * the cheapest first-stage filter a 100 TB rerank pipeline has.
    * Fully deterministic: integer distance, (hd asc, vid asc) order.
    * Returns (qid, rn, vid, hd). */
  def hammingTopK(queries: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    val q = binaryQuantize(queries)
      .select(col("vec_id").as("qid"), col("code").as("qc"))
    val c = binaryQuantize(graft.core.Tables.spread(candidates, col("vec_id")))
      .select(col("vec_id").as("vid"), col("code").as("cc"))
    val scored = broadcast(q).join(c, col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        expr("aggregate(zip_with(qc, cc, (x, y) -> bit_count(x ^ y)), 0, (a, b) -> a + b)")
          .as("hd"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("hd").asc, col("vid").asc)
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vid"), col("hd"))
  }

  /** Two-stage retrieval funnel over matryoshka-style prefix dimensions:
    * stage 1 ranks by cosine over the first `coarseDims` components
    * (4× less arithmetic and bandwidth at 16/64 — the cheap sweep a
    * 100 TB corpus can afford), keeps a `poolSize` pool per query;
    * stage 2 rescores ONLY the pool with the exact full-dimension cosine
    * and emits top-`k`. Both stages round scores to 4dp before ranking
    * with vid-ascending ties, so pool membership and final order are
    * engine-exact. Recall vs single-stage brute force is a property
    * (SimilaritySpec), not a guarantee — prefix cosine permutes
    * near-ties. Returns (qid, rn, vid, cos). */
  def twoStageTopK(queries: DataFrame, candidates: DataFrame,
                   coarseDims: Int = 16, poolSize: Int = 20,
                   k: Int = 5): DataFrame = {
    require(k >= 1 && poolSize >= k && coarseDims >= 1,
      s"k=$k poolSize=$poolSize coarseDims=$coarseDims")
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"),
      l2Norm(col("embedding")).as("qn"),
      l2Norm(slice(col("embedding"), 1, coarseDims)).as("qnc"))
    val c = graft.core.Tables.spread(candidates, col("vec_id"))
      .select(col("vec_id").as("vid"), col("embedding").as("cv"),
        l2Norm(col("embedding")).as("cn"),
        l2Norm(slice(col("embedding"), 1, coarseDims)).as("cnc"))
    val coarse = broadcast(q).crossJoin(c)
      .where(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"), col("qv"), col("qn"), col("cv"), col("cn"),
        round(expr(s"dot_f(slice(qv, 1, $coarseDims), slice(cv, 1, $coarseDims))")
          / (col("qnc") * col("cnc")), 4).as("cosc"))
    val wc = Window.partitionBy(col("qid"))
      .orderBy(col("cosc").desc, col("vid").asc)
    val pool = coarse.withColumn("prn", row_number().over(wc))
      .where(col("prn") <= poolSize)
    val wf = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vid").asc)
    pool.select(col("qid"), col("vid"),
        round(expr("dot_f(qv, cv)") / (col("qn") * col("cn")), 4).as("cos"))
      .withColumn("rn", row_number().over(wf))
      .where(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vid"), col("cos"))
  }

  /** Johnson–Lindenstrauss random projection to `outDim` dimensions with
    * a deterministic ±1 sign matrix (Achlioptas): sign(j,i) from the
    * parity of the first hex char of md5("j:i") — reproducible on any
    * engine with md5, which is exactly how the oracle mirrors it.
    * y_j = (Σ_i sign(j,i)·x_i) / √outDim preserves pairwise distances to
    * (1±ε) w.h.p. — the cheap dimensionality reduction in front of
    * clustering/dedup when PCA's covariance pass is too expensive.
    *
    * Scale shape: the matrix is a driver-built literal (outDim·d signs,
    * KBs), the projection a pure per-row map — no shuffle, no fit pass,
    * unlike [[Pca]]. Returns (vec_id, proj: array<double>). */
  def randomProject(embeddings: DataFrame, outDim: Int = 16): DataFrame = {
    val d = embeddings.select(size(col("embedding"))).first().getInt(0)
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(j: Int, i: Int): Double = {
      val h = md.digest(s"$j:$i".getBytes("UTF-8"))
      // parity of the first hex char = bit 4 of the first byte
      if ((h(0) & 0x10) == 0) 1.0 else -1.0
    }
    val matrix = array((0 until outDim).map { j =>
      array((0 until d).map(i => lit(sign(j, i))): _*)
    }: _*)
    embeddings.select(col("vec_id"),
      transform(matrix, row =>
        aggregate(zip_with(col("embedding"), row,
            (x, s) => x.cast("double") * s),
          lit(0.0), (acc, x) => acc + x) / lit(math.sqrt(outDim.toDouble)))
        .as("proj"))
  }
}
