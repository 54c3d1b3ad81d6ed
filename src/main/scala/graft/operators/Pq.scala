package graft.operators

import graft.functions.Sketches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., TPAMI'11) — the memory side of the
  * 100 TB ANN story next to [[Ivf]]'s IO side: each vector is encoded as
  * `m` sub-codebook indices (one byte each at ksub ≤ 256), so a 64-dim
  * float vector (256 bytes) compresses to m bytes (32× at m=8) and the
  * whole candidate set fits in a fraction of the memory the raw vectors
  * need. Queries score candidates WITHOUT decoding — asymmetric distance
  * computation (ADC): the query's exact subvector dotted with each
  * candidate's reconstructed sub-centroid, summed over subspaces.
  *
  * Scale design:
  *  - codebook training runs on the SAME bounded hash-sample contract as
  *    [[Ivf.trainCentroids]]; all m subspaces train in one job per Lloyd
  *    iteration (explode by subspace over the bounded sample only — never
  *    over the corpus), shuffling (m·ksub) sub-centroid sums.
  *  - encoding is one corpus pass through the native
  *    [[graft.functions.PqEncode]] expression (real doGenCode): per
  *    subspace an argmin-L2 over ksub sub-centroids via the adjusted-dot
  *    identity argmin‖x−c‖² = argmax(x·c − ‖c‖²/2), as one generated
  *    primitive loop over the flattened codebook.
  *  - ADC scoring broadcasts the (small) query set; the codes table is
  *    scanned once; per (query, candidate) the score is one generated
  *    [[graft.functions.AdcScore]] loop against the flattened codebook —
  *    no shuffle until the final per-query top-k window.
  *  - composition with IVF: store codes `partitionBy("cid")` and ADC-score
  *    only the probed lists — the two operators multiply (IO pruning ×
  *    memory compression), which is exactly the FAISS IVFPQ layout.
  */
object Pq {

  /** Per-subspace codebooks: `codebooks(j)(k)` is the k-th sub-centroid of
    * subspace j (each of length dim/m). */
  final case class PqModel(codebooks: Array[Array[Array[Float]]]) {
    def m: Int = codebooks.length
    def ksub: Int = codebooks(0).length
    def dsub: Int = codebooks(0)(0).length
  }

  private def matLit(books: Array[Array[Array[Float]]]): Column =
    typedLit(books.map(_.map(_.toSeq).toSeq).toSeq)

  /** All m sub-codes of a vector via the [[graft.functions.PqEncode]]
    * native expression: codes[j] = argmax over k of (x_j · c_jk − ‖c_jk‖²/2)
    * — the L2-nearest sub-centroid per subspace
    * (argmin‖x−c‖² = argmax(x·c − ‖c‖²/2)), score ties to the LOWEST code
    * index (the usual argmin-L2 convention, which matters when Lloyd
    * leaves duplicate sub-centroids — empty cells keep their previous
    * centroid). The codebooks ride as one foldable 3-level literal the
    * expression flattens into primitive arrays at codegen time, so a
    * vector costs m·ksub·dsub fused multiply-adds in a real generated
    * loop — the `transform(sequence …)` HOF nest this replaced was
    * CodegenFallback (interpreted lambdas, m·ksub struct allocations per
    * vector). */
  private def codesColumn(v: Column,
                          books: Array[Array[Array[Float]]]): Column =
    call_function("pq_encode", v, matLit(books))

  /** Train m sub-codebooks of ksub centroids each: deterministic init
    * (lowest vec_ids' subvectors), then `iters` Lloyd steps over ALL
    * subspaces in one job per step (subspace-exploded bounded sample,
    * vector-sum aggregator per (subspace, code)). */
  def train(candidates: DataFrame, dim: Int, m: Int = 8, ksub: Int = 16,
            iters: Int = 2, maxTrainRows: Long = 1L << 16,
            knownCount: Option[Long] = None): PqModel = {
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val dsub = dim / m
    // spread: the bounded sample off a single-file scan would otherwise
    // run the CPU-bound assignment on one core; ≤ maxTrainRows rows make
    // the repartition trivially cheap at any corpus size
    val sample = graft.core.Tables.spread(
      Ivf.trainingSample(candidates, maxTrainRows, knownCount),
      col("vec_id")).cache()
    try {
      val init = sample.orderBy(col("vec_id")).limit(ksub)
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray)
      require(init.length == ksub,
        s"need >= $ksub training vectors, got ${init.length}")
      var books = Array.tabulate(m)(j =>
        init.map(v => v.slice(j * dsub, (j + 1) * dsub)))
      for (_ <- 0 until iters) {
        // one job: the encode-shaped nested-loop code projection, then
        // explode to (subspace, code, subvector) and sum per cell
        val sums = sample
          .select(col("embedding"), codesColumn(col("embedding"), books).as("cs"))
          .select(explode(expr(
            s"transform(sequence(0, ${m - 1}), j -> named_struct(" +
            s"'j', j, 'k', element_at(cs, j + 1), " +
            s"'sub', slice(embedding, j * $dsub + 1, $dsub)))")).as("e"))
          .select(col("e.j").as("j"), col("e.k").as("k"),
            col("e.sub").as("sub"))
          .groupBy(col("j"), col("k"))
          .agg(Sketches.vectorSum(col("sub"), dsub).as("vs"))
          .select(col("j"), col("k"), col("vs.sum").as("sum"),
            col("vs.n").as("n"))
          .collect()
        val byKey = sums.map(r => (r.getInt(0), r.getInt(1)) ->
          (r.getSeq[Double](2), r.getLong(3))).toMap
        books = Array.tabulate(m)(j => Array.tabulate(ksub)(k =>
          byKey.get((j, k)) match {
            case Some((s, n)) if n > 0 => s.map(x => (x / n).toFloat).toArray
            case _ => books(j)(k) // empty cell keeps its previous centroid
          }))
      }
      PqModel(books)
    } finally { sample.unpersist(); () }
  }

  /** Encode every vector to its m sub-codes: (vec_id, codes array<int>).
    * One corpus pass through the generated [[graft.functions.PqEncode]]
    * loop — this is the table that replaces the raw vectors at rest
    * (m bytes/vector at ksub ≤ 256). */
  def encode(vecs: DataFrame, model: PqModel): DataFrame = {
    graft.core.Tables.spread(vecs, col("vec_id"))
      .select(col("vec_id"),
        codesColumn(col("embedding"), model.codebooks).as("codes"))
  }

  /** IVF+PQ — the FAISS IVFPQ composition, IO pruning × memory
    * compression: candidates are coarse-assigned to inverted lists (IVF)
    * AND encoded to PQ codes in the SAME one-pass projection, queries
    * probe only their nProbe nearest lists (an equi-join on cid — no
    * cross join) and ADC-score the compressed codes inside those lists.
    * At rest the (cid, vid, codes) table is the thing to persist
    * `partitionBy("cid")` exactly like [[Ivf.writeLists]] — the scan then
    * reads ~nProbe/nCentroids of a corpus that is ALSO 16× smaller than
    * raw vectors. Training shares one corpus count between the two
    * bounded samplers.
    *
    * With `residual = true` (the full FAISS recipe) codes quantize the
    * per-list residual x − centroid instead of x, and the ADC score
    * regains the centroid term exactly — dot(q, c_cid) + Σⱼ dot(qⱼ, rⱼ) —
    * via one extra dot_f against the centroid literal. Only the three
    * projection expressions change; the plan shape (one corpus pass, cid
    * equi-join, top-k window) does not.
    *
    * MEASURED (sf0.001 synthetic embeddings, m=32 ksub=16 nProbe=8):
    * recall@5 = 0.56 raw vs 0.44 residual — residual coding LOSES here,
    * so the default is raw. The recipe pays off when the coarse
    * quantizer explains real variance (clustered production embeddings);
    * on full-entropy synthetic vectors the cosine-normalized centroids
    * capture almost none, so the residual is as hard to quantize as the
    * vector while its subspaces align worse with the query split. Same
    * measure-don't-guess call as the PPJoin-vs-count decision in
    * [[Dedup]]. */
  def ivfPqTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                dim: Int, nCentroids: Int = 16, nProbe: Int = 8,
                m: Int = 32, ksub: Int = 16, iters: Int = 2,
                residual: Boolean = false,
                maxTrainRows: Long = 1L << 16,
                knownCount: Option[Long] = None): DataFrame = {
    val n = Some(knownCount.getOrElse(candidates.count()))
    val cents = Ivf.trainCentroids(candidates, nCentroids, iters,
      maxTrainRows, n)
    val centMat = typedLit(cents.map(_.toSeq).toSeq)
    def residOf(v: Column): Column =
      zip_with(v, element_at(centMat, Ivf.nearestCentroid(v, cents) + 1),
        (a, b) => a - b)
    val model =
      if (residual)
        train(candidates.select(col("vec_id"),
          residOf(col("embedding")).as("embedding")), dim, m, ksub, iters,
          maxTrainRows, n)
      else train(candidates, dim, m, ksub, iters, maxTrainRows, n)
    val codes =
      if (residual)
        graft.core.Tables.spread(candidates, col("vec_id"))
          .select(Ivf.nearestCentroid(col("embedding"), cents).as("cid"),
            col("vec_id").as("vid"),
            codesColumn(residOf(col("embedding")), model.codebooks).as("codes"))
      else assignAndEncode(candidates, cents, model)
    val q = queries.select(col("vec_id").as("qid"),
      col("embedding").as("qv"),
      explode(Ivf.probeCentroids(col("embedding"), cents, nProbe)).as("cid"))
    val base =
      if (residual)
        call_function("dot_f", col("qv"), element_at(centMat, col("cid") + 1))
      else lit(0.0)
    // native ADC: base + Σⱼ qᵥⱼ · c_{j,codes[j]} in one generated loop,
    // accumulation order identical to the HOF fold it replaced
    val adc = call_function("adc_score", col("qv"), col("codes"),
      matLit(model.codebooks), base.cast("double"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adc").desc, col("vid").asc)
    // each candidate lives in exactly one list and probe cids are distinct,
    // so (qid, vid) pairs are already unique — the Ivf.probeTopK contract
    broadcast(q).join(codes, Seq("cid"))
      .where(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"), round(adc, 4).as("adc"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vid"), col("adc"))
  }

  /** Coarse-assign + PQ-encode in ONE corpus-pass projection:
    * (cid, vid, codes) — the IVFPQ at-rest layout (raw coding; the
    * residual variant stays an in-memory option of [[ivfPqTopK]]). */
  def assignAndEncode(candidates: DataFrame, cents: Array[Array[Float]],
                      model: PqModel): DataFrame = {
    graft.core.Tables.spread(candidates, col("vec_id"))
      .select(Ivf.nearestCentroid(col("embedding"), cents).as("cid"),
        col("vec_id").as("vid"),
        codesColumn(col("embedding"), model.codebooks).as("codes"))
  }

  /** Persist the IVFPQ index `partitionBy("cid")` — [[Ivf.writeLists]]'s
    * layout with PQ codes instead of raw vectors: each inverted list is its
    * own partition directory AND each row is m bytes instead of dim floats,
    * so a probed scan reads ~nProbe/nCentroids of a corpus that is also
    * ~16× smaller at rest. This is the table a 100 TB deployment builds
    * once and queries forever; [[ivfPqTopKStored]] is the read side. */
  def writeCodes(candidates: DataFrame, cents: Array[Array[Float]],
                 model: PqModel, path: String): Unit =
    assignAndEncode(candidates, cents, model)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cid").parquet(path)

  /** ADC top-k against the STORED IVFPQ index: the query batch's probe-cid
    * set (≤ |queries|·nProbe ints, driver-bounded by construction) is
    * pushed as a static partition filter, so Catalyst prunes unprobed list
    * directories at PLAN time — the scan never opens them (the
    * `q_scan_partitioned` lesson applied to ANN; PqSpec asserts the
    * pruning in the executed plan). Scoring is the same generated
    * [[graft.functions.AdcScore]] loop as the in-memory path. */
  def ivfPqTopKStored(queries: DataFrame, codesPath: String,
                      cents: Array[Array[Float]], model: PqModel, k: Int,
                      nProbe: Int = 8): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val probeCids = queries
      .select(explode(Ivf.probeCentroids(col("embedding"), cents, nProbe))
        .as("cid"))
      .distinct().as[Int].collect().sorted
    val codes = spark.read.parquet(codesPath)
      .where(col("cid").isin(probeCids.map(Int.box): _*))
    val q = queries.select(col("vec_id").as("qid"),
      col("embedding").as("qv"),
      explode(Ivf.probeCentroids(col("embedding"), cents, nProbe)).as("cid"))
    val adc = call_function("adc_score", col("qv"), col("codes"),
      matLit(model.codebooks), lit(0.0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adc").desc, col("vid").asc)
    broadcast(q).join(codes, Seq("cid"))
      .where(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"), round(adc, 4).as("adc"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vid"), col("adc"))
  }

  /** ADC top-k: exact query subvectors vs reconstructed candidate
    * sub-centroids, k best per query (score desc, vid asc — the
    * [[Similarity]] output contract: (qid, rn, vid, adc)). Queries
    * broadcast; candidates stream through one codegen'd projection. */
  def adcTopK(queries: DataFrame, codes: DataFrame, model: PqModel,
              k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // native ADC expression — one generated loop per (query, candidate)
    val adc = call_function("adc_score", col("qv"), col("codes"),
      matLit(model.codebooks), lit(0.0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(col("adc").desc, col("vid").asc)
    broadcast(q)
      .crossJoin(codes.select(col("vec_id").as("vid"), col("codes")))
      .where(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"), round(adc, 4).as("adc"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vid"), col("adc"))
  }
}
