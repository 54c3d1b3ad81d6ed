package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate-nearest-neighbor search — the classic
  * coarse-quantizer scale path for embedding similarity, complementing the
  * hyperplane-LSH path in [[Similarity.lshTopK]] (SURVEY §2B similarity
  * search; the reference has no ANN, this is north-star surface).
  *
  * Shape: a small coarse quantizer (nCentroids unit-norm centroids, trained
  * with a few Lloyd iterations on a deterministic sample) partitions the
  * corpus into inverted lists by nearest centroid; each query probes only
  * its `nProbe` closest lists. All centroid scoring runs through the native
  * codegen'd `dot_f` expression against literal centroid arrays — a map-only
  * pass, no shuffle, no UDF.
  *
  * Scale notes (100 TB):
  *  - centroids are O(nCentroids·dim) — driver-side and broadcast-sized by
  *    construction; training touches only a hash-sample bounded to
  *    `maxTrainRows` BY DEFAULT (the modulus is derived from the corpus
  *    count), the standard IVF practice.
  *  - list assignment is embarrassingly parallel; queries are broadcast so
  *    candidates are scanned exactly once with no candidate-side shuffle.
  *  - [[writeLists]] persists the assignment `partitionBy("cid")` and
  *    [[ivfTopKStored]] pushes the query batch's probe-cid set as a static
  *    partition filter — Catalyst prunes unprobed list directories, so the
  *    scan reads ~nProbe/nCentroids of the corpus (pruning is asserted in
  *    SimilaritySpec).
  *  - raise nCentroids ∝ √n to keep lists balanced; recall is tuned by
  *    nProbe independently of the stored layout.
  */
object Ivf {

  /** Unit-normalize each centroid so argmax dot ≡ argmax cosine. */
  private def normalize(cs: Array[Array[Float]]): Array[Array[Float]] =
    cs.map { c =>
      val n = math.sqrt(c.foldLeft(0.0)((a, x) => a + x.toDouble * x))
      if (n > 0) c.map(x => (x / n).toFloat) else c
    }

  /** array<struct<s:double, nc:int>> of (dot, NEGATED id) per centroid;
    * struct ordering compares `s` first, and the negated id makes score
    * ties resolve to the LOWEST cid under array_max / descending sort —
    * the argmin-L2 convention and what a local maxBy recompute picks
    * (matters when Lloyd leaves duplicate centroids: empty cells keep
    * their previous centroid; same fix as the PQ sub-code tie-break).
    * The centroid matrix is ONE array-of-arrays literal indexed inside a
    * `transform` loop — generated code stays a single small loop with a
    * single dot_f call no matter how many centroids there are (inlining
    * one call per centroid would bloat codegen and recompile cost
    * linearly in nCentroids). */
  private def scoredCentroids(v: Column, cents: Array[Array[Float]]): Column = {
    val mat = typedLit(cents.map(_.toSeq).toSeq)
    // named_struct, not struct(...as...): aliases inside lambda bodies are
    // stripped (fields would resolve as col1/col2)
    transform(sequence(lit(0), lit(cents.length - 1)),
      i => call_function("named_struct",
        lit("s"), call_function("dot_f", v, element_at(mat, i + 1)),
        lit("nc"), (lit(0) - i).cast("int")))
  }

  /** Nearest-centroid id for a vector (codegen'd dots, no UDF; ties →
    * lowest cid). */
  def nearestCentroid(v: Column, cents: Array[Array[Float]]): Column =
    (lit(0) - array_max(scoredCentroids(v, cents)).getField("nc")).cast("int")

  /** The nProbe closest centroid ids, best first (ties → lower cid
    * first). */
  private[operators] def probeCentroids(v: Column, cents: Array[Array[Float]],
                                        nProbe: Int): Column =
    transform(slice(reverse(array_sort(scoredCentroids(v, cents))), 1, nProbe),
      s => (lit(0) - s.getField("nc")).cast("int"))

  /** Deterministic hash-sample bounded to ~`maxTrainRows` rows: the modulus
    * is derived from the corpus count, so the DEFAULT training path touches
    * a bounded sample no matter how large the corpus is — callers never
    * pick a modulus by hand. The count() is metadata-served ONLY for a bare
    * unfiltered parquet relation; a filtered/projected input pays one
    * count-only scan (columnless — no vector data moves). Callers that
    * already know the corpus size pass it via `knownCount` and skip even
    * that (the modulus only needs the right order of magnitude). */
  private[operators] def trainingSample(candidates: DataFrame,
                                        maxTrainRows: Long,
                                        knownCount: Option[Long] = None): DataFrame = {
    val n = knownCount.getOrElse(candidates.count())
    val mod = math.max(1L, (n + maxTrainRows - 1) / maxTrainRows)
    (if (mod > 1)
       candidates.where(pmod(xxhash64(col("vec_id")), lit(mod)) === 0)
     else candidates)
      .select(col("vec_id"), col("embedding"))
  }

  /** Train the coarse quantizer: deterministic init (lowest vec_ids), then
    * `iters` Lloyd steps (assign → per-centroid vector mean). Training
    * touches only a hash-sample bounded to `maxTrainRows` BY DEFAULT — at
    * 100 TB the modulus derivation keeps the sample constant-sized. Each
    * Lloyd step aggregates with a typed vector-sum Aggregator (partial+
    * final), so the shuffle is one (dim+1)-double buffer per centroid per
    * map partition — nCentroids·dim, NOT sample·dim exploded rows. The
    * collected means are nCentroids·dim doubles. Empty clusters keep their
    * previous centroid. */
  def trainCentroids(candidates: DataFrame, nCentroids: Int, iters: Int = 2,
                     maxTrainRows: Long = 1L << 16,
                     knownCount: Option[Long] = None): Array[Array[Float]] = {
    require(maxTrainRows >= nCentroids,
      s"maxTrainRows=$maxTrainRows < nCentroids=$nCentroids")
    val sample = trainingSample(candidates, maxTrainRows, knownCount).cache()
    try {
      var cents = normalize(
        sample.orderBy(col("vec_id")).limit(nCentroids)
          .select(col("embedding")).collect()
          .map(_.getSeq[Float](0).toArray))
      require(cents.nonEmpty, "no vectors to train on")
      val dim = cents(0).length
      for (_ <- 0 until iters) {
        val sums = sample
          .groupBy(nearestCentroid(col("embedding"), cents).as("cid"))
          .agg(graft.functions.Sketches.vectorSum(col("embedding"), dim).as("vs"))
          .select(col("cid"), col("vs.sum").as("sum"), col("vs.n").as("n"))
          .collect()
        val byCid = sums.map(r =>
          r.getInt(0) -> (r.getSeq[Double](1), r.getLong(2))).toMap
        cents = normalize(cents.indices.map { c =>
          byCid.get(c) match {
            case Some((s, n)) if n > 0 =>
              s.map(x => (x / n).toFloat).toArray
            case _ => cents(c)
          }
        }.toArray)
      }
      cents
    } finally { sample.unpersist(); () }
  }

  /** Inverted-list assignment: (cid, vid, cv) — the stored IVF layout. At
    * scale this is the table to persist `partitionBy("cid")`. */
  def assign(candidates: DataFrame, cents: Array[Array[Float]]): DataFrame = {
    // spread only when scan parallelism is deficient (single-file fixtures);
    // a corpus-scale scan already has the splits and must NOT be shuffled
    graft.core.Tables.spread(candidates, col("vec_id"))
      .select(nearestCentroid(col("embedding"), cents).as("cid"),
        col("vec_id").as("vid"), col("embedding").as("cv"))
  }

  /** Probe/score/top-k against an already-assigned (cid, vid, cv) table —
    * the shared tail of the in-memory and stored paths. */
  private def probeTopK(queries: DataFrame, assigned: DataFrame,
                        cents: Array[Array[Float]], k: Int,
                        nProbe: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("qid"), col("embedding").as("qv"),
      explode(probeCentroids(col("embedding"), cents, nProbe)).as("cid"))
    // each candidate lives in exactly one list and probe cids are distinct,
    // so (qid, vid) pairs are already unique — no dedup shuffle needed
    val scored = broadcast(q).join(assigned, Seq("cid"))
      .where(col("qid") =!= col("vid"))
      .select(col("qid"), col("vid"),
        round(call_function("cosine_sim", col("qv"), col("cv")), 4).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vid").asc)
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vid"), col("cos"))
  }

  /** Approximate top-k: probe the nProbe nearest inverted lists per query,
    * exact-rescore with the native cosine, per-query top-k. Same output
    * schema as [[Similarity.lshTopK]]: (qid, rn, vid, cos). */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, k: Int,
              nCentroids: Int = 16, nProbe: Int = 4, iters: Int = 2,
              maxTrainRows: Long = 1L << 16,
              knownCount: Option[Long] = None): DataFrame = {
    val cents = trainCentroids(candidates, nCentroids, iters, maxTrainRows,
      knownCount)
    probeTopK(queries, assign(candidates, cents), cents, k, nProbe)
  }

  /** Persist the inverted lists `partitionBy("cid")` — the stored IVF
    * layout: each list is its own partition directory, so a probe that
    * filters on cid reads ~nProbe/nCentroids of the corpus from disk. */
  def writeLists(candidates: DataFrame, cents: Array[Array[Float]],
                 path: String): Unit =
    assign(candidates, cents)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("cid").parquet(path)

  /** Approximate top-k against stored inverted lists: the query batch's
    * probe-cid set (≤ |queries|·nProbe ints, driver-bounded by construction)
    * is pushed as a STATIC partition filter, so Catalyst prunes unprobed
    * list directories at plan time — the scan reads only the probed
    * ~nProbe/nCentroids of a 100 TB corpus, which is the entire point of
    * the stored layout. */
  def ivfTopKStored(queries: DataFrame, listsPath: String,
                    cents: Array[Array[Float]], k: Int,
                    nProbe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val probeCids = queries
      .select(explode(probeCentroids(col("embedding"), cents, nProbe)).as("cid"))
      .distinct().as[Int].collect().sorted
    val assigned = spark.read.parquet(listsPath)
      .where(col("cid").isin(probeCids.map(Int.box): _*))
    probeTopK(queries, assigned, cents, k, nProbe)
  }
}
