package graft.operators

import graft.core.GraftCheckpointOps
import graft.functions.Sketches
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM training-data pipelines (SURVEY §2B
  * north-star): exact, MinHash+LSH near-dup, SimHash, n-gram Jaccard,
  * embedding-cosine near-dup.
  *
  * Scale design (100 TB of documents):
  *  - exact: shuffle on a 128-bit digest — uniform keys, no skew, map-side
  *    combine collapses duplicates before the shuffle.
  *  - MinHash LSH: cost is Σ per-band bucket sizes. Bands are (band,
  *    band-signature-hash) keys — the groupBy is uniform unless a bucket is
  *    genuinely a near-dup cluster; `maxBucket` caps pathological buckets
  *    (boilerplate clusters) exactly like a df-cap in an inverted index.
  *  - token Jaccard: inverted-index join with a document-frequency cap —
  *    never a doc×doc cross join.
  *  - embedding near-dup: LSH via random hyperplanes (SimHash on vectors) →
  *    bucket join → exact cosine check inside buckets only.
  */
object Dedup {

  /** Normalized-text digest used by exact dedup. */
  def normDigest(text: Column): Column = md5(lower(trim(text)))

  /** Exact dedup: keep the lowest doc_id per normalized-text digest. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(normDigest(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** (doc_id, shingle_hash) pairs: hashed w-token shingles of `text`.
    * transform over a token-index sequence keeps everything in codegen. */
  def shingles(docs: DataFrame, w: Int = 3): DataFrame =
    shinglesRaw(docs, w).distinct()

  /** [[shingles]] WITHOUT the set-semantics distinct — the multiset
    * stream straight out of the generate. Duplicate-insensitive
    * consumers (MinHash: min over a multiset ≡ min over its set) read
    * this and skip a full (doc_id, shingle) exchange; set-semantics
    * consumers (Jaccard counts) go through [[shingles]]. */
  private def shinglesRaw(docs: DataFrame, w: Int): DataFrame =
    // hashing w-shingles is the CPU-bound stage; spread single-file scans
    // (no-op when the scan already has the splits — corpus scale)
    graft.core.Tables.spread(docs, col("doc_id"))
      .withColumn("toks", split(col("text"), " "))
      .withColumn("sh",
        when(size(col("toks")) >= w,
          transform(sequence(lit(0), size(col("toks")) - w),
            i => xxhash64(concat_ws(" ", slice(col("toks"), i + 1, lit(w))))))
          .otherwise(array(xxhash64(col("text")))))
      .select(col("doc_id"), explode(col("sh")).as("shingle"))

  /** MinHash signatures per doc: k hashes over the shingle set.
    *
    * Reads the RAW multiset shingle stream, not the distinct'd set:
    * min(h_i) is duplicate-invariant, so the signatures are identical
    * while the plan drops the set-dedup exchange entirely — the partial
    * (ObjectHashAggregate) merge collapses each map partition to one
    * k-long buffer per doc before the only remaining shuffle (guide
    * §2.3/§2.4: aggregate before you shuffle, remove shuffles outright;
    * round 16 — previously 2 exchanges carried ~every shingle row). */
  def minhashSignatures(docs: DataFrame, w: Int = 3, k: Int = 64): DataFrame =
    shinglesRaw(docs, w)
      .groupBy(col("doc_id"))
      .agg(Sketches.minhash(col("shingle"), k).as("sig"))

  /** MinHash-LSH candidate pairs with estimated Jaccard >= threshold.
    *
    * bands×rows = k; a pair collides in a band iff its row-slice matches
    * exactly, so P(candidate) = 1-(1-j^rows)^bands (the standard S-curve).
    * Returns (d1, d2, est_jaccard).
    */
  def minhashLsh(docs: DataFrame, w: Int = 3, k: Int = 64, bands: Int = 16,
                 threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    // the banded-signature table feeds THREE plan sites (the bucket-size
    // aggregate and both sides of the candidate self-join); without a
    // materialization the shingle+signature stage — the expensive CPU
    // pass — executes three times (round 16, plan audit: the scan→
    // explode→minhash subtree appeared 3× in the physical plan). One
    // checkpoint runs it once; in production this is exactly the banded
    // table the scaladoc above says to persist. Retention (ADVICE r16):
    // the localCheckpoint blocks live until Dataset GC — bounded at one
    // banded table per call, dropped by the bench's cache barrier between
    // attempts; a long-lived service calling this in a loop should read
    // the persisted-table variant instead.
    val banded = bandedSigs(docs, w, k, bands).graftCheckpoint()

    // cap pathological buckets (boilerplate mega-clusters) — logged cost cap
    val bucketSizes = banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bsz"))
      .where(col("bsz").between(2, maxBucket))
    val pruned = banded.join(bucketSizes, Seq("band", "bucket"), "left_semi")

    // cross-band dedup via dropDuplicates(d1, d2): unlike a full-row
    // distinct, the partial aggregate dedupes pairs map-side on the id pair
    // and carries one signature copy per surviving pair into the shuffle.
    // The estimate is computed BEFORE the dedup shuffle only for pairs that
    // pass the threshold — dropping sub-threshold pairs early shrinks the
    // shuffle further (a pair's estimate is identical in every band).
    pruned.as("a")
      .join(pruned.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        estJac(col("a.sig"), col("b.sig")).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
      .dropDuplicates(Seq("d1", "d2"))
      .select(col("d1"), col("d2"), round(col("est_jaccard"), 4).as("est_jaccard"))
  }

  /** (doc_id, sig, band, bucket): the shared LSH banding — band b's bucket
    * is a hash of the signature's b-th row slice. */
  private def bandedSigs(docs: DataFrame, w: Int, k: Int,
                         bands: Int): DataFrame = {
    val rows = k / bands
    minhashSignatures(docs, w, k).select(
      col("doc_id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws(",",
          transform(slice(col("sig"), b * rows + 1, lit(rows)),
            x => x.cast("string")))))).as(Seq("band", "bucket")))
  }

  /** matched-positions/k as a codegen'd HOF chain (Sketches.estimateJaccard
    * semantics) — a Scala UDF here would sit on the band-join hot path. */
  private val estJac = (a: Column, b: Column) =>
    size(filter(zip_with(a, b, (x, y) => x === y), p => p)).cast("double") /
      size(a)

  /** Incremental near-dup: each BATCH document's MinHash-LSH matches in an
    * existing CORPUS — the continuous-ingest twin of [[minhashLsh]], which
    * pairs a corpus against itself. Returns (batch_id, corpus_id,
    * est_jaccard >= threshold); a batch doc with no row is novel.
    *
    * Scale shape: both sides band identically, the join is an equi-join on
    * (band, bucket) — batch×corpus pairs only ever materialize inside
    * shared buckets, never corpus×corpus (the corpus side is semi-join
    * pruned to capped buckets first, same mega-cluster cap as minhashLsh).
    * In production the corpus's banded signature table is the thing you
    * PERSIST (partitioned by band): each new batch then shuffles only
    * itself — batch-sized work per ingest against a 100 TB accumulated
    * corpus, the same asymmetry as [[CorpusOps.incrementalDedup]]. */
  def minhashAgainst(batch: DataFrame, corpus: DataFrame, w: Int = 3,
                     k: Int = 64, bands: Int = 16, threshold: Double = 0.5,
                     maxBucket: Int = 1000): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    // bucket cap via a window count, NOT minhashLsh's groupBy+semi-join:
    // the semi-join's two branches each recompute the corpus signatures
    // (the expensive stage), while one window = one shuffle over rows that
    // are computed once. Singleton corpus buckets stay (no lower bound) —
    // a batch doc may match the lone corpus doc in its bucket.
    val wSz = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket"))
    val prunedCorpus = bandedSigs(corpus, w, k, bands)
      .withColumn("__bsz", count(lit(1)).over(wSz))
      .where(col("__bsz") <= maxBucket)
      .drop("__bsz")
    bandedSigs(batch, w, k, bands).as("a")
      .join(prunedCorpus.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket"))
      .select(col("a.doc_id").as("batch_id"), col("b.doc_id").as("corpus_id"),
        estJac(col("a.sig"), col("b.sig")).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
      .dropDuplicates(Seq("batch_id", "corpus_id"))
      .select(col("batch_id"), col("corpus_id"),
        round(col("est_jaccard"), 4).as("est_jaccard"))
  }

  /** 64-bit SimHash over token hashes (sign of per-bit weighted sums) —
    * the native codegen'd [[graft.functions.SimHash64]] expression, reading
    * the token UTF8Strings in place (the former Scala UDF paid a
    * CatalystTypeConverters round-trip per document). */
  def simhash(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
      call_function("simhash64", split(col("text"), " ")).as("simhash"))
  }

  /** Blocking rows (doc_id, simhash, chunk_no, chunk) for `simhashPairs`:
    * the 64-bit hash split into (maxDist+1) bit-range chunks. Exposed so the
    * bucket-fan-out property (DedupSpec) can bound candidate volume. */
  private[operators] def simhashChunks(docs: DataFrame, maxDist: Int): DataFrame =
    hashChunks(simhash(docs), maxDist)

  /** [[simhashChunks]] over an ALREADY-hashed frame (doc_id, simhash) —
    * the blocking is hash-agnostic, so any 64-bit locality-preserving
    * hash (text SimHash, image average-hash) shares it. */
  private[operators] def hashChunks(sh: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, s"maxDist must be in [0,63], got $maxDist")
    val k = maxDist + 1
    val bounds = (0 to k).map(i => i * 64 / k) // chunk i = bits [b(i), b(i+1))
    val chunks = (0 until k).map { i =>
      val w = bounds(i + 1) - bounds(i)
      val mask = if (w == 64) -1L else (1L << w) - 1L
      shiftrightunsigned(col("simhash"), bounds(i)).bitwiseAND(lit(mask))
    }
    sh.select(col("doc_id"), col("simhash"),
      posexplode(array(chunks: _*)).as(Seq("chunk_no", "chunk")))
  }

  /** SimHash near-dup pairs: hamming distance <= maxDist, blocked by
    * (maxDist+1) bit-range chunks. Pigeonhole: a pair differing in at most
    * maxDist bits leaves at least one of the maxDist+1 chunks untouched, so
    * the blocking is candidate-complete for the declared bound (candidates
    * are then exactly re-scored with a popcount; completeness is asserted
    * against brute-force hamming in DedupSpec).
    *
    * Scale: candidate volume is Σ bucket² over (chunk_no, chunk) join keys,
    * and each chunk is 64/(maxDist+1) bits wide — the key space shrinks
    * EXPONENTIALLY as the bound grows. maxDist=3 (4×16-bit chunks, ~65k keys
    * per chunk_no — the standard Manku/Charikar operating point) is the
    * corpus-scale configuration and what the catalog ships; maxDist=8 would
    * block on 7-bit chunks (~128 keys per chunk_no ⇒ ≈n²/28 candidate pairs
    * — brute force in disguise) and is only sane on small or pre-blocked
    * inputs. For bounds >3 at scale, tighten per-block first (e.g. dedup
    * exact-duplicate hashes) or raise the hash width instead. */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame =
    hammingPairs(simhash(docs), maxDist)

  /** [[simhashPairs]] over an already-hashed frame (doc_id, simhash) —
    * same pigeonhole-complete chunk blocking, any 64-bit hash source
    * (e.g. [[graft.multimodal.Multimodal]]'s image average-hash). */
  def hammingPairs(hashed: DataFrame, maxDist: Int = 3): DataFrame = {
    val chunked = hashChunks(hashed, maxDist)
    chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk_no") === col("b.chunk_no") &&
        col("a.chunk") === col("b.chunk") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
              col("a.simhash").as("h1"), col("b.simhash").as("h2"))
      .distinct()
      .withColumn("dist", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .where(col("dist") <= maxDist)
      .select(col("d1"), col("d2"), col("dist"))
  }

  /** Embedding-cosine near-dup: hyperplane-LSH buckets both copies of the
    * corpus, exact cosine re-scoring inside buckets only, pairs >= threshold
    * (the vector-space analogue of minhashLsh — same O(Σ bucket²) scale
    * shape). Expects (vec_id, embedding array<float>). */
  def embeddingNearDup(embeddings: DataFrame, threshold: Double = 0.95,
                       dim: Int = 64, nPlanes: Int = 8, tables: Int = 4): DataFrame = {
    // ids-first: the cross-table dedup (distinct) shuffles only (d1, d2)
    // id pairs; the embeddings are re-attached afterwards — at bucket sizes
    // worth having, shuffling vectors through the distinct dominates cost.
    // ALL tables' buckets come from one pass over the embeddings (posexplode
    // of the per-table signature array); the self-join on (table, bucket)
    // then shuffles once, shared between both sides by exchange reuse —
    // vs `tables` separate scans + joins
    val sig = Similarity.hyperplaneBuckets(embeddings, dim, nPlanes, tables)
      .select(col("vec_id"), col("table"), col("bucket"))
    val pairs = sig.as("a").join(sig.as("b"),
        col("a.table") === col("b.table") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"))
      .distinct()
    pairs
      .join(embeddings.select(col("vec_id").as("d1"), col("embedding").as("e1")), "d1")
      .join(embeddings.select(col("vec_id").as("d2"), col("embedding").as("e2")), "d2")
      .withColumn("cos", round(expr("cosine_sim(e1, e2)"), 4))
      .where(col("cos") >= threshold)
      .select(col("d1"), col("d2"), col("cos"))
  }

  /** SemDeDup semantic deduplication (Abbas et al., arXiv:2303.09540):
    * k-means-cluster the embeddings, then exact cosine WITHIN clusters
    * only, dropping every vector with a ≥-threshold neighbour of lower
    * vec_id (deterministic keep-first; the paper keeps the member farthest
    * from the centroid — same dedup power, different survivor choice, and
    * keep-first makes the result reproducible under any row order).
    * Returns the full roster (vec_id, cid, kept).
    *
    * The scale contract mirrors the paper's reason for clustering at all:
    * the pairwise term drops from n² to Σ cluster² — on 100 TB, size
    * `nClusters` ∝ corpus/target-cluster-size so each cluster's pair block
    * is bounded, the pair join is a cid equi-join (one shuffle, never a
    * cross join), centroid training is on the bounded [[Ivf]] sample, and
    * the drop set shuffles ids only. Complements [[embeddingNearDup]]:
    * LSH buckets find near-IDENTICAL pairs cheaply; SemDeDup's clusters
    * give every vector a dedup decision (cluster-complete coverage). */
  def semanticDedup(embeddings: DataFrame, threshold: Double = 0.95,
                    nClusters: Int = 8, iters: Int = 2): DataFrame = {
    val cents = Ivf.trainCentroids(embeddings, nClusters, iters)
    val assigned = Ivf.assign(embeddings, cents) // (cid, vid, cv)
    val drops = assigned.as("a").join(assigned.as("b"),
        col("a.cid") === col("b.cid") && col("a.vid") < col("b.vid"))
      .where(round(expr("cosine_sim(a.cv, b.cv)"), 4) >= threshold)
      .select(col("b.vid").as("vid"))
      .distinct()
    assigned
      .join(drops.withColumn("dropped", lit(true)), Seq("vid"), "left")
      .select(col("vid").as("vec_id"), col("cid"),
        col("dropped").isNull.as("kept"))
  }

  /** Exact set-Jaccard pairs from pre-exploded distinct (doc_id, item[,
    * extra keys]) rows, via an inverted-index self-join with a document-
    * frequency cap: items appearing in more than dfCap docs carry no dedup
    * signal and would otherwise create O(df²) pair blowup — the one hot-key
    * hazard of the inverted-index shape at corpus scale. `joinKeys` are the
    * equi-join columns (the item, plus any blocking keys like language);
    * the df cap is applied per joinKeys group (the actual blowup key).
    * Set sizes come from the UNCAPPED item sets, so with dfCap above the
    * corpus max df the result is exactly brute-force Jaccard. Threshold is
    * applied to the unrounded value; output is floor-rounded to 4dp (the
    * halfway-stable rounding both engines agree on).
    *
    * Why count-groupBy and not prefix filtering: the AllPairs/PPJoin prefix
    * filter (Bayardo et al., WWW'07 — index only each doc's m-⌈t·n⌉+1
    * rarest keys, verify candidates exactly) was implemented and measured
    * here; it LOST on this corpus (q_llm_jaccard 1.9 s → 7.3 s at sf0.1)
    * because the benchmark documents are so self-similar that ~25% of all
    * pairs pass the threshold — with output that dense, per-pair set
    * verification costs what the codegen'd count aggregation already pays,
    * plus three extra shuffles. Prefix filtering pays off when similarity
    * is SPARSE (web-scale corpora where most docs pair with nothing); for
    * that regime, add the prefix stage in front of this join — the
    * verification tail is unchanged. The df cap already bounds the hot-key
    * quadratic term at any scale. */
  def jaccardFromItems(items: DataFrame, threshold: Double, dfCap: Int,
                       joinKeys: Seq[String], spreadExplosion: Boolean = false): DataFrame = {
    val capped = items.join(
      items.groupBy(joinKeys.map(col): _*).agg(count(lit(1)).as("df"))
        .where(col("df") <= dfCap),
      joinKeys, "left_semi")
    val cnt = items.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // The self-join's OUTPUT is quadratic in df while its INPUT is one row
    // per (doc, key), so AQE's input-size-based coalescing can collapse the
    // probe side to one task and serialize the Σdf² candidate stream onto a
    // single core (measured on the dense trigram corpus: 1 task carrying a
    // 4.1M-pair explosion for 1.1 s; spread over 32 tasks it takes 0.35 s).
    // `spreadExplosion` pins the explosion stage at the session's configured
    // parallelism with an explicit-count repartition, which AQE's coalescer
    // is exempt from touching. It is OPT-IN because the repartition is an
    // extra exchange: worth it when per-key df is known-dense (short
    // character n-grams, boilerplate-heavy corpora), measured overhead when
    // the key space is diverse and Σdf² stays near |items| (token-level
    // indexes) — pick per call site like dfCap.
    val spread =
      if (!spreadExplosion) capped
      else capped.repartition(
        items.sparkSession.sessionState.conf.numShufflePartitions,
        joinKeys.map(col): _*)
    spread.as("a")
      .join(spread.as("b"),
        joinKeys.map(k => col(s"a.$k") === col(s"b.$k"))
          .reduce(_ && _) && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("c"))
      .join(cnt.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(cnt.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .withColumn("jac",
        col("c").cast("double") / (col("n1") + col("n2") - col("c")))
      .where(col("jac") >= threshold)
      .select(col("d1"), col("d2"),
        (floor(col("jac") * 10000 + 0.5) / 10000).as("jac"))
  }

  /** Connected components over an undirected pair list (d1, d2) — the step
    * after candidate generation in every dedup pipeline: LSH/Jaccard emit
    * PAIRS, retention decisions need CLUSTERS. Hook+shortcut label
    * propagation: each node starts labeled min(self, neighbors); every
    * round each node hooks to the min of its own and its neighbors' labels
    * and then pointer-jumps (label := label's label), so the distance a
    * label has travelled at least doubles per round and ANY component
    * diameter converges in O(log d) rounds — `maxIter` + 64 doubling
    * rounds bound every graph under 2^64 nodes, and dense near-dup
    * clusters typically finish in 1–2 rounds past the fused init.
    *
    * Scale: the doubled edge list is cached pre-partitioned on the loop's
    * join key at the loop width ([[GraphOps.loopPartitions]], which the
    * cached input carries — the session conf is never written), so the
    * |E|-sized side never re-enters an exchange — each
    * round shuffles only the |V|-row label table; `localCheckpoint`
    * truncates the growing lineage each round so plans don't deepen. Each
    * round is exactly ONE Spark action: the count of changed labels rides
    * the checkpoint job as an observed metric (the self-label row carried
    * through the aggregate supplies the old label). The certificate is
    * robust to task retries — a retried partition can only ADD to the
    * count, so an observed zero means a genuine fixpoint; an inflated
    * count merely buys one extra confirming round.
    *
    * Returns (id, comp) with comp = min node id of the component; nodes
    * absent from `pairs` are absent here (callers re-attach singletons). */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    // no distinct: pairs satisfy d1 < d2, so the two directions are
    // disjoint and per-direction duplicates only came from duplicate input
    // pairs (harmless to min-aggregation). The doubled edge list is cached
    // PRE-PARTITIONED on the loop's join key: InMemoryRelation preserves
    // the HashPartitioning, so the |E|-sized side enters no exchange inside
    // the loop — each round shuffles only the |V|-row label table. At
    // corpus scale |E| >> |V|; re-shuffling edges every round was the
    // dominant per-iteration cost of the previous formulation.
    val edges0 = pairs
      .select(col("d1").cast("long").as("a"), col("d2").cast("long").as("b"))
      .union(pairs
        .select(col("d2").cast("long").as("a"), col("d1").cast("long").as("b")))
      .cache()
    // Size the loop from the MEASURED edge count (the count also
    // materializes the cache): near-dup pairs are sparse relative to the
    // corpus, so conf-many mostly-empty tasks would make per-round cost
    // pure task-scheduling overhead (GraphOps.loopPartitions).
    val loopParts = GraphOps.loopPartitions(pairs.sparkSession, edges0.count())
    val edges = edges0.repartition(loopParts, col("b")).cache()
    try {
    // round 0 fused into init: comp = min(self, direct neighbors). The edge
    // union is symmetric (every edge present in both orientations), so
    // aggregating by b is equivalent to aggregating by a — and b is the
    // cached partitioning key, making init exchange-free on the edge list;
    // dense near-dup clusters often hit the fixpoint here
    var labels = edges.groupBy(col("b"))
      .agg(least(col("b"), min(col("a"))).as("comp"))
      .select(col("b").as("id"), col("comp")).graftCheckpoint()
    // Every round is hook (comp' = min over self+neighbor labels) PLUS
    // shortcut (comp'' = comp'-of-comp', a pointer jump): the distance a
    // label has travelled at least doubles per round, so ANY diameter
    // converges in O(log d) rounds where min-label alone needs O(d);
    // 64 doubling rounds past maxIter close any residual diameter for
    // graphs under 2^64 nodes. The changed-label count rides the
    // checkpoint job as an observed metric — one Spark action per round.
    // Task retries can only inflate the metric, so an observed 0 is a true
    // fixpoint; inflation merely buys one extra confirming round. (At a
    // hook fixpoint labels are equal across every edge — both endpoints'
    // labels are mutual minima — hence constant per component, and mins of
    // node ids are preserved from init, so the constant is the component
    // min.)
    // one hook+shortcut round: (id, comp) -> (id, comp, old) where old is
    // the incoming label (carried through the aggregate by the self row)
    def round(l: DataFrame): DataFrame = {
      val hooked = edges
        .join(l.select(col("id").as("b"), col("comp").as("nc")), "b")
        .select(col("a"), col("nc"), lit(null).cast("long").as("old"))
        .union(l.select(col("id"), col("comp"), col("comp")))
        .groupBy(col("a"))
        .agg(min(col("nc")).as("comp"), min(col("old")).as("old"))
      // pointer jump: replace comp with comp's own post-hook label; every
      // comp value is a labeled node id, so the left join always hits.
      // (hooked appears on both sides — its aggregate exchange is reused,
      // the subtree below it computes once per round.)
      hooked
        .join(hooked.select(col("a").as("comp"), col("comp").as("cc")),
          Seq("comp"), "left")
        .select(col("a").as("id"),
          coalesce(col("cc"), col("comp")).as("comp"), col("old"))
    }
    // One round rides each checkpoint action. (Batching two rounds per
    // action was measured SLOWER here — the doubled plan quadruples the
    // stage count AQE walks through, outweighing the saved action.)
    var round2 = 0
    var done = false
    val bound = maxIter.toLong + 64
    while (!done && round2 < bound) {
      val obs = org.apache.spark.sql.Observation()
      labels = round(labels)
        .observe(obs, sum(when(col("comp") =!= col("old"), 1L).otherwise(0L))
          .as("changed"))
        .select(col("id"), col("comp"))
        .graftCheckpoint()
      // sum over an empty label table is null — empty graph is converged
      done = Option(obs.get("changed")).forall(_.asInstanceOf[Long] == 0L)
      round2 += 1
    }
    if (!done) throw new IllegalStateException(
      s"connectedComponents did not converge after $round2 hook+shortcut " +
      "rounds — not reachable for any graph with < 2^64 nodes; indicates " +
      "non-deterministic input")
    labels
    } finally {
      edges.unpersist()
      edges0.unpersist()
    }
  }

  /** Duplicate clusters from a pair list: (doc_id, cluster_id,
    * is_canonical) for every doc in `ids` — docs in no pair are their own
    * singleton cluster; the canonical doc is the cluster's min id (the
    * keep-first rule exact dedup uses). */
  def dedupClusters(ids: DataFrame, pairs: DataFrame,
                    maxIter: Int = 25): DataFrame = {
    val comps = connectedComponents(pairs, maxIter)
    ids.select(col("doc_id"))
      .join(comps.select(col("id").as("doc_id"), col("comp")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("cluster_id"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
  }

  /** Prefix-filtered exact set-similarity join (All-Pairs, Bayardo et al.
    * WWW'07 — the candidate-generation half of PPJoin): tokens get a
    * global rare-first total order (df asc, token asc — the order need
    * only be total and df-correlated, so NO integer rank materializes and
    * nothing vocabulary-wide ever sorts in one task); each doc's sorted
    * set is probed only on its PREFIX of length n − ceil(t·n) + 1. Any
    * pair with Jaccard ≥ t must share a prefix token on BOTH sides, so
    * prefix⋈prefix is complete — while the candidate stream shrinks from
    * Σdf(token)² to Σdf(prefix-token)², the rare end of the Zipf curve.
    * A length filter (t·max ≤ min) prunes before verification; survivors
    * verify with one codegen'd `array_intersect` against the full sorted
    * sets. Same output contract as [[jaccardFromItems]]: (d1, d2, jac 4dp).
    *
    * The trade vs the df-capped inverted index: jaccardFromItems drops
    * high-df tokens entirely (approximate under dfCap, exact above it);
    * prefix filtering is EXACT at any df — stop-word-dense corpora keep
    * their pairs. Per-doc state is one token array, bounded by document
    * length. */
  def prefixJaccard(items: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold=$threshold")
    val dfT = items.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val sorted = items.join(dfT, "token")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("token")))).as("st"))
      .select(col("doc_id"),
        transform(col("st"), x => x.getField("token")).as("toks"))
      .withColumn("n", size(col("toks")))
      .withColumn("p",
        (col("n") - ceil(col("n") * threshold) + 1).cast("int"))
    val prefix = sorted.select(col("doc_id"), col("n"),
      explode(slice(col("toks"), lit(1), col("p"))).as("token"))
    val cands = prefix.as("a")
      .join(prefix.as("b"),
        col("a.token") === col("b.token") &&
        col("a.doc_id") < col("b.doc_id") &&
        // length filter: jac ≥ t needs t·max(na,nb) ≤ min(na,nb)
        greatest(col("a.n"), col("b.n")) * threshold <=
          least(col("a.n"), col("b.n")))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    cands
      .join(sorted.select(col("doc_id").as("d1"), col("toks").as("t1"),
        col("n").as("n1")), "d1")
      .join(sorted.select(col("doc_id").as("d2"), col("toks").as("t2"),
        col("n").as("n2")), "d2")
      .withColumn("c", size(array_intersect(col("t1"), col("t2"))))
      .withColumn("jac",
        col("c").cast("double") / (col("n1") + col("n2") - col("c")))
      .where(col("jac") >= threshold)
      .select(col("d1"), col("d2"),
        (floor(col("jac") * 10000 + 0.5) / 10000).as("jac"))
  }

  /** Keep-BEST cluster representative selection — the quality-aware
    * refinement of keep-first dedup: given cluster assignments
    * (doc_id, cluster_id) and a per-doc quality frame (doc_id, q), each
    * cluster's representative is its argmax-q doc (ties → lowest doc_id).
    * One aggregation via `max_by` over a (q, −doc_id) struct — partial
    * combine makes it SKEW-SAFE where a per-cluster window would put a
    * 100M-copy viral document's cluster in one task. Returns
    * (cluster_id, rep_doc_id, n_members, best_q). */
  def clusterRepresentatives(clusters: DataFrame, quality: DataFrame): DataFrame =
    clusters.join(quality, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(
        max_by(col("doc_id"), struct(col("q"), -col("doc_id"))).as("rep_doc_id"),
        count(lit(1)).as("n_members"),
        max(col("q")).as("best_q"))

  /** Exact token-set Jaccard via the df-capped inverted-index join. */
  def tokenJaccard(docs: DataFrame, threshold: Double = 0.3,
                   dfCap: Int = 10000): DataFrame =
    jaccardFromItems(
      docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .where(col("token") =!= "").distinct(),
      threshold, dfCap, Seq("token"))
}
