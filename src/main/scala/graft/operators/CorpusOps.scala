package graft.operators

import graft.core.GraftCheckpointOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Corpus-preparation operators for LLM training pipelines (SURVEY §2B
  * north-star), alongside [[Dedup]]: exact-span (substring) duplicate
  * detection, benchmark decontamination, and deterministic split
  * assignment — the standard steps between raw crawl and training shards.
  *
  * Scale design (100 TB):
  *  - span dedup: inverted-index join on fixed-length character spans with
  *    a document-frequency cap, same Σdf² cost envelope as the token
  *    Jaccard join — never doc×doc. Stride-1 spans are exact; at corpus
  *    scale winnow first (keep each window's min-hash span) to trade
  *    recall for index size without touching this join's shape.
  *  - decontamination: the benchmark side is SMALL by definition (eval
  *    sets are thousands of docs), so its n-gram index broadcasts; the
  *    corpus is scanned once, map-side, no corpus shuffle.
  *  - split assignment: a pure map over a digest of the NORMALIZED text —
  *    exact duplicates land in the same split by construction, so dedup
  *    ordering doesn't leak train data into eval splits.
  */
object CorpusOps {

  /** Broadcast `df` when its cardinality bound fits, else a LOGGED
    * shuffle-hash fallback — the one guard every model-table join in this
    * file uses (contamination / lmPerplexity / importanceWeight /
    * bigramPerplexity / knPerplexity / tfIdf). A too-big side must never
    * attempt a multi-GB broadcast, and the fallback shuffle must be a
    * deliberate, logged cost — never an accident. */
  private def guardedBroadcast(df: DataFrame, bound: Long, max: Long,
                               what: String): DataFrame =
    if (bound <= max) broadcast(df)
    else {
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"$what exceeds the broadcast guard (cardinality bound " +
        s"$bound > $max) — falling back to a shuffle-hash join")
      df.hint("shuffle_hash")
    }

  /** Hex digit i (1-based) of the md5-hex column `h` as its 0-15 value —
    * the shared bucketing primitive of the hashed-feature family
    * (hashedLinearScore / hashedFeatures / shuffledPack / fimSplit). Any
    * change here re-buckets training and scoring TOGETHER. */
  private def hexDigit(h: Column, i: Int): Column = {
    val a = ascii(substring(h, i, 1))
    a - when(a >= 97, 87).otherwise(48) // 0-9 / a-f hex digit value
  }

  /** (doc_id, span): every distinct character span of length `len` per
    * document (stride 1). Documents shorter than `len` yield no spans. */
  def spans(docs: DataFrame, len: Int): DataFrame =
    docs
      .where(length(col("text")) >= len)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, length(text) - ${len - 1}), " +
        s"i -> substring(text, i, $len))")).as("span"))
      .distinct()

  /** Exact-span duplicate pairs: (d1, d2, n_spans) for every doc pair
    * sharing at least one `len`-char span, with the number of distinct
    * shared spans. Spans in more than `dfCap` docs (boilerplate) are
    * dropped from the index — the df cap bounds the join's Σdf² blowup
    * exactly like the token-Jaccard cap. */
  def spanPairs(docs: DataFrame, len: Int = 30, dfCap: Int = 1000): DataFrame =
    pairsFromSpans(spans(docs, len), dfCap)

  /** [[spanPairs]] over the winnowed selection: same join shape on a
    * ~window/2× smaller index. n_spans counts shared SELECTED spans (a
    * lower bound on shared spans); detection of clones of length
    * ≥ len + window - 1 is complete by the winnowing guarantee. */
  def spanPairsWinnowed(docs: DataFrame, len: Int = 30, window: Int = 8,
                        dfCap: Int = 1000,
                        hashFn: String = "xxhash64"): DataFrame =
    pairsFromSpans(winnowedSpans(docs, len, window, hashFn), dfCap)

  private def pairsFromSpans(sp: DataFrame, dfCap: Int): DataFrame = {
    // the span index feeds FOUR plan sites (df-count build, cap semi-join
    // probe, and both self-join sides) and nothing is exchange-reusable
    // across them (the df side aggregates by span, the probe by (doc_id,
    // span)) — without a checkpoint the explode+distinct upstream executes
    // 4× (plans/r17/q_llm_span_dedup_before3.txt: 8 parquet scans; the
    // winnowed variant 16). Materialize it once (round 17, the trigram-
    // postings lesson). Scale note: this IS the inverted index the join
    // reads — at 100 TB the documented path is [[winnowedSpans]], whose
    // selected-span index (~2/(window+1) density) is the standard MOSS
    // fingerprint store; materializing it is how that store ships.
    val spC = sp.graftCheckpoint(true)
    val capped = spC.join(
      spC.groupBy(col("span")).agg(count(lit(1)).as("df"))
        .where(col("df") <= dfCap),
      Seq("span"), "left_semi")
    capped.as("a")
      .join(capped.as("b"),
        col("a.span") === col("b.span") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_spans"))
  }

  /** Winnowed span selection (Schleimer et al., SIGMOD'03 — the MOSS
    * fingerprinting scheme): keep only spans whose hash is a minimum of
    * some `window`-long run of consecutive span positions. Expected
    * selection density is ~2/(window+1) of all spans — the index shrinks
    * ~w/2-fold — while the winnowing guarantee holds: any shared substring
    * of length ≥ len + window - 1 still produces at least one shared
    * selected span, so [[spanPairs]]-style joins on the winnowed set
    * detect every sufficiently long clone. This is the documented scale
    * path for span dedup at 100 TB: selection is a per-doc map (HOF chain,
    * no shuffle), and the inverted index downstream is ~w/2× smaller.
    *
    * Ties select every position carrying the minimal hash value of a
    * covering window (a superset of classic rightmost-tie winnowing) — the
    * guarantee only strengthens. Selection work is O(spans · window) per
    * document: each position checks only the ≤ window window-minima that
    * cover it, never the whole document.
    *
    * `hashFn` names the SQL hash applied to each span (a trusted internal
    * knob, not user input): xxhash64 is the cheap scale default; md5 gives
    * the same selection in any engine that has it (the catalog query uses
    * md5 so a DuckDB oracle reproduces the selection hash-exactly —
    * winnowing only needs a deterministic total order on hashes). */
  def winnowedSpans(docs: DataFrame, len: Int, window: Int,
                    hashFn: String = "xxhash64"): DataFrame =
    docs
      .where(length(col("text")) >= len)
      .withColumn("sp", expr(
        s"transform(sequence(1, length(text) - ${len - 1}), " +
        s"i -> substring(text, i, $len))"))
      .withColumn("h", expr(s"transform(sp, s -> $hashFn(s))"))
      // per-window minima over positions; guard docs shorter than one window
      .withColumn("wins", expr(
        s"CASE WHEN size(h) >= $window THEN " +
        s"  transform(sequence(1, size(h) - ${window - 1}), " +
        s"    i -> array_min(slice(h, i, $window))) " +
        s"ELSE array(array_min(h)) END"))
      // 1-based position P = p+1 is covered by windows P-window+1 .. P;
      // slicing `wins` to that range keeps selection O(window) per position
      .select(col("doc_id"), explode(expr(
        s"filter(sp, (s, p) -> array_contains(" +
        s"slice(wins, greatest(p + 2 - $window, 1), $window), " +
        s"element_at(h, p + 1)))"))
        .as("span"))
      .distinct()

  /** (doc_id, g): distinct `n`-token grams per document (tokens split on
    * single spaces, grams re-joined with one space). */
  def tokenNgrams(docs: DataFrame, n: Int): DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(toks) - ${n - 1}), " +
        s"i -> array_join(slice(toks, i, $n), ' '))")).as("g"))
      .distinct()

  /** Benchmark decontamination: corpus docs sharing at least one `n`-token
    * gram with any eval document, with the count of distinct matching
    * grams — (doc_id, n_hits). The eval side is small by definition, so
    * its gram index is broadcast and the corpus never shuffles: this is a
    * map-side semi-join over 100 TB.
    *
    * The broadcast hint forces a broadcast REGARDLESS of size, so an
    * oversized eval suite would not "silently flip to a shuffle" — it would
    * OOM the driver. To keep the 100 TB claim from degrading either way,
    * the eval gram index is counted first (one job over the SMALL side
    * only): up to `maxBroadcastGrams` distinct grams it broadcasts as
    * before; above that the join explicitly falls back to a shuffle-hash
    * semi-join (the corpus-side gram shuffle is then a deliberate, logged
    * cost — never an accident) rather than attempting a multi-GB broadcast. */
  def contamination(corpus: DataFrame, evalSet: DataFrame, n: Int = 5,
                    maxBroadcastGrams: Long = 10L * 1000 * 1000): DataFrame = {
    val evalGrams = tokenNgrams(evalSet, n).select(col("g")).distinct()
    val nGrams = evalGrams.count()
    val keyed = guardedBroadcast(evalGrams, nGrams, maxBroadcastGrams,
      "contamination: eval gram index")
    tokenNgrams(corpus, n)
      .join(keyed, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** N-gram novelty scoring: the fraction of a document's distinct
    * `n`-token grams ABSENT from a reference corpus — the graded
    * complement of [[contamination]]'s boolean hit test, used to rank
    * fresh crawl content by how much it adds over the accumulated corpus.
    * Returns (doc_id, n_grams, n_seen, novelty) with novelty rounded to
    * 4dp; documents shorter than n tokens have no grams and drop out.
    *
    * Scale shape: unlike contamination's eval side, a novelty REFERENCE is
    * itself corpus-sized, so no broadcast is ever assumed — both sides
    * reduce to 16-byte gram digests and meet in a digest-keyed shuffle
    * join (uniform keys, no skew); payloads never move. */
  def noveltyScore(corpus: DataFrame, reference: DataFrame,
                   n: Int = 3): DataFrame = {
    val refGrams = tokenNgrams(reference, n)
      .select(md5(col("g")).as("__h")).distinct()
      .withColumn("__seen", lit(true))
    tokenNgrams(corpus, n)
      .select(col("doc_id"), md5(col("g")).as("__h"))
      .join(refGrams, Seq("__h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("__seen")).as("n_seen"))
      // diff*10000.0/n (not (diff/n)*10000): the oracle computes in this
      // order, and the two differ in the last ulp for some rationals —
      // identical operation ORDER is what makes floor-rounding engine-proof
      .withColumn("novelty",
        floor((col("n_grams") - col("n_seen")) * lit(10000.0) / col("n_grams")
          + 0.5) / 10000)
  }

  /** (doc_id, pos, seg): consecutive `k`-token chunks per document
    * (1-based chunk index; the last chunk may be shorter). The fixed-size
    * chunker is the segmentation fixture — a real pipeline plugs a
    * sentence/paragraph splitter here and [[segmentDedup]] is unchanged. */
  def tokenChunks(docs: DataFrame, k: Int): DataFrame =
    docs
      .withColumn("toks", split(col("text"), " "))
      // named_struct, not struct-with-alias: aliases inside HOF lambdas are
      // stripped by the analyzer (fields would come back as col1/col2)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, cast(ceil(size(toks) / $k.0) as int)), " +
        s"i -> named_struct('pos', i, " +
        s"'seg', array_join(slice(toks, (i - 1) * $k + 1, $k), ' ')))"))
        .as("ps"))
      .select(col("doc_id"), col("ps.pos").as("pos"), col("ps.seg").as("seg"))

  /** WITHIN-document repeated-segment removal — C4's "dedupe repeated
    * lines in a page" rule, the intra-doc sibling of [[segmentDedup]]:
    * a segment repeated inside ONE document keeps only its first
    * occurrence; other documents are unaffected. Same (doc_id, pos, seg)
    * input contract. One doc_id-keyed shuffle (the window partitions on
    * (doc_id, digest) — finer than doc_id, so no skew concern beyond
    * document length), one to reassemble. Returns (doc_id, n_seg,
    * n_dropped, text). */
  def intraDocDedup(segments: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"), col("__h")).orderBy(col("pos"))
    segments
      .withColumn("__h", md5(col("seg")))
      .withColumn("__rn", row_number().over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_seg"),
        sum(when(col("__rn") > 1, 1L).otherwise(0L)).as("n_dropped"),
        array_join(
          transform(array_sort(collect_list(
            when(col("__rn") === 1, struct(col("pos"), col("seg"))))),
            x => x.getField("seg")), " ").as("text"))
  }

  /** Global segment-level dedup, C4/CCNet-style: every occurrence of a
    * repeated segment EXCEPT the first (first = lowest (doc_id, pos)
    * corpus-wide) is removed, and each document's surviving segments are
    * reassembled in order; documents whose every segment was seen earlier
    * disappear. Input is (doc_id, pos, seg) from any segmenter
    * ([[tokenChunks]] is the fixture). Scale shape: one shuffle keyed on
    * the segment digest for the keep-first decision (the window carries
    * (digest, doc_id, pos, seg) rows — corpus-sized, unavoidable for an
    * op that rewrites the corpus), one shuffle on doc_id to reassemble;
    * per-doc state is bounded by document length. */
  def segmentDedup(segments: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__h")).orderBy(col("doc_id"), col("pos"))
    segments
      .withColumn("__h", md5(col("seg")))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("seg")))),
          x => x.getField("seg")), " ").as("text"))
  }

  /** Deterministic stratified mixture sampling — the "2 epochs of wiki,
    * 0.3 of crawl" corpus-mixing step. Every document gets
    * `floor(rate) + Bernoulli(frac(rate))` copies, emitted as
    * (doc_id, copy) rows with copy in 1..n; rate 0 drops the stratum,
    * rates above 1 upsample (replicate). The Bernoulli draw compares an
    * 8-hex-char md5 prefix of the salted NORMALIZED text against a
    * per-stratum threshold string — a pure lexicographic compare, no
    * floating point anywhere, so any engine with md5 reproduces the exact
    * sample. Content-keyed like [[splitColumn]]: exact duplicates draw the
    * same copy count. A pure per-row map + bounded explode —
    * embarrassingly parallel at any scale. */
  def mixtureSample(docs: DataFrame, stratum: String,
                    rates: Map[String, Double], defaultRate: Double = 1.0,
                    salt: String = "mix"): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 64),
      "rates must be in [0, 64]")
    def base(r: Double): Int = math.floor(r).toInt
    // threshold = frac(rate) scaled to the 16^8 space of the hex prefix;
    // u8 < threshold happens with probability exactly frac(rate)
    def thHex(r: Double): String =
      f"${math.floor((r - math.floor(r)) * 4294967296.0).toLong}%08x"
    val sc = col(stratum)
    val baseCol = rates.foldLeft(lit(base(defaultRate))) {
      case (acc, (k, r)) => when(sc === k, lit(base(r))).otherwise(acc)
    }
    val thCol = rates.foldLeft(lit(thHex(defaultRate))) {
      case (acc, (k, r)) => when(sc === k, lit(thHex(r))).otherwise(acc)
    }
    docs
      .withColumn("__u8",
        substring(md5(concat(lit(salt), lower(trim(col("text"))))), 1, 8))
      .withColumn("__n",
        baseCol + when(col("__u8") < thCol, 1).otherwise(0))
      // Spark's sequence(1, 0) yields [1, 0] DESCENDING — the n >= 1 guard
      // is load-bearing, not an optimization
      .where(col("__n") >= 1)
      .select(col("doc_id"), explode(expr("sequence(1, __n)")).as("copy"))
      .select(col("doc_id"), col("copy").cast("long").as("copy"))
  }

  /** Balanced EXACT-SIZE sampling: the md5(salt:doc_id)-smallest `k`
    * documents per stratum — eval-set carving with reproducible,
    * content-independent membership and a deterministic rank column.
    * Returns (doc_id, <stratum>, rank), rank 1..min(k, n_stratum).
    *
    * Scale path: a naive per-stratum row_number would SORT the whole
    * corpus. Instead a hash-PREFIX CUT runs first: keep rows whose 8-hex
    * prefix ≤ a per-stratum threshold sized for ~`oversample`·k
    * survivors (a stratum-sized driver map), and rank only those. The
    * cut is a downward-closed prefix of the full hash order, so ranking
    * the survivors is EXACTLY ranking the corpus whenever every stratum
    * retains ≥ min(k, n) rows — verified at runtime with one
    * survivor-count aggregate; a short stratum (vanishingly unlikely at
    * 4× oversampling) falls back to the full rank, trading speed for the
    * same answer, never a wrong one. */
  def balancedSample(docs: DataFrame, stratum: String = "lang", k: Int = 10,
                     oversample: Double = 4.0,
                     salt: String = "samp"): DataFrame = {
    require(k >= 1, s"k=$k")
    val counts = docs.groupBy(col(stratum)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // "g" sorts above every hex character: rate >= 1 keeps the stratum whole
    def thHex(r: Double): String =
      if (r >= 1.0) "g"
      else f"${math.floor(r * 4294967296.0).toLong}%08x"
    val sc = col(stratum)
    val thCol = counts.foldLeft(lit("g")) { case (acc, (l, n)) =>
      when(sc === l, lit(thHex(math.min(1.0, oversample * k / n)))).otherwise(acc)
    }
    val hashed = docs.select(col("doc_id"), sc,
      md5(concat(lit(salt), lit(":"), col("doc_id").cast("string"))).as("__r"))
    val kept = hashed.where(substring(col("__r"), 1, 8) <= thCol)
    val keptCounts = kept.groupBy(sc).agg(count(lit(1)).as("kn"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val short = counts.keys.filter(l =>
      keptCounts.getOrElse(l, 0L) < math.min(k.toLong, counts(l)))
    val base =
      if (short.isEmpty) kept
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"balancedSample: prefix cut left ${short.mkString(",")} short of " +
          s"k=$k — ranking the full corpus instead (correct, unpruned)")
        hashed
      }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(sc).orderBy(col("__r"), col("doc_id"))
    base.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("doc_id"), sc, col("rank"))
  }

  /** Temperature-based (α) stratum re-sampling — the mT5/XLM-R
    * multilingual recipe: language l is drawn with probability ∝ n_l^α
    * (α < 1 flattens the distribution toward low-resource languages),
    * realized as per-stratum acceptance/replication rates
    * r_l = min(maxRate, targetFraction · N · n_l^α / Σn^α / n_l) rounded
    * to 4dp (absorbing pow's 1-ulp engine differences), then drawn by the
    * content-keyed hex-threshold machinery of [[mixtureSample]] — no
    * floating point in the draw itself, so the exact sample reproduces in
    * any engine with md5. Rates above 1 REPLICATE low-resource docs
    * (copy in 1..n), the up-sampling half of temperature sampling.
    *
    * Scale: the count is one stratum-sized aggregate (a driver map of a
    * few languages); everything else is the mixtureSample per-row map +
    * bounded explode. Docs with a NULL stratum match no rate and fall to
    * the 0.0 default — dropped, the conservative choice for unlabeled
    * data in a language-balancing step. */
  def temperatureMixture(docs: DataFrame, stratum: String = "lang",
                         alpha: Double = 0.3, targetFraction: Double = 0.5,
                         maxRate: Double = 4.0,
                         salt: String = "temp"): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha=$alpha out of (0, 1]")
    val counts = docs.groupBy(col(stratum)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.nonEmpty, "empty corpus")
    val total = counts.values.sum.toDouble
    val wsum = counts.values.map(n => math.pow(n.toDouble, alpha)).sum
    def r4(x: Double) = math.floor(x * 10000 + 0.5) / 10000
    val rates = counts.map { case (l, n) =>
      l -> r4(math.min(maxRate,
        targetFraction * total * math.pow(n.toDouble, alpha) / wsum / n))
    }
    mixtureSample(docs, stratum, rates, defaultRate = 0.0, salt = salt)
  }

  /** Deterministic dyadic model-weight fixture for [[hashedLinearScore]]:
    * each weight is k/2^21 with |k| <= 2^19, so weights are EXACT in both
    * binary doubles and finite decimal strings, and any sum of up to ~2^19
    * of them is exactly representable — summation order cannot change the
    * result, which makes the classifier score engine-independently exact
    * up to the final exp(). */
  def fixtureWeights(d: Int = 256): Array[Double] =
    Array.tabulate(d)(i =>
      (((i * 2654435761L) % 1048576L) - 524288L) / 2097152.0)

  /** The exact finite-decimal rendering of a dyadic fixture weight (for
    * embedding in oracle SQL — parses back to the identical double). */
  def exactDecimal(w: Double): String =
    new java.math.BigDecimal(w).toPlainString

  /** fastText-style hashed linear classifier inference — the standard
    * learned quality filter between raw crawl and training shards. Tokens
    * hash into 256 buckets via the first two md5 hex digits (cross-engine
    * reproducible, no engine-pinned hash), the model is a 256-double
    * weight array embedded in the plan (tasks receive it with the closure;
    * a production-sized 2M-bucket model would broadcast-join a weights
    * table instead — same map-side shape), and the score is
    * sigmoid(avg(token weights) + bias) rounded to 4dp. One explode, one
    * per-doc aggregate — no quadratic work, no shuffle beyond the groupBy. */
  def hashedLinearScore(docs: DataFrame, weights: Array[Double],
                        bias: Double): DataFrame = {
    require(weights.length == 256,
      "bucketing uses two hex digits: exactly 256 weights")
    val wlit = array(weights.map(lit): _*)
    def digit(i: Int): Column = hexDigit(col("h"), i)
    docs
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), t -> t <> '')")).as("token"))
      .withColumn("h", md5(col("token")))
      .withColumn("w", element_at(wlit, digit(1) * 16 + digit(2) + 1))
      .groupBy(col("doc_id"))
      .agg(avg(col("w")).as("m"))
      .select(col("doc_id"),
        expr(s"floor(1.0 / (1.0 + exp(-(m + $bias))) * 10000 + 0.5) / 10000")
          .as("q_score"))
  }

  /** CCNet-style language-model quality scoring: per-document perplexity
    * under an add-k-smoothed unigram LM trained on `lmDocs` —
    * (doc_id, n_tokens, ppl), ppl = exp(mean -ln p(token)) at 4dp. Docs
    * whose every token is unseen score near the uniform-smoothing ceiling;
    * in-domain docs score low — the standard "does this look like the
    * reference corpus" filter between crawl and training shards.
    *
    * Scale shape: the LM is a vocabulary-sized count table; totals are two
    * driver scalars. Scoring is one token join — broadcast while the vocab
    * fits (the plan for any curated reference corpus), explicit logged
    * shuffle-hash above `maxBroadcastVocab` (same guard contract as
    * [[contamination]]) — plus one per-doc aggregate. */
  def lmPerplexity(corpus: DataFrame, lmDocs: DataFrame, k: Double = 0.5,
                   maxBroadcastVocab: Long = 10L * 1000 * 1000): DataFrame = {
    def toks(df: DataFrame) = df.select(col("doc_id"),
      explode(expr("filter(split(text, ' '), t -> t <> '')")).as("token"))
    // NOTE(round 17): counts is read twice (totals collect + broadcast
    // build). A graftCheckpoint here was A/B-measured SLOWER at sf0.1
    // (0.38 → 0.51 s warm): materializing the unigram vocab costs more
    // than the one saved tokenize pass. Left recomputed.
    val counts = toks(lmDocs).groupBy(col("token")).agg(count(lit(1)).as("c"))
    val row = counts.agg(sum(col("c")), count(lit(1))).collect()(0)
    val (total, vocab) =
      (if (row.isNullAt(0)) 0L else row.getLong(0), row.getLong(1))
    val denom = total + k * (vocab + 1)
    val lm = guardedBroadcast(counts, vocab, maxBroadcastVocab,
      "lmPerplexity: vocabulary")
    toks(corpus)
      .join(lm, Seq("token"), "left")
      .select(col("doc_id"),
        (-log((coalesce(col("c"), lit(0L)) + k) / denom)).as("nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), avg(col("nll")).as("m"))
      .select(col("doc_id"), col("n_tokens"),
        expr("floor(exp(m) * 10000 + 0.5) / 10000").as("ppl"))
  }

  /** DSIR-style importance weighting (Xie et al. 2023, simplified to
    * unigram token features): each raw document is scored by the
    * length-normalized log-likelihood ratio of an in-domain (`target`)
    * add-k unigram LM against the raw-corpus LM —
    * llr(d) = mean_w [ln p_t(w) − ln p_r(w)] — so llr > 0 reads "more
    * target-like than raw-like" and the caller resamples proportionally
    * (or takes the positive tail). Both LMs share the UNION vocabulary so
    * the smoothing mass is comparable.
    *
    * Scale shape: two vocabulary-sized count aggregates, full-outer-merged
    * into ONE per-token ratio table that is broadcast (guarded on its own
    * row count — the [[tfIdf]] broadcast-guard lesson: key the guard on
    * the broadcast side's cardinality, nothing else); the raw corpus is
    * then probed map-side, one aggregation per doc. No corpus-sized
    * shuffle beyond the tokenize-count. */
  def importanceWeight(raw: DataFrame, target: DataFrame, k: Double = 0.5,
                       maxBroadcastVocab: Long = 10L * 1000 * 1000): DataFrame = {
    def toks(df: DataFrame) = df.select(col("doc_id"),
      explode(expr("filter(split(text, ' '), t -> t <> '')")).as("token"))
    val ct = toks(target).groupBy(col("token")).agg(count(lit(1)).as("ct"))
    val cr = toks(raw).groupBy(col("token")).agg(count(lit(1)).as("cr"))
    val merged = ct.join(cr, Seq("token"), "full_outer")
      .select(col("token"), coalesce(col("ct"), lit(0L)).as("ct"),
        coalesce(col("cr"), lit(0L)).as("cr"))
      // union-vocab-sized; read by the totals collect AND the ratio
      // broadcast — tokenize+count BOTH corpora once (round 17)
      .graftCheckpoint(true)
    val row = merged.agg(sum(col("ct")), sum(col("cr")), count(lit(1))).collect()(0)
    // empty/tokenless inputs aggregate sums to NULL — same guard as
    // lmPerplexity/bigramPerplexity
    val (totT, totR, vocab) = (
      if (row.isNullAt(0)) 0L else row.getLong(0),
      if (row.isNullAt(1)) 0L else row.getLong(1), row.getLong(2))
    val (denT, denR) = (totT + k * (vocab + 1), totR + k * (vocab + 1))
    val ratios = merged.select(col("token"),
      (log((col("ct") + k) / denT) - log((col("cr") + k) / denR)).as("llr_tok"))
    val lm = guardedBroadcast(ratios, vocab, maxBroadcastVocab,
      "importanceWeight: union vocabulary")
    toks(raw)
      // inner join: every raw token is in the union vocabulary by
      // construction, so nothing drops
      .join(lm, "token")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), avg(col("llr_tok")).as("m"))
      .select(col("doc_id"), col("n_tokens"),
        expr("floor(m * 10000 + 0.5) / 10000").as("llr"),
        (col("m") > 0).as("target_like"))
  }

  /** Bigram LM perplexity with Jelinek-Mercer interpolation — the
    * next-order refinement of [[lmPerplexity]]:
    * p(w|v) = λ·c(v,w)/c(v·) + (1−λ)·p_addk(w), scored as
    * exp(mean −ln p) over a doc's bigram transitions (docs with < 2
    * tokens have no transitions and drop out, like token-less docs do in
    * the unigram op). The interpolation keeps every transition's
    * probability positive (the unigram add-k floor), so unseen bigrams
    * cost finite nll instead of −∞ — the standard back-off-free smoothing
    * used when the reference corpus is big enough to trust its bigrams.
    *
    * Scale shape: identical to the unigram op one order up — the LM is
    * now a BIGRAM-vocabulary-sized count table (still model-sized, not
    * corpus-sized: high-count bigrams concentrate fast); totals are two
    * driver scalars; scoring is one broadcast (or guarded shuffle-hash)
    * join on the (prev, token) pair + a per-doc aggregate. Bigrams
    * derive from the token array by a codegen'd transform over index
    * pairs — no self-join of the token table against its own lag. */
  def bigramPerplexity(corpus: DataFrame, lmDocs: DataFrame,
                       lambda: Double = 0.7, k: Double = 0.5,
                       maxBroadcastVocab: Long = 10L * 1000 * 1000)
      : DataFrame = {
    require(lambda >= 0.0 && lambda < 1.0, s"lambda=$lambda out of [0,1)")
    def toks(df: DataFrame) = df.select(col("doc_id"),
      expr("filter(split(text, ' '), t -> t <> '')").as("ts"))
    def bigrams(df: DataFrame) = toks(df)
      .where(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ts) - 1), " +
        "i -> named_struct('prev', element_at(ts, i), " +
        "'token', element_at(ts, i + 1)))")).as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"),
        col("bg.token").as("token"))
    // unigram counts + totals (the add-k floor), from the SAME tokenization
    val uni = toks(lmDocs)
      .select(explode(col("ts")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("uc"))
      // vocab-sized; read by the totals collect AND the scoring join —
      // tokenize+count the LM corpus once (round 17)
      .graftCheckpoint(true)
    val row = uni.agg(sum(col("uc")), count(lit(1))).collect()(0)
    val (total, vocab) =
      (if (row.isNullAt(0)) 0L else row.getLong(0), row.getLong(1))
    val denom = total + k * (vocab + 1)
    // bigram counts + per-prev context totals
    val bi = bigrams(lmDocs)
      .groupBy(col("prev"), col("token")).agg(count(lit(1)).as("bc"))
    val ctx = bi.groupBy(col("prev")).agg(sum(col("bc")).as("cc"))
    // Each join guards on a bound for ITS broadcast side's cardinality:
    // uni/ctx are vocab-sized, but the bigram table can be up to vocab² —
    // bound it by the total transition count (≤ total unigram tokens,
    // already in hand), so a small-vocab/huge-bigram corpus never
    // broadcasts an oversized table.
    def guarded(df: DataFrame, bound: Long, what: String) =
      guardedBroadcast(df, bound, maxBroadcastVocab, s"bigramPerplexity: $what")
    bigrams(corpus)
      .join(guarded(bi, total, "bigram table"), Seq("prev", "token"), "left")
      .join(guarded(ctx, vocab, "context table"), Seq("prev"), "left")
      .join(guarded(uni, vocab, "unigram table"), Seq("token"), "left")
      .select(col("doc_id"),
        (-log(
          lit(lambda) * when(col("cc").isNotNull,
              coalesce(col("bc"), lit(0L)) / col("cc")).otherwise(lit(0.0))
          + lit(1.0 - lambda) *
            ((coalesce(col("uc"), lit(0L)) + k) / denom))).as("nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), avg(col("nll")).as("m"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("floor(exp(m) * 10000 + 0.5) / 10000").as("ppl"))
  }

  /** Bigram LM perplexity with interpolated Kneser-Ney smoothing — the
    * production-grade refinement of [[bigramPerplexity]]'s Jelinek-Mercer:
    * instead of backing off to raw unigram FREQUENCY, KN backs off to
    * CONTINUATION probability — how many distinct contexts a word follows
    * — which stops high-count-but-context-bound words ("Francisco") from
    * soaking up backoff mass (Kneser & Ney 1995; Chen & Goodman 1999's
    * interpolated variant):
    *
    *   p(w|v) = (max(c(v,w) − D, 0) + D · N1+(v·) · p_cont(w)) / c(v·)
    *   p_cont(w) = (N1+(·w) + k) / (B + k·(V+1))      [add-k floored]
    *
    * with D the absolute discount, N1+(v·) the distinct-follower count of
    * v, N1+(·w) the distinct-context count of w, B the bigram TYPE count.
    * Unseen contexts (c(v·) = 0) score p_cont(w) directly; the add-k
    * floor keeps every probability positive, so unseen words cost finite
    * nll — same convention as the whole LM family here.
    *
    * Scale shape: identical to [[bigramPerplexity]] — every model table
    * (bigram types, per-context stats, per-word continuation counts)
    * derives from ONE (prev, token) count aggregate whose exchange Spark
    * reuses across the three sub-plans; totals are two driver scalars;
    * scoring is guarded-broadcast joins + a per-doc aggregate. */
  def knPerplexity(corpus: DataFrame, lmDocs: DataFrame,
                   discount: Double = 0.75, k: Double = 0.5,
                   maxBroadcastVocab: Long = 10L * 1000 * 1000): DataFrame = {
    require(discount > 0.0 && discount < 1.0, s"discount=$discount out of (0,1)")
    def toks(df: DataFrame) = df.select(col("doc_id"),
      expr("filter(split(text, ' '), t -> t <> '')").as("ts"))
    def bigrams(df: DataFrame) = toks(df)
      .where(size(col("ts")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(ts) - 1), " +
        "i -> named_struct('prev', element_at(ts, i), " +
        "'token', element_at(ts, i + 1)))")).as("bg"))
      .select(col("doc_id"), col("bg.prev").as("prev"),
        col("bg.token").as("token"))
    val bi = bigrams(lmDocs)
      .groupBy(col("prev"), col("token")).agg(count(lit(1)).as("bc"))
      // bigram-type-sized; read by the (btypes, vocab) collect, two derived
      // model tables, and the scoring join — count lmDocs' bigrams once
      // instead of per action (round 17)
      .graftCheckpoint(true)
    // per-context totals + distinct-follower counts (bi rows are distinct
    // (prev, token) pairs, so count(*) IS N1+(v·))
    val ctx = bi.groupBy(col("prev"))
      .agg(sum(col("bc")).as("cc"), count(lit(1)).as("n1f"))
    // per-word distinct-context counts N1+(·w)
    val cw = bi.groupBy(col("token")).agg(count(lit(1)).as("n1b"))
    val row = bi.agg(count(lit(1)),
      count_distinct(col("token"))).collect()(0)
    val (btypes, vocab) = (row.getLong(0), row.getLong(1))
    val contDenom = btypes + k * (vocab + 1)
    def guarded(df: DataFrame, bound: Long, what: String) =
      guardedBroadcast(df, bound, maxBroadcastVocab, s"knPerplexity: $what")
    val pCont = (coalesce(col("n1b"), lit(0L)) + k) / contDenom
    bigrams(corpus)
      .join(guarded(bi, btypes, "bigram-type table"), Seq("prev", "token"), "left")
      .join(guarded(ctx, btypes, "context table"), Seq("prev"), "left")
      .join(guarded(cw, vocab, "continuation table"), Seq("token"), "left")
      .select(col("doc_id"),
        (-log(when(col("cc").isNotNull,
            (greatest(coalesce(col("bc"), lit(0L)) - discount, lit(0.0))
              + lit(discount) * col("n1f") * pCont) / col("cc"))
          .otherwise(pCont))).as("nll"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), avg(col("nll")).as("m"))
      .select(col("doc_id"), col("n_bigrams"),
        expr("floor(exp(m) * 10000 + 0.5) / 10000").as("ppl"))
  }

  /** Sequence packing: assign documents to fixed-token-budget training
    * shards by their START offset in the deterministic doc_id order —
    * (doc_id, n_tokens, shard, offset) with offset the doc's position
    * inside its shard. A shard overflows by at most one document (the
    * standard packing contract; splitting straddlers is a tokenizer-side
    * concern).
    *
    * The global running token sum is computed as a PARALLEL prefix sum,
    * never a single-partition window: docs bucket by doc_id range,
    * per-bucket token sums (`nBuckets` rows) come to the driver, prefix
    * offsets broadcast back, and each bucket runs its own bounded window —
    * at 100 TB every stage stays wide except a `nBuckets`-row aggregate. */
  def packShards(docs: DataFrame, budgetTokens: Long,
                 nBuckets: Int = 32): DataFrame = {
    // (doc_id, n_tokens) is read by THREE actions (bounds collect, bucket
    // sums collect, final consume); checkpoint the two-long-per-doc frame so
    // the upstream (scan + joins + split-tokenize) runs once, not per action
    val toks = docs.select(col("doc_id"),
      coalesce(expr("size(filter(split(text, ' '), t -> t <> ''))"), lit(0))
        .cast("long").as("n_tokens"))
      .graftCheckpoint(true)
    val bounds = toks.agg(min(col("doc_id")), max(col("doc_id"))).collect()(0)
    if (bounds.isNullAt(0))
      return toks.withColumn("shard", lit(0L)).withColumn("offset", lit(0L))
        .where(lit(false))
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = math.max(1L, (hi - lo) / nBuckets + 1)
    val maxB = ((hi - lo) / width).toInt
    val bucketed = toks.withColumn("__b",
      expr(s"cast((doc_id - $lo) div $width as int)"))
    // per-bucket totals → exclusive prefix offsets (nBuckets rows, driver)
    val sums = bucketed.groupBy(col("__b")).agg(sum(col("n_tokens")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 to maxB).scanLeft(0L) { (acc, b) =>
      acc + sums.getOrElse(b, 0L)
    }
    // one array-literal lookup, not a when-chain per bucket (the PQ codegen
    // lesson, same as shuffledPack below)
    val offCol = element_at(typedLit(offsets.take(maxB + 1)), col("__b") + 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__b")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    bucketed
      .withColumn("__start", sum(col("n_tokens")).over(w) - col("n_tokens")
        + offCol)
      .select(col("doc_id"), col("n_tokens"),
        expr(s"__start div $budgetTokens").as("shard"),
        expr(s"__start % $budgetTokens").as("offset"))
  }

  /** Token-stream packing WITH straddler splitting — the GPT-style
    * contract the whole-doc [[packShards]] deliberately avoids: documents
    * concatenate into one global token stream (doc_id order) that is cut
    * into exact `budgetTokens`-sized shards, and a document crossing a cut
    * is SPLIT — it emits one row per shard it touches with its local token
    * interval. Returns (doc_id, shard, tok_from, tok_to): token indices
    * are doc-local, 0-based, end-exclusive, so Σ(tok_to − tok_from) per
    * doc = its token count and every shard except the last holds exactly
    * `budgetTokens` tokens.
    *
    * Scale shape: the global start offset is the same parallel prefix sum
    * as [[packShards]] (doc_id-range buckets, driver-sized offset table,
    * per-bucket windows — no global window); the split itself is a
    * bounded explode (a doc spans ⌊n/budget⌋+1 shards, so blowup is
    * corpus-tokens/budget rows — the output's intrinsic size). */
  def packTokenStream(docs: DataFrame, budgetTokens: Long,
                      nBuckets: Int = 32): DataFrame = {
    val toks = docs.select(col("doc_id"),
      coalesce(expr("size(filter(split(text, ' '), t -> t <> ''))"), lit(0))
        .cast("long").as("n_tokens"))
      .where(col("n_tokens") >= 1)
      .graftCheckpoint(true)  // three consumers; tokenize once (packShards)
    val bounds = toks.agg(min(col("doc_id")), max(col("doc_id"))).collect()(0)
    if (bounds.isNullAt(0))
      return toks.select(col("doc_id"), lit(0L).as("shard"),
        lit(0L).as("tok_from"), lit(0L).as("tok_to")).where(lit(false))
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = math.max(1L, (hi - lo) / nBuckets + 1)
    val maxB = ((hi - lo) / width).toInt
    val bucketed = toks.withColumn("__b",
      expr(s"cast((doc_id - $lo) div $width as int)"))
    val sums = bucketed.groupBy(col("__b")).agg(sum(col("n_tokens")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 to maxB).scanLeft(0L) { (acc, b) =>
      acc + sums.getOrElse(b, 0L)
    }
    val offCol = element_at(typedLit(offsets.take(maxB + 1)), col("__b") + 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__b")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    bucketed
      .withColumn("__start", sum(col("n_tokens")).over(w) - col("n_tokens")
        + offCol)
      .select(col("doc_id"), col("n_tokens"), col("__start"),
        explode(expr(s"sequence(__start div $budgetTokens, " +
          s"(__start + n_tokens - 1) div $budgetTokens)")).as("shard"))
      .select(col("doc_id"), col("shard"),
        (greatest(col("shard") * budgetTokens, col("__start")) - col("__start"))
          .as("tok_from"),
        (least((col("shard") + 1) * budgetTokens,
          col("__start") + col("n_tokens")) - col("__start")).as("tok_to"))
  }

  /** Length-bucketed inference batching (dynamic batching): documents
    * sort by (token count, doc_id) and group into fixed-size batches of
    * neighbours, so each batch pads to its own max length instead of the
    * corpus max — the standard padding-waste reducer in front of batched
    * model inference. Returns per-batch stats
    * (batch, n_docs, max_len, padding): `padding` = Σ(max_len − n_tokens)
    * is the wasted-token count a corpus-max pad would multiply ~n-fold.
    *
    * Scale shape: the global (n_tokens, doc_id) rank uses the same
    * parallel machinery as [[packShards]], with buckets on TOKEN-COUNT
    * ranges (bucket-major order IS the global sort order): per-bucket
    * counts to the driver, broadcast prefix offsets, per-bucket
    * row_number windows — never a single-partition global window; the
    * stats aggregate shuffles on the batch id. */
  def lengthBatches(docs: DataFrame, batchSize: Int = 32,
                    nBuckets: Int = 32): DataFrame = {
    require(batchSize >= 1, s"batchSize=$batchSize")
    val toks = docs.select(col("doc_id"),
      coalesce(expr("size(filter(split(text, ' '), t -> t <> ''))"), lit(0))
        .cast("long").as("n_tokens"))
      .graftCheckpoint(true)  // three consumers; tokenize once (packShards)
    val bounds = toks.agg(min(col("n_tokens")), max(col("n_tokens"))).collect()(0)
    if (bounds.isNullAt(0))
      return toks.select(lit(0L).as("batch"), lit(0L).as("n_docs"),
        lit(0L).as("max_len"), lit(0L).as("padding")).where(lit(false))
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = math.max(1L, (hi - lo) / nBuckets + 1)
    val maxB = ((hi - lo) / width).toInt
    val bucketed = toks.withColumn("__b",
      expr(s"cast((n_tokens - $lo) div $width as int)"))
    val sums = bucketed.groupBy(col("__b")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 to maxB).scanLeft(0L) { (acc, b) =>
      acc + sums.getOrElse(b, 0L)
    }
    val offCol = element_at(typedLit(offsets.take(maxB + 1)), col("__b") + 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__b")).orderBy(col("n_tokens"), col("doc_id"))
    bucketed
      .withColumn("__rank", row_number().over(w) - 1 + offCol)
      .withColumn("batch", expr(s"__rank div $batchSize"))
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_docs"), max(col("n_tokens")).as("max_len"),
        sum(col("n_tokens")).as("__tot"))
      .select(col("batch"), col("n_docs"), col("max_len"),
        (col("n_docs") * col("max_len") - col("__tot")).as("padding"))
  }

  /** Epoch-shuffled sequence packing — [[packShards]] in the order
    * trainers actually consume: a deterministic pseudorandom permutation
    * keyed by md5(salt:doc_id) (new salt ⇒ new epoch order,
    * reproducible). Same parallel prefix-sum shape, but buckets come from
    * the key's first two hex digits (256 uniform buckets) instead of
    * doc_id ranges: bucket-major + in-bucket (key, doc_id) order IS the
    * global lexicographic key order, so per-bucket windows + broadcast
    * prefix offsets reproduce the global running sum exactly — no
    * single-partition window at any scale. */
  def shuffledPack(docs: DataFrame, budgetTokens: Long,
                   salt: String = "epoch0"): DataFrame = {
    val toks = docs.select(col("doc_id"),
      coalesce(expr("size(filter(split(text, ' '), t -> t <> ''))"), lit(0))
        .cast("long").as("n_tokens"),
      md5(concat(lit(salt), lit(":"), col("doc_id").cast("string"))).as("k"))
      .graftCheckpoint(true)  // two consumers; tokenize once (packShards)
    def digit(i: Int): Column = hexDigit(col("k"), i)
    val bucketed = toks.withColumn("__b", digit(1) * 16 + digit(2))
    val sums = bucketed.groupBy(col("__b")).agg(sum(col("n_tokens")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until 256).scanLeft(0L) { (acc, b) =>
      acc + sums.getOrElse(b, 0L)
    }
    // one array-literal lookup, not a 256-deep when-chain (the PQ codegen
    // lesson: per-branch expression trees bloat compile time linearly)
    val offCol = element_at(typedLit(offsets.take(256)), col("__b") + 1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__b")).orderBy(col("k"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    bucketed
      .withColumn("__start", sum(col("n_tokens")).over(w) - col("n_tokens")
        + offCol)
      .select(col("doc_id"), col("n_tokens"),
        expr(s"__start div $budgetTokens").as("shard"),
        expr(s"__start % $budgetTokens").as("offset"))
  }

  /** Unigram-LM tokenizer training — the EM half of SentencePiece (Kudo
    * 2018), the other major tokenizer family next to [[bpeTrain]].
    *
    * Shape: the distinct-word table stays DISTRIBUTED (at 100 TB it is
    * hundreds of millions of rows); the piece table is model-sized and
    * broadcasts. Each EM iteration is one distributed pass: per word a
    * local forward/backward DP over segmentations yields expected piece
    * counts (weighted by word frequency), a partial-aggregable groupBy
    * sums them, and the vocab-sized result collects for the driver-side
    * M-step — the [[Pq]]/[[Pca]] "model state driver-sized" contract.
    *
    * Candidates are all substrings ≤ maxPieceLen (freq-weighted, top
    * 4×vocabSize) plus every single character, so any word always has a
    * segmentation (α > 0 by construction). Final vocab: all single chars
    * + the best multi-char pieces by probability, renormalized.
    * Returns (rank, piece, logp) ordered by probability desc, piece asc.
    */
  def unigramTrain(docs: DataFrame, vocabSize: Int = 512,
                   maxPieceLen: Int = 6, iters: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words = docs
      .select(explode(expr("filter(split(text, ' '), t -> t <> '')"))
        .as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .as[(String, Long)]
      .graftCheckpoint(true)
    // candidate seed: substring frequencies, distributed then top-capped
    val maxL = maxPieceLen
    val candTop = words.flatMap { case (w, f) =>
      for {
        i <- 0 until w.length
        l <- 1 to math.min(maxL, w.length - i)
      } yield (w.substring(i, i + l), f)
    }.toDF("piece", "f")
      .groupBy(col("piece")).agg(sum(col("f")).as("f"))
      .orderBy(col("f").desc, col("piece").asc)
      .limit(4 * vocabSize)
      .as[(String, Long)].collect()
    val singles = candTop.filter(_._1.length == 1).map(_._1).toSet ++
      words.flatMap { case (w, _) => w.map(_.toString) }.distinct().collect()
    val seed = (candTop.map(_._1).toSet ++ singles).toSeq.sorted
    var probs: Map[String, Double] = {
      val fMap = candTop.toMap
      val raw = seed.map(p => p -> (fMap.getOrElse(p, 1L).toDouble))
      val z = raw.map(_._2).sum
      raw.map { case (p, f) => p -> f / z }.toMap
    }
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(probs)
      val expected = words.flatMap { case (w, f) =>
        UnigramLm.expectedCounts(w, f, bc.value, maxL)
      }.toDF("piece", "c")
        .groupBy(col("piece")).agg(sum(col("c")).as("c"))
        .as[(String, Double)].collect()
      val z = expected.map(_._2).sum
      probs = expected.map { case (p, c) => p -> c / z }.toMap
      bc.destroy()
    }
    // prune: keep every single char + the best multi-char pieces
    val floorP = 1e-12
    val chars = singles.toSeq.map(c => c -> math.max(probs.getOrElse(c, 0.0), floorP))
    val multis = probs.toSeq.filter(_._1.length > 1)
      .sortBy { case (p, pr) => (-pr, p) }
      .take(math.max(0, vocabSize - chars.length))
    val kept = (chars ++ multis)
    val z = kept.map(_._2).sum
    val ranked = kept.map { case (p, pr) => (p, pr / z) }
      .sortBy { case (p, pr) => (-pr, p) }
      .zipWithIndex
      .map { case ((p, pr), i) => (i + 1, p,
        math.floor(math.log(pr) * 1e4 + 0.5) / 1e4) }
    ranked.toDF("rank", "piece", "logp")
  }

  /** Viterbi segmentation with the trained unigram vocab (broadcast
    * model, one distributed pass): per word the max-log-prob
    * segmentation; ties prefer the LONGER last piece, then lexicographic
    * — fully deterministic. Output (doc_id, n_pieces, pieces). */
  def unigramEncode(docs: DataFrame, pieces: Map[String, Double],
                    maxPieceLen: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(pieces)
    val maxL = maxPieceLen
    docs.select(col("doc_id"),
        expr("filter(split(text, ' '), t -> t <> '')").as("toks"))
      .as[(Long, Seq[String])]
      .map { case (id, toks) =>
        val out = toks.flatMap(w => UnigramLm.viterbi(w, bc.value, maxL))
        (id, out.length.toLong, out)
      }
      .toDF("doc_id", "n_pieces", "pieces")
  }

  /** BPE tokenizer training (Sennrich et al., ACL'16 — word-level byte-pair
    * encoding): learn `nMerges` merge rules from corpus word frequencies.
    * Returns the merge table (rank, left, right, freq), rank 1 first; fewer
    * rows when no word has two symbols left before `nMerges`.
    *
    * Scale shape: the ONLY distributed work is one word-count shuffle. Its
    * vocabulary-sized (symbols, freq) table is collected once, and the
    * merges are learned on the driver from that in-memory table, as
    * Sennrich et al. do: per merge, sum every adjacent pair's freq, take the
    * argmax, and fold the winning pair into each word greedily left to
    * right. No Spark job runs per merge. The collect is bounded by
    * `spark.driver.maxResultSize`, so a vocabulary too large for the driver
    * fails loudly. Ties break deterministically: highest count, then
    * (left, right) ascending in Spark's string order (UTF-8 bytes, which
    * is code point order, not `String.compareTo`'s UTF-16 order). */
  def bpeTrain(docs: DataFrame, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var words = docs
      .select(explode(expr("filter(split(text, ' '), t -> t <> '')")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      // symbols = characters + the word-end marker
      .select(expr("concat(split(word, ''), array('</w>'))").as("syms"),
        col("freq"))
      .as[(Array[String], Long)].collect()
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, f) <- words; i <- 0 until syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        counts(p) = counts.getOrElse(p, 0L) + f
      }
      if (counts.isEmpty) exhausted = true
      else {
        // strings compare as Spark orders them: UTF-8 bytes, unsigned
        val ((l, r), c) = counts.minBy { case ((l, r), c) =>
          (-c, UTF8String.fromString(l), UTF8String.fromString(r))
        }
        merges += ((rank, l, r, c))
        words = words.map { case (syms, f) => (mergePair(syms, l, r), f) }
        rank += 1
      }
    }
    merges.result().toDF("rank", "left", "right", "freq")
  }

  /** Greedy non-overlapping left-to-right replacement of the pair (l, r),
    * the result of [[bpeEncode]]'s fold (the merged l+r differs from l, so
    * a fresh merge can't cascade). */
  private def mergePair(syms: Array[String], l: String, r: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r; i += 2
      } else {
        out += syms(i); i += 1
      }
    }
    out.result()
  }

  /** TF-IDF keyword extraction: the `topK` highest-scoring terms per
    * document, score = tf · ln((N+1)/(df+1)) rounded to 4dp BEFORE ranking
    * (so the rank order is identical in any engine that rounds the same
    * way). Ties break on the term string ascending. Returns
    * (doc_id, rn, token, score) — rn is the 1-based per-doc rank.
    *
    * Scale shape: tf is one corpus-sized shuffle on (doc_id, token); df
    * derives from tf by a vocabulary-sized aggregate; N is one count
    * scalar (metadata-served for a bare parquet scan, passable via
    * `knownCount` otherwise — the [[Ivf.trainingSample]] contract). The
    * df join broadcasts when the VOCABULARY is known to fit
    * (`knownVocab` ≤ `maxBroadcastVocab` — the broadcast side is the
    * vocabulary-sized df table, NOT bounded by the document count: few
    * huge documents can carry an enormous vocabulary). With no vocab
    * figure the join is left unhinted so AQE sizes the df table at
    * runtime and picks broadcast only when it actually fits — an exact
    * driver-side count would cost a second corpus pass. The final top-k
    * is a per-doc window — key cardinality = documents, no skew beyond a
    * doc's own vocabulary. */
  def tfIdf(docs: DataFrame, topK: Int = 5,
            knownCount: Option[Long] = None,
            knownVocab: Option[Long] = None,
            maxBroadcastVocab: Long = 10L * 1000 * 1000): DataFrame = {
    val n = knownCount.getOrElse(docs.count())
    val tf = docs
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), t -> t <> '')")).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val dfSide = knownVocab match {
      case Some(v) =>
        guardedBroadcast(df, v, maxBroadcastVocab, "tfIdf: known vocabulary")
      case None => df // AQE decides from the df table's runtime size
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token").asc)
    tf.join(dfSide, Seq("token"))
      .select(col("doc_id"), col("token"),
        expr(s"floor(tf * ln(($n + 1.0) / (df + 1.0)) * 10000 + 0.5) / 10000")
          .as("score"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= topK)
      .select(col("doc_id"), col("rn"), col("token"), col("score"))
  }

  /** Pointwise-mutual-information association mining over document-level
    * co-occurrence: for token pairs within the top-`topVocab` vocabulary,
    * pmi = ln(n_12 · N / (n_1 · n_2)) where n_t are document frequencies
    * and N the corpus size — the classic collocation / word-association
    * signal (Church & Hanks 1990), also the co-occurrence statistic under
    * PMI-factorization embeddings. Returns (t1, t2, n_12, pmi) for pairs
    * seen in ≥ `minPairCount` docs, pmi rounded 4 dp (round-before-rank).
    *
    * Scale shape: the vocabulary is capped FIRST — a deterministic
    * (df desc, token) top-V via global TakeOrderedAndProject, broadcast
    * into a semi-join — so the pair explosion is bounded by
    * Σ_doc C(|tokens∩V|, 2) ≤ docs · V²/2 with the typical doc
    * contributing far fewer; uncapped pairing would square the full
    * vocabulary. Three shuffles end to end: df aggregate, per-doc token
    * collect, pair-keyed count; per-token df rides the pair structs
    * (functionally dependent on the token), so no post-aggregation
    * re-join touches the vocabulary. N is one count (pass `knownCount`
    * when the caller already has it). */
  def pmiPairs(docs: DataFrame, topVocab: Int = 150, minPairCount: Long = 5,
               knownCount: Option[Long] = None): DataFrame = {
    require(topVocab > 1 && minPairCount >= 1,
      s"topVocab=$topVocab minPairCount=$minPairCount")
    val n = knownCount.getOrElse(docs.count())
    // NOTE(round 17): docTok feeds both the top-vocab build and the probe
    // side (2 tokenize passes). A graftCheckpoint here was A/B-measured
    // SLOWER at matched calib (warm 1.69-2.04 s -> 1.94-2.16 s isolated at
    // sf0.1): materializing the corpus-token frame costs more than the one
    // saved split+array_distinct pass. Left recomputed (the lmPerplexity
    // unigram-table verdict, reproduced here).
    val docTok = docs.select(col("doc_id"), explode(expr(
        "array_distinct(filter(split(text, ' '), t -> t <> ''))")).as("token"))
    val df = docTok.groupBy(col("token")).agg(count(lit(1)).as("n_t"))
    val top = df.orderBy(col("n_t").desc, col("token").asc).limit(topVocab)
    // per-doc sorted array of (token, df) survivors, pairs enumerated by
    // a higher-order expression — NOT a doc_id self-join, which would
    // scan/explode the corpus twice and add a join shuffle. token is
    // unique within the set, so (token asc) sort makes i<j enumeration
    // deterministic and each unordered pair appears exactly once.
    // Boundary: HOF lambdas evaluate interpreted (outside codegen) with
    // O(k²) slice copies — right here ONLY because the vocab cap bounds
    // k; an open item space needs the codegen self-join instead
    // (measured at 32×: Analytics.associationRules, BASELINE.md).
    docTok.join(broadcast(top), Seq("token"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(struct(col("token"), col("n_t"))))
        .as("ts"))
      .select(explode(expr(
        """flatten(transform(ts, (x, i) ->
             transform(slice(ts, i + 2, size(ts) - i - 1), y -> struct(x, y))))"""))
        .as("p"))
      .groupBy(col("p.x.token").as("t1"), col("p.x.n_t").as("n_1"),
        col("p.y.token").as("t2"), col("p.y.n_t").as("n_2"))
      .agg(count(lit(1)).as("n_12"))
      .where(col("n_12") >= minPairCount)
      .select(col("t1"), col("t2"), col("n_12"),
        expr(s"floor(ln(n_12 * $n.0 / (n_1 * n_2)) * 10000 + 0.5) / 10000")
          .as("pmi"))
  }

  /** Incremental ingest dedup — the continuous-crawl shape: a NEW batch is
    * deduped against the digest set of the corpus already ingested, then
    * within itself (keep-first by doc_id). Returns the surviving
    * (doc_id, h) rows of the batch. The existing side carries ONLY digests
    * (16-byte keys, not documents): at 100 TB the accumulated digest table
    * is ~corpus-row-count × 16 bytes, joined by an anti-join that shuffles
    * on the uniform digest — no skew, no document payload movement. */
  def incrementalDedup(batch: DataFrame, existingDigests: DataFrame): DataFrame = {
    val hashed = batch.select(col("doc_id"), Dedup.normDigest(col("text")).as("h"))
    hashed
      .join(existingDigests.select(col("h")), Seq("h"), "left_anti")
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("h"))
  }

  /** Pure-COLUMN form of [[hashedLinearScore]] — the same sigmoid(avg
    * bucket-weight + bias) as one map-side expression (aggregate HOF over
    * the token array, no explode/groupBy). Numerically identical on the
    * same doc; being shuffle-free it also scores UNBOUNDED STREAMS (a
    * streaming groupBy would need watermark semantics documents don't
    * have) and fuses into any projection. NULL for token-less docs, like
    * the aggregating form's dropout. */
  def hashedLinearScoreColumn(text: Column, weights: Array[Double],
                              bias: Double): Column = {
    require(weights.length == 256,
      "bucketing uses two hex digits: exactly 256 weights")
    val wlit = array(weights.map(lit): _*)
    val toks = filter(split(text, " "), t => t =!= "")
    def digit(h: Column, i: Int): Column = hexDigit(h, i)
    val sum = aggregate(toks, lit(0.0), (acc, t) => {
      val h = md5(t)
      acc + element_at(wlit, digit(h, 1) * 16 + digit(h, 2) + 1)
    })
    when(size(toks) > 0,
      floor(lit(1.0) / (lit(1.0) + exp(-(sum / size(toks) + bias)))
        * 10000 + 0.5) / 10000)
  }

  /** Per-document hashed-bag-of-words feature rows for
    * [[trainHashedClassifier]]: (doc_id, y, n, bs) where `bs` is the
    * doc's (bucket, count) list over the same 256 md5-hex-digit buckets
    * [[hashedLinearScore]] scores with, `n` the token count, `y` the
    * 0/1 label. One corpus-sized shuffle builds it; training then never
    * touches the corpus text again. */
  def hashedFeatures(docs: DataFrame, label: Column): DataFrame = {
    def digit(i: Int): Column = hexDigit(col("h"), i)
    docs
      .select(col("doc_id"), label.cast("double").as("y"),
        explode(expr("filter(split(text, ' '), t -> t <> '')")).as("token"))
      .withColumn("h", md5(col("token")))
      .groupBy(col("doc_id"), col("y"),
        (digit(1) * 16 + digit(2)).as("b"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"), col("y"))
      .agg(collect_list(struct(col("b"), col("cnt"))).as("bs"),
        sum(col("cnt")).as("n"))
  }

  /** Train the [[hashedLinearScore]] model — full-batch logistic-regression
    * gradient descent on mean-pooled hashed token features. Returns
    * (weights(256), bias, log-loss per step: loss BEFORE each update, so a
    * decreasing sequence certifies learning).
    *
    * Scale shape (the fastText recipe at 100 TB): the corpus is tokenized
    * ONCE into [[hashedFeatures]] (cached — one row per doc, each holding a
    * ≤256-entry bucket-count list). Every GD step is then ONE job: margins
    * and per-doc errors are a codegen'd `aggregate` HOF over the in-row
    * list against the weight literal (no join — a production 2M-bucket
    * model would broadcast-join a weights table, same map-side shape), and
    * the gradient is an explode → 257-key groupBy (256 buckets + a
    * sentinel row carrying the bias gradient and the loss term). The
    * shuffle per step is ≤257 doubles per map partition; model state is
    * 257 driver doubles — exactly the IVF-centroid contract. */
  def trainHashedClassifier(docs: DataFrame, label: Column, steps: Int = 8,
                            lr: Double = 4.0)
      : (Array[Double], Double, Array[Double]) = {
    val feats = hashedFeatures(docs, label).cache()
    try {
      val nDocs = feats.count().toDouble
      require(nDocs > 0, "no documents to train on")
      val w = new Array[Double](256)
      var bias = 0.0
      val losses = Array.newBuilder[Double]
      for (_ <- 0 until steps) {
        val wlit = array(w.map(lit): _*)
        val rows = feats
          .withColumn("m0", aggregate(col("bs"), lit(0.0),
            (acc, x) => acc + x.getField("cnt") *
              element_at(wlit, x.getField("b") + 1)))
          .select(col("y"), col("n"), col("bs"),
            (lit(1.0) / (lit(1.0) + exp(-(col("m0") / col("n") + bias))))
              .as("p"))
          .select(col("bs"), col("n"), (col("p") - col("y")).as("err"),
            (-col("y") * log(col("p"))
              - (lit(1.0) - col("y")) * log(lit(1.0) - col("p"))).as("ll"))
          // sentinel bucket -1: cnt=n ⇒ err·cnt/n = err (bias gradient);
          // it also carries the doc's loss term so ONE shuffle serves all
          .select(explode(concat(col("bs"),
              array(struct(lit(-1).as("b"), col("n").as("cnt"))))).as("x"),
            col("n"), col("err"), col("ll"))
          .groupBy(col("x.b").as("b"))
          .agg(sum(col("err") * col("x.cnt") / col("n")).as("g"),
            sum(when(col("x.b") === -1, col("ll")).otherwise(0.0)).as("l"))
          .collect()
        var gBias = 0.0
        var loss = 0.0
        val grads = new Array[Double](256)
        rows.foreach { r =>
          val b = r.getInt(0)
          if (b == -1) { gBias = r.getDouble(1) / nDocs; loss = r.getDouble(2) / nDocs }
          else grads(b) = r.getDouble(1) / nDocs
        }
        losses += loss
        var i = 0
        while (i < 256) { w(i) -= lr * grads(i); i += 1 }
        bias -= lr * gBias
      }
      (w, bias, losses.result())
    } finally { feats.unpersist(); () }
  }

  /** Apply trained BPE merge rules to a corpus — the other half of
    * [[bpeTrain]]: (doc_id, toks) with `toks` the document's BPE token
    * sequence (word symbols merged greedily in rank order, `</w>`-suffixed
    * word ends, flattened across words in order).
    *
    * Scale shape: a pure per-document map — each merge rule is one greedy
    * left-to-right fold over each word's symbol array (the same
    * greedy fold [[bpeTrain]] applies), chained in rank order
    * inside a single projection. No shuffle, no join: the merge table
    * rides in the plan.
    *
    * AUTO-DISPATCH: above [[BpeHofMaxMerges]] merge rules the chained-HOF
    * expression grows past what Janino compiles sanely (documented bloat
    * failure ≈50k merges), so `bpeEncode` routes to [[bpeEncodeTrie]] —
    * callers cannot select the fixture-only HOF path with a production
    * vocabulary by accident (parity of the two paths is spec-pinned). */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame =
    if (merges.length > BpeHofMaxMerges) bpeEncodeTrie(docs, merges)
    else bpeEncodeHof(docs, merges)

  /** Largest merge table the chained-HOF apply path accepts before
    * [[bpeEncode]] auto-dispatches to the trie: each rule adds one
    * `aggregate` fold to a single projection, so expression size is
    * linear in rules — 64 keeps codegen far from the Janino 64KB-method
    * cliff while covering every fixture-scale vocabulary. */
  val BpeHofMaxMerges = 64

  /** The chained-HOF apply path itself — fixture-scale vocabularies only
    * (see [[bpeEncode]] for the dispatch contract). */
  private[graft] def bpeEncodeHof(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val init: Column = expr(
      "transform(filter(split(text, ' '), t -> t <> ''), " +
      "w -> concat(split(w, ''), array('</w>')))")
    val merged = merges.foldLeft(init) { case (wordsCol, (l, r)) =>
      transform(wordsCol, syms => aggregate(syms,
        array().cast("array<string>"),
        (acc, x) =>
          when(size(acc) > 0 && element_at(acc, -1) === lit(l) &&
               x === lit(r),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
            .otherwise(concat(acc, array(x)))))
    }
    docs.select(col("doc_id"), flatten(merged).as("toks"))
  }

  /** [[bpeEncode]] at PRODUCTION vocabulary size: the HOF path chains one
    * fold per merge rule inside a single projection, which at 50k merges
    * would compile a 50k-deep expression (the Janino-bloat failure mode) —
    * this variant tokenizes in `mapPartitions` with a two-level trie
    * (left-symbol → right-symbol → rank) and the standard lowest-rank-
    * first loop (Sennrich's apply_bpe / GPT-2 encoder shape): per word,
    * repeatedly merge all occurrences of the lowest-ranked adjacent pair
    * present, left-to-right, until no pair is in the table. O(len²) per
    * word with model-sized state; the merge table ships ONCE per executor
    * as a broadcast, not per task in the closure.
    *
    * Same embarrassing parallelism as the HOF path (pure per-document
    * map, no shuffle), same output — rank-ordered full passes and
    * lowest-rank-first converge to the same sequence because a pair
    * occurrence merged by the earlier-rank rule can never be stolen by a
    * later rule first (CorpusOpsSpec pins parity on trained merges). */
  def bpeEncodeTrie(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bcMerges = spark.sparkContext.broadcast(merges.toArray)
    val out = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val ms = bcMerges.value
        // left → (right → rank): one hash probe narrows to the left-symbol
        // branch, the second resolves the pair — a 2-level trie over pairs
        val trie =
          new java.util.HashMap[String, java.util.HashMap[String, Integer]]()
        var i = 0
        while (i < ms.length) {
          trie.computeIfAbsent(ms(i)._1,
              _ => new java.util.HashMap[String, Integer]())
            .putIfAbsent(ms(i)._2, Integer.valueOf(i))
          i += 1
        }
        def rankOf(l: String, r: String): Int = {
          val m = trie.get(l)
          if (m == null) Int.MaxValue
          else {
            val v = m.get(r)
            if (v == null) Int.MaxValue else v.intValue
          }
        }
        it.map { case (id, text) =>
          val toks = scala.collection.mutable.ArrayBuffer.empty[String]
          var start = 0
          val n = text.length
          while (start < n) {
            while (start < n && text.charAt(start) == ' ') start += 1
            var end = start
            while (end < n && text.charAt(end) != ' ') end += 1
            if (end > start) {
              val w = text.substring(start, end)
              var syms = new Array[String](w.length + 1)
              var j = 0
              while (j < w.length) { syms(j) = String.valueOf(w.charAt(j)); j += 1 }
              syms(w.length) = "</w>"
              var done = syms.length < 2
              while (!done) {
                var best = Int.MaxValue
                var k = 0
                while (k < syms.length - 1) {
                  val r = rankOf(syms(k), syms(k + 1))
                  if (r < best) best = r
                  k += 1
                }
                if (best == Int.MaxValue) done = true
                else {
                  val (l, r) = ms(best)
                  val nxt = scala.collection.mutable.ArrayBuffer.empty[String]
                  var p = 0
                  while (p < syms.length) {
                    if (p < syms.length - 1 && syms(p) == l && syms(p + 1) == r) {
                      nxt += (l + r); p += 2
                    } else { nxt += syms(p); p += 1 }
                  }
                  syms = nxt.toArray
                  if (syms.length < 2) done = true
                }
              }
              toks ++= syms
            }
            start = end
          }
          (id, toks.toSeq)
        }
      }
    out.toDF("doc_id", "toks")
  }

  /** Fill-in-the-middle (FIM, Bavarian et al., arXiv:2207.14255) document
    * splitting: each document (≥ 2 chars) deterministically splits into
    * (prefix, middle, suffix) with prefix ++ middle ++ suffix = text —
    * the data transform behind infilling-capable code/text models (the
    * PSM/SPM token reorder is the trainer's side; the engine's job is the
    * reproducible span choice). Span bounds derive from md5(salt:doc_id)
    * hex digits with INTEGER arithmetic only (digit-pair × range div
    * 256), so any engine with md5 reproduces the exact split: middle
    * start a ∈ [1, n−1], middle length ∈ [1, n−a] — middle and suffix
    * never empty, prefix may be. A pure per-row map — embarrassingly
    * parallel, no shuffle. */
  def fimSplit(docs: DataFrame, salt: String = "fim"): DataFrame = {
    def digit(c: Column, i: Int): Column = hexDigit(c, i)
    val h = md5(concat(lit(salt + ":"), col("doc_id").cast("string")))
    docs.where(length(col("text")) >= 2)
      .withColumn("__h", h)
      .withColumn("__n", length(col("text")))
      // the digit-pair × range product goes through LONG: at int width,
      // 255 · (n−1) overflows for documents past ~8.4M chars — exactly
      // the long-document tail a 100 TB corpus has
      .withColumn("__a", lit(1) +
        ((digit(col("__h"), 1) * 16 + digit(col("__h"), 2)).cast("long") *
          (col("__n") - 1) / 256).cast("int"))
      .withColumn("__m", lit(1) +
        ((digit(col("__h"), 3) * 16 + digit(col("__h"), 4)).cast("long") *
          (col("__n") - col("__a")) / 256).cast("int"))
      .select(col("doc_id"),
        expr("substring(text, 1, __a - 1)").as("prefix"),
        expr("substring(text, __a, __m)").as("middle"),
        expr("substring(text, __a + __m)").as("suffix"))
  }

  /** Per-document character-level Shannon entropy (bits/char is the
    * nats variant ÷ ln 2; this emits NATS, 4dp): the gibberish/boilerplate
    * quality signal — random byte soup scores high, repeated templates
    * score low. Pure relational shape: explode characters → per-(doc,
    * char) count → per-doc Σ −(c/n)·ln(c/n); two shuffles keyed by doc
    * (+char), no UDF, no per-doc quadratic work. */
  def charEntropy(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .where(col("ch") =!= "")
      .groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n"),
        sum(col("c") * log(col("c"))).as("__clogc"))
      // −Σ (c/n)ln(c/n) = ln n − (Σ c·ln c)/n  — one stable form, same
      // algebra on the oracle side so rounding sees identical arithmetic
      .select(col("doc_id"), col("n"),
        expr("floor((ln(n) - __clogc / n) * 10000 + 0.5) / 10000")
          .as("entropy"))

  /** Per-document deflate compression ratio (raw bytes ÷ deflated bytes,
    * 4dp): the repetition/boilerplate signal compression-based quality
    * filters use — templated or repeated text compresses far better than
    * organic prose. java.util.zip.Deflater level 6 in a mapPartitions
    * (one Deflater per partition, reset per doc — the model-per-partition
    * shape); embarrassingly parallel, no shuffle. Engine-pinned output
    * (no SQL oracle can deflate) — rows-only with property coverage. */
  def compressionRatio(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val d = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](8192)
        it.map { case (id, text0) =>
          val text = if (text0 == null) "" else text0 // null-text docs score 0
          val raw = text.getBytes("UTF-8")
          d.reset()
          d.setInput(raw)
          d.finish()
          var compressed = 0L
          while (!d.finished()) compressed += d.deflate(buf)
          val ratio =
            if (compressed == 0) 0.0
            else math.floor(raw.length.toDouble / compressed * 10000 + 0.5) / 10000
          (id, raw.length.toLong, ratio)
        }
      }
      .toDF("doc_id", "n_bytes", "ratio")
  }

  /** Corpus "data card" statistics — the per-(source, language) release
    * summary every published corpus ships: document and token counts,
    * token-length percentiles, and the exact-duplicate rate (1 −
    * distinct-normalized-digests / docs). Returns (source, lang, n_docs,
    * n_tokens, p50_tokens, p95_tokens, dup_rate), percentiles 2dp and
    * dup_rate 4dp floor-rounded (the cross-engine-stable rounding).
    *
    * Scale shape: ONE shuffle on the (source, lang) group key; the
    * count-distinct is exact (per-group digest sets — at 100 TB swap in
    * the HLL sketch ([[graft.functions.Sketches]]) and the GK
    * approx-percentile twin the same way q_agg_approxd/q_agg_approxpctl
    * twin their exact versions; the exact percentile is a per-group sort
    * and is the one corpus-sized cost here). */
  def corpusStats(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("lang"), col("text"),
        coalesce(expr("size(filter(split(text, ' '), t -> t <> ''))"), lit(0))
          .cast("long").as("n"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("n_tokens"),
        (floor(expr("percentile(n, 0.5)") * 100 + 0.5) / 100).as("p50_tokens"),
        (floor(expr("percentile(n, 0.95)") * 100 + 0.5) / 100).as("p95_tokens"),
        countDistinct(Dedup.normDigest(col("text"))).as("__uniq"))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        col("p50_tokens"), col("p95_tokens"),
        (floor((col("n_docs") - col("__uniq")) * lit(10000.0) / col("n_docs")
          + 0.5) / 10000).as("dup_rate"))

  /** Deterministic train/val/test assignment from the first hex digit of
    * md5(normalized text): 0-b → train (12/16), c-d → val (2/16),
    * e-f → test (2/16). Digest-of-text (not doc id) keeps exact duplicates
    * in one split, so later dedup cannot move eval data into train. A pure
    * codegen'd map — embarrassingly parallel at any scale. */
  def splitColumn(text: Column): Column = {
    val h = substring(md5(lower(trim(text))), 1, 1)
    when(h.isin("c", "d"), lit("val"))
      .when(h.isin("e", "f"), lit("test"))
      .otherwise(lit("train"))
  }

  /** (doc_id, split) for every document. */
  def splitAssign(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), splitColumn(col("text")).as("split"))

  /** Dense 1-based global rank of every row by (`value` DESC, doc_id ASC)
    * WITHOUT a global window: value-range buckets (descending bucket-major
    * order IS the rank order), per-bucket counts to a driver offset array
    * (nBuckets longs), rank = in-bucket row_number + offset. The shared
    * primitive under [[lengthBatches]] / [[curriculumInterleave]] /
    * [[rrfFusion]]. Input must carry (doc_id, `valueCol`); emits `rankCol`.
    * Degenerate case: a CONSTANT value column collapses every row into
    * bucket 0 and the in-bucket window becomes global — correct, but a
    * signal with no spread shouldn't be ranked at scale in the first
    * place (its rank is pure doc_id order). */
  /** Bucketed global DESC rank of every `__v_<name>` signal column of
    * `proj` at once (the [[rrfFusion]] machinery): ONE bounds aggregate
    * over all signals and ONE bucket-count job (a ≤ signals×nBuckets-row
    * shuffle) replace the former per-signal pair of driver actions —
    * which each re-executed every earlier signal's window subtree
    * (round 17, guide §1.2/§5: 2·|signals| actions → 2, windows now run
    * only when the ranked frame is consumed). Rank math is unchanged:
    * value-range buckets, per-(signal,bucket) counts → driver offset
    * array, row_number inside each bucket only. A signal whose bounds
    * are NULL (empty or all-null input) ranks 0 everywhere — the same
    * contract the per-signal short-circuit had. */
  private def bucketedGlobalRanksDesc(proj: DataFrame, names: Seq[String],
                                      nBuckets: Int): DataFrame = {
    val boundsAggs = names.flatMap(n =>
      Seq(min(col(s"__v_$n")), max(col(s"__v_$n"))))
    val boundsRow =
      proj.agg(boundsAggs.head, boundsAggs.tail: _*).collect()(0)
    // signals with NULL bounds (empty/all-null column) rank 0 — drop them
    // from the bucket machinery entirely
    val live = names.zipWithIndex.filterNot { case (_, i) =>
      boundsRow.isNullAt(2 * i) }
    val lows = live.map { case (_, i) => boundsRow.getDouble(2 * i) }
    val widths = live.map { case (_, i) =>
      math.max((boundsRow.getDouble(2 * i + 1) - boundsRow.getDouble(2 * i))
        / nBuckets, java.lang.Double.MIN_NORMAL) }
    def rbCol(li: Int): Column = {
      val (n, _) = live(li)
      least(lit(nBuckets - 1), greatest(lit(0),
        floor((col(s"__v_$n") - lows(li)) / widths(li)).cast("int")))
    }
    val bucketed = live.indices.foldLeft(proj) { (df, li) =>
      df.withColumn(s"__rb_${live(li)._1}", rbCol(li)) }
    // one job for every signal's bucket histogram: (signal idx, bucket) →
    // count; NULL signal values clamp to bucket 0 exactly as before
    // (greatest skips the NULL floor), so no row is lost
    val counts: Map[(Int, Int), Long] =
      if (live.isEmpty) Map.empty
      else bucketed.select(posexplode(array(live.indices.map(li =>
          col(s"__rb_${live(li)._1}")): _*)).as(Seq("__si", "__rb")))
        .groupBy(col("__si"), col("__rb")).agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    live.indices.foldLeft(bucketed) { (df, li) =>
      val name = live(li)._1
      // offset of bucket b = rows in HIGHER-value buckets (desc rank order)
      val offArr: Seq[Long] = (0 until nBuckets).map(b =>
        (b + 1 until nBuckets).map(q => counts.getOrElse((li, q), 0L)).sum)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(s"__rb_$name"))
        .orderBy(col(s"__v_$name").desc, col("doc_id"))
      df.withColumn(s"rank_$name",
          row_number().over(w) + element_at(typedLit(offArr),
            col(s"__rb_$name") + 1))
        .drop(s"__rb_$name")
    }.withColumns(
      names.filterNot(n => live.exists(_._1 == n))
        .map(n => s"rank_$n" -> lit(0L)).toMap)
  }

  /** Reciprocal-rank-fusion quality ensembling (Cormack et al. 2009): each
    * signal ranks the corpus independently (higher = better), fused as
    * score = Σᵢ 1/(k + rankᵢ) — the standard way to combine heterogeneous
    * quality signals (length, entropy, perplexity, classifier score)
    * without calibrating their scales. Every rank comes from
    * [[bucketedGlobalRanksDesc]] — no global window at any corpus size; the
    * fusion itself is a map. Signals are ROUNDED to 4 dp before ranking
    * (round-before-rank) and the fused sum adds terms in signal order, so
    * the result is engine-deterministic. Returns
    * (doc_id, rank_<name>..., rrf). */
  def rrfFusion(docs: DataFrame, signals: Seq[(String, Column)],
                k: Int = 60, nBuckets: Int = 32): DataFrame = {
    require(signals.nonEmpty, "rrfFusion needs at least one signal")
    val base = bucketedGlobalRanksDesc(
      docs.select(col("doc_id") +: signals.map { case (n, c) =>
        (floor(c.cast("double") * 1e4 + lit(0.5)) / 1e4).as(s"__v_$n")
      }: _*), signals.map(_._1), nBuckets)
    val rrf = signals.map { case (n, _) =>
      lit(1.0) / (lit(k.toDouble) + col(s"rank_$n"))
    }.reduce(_ + _)
    base.select(col("doc_id") +: signals.map { case (n, _) => col(s"rank_$n") } :+
      (floor(rrf * 1e6 + lit(0.5)) / 1e6).as("rrf"): _*)
  }

  /** Curriculum / mixing order: rank documents by `ord` DESCENDING within
    * each `stratum` (quality-first curriculum), then interleave strata
    * round-robin — consumption position sorts by (per-stratum rank,
    * stratum), so epoch position p cycles through strata at equal depth
    * and a stratum that exhausts simply drops out of the rotation (the
    * standard deterministic data-ordering recipe).
    *
    * BOTH ranks are computed with the bucketed parallel-prefix machinery
    * ([[lengthBatches]]' shape) — never a per-stratum or global
    * single-partition window, because at crawl scale a stratum is
    * billions of rows and "one window per stratum" is one task per
    * stratum:
    *  1. per-stratum rank: bucket on the ord value range; counts per
    *     (stratum, bucket) → driver offset map (strata × nBuckets,
    *     model-sized); window inside each (stratum, bucket) only.
    *  2. global position: the interleave key (rank, stratum-index) ranks
    *     with the same machinery bucketed on rank ranges.
    *
    * Returns (position, doc_id, stratum, rank) — position 0-based, rank
    * 1-based within stratum. Deterministic: ties on `ord` break by
    * doc_id. */
  def curriculumInterleave(docs: DataFrame, stratum: String = "source",
                           ord: Column = col("n_chars"),
                           nBuckets: Int = 32): DataFrame = {
    val sc = col(stratum)
    // three-long-per-doc frame read by three actions (bounds, per-(stratum,
    // bucket) counts, final consume) — materialize once (round 17, the
    // packShards lesson)
    val base = docs.select(col("doc_id"), sc, ord.cast("long").as("__ord"))
      .graftCheckpoint(true)
    val bounds = base.agg(min(col("__ord")), max(col("__ord"))).collect()(0)
    if (bounds.isNullAt(0))
      return base.select(lit(0L).as("position"), col("doc_id"), sc,
        lit(0L).as("rank")).where(lit(false))
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val width = math.max(1L, (hi - lo) / nBuckets + 1)
    // DESC rank ⇒ bucket index q descends with ord; rank order is
    // (descending-q)-major. Offset lookups are ARRAY LITERALS indexed by
    // a computed key, not when-chains (the packShards codegen lesson).
    val bucketed = base.withColumn("__q",
      expr(s"cast((__ord - $lo) div $width as int)"))
    val counts = bucketed.groupBy(sc, col("__q")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val strata = counts.keys.map(_._1).toSeq.sorted
    val maxQ = counts.keys.map(_._2).max
    val sIdx = strata.zipWithIndex.toMap
    // rank offset of (stratum, q) = docs of that stratum in HIGHER-ord
    // buckets; flat array indexed si * (maxQ+1) + q
    val offArr: Seq[Long] = strata.flatMap { s =>
      val byQ = (0 to maxQ).map(q => counts.getOrElse((s, q), 0L))
      (0 to maxQ).map(q => byQ.drop(q + 1).sum)
    }
    val sIdxCol = element_at(
      typedLit(strata.map(s => s -> sIdx(s)).toMap), sc)
    val offCol = element_at(typedLit(offArr),
      sIdxCol * (maxQ + 1) + col("__q") + 1)
    val w1 = org.apache.spark.sql.expressions.Window
      .partitionBy(sc, col("__q"))
      .orderBy(col("__ord").desc, col("doc_id"))
    // counts2 below AND the final consume both execute the stage-1 window —
    // materialize the narrow ranked frame so that shuffle+sort runs once
    val ranked = bucketed
      .withColumn("rank", row_number().over(w1) + offCol)
      .withColumn("__si", sIdxCol)
      .graftCheckpoint(true)
    // stage 2: global position of (rank, stratum) — ranks are dense
    // 1..|stratum|, so rank-range buckets are uniform by construction
    val maxRank = strata.map(s =>
      (0 to maxQ).map(q => counts.getOrElse((s, q), 0L)).sum).max
    val w2width = math.max(1L, maxRank / nBuckets + 1)
    val staged = ranked.withColumn("__rb",
      expr(s"cast((rank - 1) div $w2width as int)"))
    val counts2 = staged.groupBy(col("__rb")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val maxRb = counts2.keys.max
    val off2Arr: Seq[Long] = (0 to maxRb)
      .scanLeft(0L)((acc, b) => acc + counts2.getOrElse(b, 0L)).init
    val off2Col = element_at(typedLit(off2Arr), col("__rb") + 1)
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__rb")).orderBy(col("rank"), col("__si"))
    staged
      .withColumn("position", row_number().over(w2) - 1 + off2Col)
      .select(col("position"), col("doc_id"), sc, col("rank"))
  }

  /** Skip-gram (center, context) pair counts — the word2vec/embedding
    * training input stage: tokens at positions i pair with tokens at
    * positions i±1..i±window within the SAME document, symmetric
    * emission, counts filtered at `minCount`. Returns
    * (center, context, n).
    *
    * Scale shape: one explode to (doc, pos, token) — the tfIdf tokenize
    * shuffle — then a per-doc positional band self-join: output rows =
    * tokens × 2·window, never tokens² (the band predicate rides the
    * doc_id equi-join, so Catalyst keeps it a hash join + filter). The
    * pair count aggregate is partial-aggregable. */
  def skipGrams(docs: DataFrame, window: Int = 2,
                minCount: Long = 2): DataFrame = {
    require(window >= 1, s"window=$window")
    val tok = docs
      .select(col("doc_id"),
        posexplode(expr("filter(split(text, ' '), t -> t <> '')"))
          .as(Seq("pos", "token")))
    val a = tok.select(col("doc_id"), col("pos").as("pa"),
      col("token").as("center"))
    val b = tok.select(col("doc_id"), col("pos").as("pb"),
      col("token").as("context"))
    a.join(b, Seq("doc_id"))
      .where(col("pb") =!= col("pa") &&
        abs(col("pb") - col("pa")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
  }

  /** BLEU-style clipped n-gram precision for candidate/reference doc
    * pairs — the evaluation metric a generation pipeline scores at corpus
    * scale. For each (cand_id, ref_id) pair and each n ≤ maxN:
    *
    *   matches = Σ_gram min(count_cand(gram), count_ref(gram))   (clipped)
    *   total   = candidate n-gram count
    *   p_n     = matches / total
    *
    * All counts are integers, so `p_n` is one long/long double division —
    * IEEE-identical cross-engine (the ACF determinism contract). Pairs
    * whose candidate has no n-gram at that order emit no row.
    *
    * Scale shape: n-grams per doc come from one split+transform projection
    * (no self-join); the cand/ref match is an equi-join on (pair, gram) —
    * Σ over pairs of gram-vocabulary overlap, never corpus². `pairs` is
    * (cand_id, ref_id); at 100 TB it arrives pre-blocked (the aligned
    * translation/caption pairing), so the join key is already the pair id.
    */
  def clippedNgramPrecision(docs: DataFrame, pairs: DataFrame,
                            maxN: Int = 2): DataFrame = {
    require(maxN >= 1, s"maxN=$maxN")
    // (doc_id, n, gram, cnt): n-grams of each order with per-doc counts
    // the gram table feeds BOTH join sides; no checkpoint needed — the
    // aggregate's exchange is identical on both branches, so ReuseExchange
    // materializes it once (verified: localCheckpoint measured NO gain at
    // 1× or 32×, so the simpler lazy form stays)
    val grams = docs
      .select(col("doc_id"),
        expr("filter(split(text, ' '), t -> t <> '')").as("toks"))
      .select(col("doc_id"),
        explode(sequence(lit(1), lit(maxN))).as("n"), col("toks"))
      .where(size(col("toks")) >= col("n"))
      .select(col("doc_id"), col("n"), explode(expr(
        "transform(sequence(1, size(toks) - n + 1)," +
          " i -> concat_ws(' ', slice(toks, i, n)))")).as("gram"))
      .groupBy(col("doc_id"), col("n"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val cand = pairs.join(grams,
        pairs("cand_id") === grams("doc_id"))
      .select(col("cand_id"), col("ref_id"), col("n"), col("gram"),
        col("cnt").as("c_cnt"))
    val ref = grams.select(col("doc_id").as("ref_id"), col("n"),
      col("gram"), col("cnt").as("r_cnt"))
    val clipped = cand.join(ref, Seq("ref_id", "n", "gram"), "left")
      .groupBy(col("cand_id"), col("ref_id"), col("n"))
      .agg(sum(least(col("c_cnt"), coalesce(col("r_cnt"), lit(0L))))
          .as("matches"),
        sum(col("c_cnt")).as("total"))
    clipped.select(col("cand_id"), col("ref_id"), col("n").cast("int").as("n"),
      col("matches"), col("total"),
      (col("matches").cast("double") / col("total").cast("double"))
        .as("p_n"))
  }

  /** Deterministic 256-entry gear table: first 8 bytes of md5("gear:i")
    * as a big-endian long — reproducible on any platform, no RNG. */
  private lazy val gearTable: Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(256) { i =>
      val h = md.digest(s"gear:$i".getBytes("UTF-8"))
      java.nio.ByteBuffer.wrap(h, 0, 8).getLong
    }
  }

  /** Content-defined chunking (Gear/FastCDC boundary rule): roll
    * h = (h << 1) + gear(byte) over UTF-8 bytes; cut when
    * (h & (2^avgBits − 1)) == 0 at length ≥ minSize, or at maxSize.
    * Unlike fixed-size chunking, boundaries depend only on LOCAL content,
    * so an insertion re-syncs within one chunk and the rest of the
    * document keeps its digests — THE property that makes chunk-level
    * dedup survive shifting content (the restic/LBFS/FastCDC design),
    * pinned by the spec's insertion-invariance property.
    *
    * Returns (doc_id, chunk_idx, start, len, digest) with digest =
    * md5 of the chunk bytes. Per-row sequential byte scan — the
    * justified mapPartitions shape (compressionRatio's list: binary
    * decode, external process, trie tokenize, deflate, CDC chunking);
    * embarrassingly parallel, no shuffle, state is one rolling long.
    * Engine-pinned (no SQL oracle can roll a hash) — rows-only with
    * property coverage. */
  def cdcChunks(docs: DataFrame, minSize: Int = 32, avgBits: Int = 7,
                maxSize: Int = 512): DataFrame = {
    require(minSize >= 1 && maxSize >= minSize && avgBits >= 1,
      s"minSize=$minSize avgBits=$avgBits maxSize=$maxSize")
    val spark = docs.sparkSession
    import spark.implicits._
    val mask = (1L << avgBits) - 1
    val gear = gearTable
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.flatMap { case (id, text0) =>
          val bytes = (if (text0 == null) "" else text0).getBytes("UTF-8")
          val out = Seq.newBuilder[(Long, Int, Long, Long, String)]
          var start = 0
          var idx = 0
          var h = 0L
          var i = 0
          while (i < bytes.length) {
            h = (h << 1) + gear(bytes(i) & 0xff)
            val len = i - start + 1
            if ((len >= minSize && (h & mask) == 0L) || len >= maxSize ||
                i == bytes.length - 1) {
              md.reset()
              md.update(bytes, start, len)
              val dg = md.digest().map("%02x".format(_)).mkString
              out += ((id, idx, start.toLong, len.toLong, dg))
              idx += 1
              start = i + 1
              h = 0L
            }
            i += 1
          }
          out.result()
        }
      }
      .toDF("doc_id", "chunk_idx", "start", "len", "digest")
  }
}

/** Unigram-LM per-word kernels (Kudo 2018): log-space forward/backward
  * expected counts for EM and Viterbi segmentation. Log-space (with
  * log-sum-exp) keeps long words from underflowing linear-space products.
  */
private[operators] object UnigramLm {

  @inline private def logAdd(a: Double, b: Double): Double =
    if (a == Double.NegativeInfinity) b
    else if (b == Double.NegativeInfinity) a
    else if (a > b) a + math.log1p(math.exp(b - a))
    else b + math.log1p(math.exp(a - b))

  /** Expected piece counts of `w` (weight `f`) under `probs` — the E-step
    * contribution of one word: posterior probability of each segmentation
    * edge times the word frequency. Words with no covering piece at some
    * position (can't happen when all single chars are in the vocab)
    * contribute nothing. */
  def expectedCounts(w: String, f: Long, probs: Map[String, Double],
                     maxL: Int): Seq[(String, Double)] = {
    val n = w.length
    if (n == 0) return Nil
    val NEG = Double.NegativeInfinity
    val logp = new java.util.HashMap[String, Double]()
    val alpha = Array.fill(n + 1)(NEG)
    val beta = Array.fill(n + 1)(NEG)
    alpha(0) = 0.0
    var i = 1
    while (i <= n) {
      var l = 1
      while (l <= math.min(maxL, i)) {
        val piece = w.substring(i - l, i)
        probs.get(piece).foreach { p =>
          val lp = math.log(p)
          logp.put(piece, lp)
          if (alpha(i - l) != NEG)
            alpha(i) = logAdd(alpha(i), alpha(i - l) + lp)
        }
        l += 1
      }
      i += 1
    }
    if (alpha(n) == NEG) return Nil
    beta(n) = 0.0
    i = n - 1
    while (i >= 0) {
      var l = 1
      while (l <= math.min(maxL, n - i)) {
        val piece = w.substring(i, i + l)
        if (logp.containsKey(piece) && beta(i + l) != NEG)
          beta(i) = logAdd(beta(i), logp.get(piece) + beta(i + l))
        l += 1
      }
      i -= 1
    }
    val out = new scala.collection.mutable.HashMap[String, Double]()
    i = 0
    while (i < n) {
      var l = 1
      while (l <= math.min(maxL, n - i)) {
        val piece = w.substring(i, i + l)
        if (logp.containsKey(piece) && alpha(i) != NEG &&
            beta(i + l) != NEG) {
          val post = math.exp(alpha(i) + logp.get(piece) + beta(i + l)
            - alpha(n))
          if (post > 0)
            out.update(piece, out.getOrElse(piece, 0.0) + post * f)
        }
        l += 1
      }
      i += 1
    }
    out.toSeq
  }

  /** Max-log-prob segmentation; ties prefer the LONGER last piece, then
    * the lexicographically smaller one. Characters absent from the vocab
    * pass through as single-char pieces (the unknown fallback). */
  def viterbi(w: String, probs: Map[String, Double], maxL: Int): Seq[String] = {
    val n = w.length
    if (n == 0) return Nil
    val NEG = Double.NegativeInfinity
    val unkLp = -30.0
    val best = Array.fill(n + 1)(NEG)
    val bestLen = new Array[Int](n + 1)
    val bestPiece = new Array[String](n + 1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var l = 1
      while (l <= math.min(maxL, i)) {
        val piece = w.substring(i - l, i)
        val lpOpt = probs.get(piece).map(math.log)
          .orElse(if (l == 1) Some(unkLp) else None)
        lpOpt.foreach { lp =>
          if (best(i - l) != NEG) {
            val s = best(i - l) + lp
            val better = s > best(i) ||
              (s == best(i) && (l > bestLen(i) ||
                (l == bestLen(i) && piece < bestPiece(i))))
            if (better) {
              best(i) = s; bestLen(i) = l; bestPiece(i) = piece
            }
          }
        }
        l += 1
      }
      i += 1
    }
    var pos = n
    val rev = new scala.collection.mutable.ArrayBuffer[String]()
    while (pos > 0) { rev += bestPiece(pos); pos -= bestLen(pos) }
    rev.reverse.toSeq
  }
}
