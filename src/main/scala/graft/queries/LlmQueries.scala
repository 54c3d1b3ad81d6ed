package graft.queries

import graft.core.{GraftCheckpointOps, Q, Tables}
import graft.operators.{CorpusOps, Dedup, Ivf, Pca, Pq, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-data-pipeline operators (SURVEY §2B north-star extension) over the
  * `documents` / `embeddings` tables: exact dedup, token-set Jaccard near-dup
  * (the exact ground truth the MinHash path approximates), brute-force cosine
  * top-k similarity search, text analysis.
  *
  * Scale notes:
  *  - exact dedup = hash-groupBy: one shuffle on a 128-bit digest, uniform by
  *    construction (no skew), map-side combine on.
  *  - jaccard = inverted-index join (token → doc pairs) rather than a doc×doc
  *    cross join: the join explodes only on shared tokens. At 100 TB the
  *    frequent-token hot keys get dropped by a document-frequency cap (see
  *    graft.operators.Dedup for the df-capped variant).
  *  - cosine top-k: query side is small (10 vectors) and broadcast, so the
  *    candidate scan is a single pass, no shuffle until the final tiny top-k.
  */
object LlmQueries {

  /** tokens(doc_id, lang, token): one row per (doc, distinct token). */
  private def distinctTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
                explode(split(col("text"), " ")).as("token"))
      .where(col("token") =!= "")
      .distinct()

  val queries: Map[String, Q] = Map(
    // exact dedup: md5 over normalized text, keep-first (min doc_id)
    "q_llm_dedup_exact" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(lower(trim(col("text")))).as("h"))
        .agg(min(col("doc_id")).as("keep_id"),
             count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"))
        .orderBy(col("keep_id"))),

    // quality filter: predicate stack (Q-LLM-4)
    "q_llm_quality" -> ((s, d) =>
      Tables.documents(s, d)
        .where(col("n_chars").between(100, 2000) &&
               col("lang").isin("en", "es"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("source"))),

    // text analysis: top-20 tokens per lang
    "q_llm_tokens" -> ((s, d) => {
      val counts = Tables.documents(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .where(col("token") =!= "")
        .groupBy(col("lang"), col("token"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n").desc, col("token").asc)
      counts.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 20)
        .select(col("lang"), col("rn"), col("token"), col("n"))
        .orderBy(col("lang"), col("rn"))
    }),

    // per-document text stats: token count, distinct tokens, stopword ratio
    "q_llm_textstats" -> ((s, d) => {
      val toks = split(col("text"), " ")
      Tables.documents(s, d).select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct"),
        (floor(size(filter(toks, t => t.isin("the", "a", "of", "and", "to")))
            .cast("double") / size(toks) * 10000 + 0.5) / 10000).as("stop_ratio"),
        (col("n_chars") / size(toks)).cast("double").as("avg_tok_len"))
        .withColumn("avg_tok_len",
          floor(col("avg_tok_len") * 10000 + 0.5) / 10000)
        .orderBy(col("doc_id"))
    }),

    // token-set Jaccard near-dup via the shared df-capped inverted-index
    // operator (lang as an extra blocking key). The cap only drops tokens
    // whose document frequency exceeds it — far above this corpus's max df,
    // so results are exactly brute-force Jaccard here, while the same plan
    // survives hot-token blowup at 100 TB. Token keys are sparse (Σdf² ≈
    // 567K, 7× below the trigram sites) so this site does NOT opt into
    // spreadExplosion — the extra exchange was measured as pure overhead.
    "q_llm_jaccard" -> ((s, d) =>
      Dedup.jaccardFromItems(
          distinctTokens(Tables.documents(s, d).where(col("doc_id") < 500)),
          threshold = 0.3, dfCap = 100000, joinKeys = Seq("token", "lang"))
        .orderBy(col("d1"), col("d2"))),

    // character n-gram (trigram) Jaccard near-dup — the shingle-level twin
    // of the token-set q_llm_jaccard, same df-capped inverted-index operator.
    // Trigrams over natural text are DENSE (measured Σdf² ≈ 4.1M candidate
    // pairs for 300 docs) so this site opts into spreading the explosion.
    "q_llm_ngram_jaccard" -> ((s, d) =>
      Dedup.jaccardFromItems(
          Tables.documents(s, d).where(col("doc_id") < 300)
            .select(col("doc_id"), explode(expr(
              "transform(sequence(1, greatest(length(text) - 2, 1)), i -> substring(text, i, 3))"))
              .as("g"))
            .distinct(),
          threshold = 0.5, dfCap = 100000, joinKeys = Seq("g"),
          spreadExplosion = true)
        .orderBy(col("d1"), col("d2"))),

    // language-ID: n-gram/marker-token heuristic, scored per language with a
    // fixed priority tiebreak (en > es > de > fr), 'und' when no marker hits.
    // Same closed-form logic on both engines → exact oracle.
    "q_llm_langid" -> ((s, d) =>
      Tables.documents(s, d)
        .withColumn("s_en", expr(
          "size(filter(split(text, ' '), t -> t IN ('the','a','of','and','to')))"))
        .withColumn("s_es", expr(
          "size(filter(split(text, ' '), t -> t IN ('el','la','de','que','y')))"))
        .withColumn("s_de", expr(
          "size(filter(split(text, ' '), t -> t IN ('der','die','das','und','ist')))"))
        .withColumn("s_fr", expr(
          "size(filter(split(text, ' '), t -> t IN ('le','les','et','des','un')))"))
        .withColumn("pred", expr(
          """CASE WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                  WHEN s_es > 0 AND s_es >= s_de AND s_es >= s_fr THEN 'es'
                  WHEN s_de > 0 AND s_de >= s_fr THEN 'de'
                  WHEN s_fr > 0 THEN 'fr'
                  ELSE 'und' END"""))
        .select(col("doc_id"), col("pred"))
        .orderBy(col("doc_id"))),

    // token counting with a BPE-ish regex (words / digit runs / single
    // punctuation), vs whitespace tokens — per doc
    "q_llm_token_bpe" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr("size(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0))")
            .as("n_bpe"),
          expr("size(filter(split(text, ' '), t -> t <> ''))").as("n_ws"))
        .orderBy(col("doc_id"))),

    // document fingerprint: winnowing-style — the lexicographic min of md5
    // digests over all 8-char sliding windows (content-defined, shift-robust)
    "q_llm_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr("""array_min(transform(sequence(1, greatest(length(text) - 7, 1)),
                    i -> md5(substring(text, i, 8))))""").as("fp"))
        .orderBy(col("doc_id"))),

    // duplicate-CLUSTER formation — the step after pair generation in every
    // dedup pipeline: trigram-Jaccard pairs (same operator+params as
    // q_llm_ngram_jaccard) → connected components (Pregel-style min-label
    // propagation) → canonical keep-first doc per cluster. Oracle-checked:
    // DuckDB computes the same components via a recursive-CTE transitive
    // closure over the identical pair list.
    "q_llm_dedup_clusters" -> ((s, d) => {
      val docs = Tables.documents(s, d).where(col("doc_id") < 300)
      // the trigram postings feed jaccardFromItems THREE times (df-cap
      // semi-join, df groupBy, per-doc counts) — localCheckpoint runs the
      // explode+distinct shuffle ONCE instead of three times (the
      // q_llm_cluster_reps lesson, round 17)
      val pairs = Dedup.jaccardFromItems(
        docs.select(col("doc_id"), explode(expr(
          "transform(sequence(1, greatest(length(text) - 2, 1)), i -> substring(text, i, 3))"))
          .as("g"))
          .distinct().graftCheckpoint(),
        threshold = 0.5, dfCap = 100000, joinKeys = Seq("g"),
        spreadExplosion = true)
      Dedup.dedupClusters(docs.select(col("doc_id")), pairs.select(col("d1"), col("d2")))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style repetition quality metrics per document: duplicate-token
    // fraction, top-token fraction, duplicate-bigram fraction (the standard
    // repetition family for LLM corpus filtering). All distributed shapes:
    // explode → count → per-doc aggregate; no per-doc quadratic work.
    // exact-span (substring) duplicate pairs — the C4/Gopher-style "shared
    // long span" signal exact where near-dup metrics are fuzzy. Inverted-
    // index join on 30-char spans with a df cap; never doc×doc.
    "q_llm_span_dedup" -> ((s, d) =>
      CorpusOps.spanPairs(Tables.documents(s, d).where(col("doc_id") < 300),
          len = 30, dfCap = 1000)
        .orderBy(col("d1"), col("d2"))),

    // the winnowed (MOSS) span-dedup scale path, exercised end-to-end with
    // a planted-clone completeness witness: every eligible doc gets a clone
    // (id + 100000) sharing EXACTLY a 37-char-or-longer span — the
    // len + window - 1 winnowing-guarantee threshold — wrapped in per-doc
    // unique junk. The query returns the planted pairs the winnowed index
    // detects; the guarantee makes that one row per eligible doc. Hash-
    // exact: the winnow selection keys on md5 (identical in DuckDB — the
    // oracle replays the whole selection with a window function), so the
    // shared-selected-span COUNTS match too, not just the pair set. Same
    // Σdf² join envelope as q_llm_span_dedup on a ~window/2× smaller
    // index — the 100 TB story, driver-visible and oracle-checked.
    "q_llm_span_winnowed" -> ((s, d) => {
      val base = Tables.documents(s, d)
        .where(col("doc_id") < 250 && length(col("text")) >= 47)
        .select(col("doc_id"), col("text"))
      val clones = base.select(
        (col("doc_id") + 100000).as("doc_id"),
        concat(lit("CLONE<"), col("doc_id").cast("string"), lit(">"),
          expr("substring(text, 11, 60)"),
          lit("<"), col("doc_id").cast("string"), lit(">END")).as("text"))
      CorpusOps.spanPairsWinnowed(base.unionByName(clones),
          len = 30, window = 8, dfCap = 1000, hashFn = "md5")
        .where(col("d2") === col("d1") + 100000)
        .orderBy(col("d1"))
    }),

    // benchmark decontamination: corpus docs sharing any 5-token gram with
    // the (small, broadcast) eval set — the standard pre-training hygiene
    // step; the corpus side never shuffles.
    "q_llm_contamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      CorpusOps.contamination(docs.where(col("doc_id") >= 20),
          docs.where(col("doc_id") < 20), n = 5)
        .orderBy(col("doc_id"))
    }),

    // deterministic train/val/test split from a digest of the normalized
    // text: exact duplicates land in one split by construction.
    "q_llm_split" -> ((s, d) =>
      CorpusOps.splitAssign(Tables.documents(s, d)).orderBy(col("doc_id"))),

    // stratified mixture sampling — per-language epoch rates (en 1.5×,
    // de 0.25×, fr 2×, zh dropped, rest 1×). Bernoulli draws are hex-prefix
    // string compares, so the oracle reproduces the exact sample.
    "q_llm_mixture" -> ((s, d) =>
      CorpusOps.mixtureSample(Tables.documents(s, d), "lang",
          Map("en" -> 1.5, "de" -> 0.25, "fr" -> 2.0, "zh" -> 0.0),
          defaultRate = 1.0, salt = "mix1")
        .orderBy(col("doc_id"), col("copy"))),

    // C4-style global segment dedup: every repeat of a 10-token chunk
    // beyond its first corpus-wide occurrence is removed and documents are
    // reassembled from the survivors (151 duplicate occurrences in this
    // corpus at sf0.01 — the op does real work here).
    "q_llm_segdedup" -> ((s, d) =>
      CorpusOps.segmentDedup(
          CorpusOps.tokenChunks(Tables.documents(s, d), k = 10))
        .orderBy(col("doc_id"))),

    // LM perplexity quality scoring: unigram add-0.5 LM trained on docs
    // < 100, scoring the rest — the CCNet wiki-LM filter shape. Broadcast
    // LM join + one per-doc aggregate.
    "q_llm_perplexity" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      CorpusOps.lmPerplexity(docs.where(col("doc_id") >= 100),
          docs.where(col("doc_id") < 100), k = 0.5)
        .orderBy(col("doc_id"))
    }),

    // bigram LM perplexity with Jelinek-Mercer interpolation (λ=0.7 bigram
    // MLE + 0.3 add-k unigram floor): the next-order CCNet-style filter.
    // Same broadcast-LM scoring shape as the unigram op, one order up.
    "q_llm_bigram_ppl" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      CorpusOps.bigramPerplexity(docs.where(col("doc_id") >= 100),
          docs.where(col("doc_id") < 100), lambda = 0.7, k = 0.5)
        .orderBy(col("doc_id"))
    }),

    // interpolated Kneser-Ney bigram perplexity (D=0.75 absolute discount,
    // continuation-probability backoff with the family's add-k floor) —
    // the production n-gram smoothing (CCNet ships KN KenLM models)
    "q_llm_kn_ppl" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      CorpusOps.knPerplexity(docs.where(col("doc_id") >= 100),
          docs.where(col("doc_id") < 100), discount = 0.75, k = 0.5)
        .orderBy(col("doc_id"))
    }),

    // per-source perplexity-quantile cut: each source keeps its docs at
    // or below its OWN p75 perplexity — the CCNet per-bucket filter shape
    // (a global cut would gut specialist sources whose baseline ppl runs
    // high); one percentile aggregate per source, broadcast back
    "q_llm_ppl_cut" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val scored = CorpusOps.lmPerplexity(docs.where(col("doc_id") >= 100),
          docs.where(col("doc_id") < 100), k = 0.5)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
      val thr = scored.groupBy(col("source"))
        .agg(expr("percentile(ppl, 0.75)").as("thr"))
      scored.join(broadcast(thr), "source")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("ppl") <= col("thr"), 1L).otherwise(0L)).as("n_kept"),
          (floor(max(col("thr")) * 1e4 + lit(0.5)) / 1e4).as("p75"))
        .orderBy(col("source"))
    }),

    // sequence packing into 2048-token training shards: start-offset
    // assignment over a parallel prefix sum (per-bucket windows + broadcast
    // bucket offsets — never a single-partition global window). The oracle
    // verifies with the equivalent single global window.
    "q_llm_pack" -> ((s, d) =>
      CorpusOps.packShards(Tables.documents(s, d), budgetTokens = 2048L)
        .orderBy(col("doc_id"))),

    // fill-in-the-middle splits (hash-exact: integer hex-digit span
    // arithmetic reproduces in DuckDB; fingerprints keep rows small).
    "q_llm_fim" -> ((s, d) =>
      CorpusOps.fimSplit(Tables.documents(s, d).where(col("doc_id") < 500))
        .select(col("doc_id"), length(col("prefix")).as("n_prefix"),
          length(col("middle")).as("n_middle"),
          length(col("suffix")).as("n_suffix"),
          md5(col("middle")).as("mid_fp"))
        .orderBy(col("doc_id"))),

    // character-entropy quality signal (gibberish high / templates low),
    // computed as ln n − Σc·ln c / n with identical algebra in the oracle.
    "q_llm_entropy" -> ((s, d) =>
      CorpusOps.charEntropy(Tables.documents(s, d).where(col("doc_id") < 500))
        .orderBy(col("doc_id"))),

    // deflate compression-ratio quality signal (repetition/boilerplate
    // detector). Engine-pinned (no SQL deflate) — rows-only; monotonicity
    // on repetitive vs organic text pinned in CorpusOpsSpec.
    "q_llm_compress_ratio" -> ((s, d) =>
      CorpusOps.compressionRatio(
          Tables.documents(s, d).where(col("doc_id") < 500))
        .orderBy(col("doc_id"))),

    // balanced exact-size eval carving: the md5-smallest 10 docs per
    // language with a deterministic rank — hash-prefix cut + exact rank
    // (falls back to full rank only if a stratum comes up short).
    // Hash-exact: the oracle ranks the full corpus, which the cut
    // provably reproduces.
    "q_llm_sample_balanced" -> ((s, d) =>
      CorpusOps.balancedSample(Tables.documents(s, d), stratum = "lang",
          k = 10)
        .orderBy(col("lang"), col("rank"))),

    // temperature (α=0.3) language re-sampling to a 50% target — the
    // mT5/XLM-R multilingual recipe: rates ∝ n_l^α/n_l, 4dp-rounded (pow
    // ulp differences die in the rounding), drawn by the same hex-compare
    // machinery as q_llm_mixture so the oracle reproduces the exact
    // sample including replicated low-resource copies.
    "q_llm_temp_mixture" -> ((s, d) =>
      CorpusOps.temperatureMixture(Tables.documents(s, d), stratum = "lang",
          alpha = 0.3, targetFraction = 0.5, maxRate = 4.0)
        .orderBy(col("doc_id"), col("copy"))),

    // corpus data card: per-(source, lang) release stats — doc/token
    // counts, token-length percentiles, exact-duplicate rate. One group
    // shuffle; hash-exact (percentile ≡ quantile_cont, digests ≡ md5).
    "q_llm_datacard" -> ((s, d) =>
      CorpusOps.corpusStats(Tables.documents(s, d))
        .orderBy(col("source"), col("lang"))),

    // length-bucketed inference batching: sort by token count, batch 32
    // neighbours, report per-batch padding waste — the dynamic-batching
    // step in front of batched model inference. Hash-exact: rank + batch
    // arithmetic replays as one DuckDB window.
    "q_llm_length_batches" -> ((s, d) =>
      CorpusOps.lengthBatches(Tables.documents(s, d), batchSize = 32)
        .orderBy(col("batch"))),

    // token-stream packing WITH straddler splitting (the GPT-style cut:
    // every shard except the last holds exactly 2048 tokens, documents
    // crossing a cut emit one row per touched shard with their doc-local
    // token interval). Hash-exact: the same prefix sum + interval
    // arithmetic replays in DuckDB with a window + generate_series.
    "q_llm_pack_split" -> ((s, d) =>
      CorpusOps.packTokenStream(Tables.documents(s, d), budgetTokens = 2048L)
        .orderBy(col("doc_id"), col("shard"))),

    // epoch-shuffled packing: the training-consumption order — a
    // deterministic md5(salt:doc_id) permutation packed into 2048-token
    // shards by hash-prefix buckets + broadcast prefix offsets. The oracle
    // verifies against the equivalent single global window over the same
    // key order.
    "q_llm_shuffle_pack" -> ((s, d) =>
      CorpusOps.shuffledPack(Tables.documents(s, d), budgetTokens = 2048L,
          salt = "epoch0")
        .orderBy(col("doc_id"))),

    // BPE tokenizer training: 16 merge rules learned from corpus word
    // frequencies. The word count is the only Spark work; the merges are
    // learned on the driver from its collected vocabulary-sized table, with
    // no job per merge. Deterministic tiebreak. Hash-exact
    // since round 9: the oracle runs the SAME training loop as a DuckDB
    // recursive CTE (bpeTrainOracle below); CorpusOpsSpec additionally pins
    // it against an independent reference implementation.
    "q_llm_bpe" -> ((s, d) =>
      CorpusOps.bpeTrain(Tables.documents(s, d), nMerges = 16)),

    // Count-Min heavy hitters: frequency estimates for the exact top-10
    // tokens from a 4×1024 CMS built in ONE partial+final aggregate (32 KiB
    // buffer per partition, no per-key shuffle — the sketch that replaces a
    // full-vocabulary groupBy at 100 TB; the exact groupBy here is the
    // ground truth it's judged against). Rows-only; SketchesSpec pins the
    // ≥-exact guarantee, the ε·n error bound, and merge invariance.
    "q_llm_heavy_hitters" -> ((s, d) => {
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select(explode(expr("filter(split(text, ' '), t -> t <> '')"))
          .as("token"))
      val row = toks
        .select(graft.functions.Sketches.countMin(col("token")).as("c"))
        .select(col("c.depth"), col("c.width"), col("c.table"), col("c.n"))
        .collect()(0)
      val sk = graft.functions.Sketches.Cms(row.getInt(0), row.getInt(1),
        row.getSeq[Long](2), row.getLong(3))
      val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("token").asc).limit(10).collect()
      exact.zipWithIndex.map { case (r, i) =>
        (i + 1, r.getString(0), r.getLong(1), sk.estimate(r.getString(0)))
      }.toSeq.toDF("rn", "token", "n_exact", "n_cms")
    }),

    // BPE tokenizer APPLICATION: train 16 merges, then tokenize the corpus
    // with them — (doc_id, token count, sequence fingerprint). Hash-exact
    // since round 9: the greedy merge fold DOES have a SQL twin (the
    // gaps-and-islands window form, bpeMergeApplySql); CorpusOpsSpec
    // additionally pins the sequences against the reference implementation.
    "q_llm_bpe_encode" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = CorpusOps.bpeTrain(docs, nMerges = 16).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      CorpusOps.bpeEncode(docs, merges)
        .select(col("doc_id"), size(col("toks")).as("n_bpe_toks"),
          md5(concat_ws(" ", col("toks"))).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // the production-vocab BPE apply path: mapPartitions + pair trie +
    // lowest-rank-first loop instead of a per-merge chained HOF fold (a
    // 50k-merge vocabulary would compile a 50k-deep expression). Same
    // output shape as q_llm_bpe_encode; CorpusOpsSpec pins token-sequence
    // parity between the two paths and a shuffle-free plan.
    "q_llm_bpe_trie" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val merges = CorpusOps.bpeTrain(docs, nMerges = 16).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      CorpusOps.bpeEncodeTrie(docs, merges)
        .select(col("doc_id"), size(col("toks")).as("n_bpe_toks"),
          md5(concat_ws(" ", col("toks"))).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // hashed linear quality-classifier inference (fastText-shaped): md5
    // two-hex-digit feature buckets, dyadic fixture weights exact in both
    // engines, sigmoid score rounded to 4dp.
    "q_llm_classifier" -> ((s, d) =>
      CorpusOps.hashedLinearScore(Tables.documents(s, d),
          CorpusOps.fixtureWeights(), bias = 0.125)
        .orderBy(col("doc_id"))),

    "q_llm_repetition" -> ((s, d) => {
      val docs = Tables.documents(s, d).withColumn("sp", split(col("text"), " "))
      val tokStats = docs
        .select(col("doc_id"), explode(col("sp")).as("tok"))
        .where(col("tok") =!= "")
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(
          sum(col("c")).as("n_tok"), max(col("c")).as("top_tok"),
          count(lit(1)).as("n_dist"))
      val bgStats = docs
        .select(col("doc_id"), explode(expr(
          """CASE WHEN size(sp) >= 2
               THEN transform(sequence(1, size(sp) - 1),
                      i -> concat(element_at(sp, i), ' ', element_at(sp, i + 1)))
               ELSE array() END""")).as("bg"))
        .groupBy(col("doc_id")).agg(
          count(lit(1)).as("n_bg"), count_distinct(col("bg")).as("bg_dist"))
      tokStats.join(bgStats, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tok"),
          (floor((lit(1.0) - col("n_dist").cast("double") / col("n_tok")) * 10000 + 0.5) / 10000)
            .as("dup_tok_frac"),
          (floor(col("top_tok").cast("double") / col("n_tok") * 10000 + 0.5) / 10000)
            .as("top_tok_frac"),
          when(col("n_bg") > 0,
            floor((lit(1.0) - col("bg_dist").cast("double") / col("n_bg")) * 10000 + 0.5) / 10000)
            .otherwise(lit(0.0)).as("dup_bigram_frac"))
        .orderBy(col("doc_id"))
    }),

    // Blocklist curation via Aho–Corasick (round 13): k phrases matched
    // in ONE automaton pass per document — the C4/Dolma blocklist step,
    // where a k-way regex alternation backtracks per position per branch
    // and a per-phrase contains() pass scans the corpus k times. The
    // automaton builds once per executor from the broadcast phrase list;
    // matching is a map-side column, no shuffle. Result: per-lang doc
    // counts, blocked counts (≥1 distinct phrase), and the total
    // distinct-phrases-per-doc sum — hash-exact vs DuckDB's contains()
    // join (DISTINCT-phrase semantics make overlap counting portable).
    "q_llm_blocklist" -> ((s, d) => {
      val phrases = Seq("scan slow", "slow fast", "fast table",
        "vector", "merge batch")
      graft.operators.Blocklist.annotate(
          Tables.documents(s, d), "text", phrases)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("blocked_terms") > 0, 1)).as("n_blocked"),
          sum(col("blocked_terms")).cast("long").as("sum_terms"))
        .orderBy(col("lang"))
    }),

    // PII detection + redaction: email/phone regex families. The corpus has
    // no PII (verified: zero digits or '@'), so the query deterministically
    // PLANTS a synthetic email+phone into every 20th document in BOTH
    // engines — the check is non-vacuous by construction (25 docs hit, 475
    // prove no false positives). Patterns avoid backslash escapes so the
    // same literal parses identically in Spark SQL and DuckDB/RE2.
    "q_llm_pii" -> ((s, d) => {
      val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+"
      val phoneRe = "[0-9]{3}-[0-9]{4}"
      Tables.documents(s, d)
        .withColumn("t2", concat(col("text"),
          when(col("doc_id") % 20 === 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com or call 555-"),
              lpad((col("doc_id") % 100).cast("string"), 4, "0")))
            .otherwise(lit(""))))
        .select(col("doc_id"),
          size(expr(s"regexp_extract_all(t2, '$emailRe', 0)")).as("n_emails"),
          size(expr(s"regexp_extract_all(t2, '$phoneRe', 0)")).as("n_phones"),
          md5(regexp_replace(regexp_replace(col("t2"), emailRe, "<EMAIL>"),
            phoneRe, "<PHONE>")).as("redacted_md5"))
        .orderBy(col("doc_id"))
    }),

    // MinHash+LSH near-dup candidates (rows-only driver check; the
    // recall/precision property vs exact Jaccard is asserted in DedupSpec)
    "q_llm_minhash_pairs" -> ((s, d) =>
      Dedup.minhashLsh(
          Tables.documents(s, d).where(col("doc_id") < 500),
          w = 3, k = 64, bands = 16, threshold = 0.35)
        .orderBy(col("d1"), col("d2"))),

    // SimHash near-dup pairs at the corpus-scale operating point: maxDist=3
    // ⇒ 4×16-bit chunks ⇒ ~65k join keys per chunk_no, so buckets stay
    // near-singleton at any n (rows-only; DedupSpec asserts the blocking is
    // candidate-COMPLETE by pigeonhole for the shipped bound and bounds the
    // bucket fan-out — wider bounds shrink the key space exponentially and
    // degenerate to brute force, see Dedup.simhashPairs)
    "q_llm_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(
          Tables.documents(s, d).where(col("doc_id") < 500), maxDist = 3)
        .orderBy(col("d1"), col("d2"))),

    // embedding-cosine near-dup via hyperplane-LSH buckets (vector-space
    // dedup variant of minhashLsh). Hash-exact vs the constant-hyperplane
    // CTE oracle (embDupOracle). The fixture corpus has no
    // true near-dups (max pairwise cosine ≈0.6), which would make a 0-row
    // check vacuous — so the query plants exact copies of vec_id<5 under
    // shifted ids: identical vectors hash to the same bucket in EVERY
    // table, so the 5 (i, i+1000000) pairs at cos 1.0 are a deterministic
    // self-check that detection actually happens. (Recall/precision against
    // brute force is property-tested in DedupSpec with planted cos≈0.99
    // pairs.)
    "q_llm_embdup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val planted = emb.where(col("vec_id") < 5)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      Dedup.embeddingNearDup(emb.unionByName(planted), threshold = 0.9)
        .orderBy(col("d1"), col("d2"))
    }),

    // SemDeDup semantic dedup (Abbas et al.'23): k-means clusters bound the
    // pairwise cosine to Σ cluster², keep-first within duplicate pairs.
    // Same planted exact copies as q_llm_embdup so drops deterministically
    // occur (identical vectors share a cluster at cos 1.0); full roster
    // (vec_id, cid, kept) output. Hash-exact vs the planted-corpus Lloyd
    // CTE oracle (semDedupOracle); DedupSpec additionally pins drop-set
    // parity with a local recompute.
    "q_llm_semdedup" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val planted = emb.where(col("vec_id") < 5)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      Dedup.semanticDedup(emb.unionByName(planted), threshold = 0.95,
          nClusters = 8, iters = 2)
        .orderBy(col("vec_id"))
    }),

    // approximate nearest neighbors via random-hyperplane LSH. Hash-exact:
    // the deterministic splitmix hyperplanes are emitted as a constant
    // table in the generated oracle (annLshOracle); recall vs brute force
    // additionally asserted in SimilaritySpec
    "q_llm_ann_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopK(
          emb.where(col("vec_id") < 10), emb, k = 5, dim = 64)
        .orderBy(col("qid"), col("rn"))
    }),

    // approximate nearest neighbors via IVF coarse quantization. Hash-exact
    // vs the unrolled Lloyd+probe CTE oracle (annIvfOracle); recall +
    // exactness-at-full-probe additionally asserted in SimilaritySpec. The
    // second ANN family next to LSH: stored inverted lists partition the
    // corpus, queries probe nProbe/nCentroids of it.
    // (iters=1 here: each extra Lloyd step is a full driver-side job + a
    // fresh codegen compile of the centroid-literal scorer — fixed cost that
    // dwarfs this corpus; SimilaritySpec exercises iters=2 and shows recall
    // is already met at one step)
    "q_llm_ann_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Ivf.ivfTopK(emb.where(col("vec_id") < 10), emb,
          k = 5, nCentroids = 16, nProbe = 8, iters = 1)
        .orderBy(col("qid"), col("rn"))
    }),

    // product-quantization ANN: 32 sub-codebooks of 16 centroids train on
    // the bounded sample, vectors encode to 32 nibble codes (16 bytes —
    // 16× compression vs raw floats), queries ADC-score the codes table
    // without decoding. Full-entropy synthetic vectors are PQ's worst
    // case, hence many narrow subspaces; real embeddings (low intrinsic
    // dim) compress harder. Hash-exact vs the per-subspace-Lloyd CTE
    // oracle (annPqOracle); PqSpec additionally pins recall ≥ 0.5 vs brute
    // force, local argmin-L2 encode parity, and quantization-error bounds.
    "q_llm_ann_pq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val model = Pq.train(emb, dim = 64, m = 32, ksub = 16, iters = 2)
      val codes = Pq.encode(emb, model)
      Pq.adcTopK(emb.where(col("vec_id") < 10), codes, model, k = 5)
        .orderBy(col("qid"), col("rn"))
    }),

    // END-TO-END pre-training pipeline — the whole corpus-prep flow as ONE
    // composed query, every stage an operator that is individually
    // oracle-exact, so the composition stays hash-exact: quality filter →
    // exact dedup (keep-first) → benchmark decontamination (5-gram vs the
    // eval slice) → split assignment (keep train) → pack into 2048-token
    // shards. Output: the final training-shard layout (doc_id, n_tokens,
    // shard, offset).
    "q_llm_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val eval = docs.where(col("doc_id") < 20)
      val corpus = docs.where(col("doc_id") >= 20)
      val quality = corpus.where(col("n_chars").between(50, 5000))
      val w = Window.partitionBy(Dedup.normDigest(col("text")))
        .orderBy(col("doc_id"))
      val deduped = quality.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1).drop("rn")
      val flagged = CorpusOps.contamination(deduped, eval, n = 5)
        .select(col("doc_id"))
      val clean = deduped.join(flagged, Seq("doc_id"), "left_anti")
      // packShards drives 3 actions (bounds, bucket sums, result); eagerly
      // materialize the survivors once so the filter→dedup→decontaminate
      // chain doesn't recompute per action — the same stage checkpoint a
      // production pipeline would persist between phases anyway
      val train = clean
        .where(CorpusOps.splitColumn(col("text")) === "train")
        .select(col("doc_id"), col("text"))
        .graftCheckpoint(true)
      CorpusOps.packShards(train, 2048L)
        .orderBy(col("doc_id"))
    }),

    // IVF+PQ composition (the FAISS IVFPQ shape): coarse-assign + encode
    // in one pass, probe 8/16 lists per query, ADC-score the compressed
    // codes inside probed lists only. Equi-join on cid — no cross join.
    // Hash-exact vs the composed Lloyd+PQ CTE oracle (annIvfPqOracle);
    // PqSpec additionally pins recall + full-probe ≡ plain-ADC parity.
    "q_llm_ann_ivfpq" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Pq.ivfPqTopK(emb.where(col("vec_id") < 10), emb, k = 5, dim = 64,
          nCentroids = 16, nProbe = 8, m = 32, ksub = 16, iters = 2)
        .orderBy(col("qid"), col("rn"))
    }),

    // PERSISTED IVFPQ: build the at-rest index once — (cid, vid, codes)
    // partitionBy(cid), the FAISS on-disk layout — then probe the STORED
    // table: the query batch's probe-cid set becomes a static partition
    // filter, so Catalyst prunes unprobed list directories at plan time
    // (PqSpec asserts the executed scan touches only probed partitions).
    // 32 lists / 4 probes per query: the scan reads ~⅛ of an index that is
    // itself 16× smaller than the raw vectors. Hash-exact via the same
    // composed CTE oracle as the in-memory variant (stored ≡ in-memory,
    // which PqSpec additionally pins on identical (cents, model)).
    "q_llm_ann_ivfpq_disk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
      val cents = Ivf.trainCentroids(emb, nCentroids = 32, iters = 1)
      val model = Pq.train(emb, dim = 64, m = 32, ksub = 16, iters = 1)
      Pq.writeCodes(emb, cents, model, tmp)
      Pq.ivfPqTopKStored(emb.where(col("vec_id") < 5), tmp, cents, model,
          k = 5, nProbe = 4)
        .orderBy(col("qid"), col("rn"))
    }),

    // brute-force cosine top-5 for query vectors 0..9 (Q-LLM-2), via the
    // native codegen'd dot product (bit-compatible with the HOF formulation
    // the DuckDB oracle mirrors — proven in CosineSimSpec); ranked on the
    // ROUNDED cosine with vec_id tiebreak so both engines rank identically
    "q_llm_sim_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb.where(col("vec_id") < 10), emb, k = 5)
        .orderBy(col("qid"), col("rn"))
    }),

    // TF-IDF keyword extraction: top-5 terms per doc, score rounded to 4dp
    // BEFORE ranking so both engines rank identically; term-ascending
    // tiebreak. df join broadcasts (vocabulary-sized table).
    "q_llm_tfidf" -> ((s, d) =>
      CorpusOps.tfIdf(Tables.documents(s, d), topK = 5)
        .orderBy(col("doc_id"), col("rn"))),

    // PMI association mining: co-occurrence of the top-150 vocabulary
    // within documents, pairs in ≥5 docs
    // skip-gram (center, context) pair counts, window ±2 — the word2vec
    // embedding-training input stage; positional band self-join, never
    // tokens² (pairs ≥ 25 keep the driver hash bounded)
    "q_llm_skipgrams" -> ((s, d) =>
      CorpusOps.skipGrams(Tables.documents(s, d), window = 2,
          minCount = 25)
        .orderBy(col("center"), col("context"))),

    "q_llm_pmi" -> ((s, d) =>
      CorpusOps.pmiPairs(Tables.documents(s, d), topVocab = 150,
          minPairCount = 5)
        .orderBy(col("t1"), col("t2"))),

    // incremental ingest dedup — the continuous-crawl shape: docs >= 250
    // arrive as a new batch and dedup against the digest set of the already
    // ingested corpus (docs < 250), then within-batch keep-first.
    "q_llm_incr_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val existing = docs.where(col("doc_id") < 250)
        .select(Dedup.normDigest(col("text")).as("h")).distinct()
      CorpusOps.incrementalDedup(docs.where(col("doc_id") >= 250), existing)
        .orderBy(col("doc_id"))
    }),

    // hashed-classifier TRAINING (full-batch logistic GD, 4 steps): the
    // learned 256-bucket weight table, rounded to 6dp. Hash-exact vs the
    // unrolled 4-step GD CTE oracle (clfTrainOracle — the 6dp rounding
    // absorbs sum-order ulps); CorpusOpsSpec additionally pins loss
    // descent, label separation, and parity with a local reference GD.
    "q_llm_clf_train" -> ((s, d) => {
      import s.implicits._
      val (w, _, _) = CorpusOps.trainHashedClassifier(
        Tables.documents(s, d), col("lang") === "en", steps = 4, lr = 4.0)
      w.toSeq.zipWithIndex
        .map { case (wt, b) => (b, math.floor(wt * 1e6 + 0.5) / 1e6) }
        .toDF("b", "weight").orderBy(col("b"))
    }),

    // k-means clustering over the embedding table (Lloyd via the bounded
    // training sample + typed vector-sum aggregator — the IVF coarse
    // quantizer exposed as a clustering op): cluster id → member count.
    // Hash-exact vs the unrolled 2-step Lloyd CTE oracle (kmeansOracle —
    // the engine's per-component .toFloat rounding makes the centroid
    // chain engine-independent); SimilaritySpec additionally asserts
    // assignment ≡ local nearest-centroid.
    "q_llm_kmeans" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val cents = Ivf.trainCentroids(emb, nCentroids = 8, iters = 2)
      Ivf.assign(emb, cents)
        .groupBy(col("cid")).agg(count(lit(1)).as("n_members"))
        .orderBy(col("cid"))
    }),

    // PCA: fit 8 components on the 64-dim embeddings (one-pass distributed
    // gram aggregate + driver Jacobi eigensolve), project every vector.
    // Rows-only; PcaSpec pins orthonormality, variance ordering, and parity
    // with a local eigensolve. Output is FLATTENED to scalar columns
    // pc1..pc8 — the driver's rows-only canonicalizer sorts with pandas,
    // which cannot factorize array cells (round-5 red row).
    "q_llm_pca" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val model = Pca.fit(emb, k = 8, dim = 64)
      val flat = (0 until 8).map(i => col("pc").getItem(i).as(s"pc${i + 1}"))
      Pca.project(emb, model)
        .select(col("vec_id") +: flat: _*)
        .orderBy(col("vec_id"))
    }),

    // unigram-LM tokenizer training (SentencePiece's EM half, Kudo 2018)
    // — the second major tokenizer family next to BPE. Distributed E-step
    // over the distinct-word table with the piece model broadcast;
    // driver-sized M-step. Rows-only (iterative float EM); planted-piece
    // discovery, exact posteriors and lossless encode in CorpusOpsSpec.
    "q_llm_unigram" -> ((s, d) =>
      CorpusOps.unigramTrain(
          Tables.documents(s, d).where(col("doc_id") < 300)
            .select(col("doc_id"), col("text")),
          vocabSize = 256, maxPieceLen = 5, iters = 2)
        .orderBy(col("rank"))),

    // Viterbi encode with the trained unigram vocab: model collects
    // (256 rows, bounded) and broadcasts; one distributed pass segments
    // every doc. Rows-only; losslessness pinned in CorpusOpsSpec.
    "q_llm_unigram_encode" -> ((s, d) => {
      val train = Tables.documents(s, d).where(col("doc_id") < 300)
        .select(col("doc_id"), col("text"))
      val model = CorpusOps.unigramTrain(train, vocabSize = 256,
          maxPieceLen = 5, iters = 2)
        .collect().map(r => r.getString(1) -> math.exp(r.getDouble(2)))
        .toMap
      CorpusOps.unigramEncode(
          Tables.documents(s, d).where(col("doc_id") < 200)
            .select(col("doc_id"), col("text")),
          model, maxPieceLen = 5)
        .select(col("doc_id"), col("n_pieces"))
        .orderBy(col("doc_id"))
    }),

    // BLEU-style clipped n-gram precision (n=1,2) scoring each doc against
    // its successor as reference — integer clipped/total counts, one final
    // long/long division (IEEE-identical cross-engine). The pair set is
    // the aligned-pair shape a generation-eval pipeline brings pre-blocked.
    "q_llm_bleu" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val ids = docs.select(col("doc_id"))
      val pairs = ids
        .select(col("doc_id").as("cand_id"),
          (col("doc_id") + lit(1L)).as("ref_id"))
        .join(ids.select(col("doc_id").as("ref_id")), Seq("ref_id"))
        .select(col("cand_id"), col("ref_id"))
      CorpusOps.clippedNgramPrecision(docs, pairs, maxN = 2)
        .orderBy(col("cand_id"), col("n"))
    }),

    // ROUGE-L via the native lcs_len codegen Expression (O(n·m) DP kernel,
    // token count capped at 200 so per-pair cost is a constant): P/R from
    // the LCS, F1 = 2·lcs/(n_cand+n_ref) — all integer-derived divisions.
    // Hash-exact since round 9: the oracle runs the SAME DP as a DuckDB
    // recursive CTE (one iteration per candidate token; each row update
    // uses the prefix-max reformulation C[j] = max(P[j], prefixmax over
    // matches of P[k-1]+1), computable with one window). StringSimSpec
    // additionally pins the DP on textbook vectors.
    "q_llm_rouge" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        expr("slice(filter(split(text, ' '), t -> t <> ''), 1, 200)")
          .as("toks"))
      val cand = docs.select(col("doc_id").as("cand_id"), col("toks").as("ct"))
      val ref = docs.select((col("doc_id") - lit(1L)).as("cand_id"),
        col("toks").as("rt"))
      cand.join(ref, "cand_id")
        .select(col("cand_id"), expr("lcs_len(ct, rt)").as("lcs"),
          size(col("ct")).as("n_cand"), size(col("rt")).as("n_ref"))
        .where(col("n_cand") > 0 && col("n_ref") > 0)
        .select(col("cand_id"), col("lcs"), col("n_cand"), col("n_ref"),
          (col("lcs").cast("double") / col("n_cand")).as("p"),
          (col("lcs").cast("double") / col("n_ref")).as("r"),
          (lit(2.0) * col("lcs") / (col("n_cand") + col("n_ref"))).as("f1"))
        .orderBy(col("cand_id"))
    })
  )

  /** BPE oracles as generated DuckDB SQL (round 9) — the recursive-CTE
    * technique that made q_llm_rouge hash-exact, applied to the full BPE
    * loop. One recursion runs TRAINING (each iteration: adjacent-pair
    * count over the word table, argmax with the engine's (count desc, l,
    * r) tie-break, greedy leftmost merge application), a second applies
    * the learned merges rank-by-rank to the distinct vocabulary for the
    * ENCODE twin. The greedy fold (`aggregate` in the engine) is
    * re-expressed relationally: a merge's match positions can only
    * overlap inside same-symbol runs, so "leftmost non-overlapping" =
    * keep matches at even offsets within each consecutive-match run —
    * one gaps-and-islands window per word update. */
  private def bpeMergeApplySql(syms: String, l: String, r: String): String =
    s"""(SELECT coalesce(list(CASE WHEN keep THEN $l || $r ELSE s END ORDER BY j), [])
       FROM (
         SELECT j, s, keep,
                coalesce(lag(keep) OVER (ORDER BY j), false) AS consumed
         FROM (
           SELECT j, s, m,
                  (m AND (j - min(CASE WHEN m THEN j END)
                            OVER (PARTITION BY grp)) % 2 = 0) AS keep,
                  grp
           FROM (
             SELECT j, s, m,
                    sum(CASE WHEN m THEN 0 ELSE 1 END) OVER (ORDER BY j
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
             FROM (
               SELECT j, $syms[j] AS s,
                      (j < len($syms) AND $syms[j] = $l
                       AND $syms[j+1] = $r) AS m
               FROM (SELECT unnest(range(1, len($syms) + 1)) AS j)))))
       WHERE NOT consumed)"""

  private val bpeTopPairSql: String =
    """(SELECT pl, pr, c FROM (
      SELECT p.pl AS pl, p.pr AS pr, sum(freq) AS c FROM (
        SELECT unnest(list_transform(range(1, len(syms)),
                 i -> {'pl': syms[i], 'pr': syms[i+1]})) AS p,
               freq
        FROM bpe WHERE kind = 'w' AND len(syms) >= 2)
      GROUP BY 1, 2
      ORDER BY c DESC, pl ASC, pr ASC LIMIT 1))"""

  /** words0 + the training recursion; shared by all three BPE oracles. */
  private def bpeTrainCtes(nMerges: Int): String =
    s"""words0 AS (
      SELECT list_append(regexp_split_to_array(w, ''), '</w>') AS syms,
             CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
            FROM documents)
      GROUP BY 1),
    bpe AS (
      SELECT 0 AS it, 'w' AS kind, syms, freq,
             CAST(NULL AS VARCHAR) AS l, CAST(NULL AS VARCHAR) AS r,
             CAST(NULL AS BIGINT) AS c
      FROM words0
      UNION ALL
      (
        SELECT t.it + 1, 'w',
          ${bpeMergeApplySql("t.syms", "tp.pl", "tp.pr")},
          t.freq, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
          CAST(NULL AS BIGINT)
        FROM bpe t CROSS JOIN $bpeTopPairSql tp
        WHERE t.kind = 'w' AND t.it < $nMerges
        UNION ALL
        SELECT t2.mit + 1, 'm', NULL, NULL, tp2.pl, tp2.pr, tp2.c
        FROM (SELECT max(it) AS mit FROM bpe WHERE kind = 'w') t2
             CROSS JOIN $bpeTopPairSql tp2
        WHERE t2.mit < $nMerges
      )
    )"""

  // ---- k-means oracle (unrolled Lloyd, the PageRank/BPE technique) ----
  // Exactly replicates Ivf.trainCentroids + Ivf.assign at catalog scale:
  // the hash training sample is the FULL table (≤2000 rows « 65536 cap →
  // modulus 1), init = 8 lowest vec_ids, 2 Lloyd steps. Cross-engine
  // float parity holds because every centroid component passes through
  // CAST(… AS FLOAT) exactly where the engine calls .toFloat — the float
  // rounding quantizes away the sum-order ulps of both engines' double
  // accumulations (flip probability ~2^-29 per component), and the
  // assignment argmax compares dots that differ far above ulp scale.

  /** Renormalize per-cid (i, f) float components: L2 norm in double,
    * divide, round back to float — Ivf.normalize verbatim. */
  private def kmeansNormCte(src: String, out: String): String =
    s"""$out AS (
      SELECT cid, list(CAST(CAST(f AS DOUBLE) / norm AS FLOAT) ORDER BY i) AS cent
      FROM (SELECT cid, i, f,
              sqrt(SUM(CAST(f AS DOUBLE) * CAST(f AS DOUBLE)) OVER (PARTITION BY cid)) AS norm
            FROM $src)
      GROUP BY cid)"""

  /** Nearest-centroid assignment: argmax dot in double, ties → lowest
    * cid — the negated-id convention of Ivf.nearestCentroid. */
  private def kmeansAssignCte(cents: String, out: String): String =
    s"""$out AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
            list_sum(list_transform(list_zip(e.embedding, c.cent),
              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) DESC,
            c.cid ASC) AS rn
        FROM e, $cents c) WHERE rn = 1)"""

  /** Lloyd update: per-component double mean rounded to float; empty
    * clusters keep the previous centroid (then renormalize ALL — the
    * engine renormalizes kept centroids too). */
  private def kmeansUpdateCtes(assigned: String, prev: String,
                               meanOut: String, keptOut: String): String =
    s"""$meanOut AS (
      SELECT a.cid, i.i, CAST(SUM(CAST(e.embedding[i.i] AS DOUBLE)) / COUNT(*) AS FLOAT) AS f
      FROM $assigned a JOIN e USING (vec_id), idx i
      GROUP BY a.cid, i.i),
    $keptOut AS (
      SELECT p.cid, i.i, COALESCE(m.f, p.cent[i.i]) AS f
      FROM $prev p CROSS JOIN idx i
      LEFT JOIN $meanOut m ON m.cid = p.cid AND m.i = i.i)"""

  /** The shared Lloyd chain: e/idx/init/c0…c<iters> CTEs. Returns
    * (cte text, final-centroid table name). Generic over centroid count
    * and iteration count — kmeans (8, 2) and the IVF coarse quantizer
    * (16, 1) both unroll through it. */
  private def lloydCtes(nCentroids: Int, iters: Int,
                        corpus: String = "SELECT vec_id, embedding FROM embeddings")
      : (String, String) = {
    val init =
      s"""e AS ($corpus),
    idx AS (SELECT CAST(i AS INT) AS i FROM range(1, 65) t(i)),
    init_rows AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, embedding
      FROM (SELECT * FROM e ORDER BY vec_id LIMIT $nCentroids)),
    init_raw AS (
      SELECT cid, i.i, embedding[i.i] AS f FROM init_rows CROSS JOIN idx i),
    ${kmeansNormCte("init_raw", "c0")}"""
    val steps = (1 to iters).map { s =>
      s"""${kmeansAssignCte(s"c${s - 1}", s"a$s")},
    ${kmeansUpdateCtes(s"a$s", s"c${s - 1}", s"m$s", s"k$s")},
    ${kmeansNormCte(s"k$s", s"c$s")}"""
    }.mkString(",\n    ")
    (s"$init,\n    $steps", s"c$iters")
  }

  private def kmeansOracle: String = {
    val (ctes, cf) = lloydCtes(8, 2)
    s"""WITH $ctes,
    ${kmeansAssignCte(cf, "af")}
    SELECT cid, COUNT(*) AS n_members FROM af GROUP BY cid ORDER BY cid"""
  }

  /** q_llm_ann_ivf unrolled: 1-iteration Lloyd (16 cells) → per-query
    * 8-best probe cells (dot desc, cid-asc ties — the negated-id
    * convention) → candidates from the probed inverted lists → cosine
    * ROUNDed to 4dp (the same cross-engine quantizer q_llm_sim_topk's
    * oracle uses) → top-5 per query on (cos DESC, vid ASC). */
  private def annIvfOracle: String = {
    val (ctes, cf) = lloydCtes(16, 1)
    s"""WITH $ctes,
    ${kmeansAssignCte(cf, "af")},
    probes AS (
      SELECT qid, cid FROM (
        SELECT q.vec_id AS qid, c.cid,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
            list_sum(list_transform(list_zip(q.embedding, c.cent),
              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) DESC,
            c.cid ASC) AS pr
        FROM e q, $cf c WHERE q.vec_id < 10) WHERE pr <= 8),
    scored AS (
      SELECT p.qid, a.vec_id AS vid,
        ROUND(
          list_sum(list_transform(list_zip(q.embedding, v.embedding),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
        4) AS cos
      FROM probes p
      JOIN af a USING (cid)
      JOIN e q ON q.vec_id = p.qid
      JOIN e v ON v.vec_id = a.vec_id
      WHERE a.vec_id <> p.qid),
    ranked AS (
      SELECT qid, vid, cos, ROW_NUMBER() OVER
        (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS rn
      FROM scored)
    SELECT qid, CAST(rn AS INT) AS rn, vid, cos
    FROM ranked WHERE rn <= 5 ORDER BY qid, rn"""
  }

  // ---- PQ oracle (per-subspace Lloyd over scalar sub-columns) ----
  // q_llm_ann_pq unrolled: m=32 subspaces of dsub=2, so each subspace's
  // components are two scalar columns (x1, x2) — the whole per-subspace
  // k-means (ksub=16, 2 iterations), the argmax(x·c − ‖c‖²/2) encode
  // with lowest-code ties (PqEncode's convention), and the ADC scoring
  // all unroll without list machinery. Sub-centroid means pass through
  // CAST(… AS FLOAT) exactly where Pq.train calls .toFloat (NO
  // normalization — unlike the IVF coarse centroids), and the ADC sum
  // rounds to 4dp before ranking — the same cross-engine quantizers the
  // kmeans/sim_topk oracles rely on.

  /** Encode a sub-vector table against codebook `b`: per (vec_id, j) the
    * argmax_k of the adjusted dot, ties → lowest k. */
  private def pqEncodeCte(books: String, out: String): String =
    s"""$out AS (
      SELECT vec_id, j, k AS code FROM (
        SELECT s.vec_id, s.j, b.k,
          ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.j ORDER BY
            (s.x1 * CAST(b.f1 AS DOUBLE) + s.x2 * CAST(b.f2 AS DOUBLE)
             - (CAST(b.f1 AS DOUBLE) * CAST(b.f1 AS DOUBLE)
              + CAST(b.f2 AS DOUBLE) * CAST(b.f2 AS DOUBLE)) / 2) DESC,
            b.k ASC) AS rn
        FROM sub s JOIN $books b ON b.j = s.j) WHERE rn = 1)"""

  /** One Lloyd step over every subspace: per-(j, code) component means
    * (double sum / count, rounded to float), empty cells keep the
    * previous sub-centroid. */
  private def pqUpdateCtes(enc: String, prev: String, meanOut: String,
                           out: String): String =
    s"""$meanOut AS (
      SELECT en.j, en.code AS k,
             CAST(SUM(s.x1) / COUNT(*) AS FLOAT) AS f1,
             CAST(SUM(s.x2) / COUNT(*) AS FLOAT) AS f2
      FROM $enc en JOIN sub s ON s.vec_id = en.vec_id AND s.j = en.j
      GROUP BY en.j, en.code),
    $out AS (
      SELECT b.j, b.k, COALESCE(m.f1, b.f1) AS f1, COALESCE(m.f2, b.f2) AS f2
      FROM $prev b LEFT JOIN $meanOut m ON m.j = b.j AND m.k = b.k)"""

  /** The full PQ chain from an existing `e` CTE: subspace explode,
    * deterministic init, `iters` Lloyd steps, final corpus encode
    * (`encf` against `b<iters>`). */
  private def pqCtes(iters: Int): String = {
    val steps = (1 to iters).map { t =>
      s"""${pqEncodeCte(s"b${t - 1}", s"enc$t")},
    ${pqUpdateCtes(s"enc$t", s"b${t - 1}", s"mm$t", s"b$t")}"""
    }.mkString(",\n    ")
    s"""js AS (SELECT CAST(j AS INT) AS j FROM range(0, 32) t(j)),
    sub AS (
      SELECT vec_id, j,
             CAST(embedding[2 * j + 1] AS DOUBLE) AS x1,
             CAST(embedding[2 * j + 2] AS DOUBLE) AS x2
      FROM e, js),
    init16 AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT 16),
    b0 AS (
      SELECT s.j,
        CAST(row_number() OVER (PARTITION BY s.j ORDER BY s.vec_id) - 1 AS INT) AS k,
        CAST(s.x1 AS FLOAT) AS f1, CAST(s.x2 AS FLOAT) AS f2
      FROM sub s JOIN init16 USING (vec_id)),
    $steps,
    ${pqEncodeCte(s"b$iters", "encf")}"""
  }

  private def annPqOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
    ${pqCtes(2)}
    SELECT qid, CAST(rn AS INT) AS rn, vid, adc FROM (
      SELECT qid, vid, adc, ROW_NUMBER() OVER
        (PARTITION BY qid ORDER BY adc DESC, vid ASC) AS rn
      FROM (
        SELECT sq.vec_id AS qid, en.vec_id AS vid,
               ROUND(SUM(sq.x1 * CAST(b.f1 AS DOUBLE)
                       + sq.x2 * CAST(b.f2 AS DOUBLE)), 4) AS adc
        FROM sub sq
        JOIN encf en ON en.vec_id <> sq.vec_id AND en.j = sq.j
        JOIN b2 b ON b.j = en.j AND b.k = en.code
        WHERE sq.vec_id < 10
        GROUP BY sq.vec_id, en.vec_id))
    WHERE rn <= 5 ORDER BY qid, rn"""

  /** q_llm_ann_ivfpq (and its persisted twin) unrolled
    * (residual=false): the coarse quantizer from [[lloydCtes]] composes
    * with the PQ chain — candidates come from each query's probed
    * inverted lists, scores are the PQ ADC (base 0) rounded to 4dp.
    * The stored variant shares the oracle shape: PqSpec pins
    * stored ≡ in-memory on identical models, so only the parameters
    * (cells, Lloyd/PQ iterations, probes, query slice) differ. */
  private def annIvfPqOracle(nCentroids: Int, lloydIters: Int,
                             pqIters: Int, nProbe: Int,
                             maxQid: Int): String = {
    val (ctes, cf) = lloydCtes(nCentroids, lloydIters)
    s"""WITH $ctes,
    ${kmeansAssignCte(cf, "af")},
    ${pqCtes(pqIters)},
    probes AS (
      SELECT qid, cid FROM (
        SELECT q.vec_id AS qid, c.cid,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
            list_sum(list_transform(list_zip(q.embedding, c.cent),
              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))) DESC,
            c.cid ASC) AS pr
        FROM e q, $cf c WHERE q.vec_id < $maxQid) WHERE pr <= $nProbe),
    scored AS (
      SELECT p.qid, a.vec_id AS vid,
             ROUND(SUM(sq.x1 * CAST(b.f1 AS DOUBLE)
                     + sq.x2 * CAST(b.f2 AS DOUBLE)), 4) AS adc
      FROM probes p
      JOIN af a ON a.cid = p.cid AND a.vec_id <> p.qid
      JOIN sub sq ON sq.vec_id = p.qid
      JOIN encf en ON en.vec_id = a.vec_id AND en.j = sq.j
      JOIN b$pqIters b ON b.j = en.j AND b.k = en.code
      GROUP BY p.qid, a.vec_id)
    SELECT qid, CAST(rn AS INT) AS rn, vid, adc FROM (
      SELECT qid, vid, adc, ROW_NUMBER() OVER
        (PARTITION BY qid ORDER BY adc DESC, vid ASC) AS rn
      FROM scored)
    WHERE rn <= 5 ORDER BY qid, rn"""
  }

  // ---- LSH oracle (hyperplane weights emitted as a constant table) ----
  // q_llm_ann_lsh unrolled: the hyperplanes are DETERMINISTIC — weight j
  // of global plane g is splitmix64(g·64+j)/Long.MaxValue as float
  // (Similarity.hyperplaneSig) — so the generator computes all
  // 32 planes × 64 dims here and emits them as a VALUES table; the
  // engine-side dot/sign/bucket/cosine chain then unrolls like the other
  // ANN oracles (signature = Σ_p sign-bit·2^p per table, candidates =
  // same-bucket-any-table distinct pairs, cosine ROUND 4dp top-5).
  // Float weights print via Scala's shortest-round-trip repr, which
  // DuckDB re-parses to the identical float.
  private def lshWeightsValues(nPlanes: Int, tables: Int): String =
    (0 until nPlanes * tables).flatMap { g =>
      (0 until 64).map { j =>
        val w = (graft.functions.Sketches.mix64(g.toLong * 64 + j)
          .toDouble / Long.MaxValue).toFloat
        s"(${g / nPlanes},${g % nPlanes},$j,CAST($w AS FLOAT))"
      }
    }.mkString(",")

  private def annLshOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
    wts(tbl, p, j, wt) AS (VALUES ${lshWeightsValues(nPlanes = 4, tables = 8)}),
    proj AS (
      SELECT e.vec_id, w.tbl, w.p,
             SUM(CAST(e.embedding[w.j + 1] AS DOUBLE) * CAST(w.wt AS DOUBLE)) AS proj
      FROM e, wts w
      GROUP BY e.vec_id, w.tbl, w.p),
    sig AS (
      SELECT vec_id, tbl,
             CAST(SUM(CASE WHEN proj >= 0 THEN (1 << p) ELSE 0 END) AS INT) AS bucket
      FROM proj GROUP BY vec_id, tbl),
    pairs AS (
      SELECT DISTINCT q.vec_id AS qid, c.vec_id AS vid
      FROM sig q JOIN sig c ON c.tbl = q.tbl AND c.bucket = q.bucket
      WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
    scored AS (
      SELECT p.qid, p.vid,
        ROUND(
          list_sum(list_transform(list_zip(q.embedding, v.embedding),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform(v.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
        4) AS cos
      FROM pairs p
      JOIN e q ON q.vec_id = p.qid
      JOIN e v ON v.vec_id = p.vid)
    SELECT qid, CAST(rn AS INT) AS rn, vid, cos FROM (
      SELECT qid, vid, cos, ROW_NUMBER() OVER
        (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS rn
      FROM scored)
    WHERE rn <= 5 ORDER BY qid, rn"""

  // ---- embedding near-dup + SemDeDup oracles (planted corpus) ----
  // Both catalog queries plant exact copies of vec_id<5 at vec_id+1e6;
  // the oracles replay that union. embdup reuses the hyperplane table
  // (nPlanes=8, tables=4 decomposition of the same 32 splitmix planes);
  // semdedup reuses the Lloyd chain (8 cells, 2 iterations) over the
  // planted corpus, then keep-first cosine drops within clusters.

  private val plantedCorpus =
    """SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
      WHERE vec_id < 5"""

  private def embDupOracle: String =
    s"""WITH e AS ($plantedCorpus),
    wts(tbl, p, j, wt) AS (VALUES ${lshWeightsValues(nPlanes = 8, tables = 4)}),
    proj AS (
      SELECT e.vec_id, w.tbl, w.p,
             SUM(CAST(e.embedding[w.j + 1] AS DOUBLE) * CAST(w.wt AS DOUBLE)) AS proj
      FROM e, wts w
      GROUP BY e.vec_id, w.tbl, w.p),
    sig AS (
      SELECT vec_id, tbl,
             CAST(SUM(CASE WHEN proj >= 0 THEN (1 << p) ELSE 0 END) AS INT) AS bucket
      FROM proj GROUP BY vec_id, tbl),
    pairs AS (
      SELECT DISTINCT a.vec_id AS d1, b.vec_id AS d2
      FROM sig a JOIN sig b
        ON b.tbl = a.tbl AND b.bucket = a.bucket AND a.vec_id < b.vec_id),
    scored AS (
      SELECT p.d1, p.d2,
        ROUND(
          list_sum(list_transform(list_zip(qa.embedding, qb.embedding),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(qa.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform(qb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
        4) AS cos
      FROM pairs p
      JOIN e qa ON qa.vec_id = p.d1
      JOIN e qb ON qb.vec_id = p.d2)
    SELECT d1, d2, cos FROM scored WHERE cos >= 0.9 ORDER BY d1, d2"""

  private def semDedupOracle: String = {
    val (ctes, cf) = lloydCtes(8, 2, plantedCorpus)
    s"""WITH $ctes,
    ${kmeansAssignCte(cf, "af")},
    drops AS (
      SELECT DISTINCT b.vec_id AS vid
      FROM af a JOIN af b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id
      WHERE ROUND(
          list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
            x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
        4) >= 0.95)
    SELECT af.vec_id, af.cid,
           (af.vec_id NOT IN (SELECT vid FROM drops)) AS kept
    FROM af ORDER BY af.vec_id"""
  }

  // ---- classifier-training oracle (4 unrolled GD steps) ----
  // Replicates CorpusOps.trainHashedClassifier(label = lang='en',
  // steps = 4, lr = 4.0): md5-hex bucket features, full-batch logistic
  // gradient, weights reported at 6dp — the rounding absorbs the ulp-
  // level sum-order differences of the two engines' double reductions
  // (4 steps keep relative error ~1e-15, ten orders under the 1e-6
  // quantum).

  /** One GD step: margins from w{i-1}, sigmoid probabilities, bucket
    * gradients (err·cnt/n averaged over docs), weight + bias update. */
  private def clfStepCtes(i: Int): String = {
    val (p, n) = (s"w${i - 1}", s"w$i")
    val (bp, bn) = (s"bias${i - 1}", s"bias$i")
    s"""m$i AS (
      SELECT f.doc_id, f.y, f.n, SUM(f.cnt * w.w) AS m0
      FROM feats f JOIN $p w ON w.b = f.b
      GROUP BY f.doc_id, f.y, f.n),
    p$i AS (
      SELECT doc_id, y, n,
             1.0 / (1.0 + exp(-(m0 / n + (SELECT bias FROM $bp)))) AS prob
      FROM m$i),
    g$i AS (
      SELECT f.b, SUM((p.prob - p.y) * f.cnt / p.n) / (SELECT nd FROM nd) AS g
      FROM feats f JOIN p$i p USING (doc_id)
      GROUP BY f.b),
    $n AS (
      SELECT w.b, w.w - 4.0 * COALESCE(g.g, 0.0) AS w
      FROM $p w LEFT JOIN g$i g USING (b)),
    $bn AS (
      SELECT (SELECT bias FROM $bp)
           - 4.0 * (SELECT SUM(prob - y) FROM p$i) / (SELECT nd FROM nd) AS bias)"""
  }

  private def clfTrainOracle(steps: Int): String =
    s"""WITH toks AS (
      SELECT doc_id, CAST(lang = 'en' AS DOUBLE) AS y, t.token
      FROM documents, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t(token)),
    feats AS (
      SELECT doc_id, y,
             CAST((ascii(h1) - CASE WHEN ascii(h1) >= 97 THEN 87 ELSE 48 END) * 16
                + (ascii(h2) - CASE WHEN ascii(h2) >= 97 THEN 87 ELSE 48 END) AS INT) AS b,
             COUNT(*) AS cnt,
             SUM(COUNT(*)) OVER (PARTITION BY doc_id) AS n
      FROM (SELECT doc_id, y, substr(md5(token), 1, 1) AS h1,
                   substr(md5(token), 2, 1) AS h2 FROM toks)
      GROUP BY doc_id, y, b),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS nd FROM feats),
    w0 AS (SELECT CAST(i AS INT) AS b, 0.0 AS w FROM range(0, 256) t(i)),
    bias0 AS (SELECT 0.0 AS bias),
    ${(1 to steps).map(clfStepCtes).mkString(",\n    ")}
    SELECT b, FLOOR(w * 1e6 + 0.5) / 1e6 AS weight FROM w$steps ORDER BY b"""

  private def bpeTrainOracle(nMerges: Int): String =
    s"""WITH RECURSIVE
    ${bpeTrainCtes(nMerges)}
    SELECT CAST(it AS INT) AS rank, l AS "left", r AS "right", c AS freq
    FROM bpe WHERE kind = 'm' ORDER BY rank"""

  /** Train, then re-apply the merges rank-by-rank to the DISTINCT
    * vocabulary (a second recursion over merge rank), re-attach to each
    * document's word sequence, and fingerprint the flattened token
    * stream — the oracle for both the HOF-fold and trie encode paths
    * (they are sequence-identical by construction). */
  private def bpeEncodeOracle(nMerges: Int): String =
    s"""WITH RECURSIVE
    ${bpeTrainCtes(nMerges)},
    merges AS (SELECT it AS rank, l, r FROM bpe WHERE kind = 'm'),
    vocab AS (
      SELECT DISTINCT w FROM (
        SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
        FROM documents)),
    enc AS (
      SELECT w, list_append(regexp_split_to_array(w, ''), '</w>') AS syms,
             0 AS it
      FROM vocab
      UNION ALL
      SELECT e.w,
        ${bpeMergeApplySql("e.syms", "m.l", "m.r")},
        e.it + 1
      FROM enc e JOIN merges m ON m.rank = e.it + 1),
    encoded AS (
      SELECT w, syms FROM enc WHERE it = (SELECT count(*) FROM merges)),
    docwords AS (
      SELECT doc_id, generate_subscripts(ws, 1) AS widx, unnest(ws) AS w
      FROM (SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS ws
            FROM documents))
    -- LEFT JOIN keeps zero-word documents: the engine emits
    -- (doc_id, 0, md5('')) for them (flatten of an empty word array)
    SELECT d0.doc_id, coalesce(a.n_bpe_toks, 0) AS n_bpe_toks,
           coalesce(a.fp, md5('')) AS fp
    FROM documents d0 LEFT JOIN (
      SELECT doc_id, CAST(count(*) AS INT) AS n_bpe_toks,
             md5(string_agg(tok, ' ' ORDER BY widx, k)) AS fp
      FROM (
        SELECT d.doc_id, d.widx, t.k, t.tok
        FROM docwords d JOIN encoded e USING (w),
             LATERAL (SELECT unnest(e.syms) AS tok,
                             generate_subscripts(e.syms, 1) AS k) t)
      GROUP BY doc_id) a USING (doc_id)
    ORDER BY doc_id"""

  val oracle: Map[String, String] = Map(
    "q_llm_bpe" -> bpeTrainOracle(16),
    "q_llm_bpe_encode" -> bpeEncodeOracle(16),
    "q_llm_bpe_trie" -> bpeEncodeOracle(16),
    // ROUGE-L oracle: the LCS DP itself as a recursive CTE. Row i of the
    // DP (over ref-token prefixes j) comes from row i-1 via the prefix-max
    // form; `unnest + generate_subscripts` exposes j, a running-max window
    // computes the prefix, and `list(... ORDER BY j)` re-packs the row.
    // Recursion depth = |cand tokens| (<= 200 by the shared slice cap).
    "q_llm_rouge" ->
      """WITH RECURSIVE
         docs AS (
           SELECT doc_id, list_slice(list_filter(string_split(text, ' '),
             t -> t <> ''), 1, 200) AS toks
           FROM documents),
         pairs AS (
           SELECT c.doc_id AS cand_id, c.toks AS ct, r.toks AS rt
           FROM docs c JOIN docs r ON r.doc_id = c.doc_id + 1
           WHERE len(c.toks) > 0 AND len(r.toks) > 0),
         dp AS (
           SELECT cand_id, 0 AS i, list_transform(rt, x -> 0) AS row
           FROM pairs
           UNION ALL
           SELECT d.cand_id, d.i + 1,
             (SELECT list(greatest(prev, roll) ORDER BY j)
              FROM (
                SELECT j, prev,
                       max(cnd) OVER (ORDER BY j ROWS BETWEEN UNBOUNDED
                         PRECEDING AND CURRENT ROW) AS roll
                FROM (
                  SELECT j, prev,
                         CASE WHEN p.rt[j] = p.ct[d.i + 1]
                              THEN (CASE WHEN j = 1 THEN 0
                                    ELSE d.row[j - 1] END) + 1
                              ELSE 0 END AS cnd
                  FROM (SELECT unnest(d.row) AS prev,
                               generate_subscripts(d.row, 1) AS j)))) AS row
           FROM dp d JOIN pairs p USING (cand_id)
           WHERE d.i < len(p.ct))
         SELECT f.cand_id, CAST(f.lcs AS INT) AS lcs,
                CAST(f.n_cand AS INT) AS n_cand, CAST(f.n_ref AS INT) AS n_ref,
                CAST(f.lcs AS DOUBLE) / f.n_cand AS p,
                CAST(f.lcs AS DOUBLE) / f.n_ref AS r,
                2e0 * f.lcs / (f.n_cand + f.n_ref) AS f1
         FROM (SELECT d.cand_id, d.row[len(p.rt)] AS lcs,
                      len(p.ct) AS n_cand, len(p.rt) AS n_ref
               FROM dp d JOIN pairs p USING (cand_id)
               WHERE d.i = len(p.ct)) f
         ORDER BY cand_id""",
    "q_llm_dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_copies
         FROM documents GROUP BY md5(lower(trim(text))) ORDER BY keep_id""",
    "q_llm_quality" ->
      """SELECT source, CAST(COUNT(*) AS BIGINT) AS n
         FROM documents
         WHERE n_chars BETWEEN 100 AND 2000 AND lang IN ('en','es')
         GROUP BY source ORDER BY source""",
    "q_llm_tokens" ->
      """SELECT lang, CAST(rn AS INT) AS rn, token, n FROM (
           SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS n,
                  ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY COUNT(*) DESC, token ASC) AS rn
           FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
                 FROM documents)
           WHERE token <> '' GROUP BY lang, token)
         WHERE rn <= 20 ORDER BY lang, rn""",
    "q_llm_textstats" ->
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
                CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_distinct,
                floor(CAST(len(list_filter(string_split(text, ' '),
                    t -> t IN ('the','a','of','and','to'))) AS DOUBLE)
                  / len(string_split(text, ' ')) * 10000 + 0.5) / 10000 AS stop_ratio,
                floor(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) * 10000 + 0.5) / 10000 AS avg_tok_len
         FROM documents ORDER BY doc_id""",
    "q_llm_jaccard" ->
      """WITH tok AS (
           SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS token
           FROM documents WHERE doc_id < 500),
         tok2 AS (SELECT * FROM tok WHERE token <> ''),
         cnt AS (SELECT doc_id, COUNT(*) AS n FROM tok2 GROUP BY doc_id),
         pairs AS (
           SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
           FROM tok2 a JOIN tok2 b
             ON a.token = b.token AND a.lang = b.lang AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT d1, d2,
                floor(CAST(c AS DOUBLE) / (n1.n + n2.n - c) * 10000 + 0.5) / 10000 AS jac
         FROM pairs
         JOIN cnt n1 ON d1 = n1.doc_id
         JOIN cnt n2 ON d2 = n2.doc_id
         WHERE CAST(c AS DOUBLE) / (n1.n + n2.n - c) >= 0.3
         ORDER BY d1, d2""",
    "q_llm_ngram_jaccard" ->
      """WITH tri AS (
           SELECT DISTINCT doc_id,
                  unnest(list_transform(range(1, greatest(len(text) - 2, 1) + 1),
                    i -> substr(text, CAST(i AS INT), 3))) AS g
           FROM documents WHERE doc_id < 300),
         cnt AS (SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY doc_id),
         pairs AS (
           SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
           FROM tri a JOIN tri b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT d1, d2, floor(CAST(c AS DOUBLE) / (n1.n + n2.n - c) * 10000 + 0.5) / 10000 AS jac
         FROM pairs JOIN cnt n1 ON d1 = n1.doc_id JOIN cnt n2 ON d2 = n2.doc_id
         WHERE CAST(c AS DOUBLE) / (n1.n + n2.n - c) >= 0.5
         ORDER BY d1, d2""",
    "q_llm_langid" ->
      """SELECT doc_id,
                CASE WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                     WHEN s_es > 0 AND s_es >= s_de AND s_es >= s_fr THEN 'es'
                     WHEN s_de > 0 AND s_de >= s_fr THEN 'de'
                     WHEN s_fr > 0 THEN 'fr'
                     ELSE 'und' END AS pred
         FROM (SELECT doc_id,
                 len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to'))) AS s_en,
                 len(list_filter(string_split(text, ' '), t -> t IN ('el','la','de','que','y'))) AS s_es,
                 len(list_filter(string_split(text, ' '), t -> t IN ('der','die','das','und','ist'))) AS s_de,
                 len(list_filter(string_split(text, ' '), t -> t IN ('le','les','et','des','un'))) AS s_fr
               FROM documents)
         ORDER BY doc_id""",
    "q_llm_token_bpe" ->
      """SELECT doc_id,
                CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)) AS INT) AS n_bpe,
                CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS INT) AS n_ws
         FROM documents ORDER BY doc_id""",
    "q_llm_fingerprint" ->
      """SELECT doc_id,
                list_min(list_transform(range(1, greatest(len(text) - 7, 1) + 1),
                  i -> md5(substr(text, CAST(i AS INT), 8)))) AS fp
         FROM documents ORDER BY doc_id""",
    "q_llm_dedup_clusters" ->
      """WITH RECURSIVE tri AS (
           SELECT DISTINCT doc_id,
                  unnest(list_transform(range(1, greatest(len(text) - 2, 1) + 1),
                    i -> substr(text, CAST(i AS INT), 3))) AS g
           FROM documents WHERE doc_id < 300),
         cnt AS (SELECT doc_id, COUNT(*) AS n FROM tri GROUP BY doc_id),
         p0 AS (
           SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS c
           FROM tri a JOIN tri b ON a.g = b.g AND a.doc_id < b.doc_id
           GROUP BY 1, 2),
         pairs AS (
           SELECT d1, d2 FROM p0
           JOIN cnt n1 ON d1 = n1.doc_id JOIN cnt n2 ON d2 = n2.doc_id
           WHERE CAST(c AS DOUBLE) / (n1.n + n2.n - c) >= 0.5),
         edges AS (SELECT d1 AS a, d2 AS b FROM pairs
                   UNION SELECT d2, d1 FROM pairs),
         reach AS (
           SELECT a, b FROM edges
           UNION
           SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         comp AS (SELECT a AS id, LEAST(a, MIN(b)) AS comp FROM reach GROUP BY a)
         SELECT d.doc_id, COALESCE(c2.comp, d.doc_id) AS cluster_id,
                (d.doc_id = COALESCE(c2.comp, d.doc_id)) AS is_canonical
         FROM (SELECT doc_id FROM documents WHERE doc_id < 300) d
         LEFT JOIN comp c2 ON d.doc_id = c2.id
         ORDER BY d.doc_id""",
    "q_llm_span_dedup" ->
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
         sp AS (
           SELECT DISTINCT doc_id,
                  unnest(list_transform(range(1, len(text) - 28),
                    i -> substr(text, CAST(i AS INT), 30))) AS span
           FROM d WHERE len(text) >= 30),
         keep AS (SELECT span FROM sp GROUP BY span HAVING COUNT(*) <= 1000),
         cap AS (SELECT sp.doc_id, sp.span FROM sp JOIN keep USING (span))
         SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_spans
         FROM cap a JOIN cap b ON a.span = b.span AND a.doc_id < b.doc_id
         GROUP BY 1, 2 ORDER BY d1, d2""",
    // replays the winnowed selection exactly: per-window md5 minima via a
    // ROWS window frame, position P keeps its span iff its hash equals the
    // minimum of one of the up-to-`window` window-minima the engine slices
    // for it (starts max(P-7,1) .. min(max(P-7,1)+7, np-7); whole-doc min
    // when the doc has fewer than 8 spans)
    "q_llm_span_winnowed" ->
      """WITH base AS (SELECT doc_id, text FROM documents
                       WHERE doc_id < 250 AND len(text) >= 47),
         uni AS (
           SELECT doc_id, text FROM base
           UNION ALL
           SELECT doc_id + 100000 AS doc_id,
                  'CLONE<' || CAST(doc_id AS VARCHAR) || '>' ||
                  substr(text, 11, 60) ||
                  '<' || CAST(doc_id AS VARCHAR) || '>END' AS text
           FROM base),
         sp AS (
           SELECT doc_id, CAST(i AS INT) AS i,
                  substr(text, CAST(i AS INT), 30) AS span
           FROM (SELECT doc_id, text, unnest(range(1, len(text) - 28)) AS i
                 FROM uni WHERE len(text) >= 30)),
         h AS (SELECT doc_id, i, span, md5(span) AS hv FROM sp),
         n AS (SELECT doc_id, COUNT(*) AS np FROM h GROUP BY doc_id),
         wmin AS (
           SELECT doc_id, i AS w,
                  MIN(hv) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS m
           FROM h),
         sel AS (
           SELECT DISTINCT s.doc_id, s.span
           FROM h s
           JOIN n ON n.doc_id = s.doc_id
           JOIN wmin w ON w.doc_id = s.doc_id AND w.m = s.hv AND (
             (n.np >= 8 AND w.w BETWEEN GREATEST(s.i - 7, 1)
                AND LEAST(GREATEST(s.i - 7, 1) + 7, n.np - 7))
             OR (n.np < 8 AND w.w = 1))),
         keep AS (SELECT span FROM sel GROUP BY span HAVING COUNT(*) <= 1000),
         cap AS (SELECT sel.doc_id, sel.span FROM sel JOIN keep USING (span))
         SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_spans
         FROM cap a JOIN cap b ON a.span = b.span AND a.doc_id < b.doc_id
         WHERE b.doc_id = a.doc_id + 100000
         GROUP BY 1, 2 ORDER BY d1""",
    "q_llm_contamination" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks
                      FROM documents),
         tg AS (
           SELECT DISTINCT doc_id,
                  unnest(list_transform(range(1, len(toks) - 3),
                    i -> array_to_string(
                      list_slice(toks, CAST(i AS INT), CAST(i + 4 AS INT)),
                      ' '))) AS g
           FROM tok WHERE len(toks) >= 5),
         ev AS (SELECT DISTINCT g FROM tg WHERE doc_id < 20)
         SELECT c.doc_id, COUNT(*) AS n_hits
         FROM (SELECT doc_id, g FROM tg WHERE doc_id >= 20) c
         JOIN ev USING (g)
         GROUP BY 1 ORDER BY doc_id""",
    "q_llm_split" ->
      """SELECT doc_id,
           CASE WHEN substr(md5(lower(trim(text))), 1, 1) IN ('c','d')
                  THEN 'val'
                WHEN substr(md5(lower(trim(text))), 1, 1) IN ('e','f')
                  THEN 'test'
                ELSE 'train' END AS split
         FROM documents ORDER BY doc_id""",
    // rates: en 1.5 (base 1, frac .5 -> 0x80000000), de 0.25 (base 0,
    // frac .25 -> 0x40000000), fr 2.0 (base 2), zh 0.0 (base 0), else 1.0
    "q_llm_mixture" ->
      """WITH d AS (
           SELECT doc_id, lang,
                  substr(md5('mix1' || lower(trim(text))), 1, 8) AS u8
           FROM documents),
         c AS (
           SELECT doc_id,
                  (CASE lang WHEN 'en' THEN 1 WHEN 'de' THEN 0
                             WHEN 'fr' THEN 2 WHEN 'zh' THEN 0 ELSE 1 END)
                + (CASE WHEN u8 < (CASE lang WHEN 'en' THEN '80000000'
                                             WHEN 'de' THEN '40000000'
                                             ELSE '00000000' END)
                        THEN 1 ELSE 0 END) AS n
           FROM d)
         SELECT * FROM (
           SELECT doc_id,
                  CAST(unnest(generate_series(1, n)) AS BIGINT) AS copy
           FROM c WHERE n >= 1)
         ORDER BY doc_id, copy""",
    // NOTE: DuckDB ln() is natural log (its log() is log10); all literals
    // carry e0 so the arithmetic stays in IEEE doubles, matching Spark
    "q_llm_perplexity" ->
      """WITH lt AS (
           SELECT unnest(string_split(text, ' ')) AS token
           FROM documents WHERE doc_id < 100),
         cnt AS (
           SELECT token, COUNT(*) AS c FROM lt WHERE token <> ''
           GROUP BY token),
         tot AS (SELECT SUM(c) AS t, COUNT(*) AS v FROM cnt),
         ct AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS token
           FROM documents WHERE doc_id >= 100),
         sc AS (
           SELECT doc_id,
                  -ln((COALESCE(cnt.c, 0) + 0.5e0)
                      / (tot.t + 0.5e0 * (tot.v + 1))) AS nll
           FROM (SELECT * FROM ct WHERE token <> '') ct2
           LEFT JOIN cnt USING (token) CROSS JOIN tot)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                floor(exp(avg(nll)) * 10000 + 0.5) / 10000 AS ppl
         FROM sc GROUP BY doc_id ORDER BY doc_id""",
    // the composed pipeline: each CTE mirrors one already-oracle-exact
    // stage, so the end-to-end result is hash-exact too
    "q_llm_pipeline" ->
      """WITH corpus AS (
           SELECT * FROM documents WHERE doc_id >= 20),
         quality AS (
           SELECT * FROM corpus WHERE n_chars BETWEEN 50 AND 5000),
         dd AS (
           SELECT * FROM (
             SELECT q.*, row_number() OVER (
                 PARTITION BY md5(lower(trim(text))) ORDER BY doc_id) AS rn
             FROM quality q) WHERE rn = 1),
         tok AS (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents),
         tg AS (
           SELECT DISTINCT doc_id,
                  unnest(list_transform(range(1, len(toks) - 3),
                    i -> array_to_string(
                      list_slice(toks, CAST(i AS INT), CAST(i + 4 AS INT)),
                      ' '))) AS g
           FROM tok WHERE len(toks) >= 5),
         ev AS (SELECT DISTINCT g FROM tg WHERE doc_id < 20),
         flagged AS (
           SELECT DISTINCT c.doc_id
           FROM (SELECT t.doc_id, t.g FROM tg t JOIN dd ON t.doc_id = dd.doc_id) c
           JOIN ev USING (g)),
         clean AS (
           SELECT dd.* FROM dd LEFT JOIN flagged USING (doc_id)
           WHERE flagged.doc_id IS NULL),
         train AS (
           SELECT * FROM clean
           WHERE substr(md5(lower(trim(text))), 1, 1)
                 NOT IN ('c', 'd', 'e', 'f')),
         t AS (
           SELECT doc_id,
                  COALESCE(len(list_filter(string_split(text, ' '),
                    x -> x <> '')), 0) AS n_tokens
           FROM train),
         c AS (
           SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                  SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens AS strt
           FROM t)
         SELECT doc_id, n_tokens,
                CAST(strt // 2048 AS BIGINT) AS shard,
                CAST(strt % 2048 AS BIGINT) AS offset
         FROM c ORDER BY doc_id""",
    // (1.0e0 - 0.7e0) folds to the same IEEE double Spark's lit(1.0 - 0.7)
    // carries; integer '/' is true division in both engines
    "q_llm_kn_ppl" ->
      """WITH lt AS (
           SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
                    AS ts
           FROM documents WHERE doc_id < 100),
         lb AS (
           SELECT ts[i] AS prev, ts[i + 1] AS token
           FROM lt, unnest(generate_series(1, len(ts) - 1)) AS g(i)
           WHERE len(ts) >= 2),
         b AS (SELECT prev, token, COUNT(*) AS bc FROM lb GROUP BY 1, 2),
         c AS (SELECT prev, SUM(bc) AS cc, COUNT(*) AS n1f FROM b
               GROUP BY prev),
         cw AS (SELECT token, COUNT(*) AS n1b FROM b GROUP BY token),
         tot AS (SELECT COUNT(*) AS bt, COUNT(DISTINCT token) AS v FROM b),
         ct AS (
           SELECT doc_id, ts[i] AS prev, ts[i + 1] AS token
           FROM (SELECT doc_id,
                        list_filter(string_split(text, ' '), x -> x <> '')
                          AS ts
                 FROM documents WHERE doc_id >= 100) s,
                unnest(generate_series(1, len(ts) - 1)) AS g(i)
           WHERE len(ts) >= 2),
         sc AS (
           SELECT ct.doc_id,
                  -ln(CASE WHEN c.cc IS NOT NULL
                           THEN (greatest(COALESCE(b.bc, 0) - 0.75e0, 0.0e0)
                                 + 0.75e0 * c.n1f
                                   * ((COALESCE(cw.n1b, 0) + 0.5e0)
                                      / (tot.bt + 0.5e0 * (tot.v + 1))))
                                / c.cc
                           ELSE (COALESCE(cw.n1b, 0) + 0.5e0)
                                / (tot.bt + 0.5e0 * (tot.v + 1))
                      END) AS nll
           FROM ct
           LEFT JOIN b ON ct.prev = b.prev AND ct.token = b.token
           LEFT JOIN c ON ct.prev = c.prev
           LEFT JOIN cw ON ct.token = cw.token
           CROSS JOIN tot)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                floor(exp(avg(nll)) * 10000 + 0.5) / 10000 AS ppl
         FROM sc GROUP BY doc_id ORDER BY doc_id""",
    "q_llm_ppl_cut" ->
      """WITH lt AS (
           SELECT unnest(string_split(text, ' ')) AS token
           FROM documents WHERE doc_id < 100),
         cnt AS (
           SELECT token, COUNT(*) AS c FROM lt WHERE token <> ''
           GROUP BY token),
         tot AS (SELECT SUM(c) AS t, COUNT(*) AS v FROM cnt),
         ct AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS token
           FROM documents WHERE doc_id >= 100),
         sc AS (
           SELECT doc_id,
                  -ln((COALESCE(cnt.c, 0) + 0.5e0)
                      / (tot.t + 0.5e0 * (tot.v + 1))) AS nll
           FROM (SELECT * FROM ct WHERE token <> '') ct2
           LEFT JOIN cnt USING (token) CROSS JOIN tot),
         ppl AS (
           SELECT doc_id, floor(exp(avg(nll)) * 10000 + 0.5) / 10000 AS ppl
           FROM sc GROUP BY doc_id),
         j AS (
           SELECT d.source, p.ppl FROM ppl p
           JOIN documents d ON p.doc_id = d.doc_id),
         thr AS (
           SELECT source, quantile_cont(ppl, 0.75) AS thr
           FROM j GROUP BY source)
         SELECT j.source, CAST(COUNT(*) AS BIGINT) AS n_total,
                CAST(SUM(CASE WHEN j.ppl <= thr.thr THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_kept,
                floor(max(thr.thr) * 1e4 + 0.5) / 1e4 AS p75
         FROM j JOIN thr ON j.source = thr.source
         GROUP BY j.source ORDER BY j.source""",
    "q_llm_bigram_ppl" ->
      """WITH lt AS (
           SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '')
                    AS ts
           FROM documents WHERE doc_id < 100),
         u AS (
           SELECT token, COUNT(*) AS uc
           FROM (SELECT unnest(ts) AS token FROM lt) GROUP BY token),
         tot AS (SELECT SUM(uc) AS t, COUNT(*) AS v FROM u),
         lb AS (
           SELECT ts[i] AS prev, ts[i + 1] AS token
           FROM lt, unnest(generate_series(1, len(ts) - 1)) AS g(i)
           WHERE len(ts) >= 2),
         b AS (SELECT prev, token, COUNT(*) AS bc FROM lb GROUP BY 1, 2),
         c AS (SELECT prev, SUM(bc) AS cc FROM b GROUP BY prev),
         ct AS (
           SELECT doc_id, ts[i] AS prev, ts[i + 1] AS token
           FROM (SELECT doc_id,
                        list_filter(string_split(text, ' '), x -> x <> '')
                          AS ts
                 FROM documents WHERE doc_id >= 100) s,
                unnest(generate_series(1, len(ts) - 1)) AS g(i)
           WHERE len(ts) >= 2),
         sc AS (
           SELECT ct.doc_id,
                  -ln(0.7e0 * (CASE WHEN c.cc IS NOT NULL
                                    THEN COALESCE(b.bc, 0) / c.cc
                                    ELSE 0.0e0 END)
                      + (1.0e0 - 0.7e0)
                        * ((COALESCE(u.uc, 0) + 0.5e0)
                           / (tot.t + 0.5e0 * (tot.v + 1)))) AS nll
           FROM ct
           LEFT JOIN b ON ct.prev = b.prev AND ct.token = b.token
           LEFT JOIN c ON ct.prev = c.prev
           LEFT JOIN u ON ct.token = u.token
           CROSS JOIN tot)
         SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                floor(exp(avg(nll)) * 10000 + 0.5) / 10000 AS ppl
         FROM sc GROUP BY doc_id ORDER BY doc_id""",
    "q_llm_pack" ->
      """WITH t AS (
           SELECT doc_id,
                  COALESCE(len(list_filter(string_split(text, ' '),
                    x -> x <> '')), 0) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                  SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens AS strt
           FROM t)
         SELECT doc_id, n_tokens,
                CAST(strt // 2048 AS BIGINT) AS shard,
                CAST(strt % 2048 AS BIGINT) AS offset
         FROM c ORDER BY doc_id""",
    "q_llm_fim" ->
      """WITH t AS (
           SELECT doc_id, text,
                  md5('fim:' || CAST(doc_id AS VARCHAR)) AS h,
                  len(text) AS n
           FROM documents WHERE doc_id < 500 AND len(text) >= 2),
         d AS (
           SELECT doc_id, text, n,
                  (ascii(substr(h, 1, 1)) - CASE WHEN ascii(substr(h, 1, 1))
                     >= 97 THEN 87 ELSE 48 END) * 16
                  + (ascii(substr(h, 2, 1)) - CASE WHEN ascii(substr(h, 2, 1))
                     >= 97 THEN 87 ELSE 48 END) AS d12,
                  (ascii(substr(h, 3, 1)) - CASE WHEN ascii(substr(h, 3, 1))
                     >= 97 THEN 87 ELSE 48 END) * 16
                  + (ascii(substr(h, 4, 1)) - CASE WHEN ascii(substr(h, 4, 1))
                     >= 97 THEN 87 ELSE 48 END) AS d34
           FROM t),
         s AS (
           SELECT doc_id, text, n,
                  1 + (d12 * (n - 1)) // 256 AS a,
                  d34 FROM d),
         s2 AS (
           SELECT doc_id, text, n, a,
                  1 + (d34 * (n - a)) // 256 AS m FROM s)
         SELECT doc_id,
                CAST(a - 1 AS INT) AS n_prefix,
                CAST(m AS INT) AS n_middle,
                CAST(n - a - m + 1 AS INT) AS n_suffix,
                md5(substr(text, CAST(a AS INT), CAST(m AS INT))) AS mid_fp
         FROM s2 ORDER BY doc_id""",
    "q_llm_entropy" ->
      """WITH ch AS (
           SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
           FROM documents WHERE doc_id < 500),
         cnt AS (
           SELECT doc_id, ch, COUNT(*) AS c FROM ch
           WHERE ch <> '' GROUP BY doc_id, ch)
         SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
                floor((ln(CAST(SUM(c) AS DOUBLE))
                  - SUM(c * ln(CAST(c AS DOUBLE))) / SUM(c)) * 10000 + 0.5)
                  / 10000 AS entropy
         FROM cnt GROUP BY doc_id ORDER BY doc_id""",
    "q_llm_sample_balanced" ->
      """SELECT doc_id, lang, CAST(rank AS BIGINT) AS rank FROM (
           SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY lang
                    ORDER BY md5('samp:' || CAST(doc_id AS VARCHAR)), doc_id)
                    AS rank
           FROM documents)
         WHERE rank <= 10 ORDER BY lang, rank""",
    "q_llm_temp_mixture" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
         tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t,
                        SUM(pow(CAST(n AS DOUBLE), 0.3e0)) AS ws FROM c),
         r AS (SELECT lang,
                 floor(LEAST(4.0e0,
                   0.5e0 * t * pow(CAST(n AS DOUBLE), 0.3e0) / ws / n)
                   * 10000 + 0.5) / 10000 AS rate
               FROM c, tot),
         d AS (SELECT doc_id, lang,
                 substr(md5('temp' || lower(trim(text))), 1, 8) AS u8
               FROM documents),
         x AS (SELECT doc_id,
                 CAST(floor(rate) AS INT)
                 + (CASE WHEN u8 < printf('%08x',
                     CAST(floor((rate - floor(rate)) * 4294967296.0e0)
                       AS BIGINT)) THEN 1 ELSE 0 END) AS n
               FROM d JOIN r USING (lang))
         SELECT * FROM (
           SELECT doc_id,
                  CAST(unnest(generate_series(1, n)) AS BIGINT) AS copy
           FROM x WHERE n >= 1)
         ORDER BY doc_id, copy""",
    "q_llm_datacard" ->
      """WITH t AS (
           SELECT source, lang, text,
                  COALESCE(len(list_filter(string_split(text, ' '),
                    x -> x <> '')), 0) AS n
           FROM documents)
         SELECT source, lang, COUNT(*) AS n_docs,
                CAST(SUM(n) AS BIGINT) AS n_tokens,
                floor(quantile_cont(n, 0.5) * 100 + 0.5) / 100 AS p50_tokens,
                floor(quantile_cont(n, 0.95) * 100 + 0.5) / 100 AS p95_tokens,
                floor((COUNT(*) - COUNT(DISTINCT md5(lower(trim(text)))))
                  * 10000.0 / COUNT(*) + 0.5) / 10000 AS dup_rate
         FROM t GROUP BY 1, 2 ORDER BY source, lang""",
    "q_llm_length_batches" ->
      """WITH t AS (
           SELECT doc_id,
                  COALESCE(len(list_filter(string_split(text, ' '),
                    x -> x <> '')), 0) AS n
           FROM documents),
         r AS (
           SELECT doc_id, CAST(n AS BIGINT) AS n,
                  row_number() OVER (ORDER BY n, doc_id) - 1 AS rk
           FROM t)
         SELECT CAST(rk // 32 AS BIGINT) AS batch,
                COUNT(*) AS n_docs,
                MAX(n) AS max_len,
                CAST(COUNT(*) * MAX(n) - SUM(n) AS BIGINT) AS padding
         FROM r GROUP BY 1 ORDER BY batch""",
    "q_llm_pack_split" ->
      """WITH t AS (
           SELECT doc_id,
                  COALESCE(len(list_filter(string_split(text, ' '),
                    x -> x <> '')), 0) AS n_tokens
           FROM documents),
         c AS (
           SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                  SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens AS strt
           FROM t WHERE n_tokens >= 1)
         SELECT doc_id, CAST(sh AS BIGINT) AS shard,
                CAST(GREATEST(sh * 2048, strt) - strt AS BIGINT) AS tok_from,
                CAST(LEAST((sh + 1) * 2048, strt + n_tokens) - strt AS BIGINT)
                  AS tok_to
         FROM c, unnest(generate_series(CAST(strt // 2048 AS BIGINT),
                  CAST((strt + n_tokens - 1) // 2048 AS BIGINT))) AS g(sh)
         ORDER BY doc_id, shard""",
    "q_llm_shuffle_pack" ->
      """WITH t AS (
           SELECT doc_id,
                  COALESCE(len(list_filter(string_split(text, ' '),
                    x -> x <> '')), 0) AS n_tokens,
                  md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS k
           FROM documents),
         c AS (
           SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                  SUM(n_tokens) OVER (ORDER BY k, doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens AS strt
           FROM t)
         SELECT doc_id, n_tokens,
                CAST(strt // 2048 AS BIGINT) AS shard,
                CAST(strt % 2048 AS BIGINT) AS offset
         FROM c ORDER BY doc_id""",
    "q_llm_segdedup" ->
      """WITH toks AS (
           SELECT doc_id, string_split(text, ' ') AS l FROM documents),
         seg AS (
           SELECT doc_id, gs AS pos,
                  array_to_string(list_slice(l, (gs-1)*10 + 1, gs*10), ' ') AS s
           FROM toks,
                unnest(generate_series(1,
                  CAST(ceil(len(l) / 10.0) AS BIGINT))) AS t(gs)),
         k AS (
           SELECT doc_id, pos, s,
                  row_number() OVER (PARTITION BY md5(s)
                                     ORDER BY doc_id, pos) AS rn
           FROM seg)
         SELECT doc_id, string_agg(s, ' ' ORDER BY pos) AS text
         FROM k WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""",
    "q_llm_classifier" -> {
      val values = graft.operators.CorpusOps.fixtureWeights().zipWithIndex
        .map { case (w, i) =>
          s"($i, ${graft.operators.CorpusOps.exactDecimal(w)}e0)" }
        .mkString(", ")
      s"""WITH w AS (SELECT * FROM (VALUES $values) t(b, wt)),
         tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS token
           FROM documents),
         hx AS (SELECT doc_id, md5(token) AS h FROM tok WHERE token <> ''),
         bk AS (
           SELECT doc_id,
                  (ascii(substr(h, 1, 1))
                     - CASE WHEN ascii(substr(h, 1, 1)) >= 97
                            THEN 87 ELSE 48 END) * 16
                + (ascii(substr(h, 2, 1))
                     - CASE WHEN ascii(substr(h, 2, 1)) >= 97
                            THEN 87 ELSE 48 END) AS b
           FROM hx),
         m AS (
           SELECT bk.doc_id, avg(w.wt) AS m
           FROM bk JOIN w ON bk.b = w.b GROUP BY bk.doc_id)
         SELECT doc_id,
                floor(1.0 / (1.0 + exp(-(m + 0.125e0))) * 10000 + 0.5) / 10000
                  AS q_score
         FROM m ORDER BY doc_id"""
    },
    "q_llm_repetition" ->
      """WITH sp AS (SELECT doc_id, string_split(text, ' ') AS s FROM documents),
         tc AS (
           SELECT doc_id, tok, COUNT(*) AS c
           FROM (SELECT doc_id, unnest(s) AS tok FROM sp)
           WHERE tok <> '' GROUP BY doc_id, tok),
         ts AS (
           SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
                  CAST(MAX(c) AS BIGINT) AS top_tok,
                  CAST(COUNT(*) AS BIGINT) AS n_dist
           FROM tc GROUP BY doc_id),
         bg AS (
           SELECT doc_id, unnest(list_transform(
                    range(1, greatest(len(s) - 1, 0) + 1),
                    i -> s[i] || ' ' || s[i + 1])) AS bg
           FROM sp),
         bc AS (
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bg,
                  CAST(COUNT(DISTINCT bg) AS BIGINT) AS bg_dist
           FROM bg GROUP BY doc_id)
         SELECT ts.doc_id, n_tok,
                floor((1 - CAST(n_dist AS DOUBLE) / n_tok) * 10000 + 0.5) / 10000 AS dup_tok_frac,
                floor(CAST(top_tok AS DOUBLE) / n_tok * 10000 + 0.5) / 10000 AS top_tok_frac,
                CASE WHEN n_bg > 0
                     THEN floor((1 - CAST(bg_dist AS DOUBLE) / n_bg) * 10000 + 0.5) / 10000
                     ELSE 0.0 END AS dup_bigram_frac
         FROM ts LEFT JOIN bc ON ts.doc_id = bc.doc_id
         ORDER BY ts.doc_id""",
    "q_llm_blocklist" ->
      """WITH m AS (
           SELECT d.doc_id, d.lang, count(DISTINCT p.p) AS terms
           FROM documents d
           LEFT JOIN (VALUES ('scan slow'), ('slow fast'), ('fast table'),
                             ('vector'), ('merge batch')) p(p)
             ON contains(d.text, p.p)
           GROUP BY 1, 2)
         SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(count(*) FILTER (terms > 0) AS BIGINT) AS n_blocked,
                CAST(sum(terms) AS BIGINT) AS sum_terms
         FROM m GROUP BY lang ORDER BY lang""",
    "q_llm_pii" ->
      """WITH aug AS (
           SELECT doc_id,
                  text || CASE WHEN doc_id % 20 = 0
                    THEN ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com or call 555-'
                      || lpad(CAST(doc_id % 100 AS VARCHAR), 4, '0')
                    ELSE '' END AS t2
           FROM documents)
         SELECT doc_id,
                CAST(len(regexp_extract_all(t2, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+')) AS INT) AS n_emails,
                CAST(len(regexp_extract_all(t2, '[0-9]{3}-[0-9]{4}')) AS INT) AS n_phones,
                md5(regexp_replace(regexp_replace(t2,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]+', '<EMAIL>', 'g'),
                  '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
         FROM aug ORDER BY doc_id""",
    "q_llm_kmeans" -> kmeansOracle,
    "q_llm_ann_ivf" -> annIvfOracle,
    "q_llm_ann_lsh" -> annLshOracle,
    "q_llm_embdup" -> embDupOracle,
    "q_llm_semdedup" -> semDedupOracle,
    "q_llm_ann_pq" -> annPqOracle,
    "q_llm_ann_ivfpq" -> annIvfPqOracle(
      nCentroids = 16, lloydIters = 2, pqIters = 2, nProbe = 8, maxQid = 10),
    "q_llm_ann_ivfpq_disk" -> annIvfPqOracle(
      nCentroids = 32, lloydIters = 1, pqIters = 1, nProbe = 4, maxQid = 5),
    "q_llm_clf_train" -> clfTrainOracle(4),
    "q_llm_sim_topk" ->
      """WITH scored AS (
           SELECT q.vec_id AS qid, c.vec_id AS vid,
                  ROUND(
                    list_sum(list_transform(list_zip(q.embedding, c.embedding),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
                    / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                     * sqrt(list_sum(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
                  4) AS cos
           FROM embeddings q, embeddings c
           WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
         ranked AS (
           SELECT qid, vid, cos, ROW_NUMBER() OVER
             (PARTITION BY qid ORDER BY cos DESC, vid ASC) AS rn
           FROM scored)
         SELECT qid, CAST(rn AS INT) AS rn, vid, cos
         FROM ranked WHERE rn <= 5 ORDER BY qid, rn""",
    // score rounded to 4dp BEFORE ranking in BOTH engines, term-ascending
    // tiebreak ⇒ identical rank order; all literals carry e0 (IEEE doubles)
    "q_llm_tfidf" ->
      """WITH tok AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS token
           FROM documents),
         tf AS (
           SELECT doc_id, token, COUNT(*) AS tf FROM tok WHERE token <> ''
           GROUP BY doc_id, token),
         df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
         n AS (SELECT COUNT(*) AS n FROM documents),
         s AS (
           SELECT doc_id, token,
                  floor(tf * ln((n.n + 1.0e0) / (df.df + 1.0e0)) * 10000
                        + 0.5) / 10000 AS score
           FROM tf JOIN df USING (token) CROSS JOIN n),
         r AS (
           SELECT doc_id, token, score,
                  ROW_NUMBER() OVER (PARTITION BY doc_id
                                     ORDER BY score DESC, token ASC) AS rn
           FROM s)
         SELECT doc_id, CAST(rn AS INT) AS rn, token, score
         FROM r WHERE rn <= 5 ORDER BY doc_id, rn""",
    "q_llm_skipgrams" ->
      """WITH d AS (
           SELECT doc_id,
                  list_filter(string_split(text, ' '), t -> t <> '') AS toks
           FROM documents),
         tok AS (
           -- parallel unnest zips the two same-length lists positionally
           SELECT doc_id, unnest(range(len(toks))) AS pos,
                  unnest(toks) AS token
           FROM d),
         p AS (
           SELECT a.token AS center, b.token AS context
           FROM tok a JOIN tok b ON a.doc_id = b.doc_id
           WHERE b.pos <> a.pos AND abs(b.pos - a.pos) <= 2)
         SELECT center, context, CAST(count(*) AS BIGINT) AS n
         FROM p GROUP BY 1, 2 HAVING count(*) >= 25
         ORDER BY center, context""",
    "q_llm_pmi" ->
      """WITH dt AS (
           SELECT DISTINCT doc_id, token FROM (
             SELECT doc_id, unnest(string_split(text, ' ')) AS token
             FROM documents)
           WHERE token <> ''),
         df AS (SELECT token, COUNT(*) AS n_t FROM dt GROUP BY token),
         top AS (
           SELECT token, n_t FROM df
           ORDER BY n_t DESC, token ASC LIMIT 150),
         tv AS (SELECT dt.doc_id, dt.token, top.n_t
                FROM dt JOIN top USING (token)),
         n AS (SELECT COUNT(*) AS n FROM documents),
         pairs AS (
           SELECT a.token AS t1, a.n_t AS n_1, b.token AS t2, b.n_t AS n_2,
                  COUNT(*) AS n_12
           FROM tv a JOIN tv b ON a.doc_id = b.doc_id AND a.token < b.token
           GROUP BY 1, 2, 3, 4
           HAVING COUNT(*) >= 5)
         SELECT t1, t2, n_12,
                floor(ln(n_12 * n.n * 1.0e0 / (n_1 * n_2)) * 10000 + 0.5)
                  / 10000 AS pmi
         FROM pairs CROSS JOIN n ORDER BY t1, t2""",
    "q_llm_incr_dedup" ->
      """WITH ex AS (
           SELECT DISTINCT md5(lower(trim(text))) AS h
           FROM documents WHERE doc_id < 250),
         nb AS (
           SELECT doc_id, md5(lower(trim(text))) AS h
           FROM documents WHERE doc_id >= 250),
         nov AS (
           SELECT nb.doc_id, nb.h FROM nb
           LEFT JOIN ex ON nb.h = ex.h WHERE ex.h IS NULL)
         SELECT MIN(doc_id) AS doc_id, h
         FROM nov GROUP BY h ORDER BY doc_id""",
    "q_llm_bleu" ->
      """WITH toks AS (
           SELECT doc_id,
                  list_filter(string_split(text, ' '), t -> t <> '') AS tk
           FROM documents),
         grams AS (
           SELECT doc_id, n,
                  unnest(list_transform(range(1, len(tk) - n + 2),
                    i -> array_to_string(tk[i:i+n-1], ' '))) AS gram
           FROM toks CROSS JOIN (SELECT unnest([1, 2]) AS n)
           WHERE len(tk) >= n),
         gc AS (
           SELECT doc_id, n, gram, count(*) AS cnt
           FROM grams GROUP BY 1, 2, 3),
         pairs AS (
           SELECT a.doc_id AS cand_id, b.doc_id AS ref_id
           FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1),
         cand AS (
           SELECT p.cand_id, p.ref_id, g.n, g.gram, g.cnt AS c_cnt
           FROM pairs p JOIN gc g ON g.doc_id = p.cand_id),
         m AS (
           SELECT cand_id, cand.ref_id, cand.n,
                  sum(least(c_cnt, coalesce(r.cnt, 0))) AS matches,
                  sum(c_cnt) AS total
           FROM cand LEFT JOIN gc r
             ON r.doc_id = cand.ref_id AND r.n = cand.n
                AND r.gram = cand.gram
           GROUP BY 1, 2, 3)
         SELECT cand_id, ref_id, CAST(n AS INT) AS n,
                CAST(matches AS BIGINT) AS matches,
                CAST(total AS BIGINT) AS total,
                CAST(matches AS DOUBLE) / CAST(total AS DOUBLE) AS p_n
         FROM m ORDER BY cand_id, n"""
  )
}
