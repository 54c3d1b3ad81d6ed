package graft.operators

import graft.SparkSpec
import graft.core.Tables
import org.apache.spark.sql.functions._

class CorpusOpsSpec extends SparkSpec {

  test("pmiPairs: attraction positive, independence ~zero, counts exact") {
    val s = spark
    import s.implicits._
    // 40 docs: "a b" always together (perfect attraction), "x" in every
    // doc (independent of everything), "y" in half — (x,y) independent
    val docs = (1L to 40L).map { i =>
      val y = if (i % 2 == 0) " y" else ""
      (i, s"a b x$y")
    }.toDF("doc_id", "text")
    val got = CorpusOps.pmiPairs(docs, topVocab = 10, minPairCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // (a,b): n_1=n_2=n_12=40, pmi = ln(40*40/(40*40)) = 0... use exact
    // counts instead: (a,b) co-occur always -> pmi = ln(N*n12/(n1*n2))
    // = ln(40*40/1600) = 0; (x,y): ln(40*20/(40*20)) = 0 (independent);
    // plant real attraction: a,b appear in only half the docs
    assert(got(("a", "b"))._1 == 40L)
    // full-co-occurrence of full-support tokens IS independence (pmi 0)
    assert(got(("a", "b"))._2 == 0.0)
    assert(got(("x", "y"))._2 == 0.0)
    // attraction case: tokens confined to the same half of the corpus
    val docs2 = (1L to 40L).map { i =>
      (i, if (i <= 20) "p q filler" else "r s filler")
    }.toDF("doc_id", "text")
    val got2 = CorpusOps.pmiPairs(docs2, topVocab = 10, minPairCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // (p,q): ln(40*20/(20*20)) = ln 2; 4dp-rounded
    val ln2 = math.floor(math.log(2.0) * 1e4 + 0.5) / 1e4
    assert(got2(("p", "q")) == ((20L, ln2)))
    assert(got2(("r", "s")) == ((20L, ln2)))
    // disjoint pairs (p,r) never co-occur -> absent
    assert(!got2.contains(("p", "r")))
  }

  test("pmiPairs: vocabulary cap drops pairs outside the top-V") {
    val s = spark
    import s.implicits._
    // "rare" appears in 2 docs, everything else in ≥10 — topVocab=2
    // keeps the two most frequent tokens only
    val docs = (1L to 10L).map(i =>
      (i, "common other" + (if (i <= 2) " rare" else ""))).toDF("doc_id", "text")
    val got = CorpusOps.pmiPairs(docs, topVocab = 2, minPairCount = 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("common", "other")))
  }

  test("span pairs equal a brute-force substring comparison") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "the quick brown fox jumps over the lazy dog tonight"),
      (1L, "xx the quick brown fox jumps over the lazy dog at dawn"),
      (2L, "completely unrelated text that shares nothing with the rest!!"),
      (3L, "the quick brown fox jumps over the lazy dog tonight")
    ).toDF("doc_id", "text")
    val got = CorpusOps.spanPairs(docs, len = 20, dfCap = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute force: distinct shared 20-char substrings per pair
    val texts = Seq(0L -> "the quick brown fox jumps over the lazy dog tonight",
      1L -> "xx the quick brown fox jumps over the lazy dog at dawn",
      2L -> "completely unrelated text that shares nothing with the rest!!",
      3L -> "the quick brown fox jumps over the lazy dog tonight")
    def spans(t: String) = (0 to t.length - 20).map(i => t.substring(i, i + 20)).toSet
    val want = (for {
      (i, ti) <- texts; (j, tj) <- texts if i < j
      n = (spans(ti) & spans(tj)).size if n > 0
    } yield (i, j) -> n.toLong).toMap
    assert(got == want, s"got $got want $want")
  }

  test("span df cap drops boilerplate spans from the index") {
    val s = spark
    import s.implicits._
    // one 30-char boilerplate line in every doc: with dfCap below the doc
    // count the boilerplate contributes no pairs
    val boiler = "COPYRIGHT NOTICE APPLIES HERE!"
    require(boiler.length == 30)
    val docs = (0L until 6L).map(i => (i, s"$boiler unique tail $i")).toDF("doc_id", "text")
    assert(CorpusOps.spanPairs(docs, len = 30, dfCap = 5).count() == 0,
      "capped boilerplate must produce no pairs")
    assert(CorpusOps.spanPairs(docs, len = 30, dfCap = 6).count() == 15,
      "uncapped boilerplate pairs all docs")
  }

  test("winnowed spans: subset, compressed, and clone-detection complete") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    def randText(n: Int) =
      Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    // a shared clone of length len + window - 1 = 20 + 8 - 1 = 27 chars,
    // embedded in otherwise-random documents
    val clone = "THE-SHARED-CLONE-RUN-27CHARS"
    require(clone.length >= 27)
    val docs = Seq(
      (0L, randText(150) + clone + randText(150)),
      (1L, randText(160) + clone + randText(140)),
      (2L, randText(300))
    ).toDF("doc_id", "text")
    val all = CorpusOps.spans(docs, 20).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val win = CorpusOps.winnowedSpans(docs, 20, 8).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(win.subsetOf(all), "winnowed selection must be a span subset")
    // expected density ~2/(w+1) ≈ 0.22; allow generous slack both ways
    val density = win.size.toDouble / all.size
    assert(density < 0.5 && density > 0.05, s"winnow density $density")
    // the winnowing guarantee: docs sharing a run >= len+window-1 still
    // collide on at least one SELECTED span — and only the clone pair does
    val pairs = CorpusOps.spanPairsWinnowed(docs, len = 20, window = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)), s"winnowed pairs: $pairs")
  }

  test("contamination flags a planted eval copy and broadcasts the eval side") {
    val s = spark
    import s.implicits._
    val evalSet = Seq((0L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val corpus = Seq(
      (100L, "prefix words then alpha beta gamma delta epsilon copied run"),
      (101L, "totally different content with no overlap at all whatsoever")
    ).toDF("doc_id", "text")
    val df = CorpusOps.contamination(corpus, evalSet, n = 5)
    val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // "alpha beta gamma delta epsilon" is the single shared 5-gram
    assert(got == Map(100L -> 1L), s"got $got")
    // the eval gram index must broadcast — the corpus side never shuffles
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"eval side not broadcast:\n$plan")
    // an eval suite whose gram index exceeds the broadcast bound must NOT
    // attempt the broadcast: the guard falls back to an explicit
    // shuffle-hash join and the results are identical
    val fb = CorpusOps.contamination(corpus, evalSet, n = 5,
      maxBroadcastGrams = 1)
    val gotFb = fb.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(gotFb == got, s"fallback results differ: $gotFb vs $got")
    val fbPlan = fb.queryExecution.executedPlan.toString
    assert(!fbPlan.contains("BroadcastHashJoin"),
      s"oversized eval side must not broadcast:\n$fbPlan")
    assert(fbPlan.contains("ShuffledHashJoin"),
      s"fallback must be a shuffle-hash join:\n$fbPlan")
  }

  test("split assignment is a deterministic partition with dup-stability") {
    val docs = Tables.documents(spark, sf0001)
    val a = CorpusOps.splitAssign(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = CorpusOps.splitAssign(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b, "assignment must be deterministic")
    assert(a.values.toSet.subsetOf(Set("train", "val", "test")))
    // every doc in exactly one split, train the large one (12/16 expected)
    assert(a.size == docs.count())
    val frac = a.values.count(_ == "train").toDouble / a.size
    assert(frac > 0.5 && frac < 0.95, s"train fraction $frac")
    // identical text ⇒ identical split (digest-of-text, not of id)
    val s = spark
    import s.implicits._
    val twins = Seq((1L, "same text here"), (2L, "same text here"))
      .toDF("doc_id", "text")
    val tw = CorpusOps.splitAssign(twins).collect().map(_.getString(1)).toSet
    assert(tw.size == 1, "exact duplicates must share a split")
  }

  test("segment dedup keeps only first corpus-wide occurrences") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "a b c d e f"),            // chunks (k=3): "a b c", "d e f"
      (1L, "a b c x y z"),            // "a b c" repeats doc 0 pos 1 → drop
      (2L, "d e f a b c"),            // both chunks repeats → doc vanishes
      (3L, "x y z q"),                // "x y z" repeats doc 1 → keep "q"
      (4L, "a b c a b c a")           // self-repeat: 2nd "a b c" dropped
    ).toDF("doc_id", "text")
    val got = CorpusOps.segmentDedup(CorpusOps.tokenChunks(docs, k = 3))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // local reference: global keep-first over (doc_id, pos)
    val want = {
      val seen = scala.collection.mutable.Set[String]()
      (for ((id, text) <- Seq(0L -> "a b c d e f", 1L -> "a b c x y z",
                              2L -> "d e f a b c", 3L -> "x y z q",
                              4L -> "a b c a b c a")) yield {
        val kept = text.split(" ").grouped(3).map(_.mkString(" "))
          .filter(seen.add).toSeq
        id -> kept.mkString(" ")
      }).filter(_._2.nonEmpty).toMap
    }
    assert(got == want, s"got $got\nwant $want")
    assert(!got.contains(2L), "fully-duplicated doc must disappear")
    // doc 4's two "a b c" chunks both repeat doc 0's; only the tail "a"
    // survives — repeats are global, not per-doc
    assert(got(4L) == "a", "globally-repeated chunks must be dropped")
  }

  test("mixture sampling: exact integer rates, bounded fractional rates") {
    val docs = Tables.documents(spark, sf0001)
    val rates = Map("en" -> 1.5, "de" -> 0.25, "fr" -> 2.0, "zh" -> 0.0)
    def run() = CorpusOps.mixtureSample(docs, "lang", rates, 1.0, "t")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val a = run()
    assert(a.toSeq.sorted == run().toSeq.sorted, "must be deterministic")
    val copiesPerDoc = a.groupBy(_._1).view.mapValues(_.length).toMap
    val langOf = docs.select(col("doc_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val nByLang = langOf.values.groupBy(identity).view.mapValues(_.size).toMap
    // copy indexes are dense 1..n per doc
    a.groupBy(_._1).foreach { case (id, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length).map(_.toLong),
        s"doc $id copies not dense")
    }
    langOf.foreach { case (id, lang) =>
      val n = copiesPerDoc.getOrElse(id, 0)
      lang match {
        case "zh" => assert(n == 0, s"zh doc $id must be dropped")
        case "fr" => assert(n == 2, s"fr doc $id must appear exactly twice")
        case "en" => assert(n == 1 || n == 2, s"en doc $id copies $n")
        case "de" => assert(n == 0 || n == 1, s"de doc $id copies $n")
        case _    => assert(n == 1, s"$lang doc $id must appear exactly once")
      }
    }
    // empirical fractional rates track the Bernoulli probability
    val enRate = langOf.collect { case (id, "en") =>
      copiesPerDoc.getOrElse(id, 0) }.sum.toDouble / nByLang("en")
    assert(enRate > 1.2 && enRate < 1.8, s"en empirical rate $enRate")
    // identical text ⇒ identical copy count (content-keyed like splits)
    val s = spark
    import s.implicits._
    val twins = Seq((1L, "en", "twin text"), (2L, "en", "twin text"))
      .toDF("doc_id", "lang", "text")
    val tn = CorpusOps.mixtureSample(twins, "lang", Map("en" -> 1.5), 1.0, "t")
      .collect().groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(tn.getOrElse(1L, 0) == tn.getOrElse(2L, 0),
      "exact duplicates must draw the same copy count")
  }

  test("LM perplexity separates in-domain from out-of-domain documents") {
    val s = spark
    import s.implicits._
    val lm = Seq((0L, "the cat sat on the mat"), (1L, "the dog sat on the rug"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "the cat sat on the rug"),       // fully in-domain
      (11L, "quantum flux capacitors hum")   // fully out-of-domain
    ).toDF("doc_id", "text")
    val df = CorpusOps.lmPerplexity(corpus, lm, k = 0.5)
    val got = df.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(10L)._1 == 6L && got(11L)._1 == 4L)
    assert(got(10L)._2 < got(11L)._2,
      s"in-domain must score lower perplexity: $got")
    // independent local recomputation for the in-domain doc
    val counts = "the cat sat on the mat the dog sat on the rug".split(" ")
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val total = counts.values.sum
    val denom = total + 0.5 * (counts.size + 1)
    val nll = "the cat sat on the rug".split(" ")
      .map(t => -math.log((counts.getOrElse(t, 0L) + 0.5) / denom))
    val want = math.floor(math.exp(nll.sum / nll.length) * 10000 + 0.5) / 10000
    assert(got(10L)._2 == want, s"${got(10L)._2} vs $want")
    // out-of-domain tokens are all unseen: ppl equals the smoothing ceiling
    val ceil = math.floor(math.exp(-math.log(0.5 / denom)) * 10000 + 0.5) / 10000
    assert(got(11L)._2 == ceil, s"${got(11L)._2} vs $ceil")
    // the LM side must broadcast
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"LM not broadcast:\n$plan")
  }

  test("shard packing: parallel prefix sum equals the sequential packing") {
    val s = spark
    import s.implicits._
    // sparse, shuffled doc_ids; token counts sized so shards straddle docs
    val docs = Seq(7L, 100L, 3L, 42L, 999L, 500L, 8L, 77L).zipWithIndex.map {
      case (id, i) => (id, Seq.fill((i % 4) * 3 + 2)("tok").mkString(" "))
    }.toDF("doc_id", "text")
    for (nBuckets <- Seq(1, 3, 32)) {
      val got = CorpusOps.packShards(docs, budgetTokens = 7L, nBuckets)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1).toSeq
      // sequential reference: running start offset in doc_id order
      var cum = 0L
      val want = docs.collect().map(r => r.getLong(0) ->
          r.getString(1).split(" ").count(_.nonEmpty).toLong)
        .sortBy(_._1).map { case (id, n) =>
          val start = cum; cum += n
          (id, n, start / 7L, start % 7L)
        }.toSeq
      assert(got == want, s"nBuckets=$nBuckets:\ngot  $got\nwant $want")
    }
    // a doc with null text packs as 0 tokens
    val withNull = docs.unionByName(Seq((1000L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"))
    val z = CorpusOps.packShards(withNull, 7L).collect()
      .find(_.getLong(0) == 1000L).get
    assert(z.getLong(1) == 0L, "null text must count 0 tokens")
  }

  test("shuffled packing: bucketed prefix sum equals the global window; salts permute") {
    val s = spark
    import s.implicits._
    val docs = (0L until 40L).map(i => (i, ("tok " * (i % 7 + 1).toInt).trim))
      .toDF("doc_id", "text")
    val got = CorpusOps.shuffledPack(docs, budgetTokens = 8L, salt = "e1")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // local reference: one global (key, doc_id)-ordered running sum
    val md = java.security.MessageDigest.getInstance("MD5")
    def key(id: Long) = md.digest(s"e1:$id".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val ordered = (0L until 40L).map(i => (key(i), i, i % 7 + 1))
      .sortBy { case (k, i, _) => (k, i) }
    var run = 0L
    ordered.foreach { case (_, i, n) =>
      assert(got(i) == ((n, run / 8, run % 8)),
        s"doc $i: ${got(i)} vs (${n}, ${run / 8}, ${run % 8})")
      run += n
    }
    // a different salt yields a genuinely different epoch order
    val e2 = CorpusOps.shuffledPack(docs, budgetTokens = 8L, salt = "e2")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert((0L until 40L).exists(i => e2(i) != got(i)._3),
      "salt change must permute the packing order")
  }

  /** Independent reference BPE (Sennrich-style) over word frequencies:
    * highest pair count, ties by (left, right) in `String` order — Spark's
    * UTF-8 order for the ASCII corpora it is used on. */
  private def referenceBpe(wordFreqs: Seq[(String, Long)],
                           nMerges: Int): Seq[(Int, String, String, Long)] = {
    def mergeGreedy(syms: Vector[String], l: String, r: String): Vector[String] =
      syms.foldLeft(Vector.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == l && x == r)
          acc.init :+ (l + r)
        else acc :+ x
      }
    var vocab = wordFreqs.map { case (w, f) =>
      (w.map(_.toString).toVector :+ "</w>") -> f }
    val want = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    for (rank <- 1 to nMerges) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
        .withDefaultValue(0L)
      for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) += f
      if (counts.nonEmpty) {
        val ((l, r), c) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        want += ((rank, l, r, c))
        vocab = vocab.map { case (syms, f) => mergeGreedy(syms, l, r) -> f }
      }
    }
    want.toSeq
  }

  private def bpeRows(docs: org.apache.spark.sql.DataFrame,
                      nMerges: Int): Seq[(Int, String, String, Long)] =
    CorpusOps.bpeTrain(docs, nMerges).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .toSeq

  test("BPE training matches a local reference implementation") {
    val s = spark
    import s.implicits._
    // word freqs: low 3, lower 2, newest 2, wider 1  (shared "lo", "er",
    // "we"/"w e" patterns force real merge interactions and ties)
    val docs = Seq(
      (0L, "low low lower newest"),
      (1L, "low lower newest wider")
    ).toDF("doc_id", "text")
    val got = bpeRows(docs, nMerges = 8)
    val want = referenceBpe(Seq("low" -> 3L, "lower" -> 2L, "newest" -> 2L,
      "wider" -> 1L), 8)
    assert(got == want, s"got:\n${got.mkString("\n")}\nwant:\n${want.mkString("\n")}")
    // merges must be usable: applying them re-derives multi-char tokens
    assert(got.map(m => m._2 + m._3).exists(_.length >= 3),
      "some merged symbol should span 3+ chars after 8 merges")
  }

  test("BPE training stops when no word has two symbols left") {
    val s = spark
    import s.implicits._
    // "ab" ×2, "a" ×1: three merges exhaust the vocabulary
    val got = bpeRows(Seq((0L, "ab ab a")).toDF("doc_id", "text"), nMerges = 10)
    assert(got == Seq((1, "a", "b", 2L), (2, "ab", "</w>", 2L),
      (3, "a", "</w>", 1L)), got.toString)
  }

  test("BPE training breaks count ties in UTF-8 order, not UTF-16 order") {
    val s = spark
    import s.implicits._
    // U+E000 encodes below U+1F600 in UTF-8 (EE.. < F0..) but above it in
    // UTF-16 (E000 > D83D): every pair here counts 1, so the order of the
    // merges is the tiebreak's alone — right side first, then left side
    val pua = "\uE000"
    val emoji = new String(Character.toChars(0x1F600))
    val got = bpeRows(Seq((0L, s"a$pua a$emoji")).toDF("doc_id", "text"),
      nMerges = 5)
    assert(got == Seq(
      (1, "a", pua, 1L),
      (2, "a", emoji, 1L),
      (3, s"a$pua", "</w>", 1L),
      (4, s"a$emoji", "</w>", 1L)), got.toString)
  }

  test("BPE training matches the reference on a generated corpus") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(12)
    val docs = (0L until 200L).map { id =>
      val words = Seq.fill(5 + rnd.nextInt(11)) {
        Seq.fill(1 + rnd.nextInt(8))("abcdefgh"(rnd.nextInt(8))).mkString
      }
      (id, words.mkString(" "))
    }
    val wordFreqs = docs.flatMap(_._2.split(" ")).groupBy(identity)
      .map { case (w, ws) => w -> ws.size.toLong }.toSeq
    val got = bpeRows(docs.toDF("doc_id", "text"), nMerges = 64)
    val want = referenceBpe(wordFreqs, 64)
    assert(got.size == 64)
    assert(got == want, s"got:\n${got.mkString("\n")}\nwant:\n${want.mkString("\n")}")
  }

  test("BPE encoding applies trained merges exactly as the reference") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "low low lower newest"),
      (1L, "low lower newest wider"),
      (2L, "unseen words tokenize too")
    ).toDF("doc_id", "text")
    val merges = CorpusOps.bpeTrain(docs.where(col("doc_id") < 2), 8)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val got = CorpusOps.bpeEncode(docs, merges).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // reference apply: same greedy fold, rank order, per word
    def mergeGreedy(syms: Vector[String], l: String, r: String): Vector[String] =
      syms.foldLeft(Vector.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == l && x == r) acc.init :+ (l + r)
        else acc :+ x
      }
    def encode(text: String): Seq[String] =
      text.split(" ").filter(_.nonEmpty).toSeq.flatMap { w =>
        merges.foldLeft(w.map(_.toString).toVector :+ "</w>") {
          case (syms, (l, r)) => mergeGreedy(syms, l, r)
        }
      }
    Seq(0L -> "low low lower newest", 1L -> "low lower newest wider",
        2L -> "unseen words tokenize too").foreach { case (id, text) =>
      assert(got(id) == encode(text), s"doc $id: ${got(id)} vs ${encode(text)}")
    }
    // trained merges must actually compress the training docs
    assert(got(0L).length <
      "low low lower newest".count(_ != ' ') + 4,
      "BPE tokens must be fewer than raw characters")
  }

  test("compaction collapses small files losslessly") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_cmp").toString
    val rows = (0 until 1000).map(i => (i.toLong, s"row $i"))
    rows.toDF("id", "v").repartition(40)
      .write.mode("overwrite").parquet(s"$tmp/frag")
    val (before, after) = graft.operators.Maintenance.compactParquet(
      s, s"$tmp/frag", s"$tmp/out", targetBytes = 1L << 30)
    assert(before == 40 && after == 1, s"$before files -> $after")
    val back = s.read.parquet(s"$tmp/out").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back == rows.toMap, "compaction must be lossless")
    val outFiles = new java.io.File(s"$tmp/out").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(outFiles == 1, s"expected 1 output file, got $outFiles")
    // a partitionBy layout nests files — the recursive listing must still
    // see them (a top-level listing would size the rewrite at zero bytes)
    rows.map { case (id, v) => (id, v, if (id % 2 == 0) "a" else "b") }
      .toDF("id", "v", "p").repartition(10)
      .write.mode("overwrite").partitionBy("p").parquet(s"$tmp/pfrag")
    val (pBefore, _) = graft.operators.Maintenance.compactParquet(
      s, s"$tmp/pfrag", s"$tmp/pout", targetBytes = 1L << 30)
    assert(pBefore >= 10, s"nested partition files not listed: $pBefore")
    assert(s.read.parquet(s"$tmp/pout").count() == 1000)
  }

  test("FIM split reassembles exactly with non-empty middle and suffix") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "ab"),                           // minimum eligible length
      (1L, "x"),                            // too short — excluded
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "aa bb cc dd ee ff gg hh")
    ).toDF("doc_id", "text")
    val got = CorpusOps.fimSplit(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getString(3)))
      .toMap
    assert(got.keySet == Set(0L, 2L, 3L))
    val texts = Map(0L -> "ab",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "aa bb cc dd ee ff gg hh")
    got.foreach { case (id, (p, m, sfx)) =>
      assert(p + m + sfx == texts(id), s"doc $id must reassemble")
      assert(m.nonEmpty && sfx.nonEmpty, s"doc $id middle/suffix empty")
    }
    // deterministic; salt changes the split
    val again = CorpusOps.fimSplit(docs).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getString(3)))
      .toMap
    assert(again == got)
    val other = CorpusOps.fimSplit(docs, salt = "fim2").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getString(3)))
      .toMap
    assert(other(2L) != got(2L), "a different salt must move the span")
  }

  test("compression ratio separates repetitive from organic text") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, Seq.fill(40)("spam").mkString(" ")),
      (1L, "the quick brown fox jumps over a lazy dog while cold rain falls"),
      (2L, "")).toDF("doc_id", "text")
    val got = CorpusOps.compressionRatio(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(0L)._2 > 2 * got(1L)._2,
      s"repetitive ${got(0L)._2} must compress far better than organic ${got(1L)._2}")
    assert(got(1L)._2 > 0.5 && got(1L)._2 < 3.0, s"organic ratio ${got(1L)._2}")
    assert(got(2L) == (0L, 0.0), "empty doc: zero bytes, zero ratio")
    // deterministic across runs (fresh Deflater state per doc)
    val again = CorpusOps.compressionRatio(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(again == got)
  }

  test("balanced sample: prefix cut equals the full rank, fallback included") {
    val s = spark
    import s.implicits._
    val docs = ((0 until 120).map(i => (i.toLong, s"en $i", "en")) ++
      (0 until 3).map(i => (500L + i, s"is $i", "is")))  // stratum below k
      .toDF("doc_id", "text", "lang")
    def fullRank(k: Int): Set[(Long, String, Long)] = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(md5(concat(lit("samp:"), col("doc_id").cast("string"))),
          col("doc_id"))
      docs.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= k)
        .select(col("doc_id"), col("lang"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    }
    val got = CorpusOps.balancedSample(docs, "lang", k = 7)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == fullRank(7), "cut path must equal the full rank")
    assert(got.count(_._2 == "is") == 3, "short stratum keeps all its docs")
    assert(got.count(_._2 == "en") == 7)
    // starved cut (oversample ~0) must take the fallback and STILL be exact
    val fb = CorpusOps.balancedSample(docs, "lang", k = 7, oversample = 1e-9)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(fb == got, "fallback path must produce the identical sample")
  }

  test("temperature mixture boosts low-resource strata") {
    val s = spark
    import s.implicits._
    // 180 en docs vs 20 is docs; α=0.3 flattens hard toward `is`
    val docs = ((0 until 180).map(i => (i.toLong, s"en doc number $i", "en")) ++
      (0 until 20).map(i => (1000L + i, s"islenska skjal numer $i", "is")))
      .toDF("doc_id", "text", "lang")
    val got = CorpusOps.temperatureMixture(docs, stratum = "lang",
      alpha = 0.3, targetFraction = 1.0, maxRate = 8.0)
    val perLang = got.join(docs, "doc_id").groupBy(col("lang"))
      .agg(count(lit(1)).as("copies")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // realized up-sampling factor must invert the skew: `is` replicated
    // above 1x, `en` sampled below 1x
    assert(perLang("is").toDouble / 20 > 1.5, s"is factor ${perLang("is") / 20.0}")
    assert(perLang("en").toDouble / 180 < 1.0, s"en factor ${perLang("en") / 180.0}")
    // deterministic: same salt, same sample
    val again = CorpusOps.temperatureMixture(docs, stratum = "lang",
      alpha = 0.3, targetFraction = 1.0, maxRate = 8.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
  }

  test("length batching matches a sequential rank and counts padding") {
    val s = spark
    import s.implicits._
    // lengths with ties and an empty doc; batchSize 3 over 7 docs
    val docs = Seq(
      (0L, "a b c d"), (1L, "x"), (2L, ""), (3L, "p q"),
      (4L, "r s"), (5L, "t u v w y z"), (6L, "k")
    ).toDF("doc_id", "text")
    val got = CorpusOps.lengthBatches(docs, batchSize = 3, nBuckets = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // sequential recompute: rank by (n, doc_id), batch = rank div 3
    val lens = Seq(0L -> 4L, 1L -> 1L, 2L -> 0L, 3L -> 2L,
      4L -> 2L, 5L -> 6L, 6L -> 1L)
    val ranked = lens.sortBy { case (id, n) => (n, id) }.zipWithIndex
    val want = ranked.groupBy(_._2 / 3).map { case (b, ds) =>
      val ns = ds.map(_._1._2)
      (b.toLong, ns.size.toLong, ns.max, ns.size * ns.max - ns.sum)
    }.toSet
    assert(got == want, s"got $got\nwant $want")
  }

  test("token-stream packing splits straddlers into exact-budget shards") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "a b c"),            // 3 tokens, start 0
      (1L, ""),                 // 0 tokens — excluded
      (2L, "d e f g"),          // 4 tokens, start 3 → straddles shard 0/1
      (3L, "h"),                // 1 token, start 7
      (5L, "i j k l m n")       // 6 tokens, start 8 → spans shards 2..3
    ).toDF("doc_id", "text")
    val got = CorpusOps.packTokenStream(docs, budgetTokens = 4L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // local sequential recompute of the same contract
    val lens = Seq(0L -> 3L, 2L -> 4L, 3L -> 1L, 5L -> 6L)
    var start = 0L
    val want = lens.flatMap { case (id, n) =>
      val rows = (start / 4 to (start + n - 1) / 4).map { sh =>
        (id, sh,
          math.max(sh * 4, start) - start,
          math.min((sh + 1) * 4, start + n) - start)
      }
      start += n
      rows
    }.toSet
    assert(got == want, s"got $got\nwant $want")
    // every shard except the last carries exactly the budget
    val perShard = got.groupBy(_._2).view
      .mapValues(_.toSeq.map(r => r._4 - r._3).sum).toMap
    val last = perShard.keys.max
    perShard.foreach { case (sh, tot) =>
      if (sh < last) assert(tot == 4L, s"shard $sh holds $tot tokens")
    }
    // per-doc intervals tile [0, n): sum of lengths = token count
    lens.foreach { case (id, n) =>
      assert(got.filter(_._1 == id).toSeq.map(r => r._4 - r._3).sum == n)
    }
  }

  test("BPE trie encoder matches the HOF path on trained merges") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "low low lower newest"),
      (1L, "low lower newest wider"),
      (2L, "unseen words tokenize too"),
      (3L, ""),                      // empty doc → empty token sequence
      (4L, "  spaced   out  "),      // repeated separators
      (5L, "l lo low lowe lower")    // prefixes stressing merge cascades
    ).toDF("doc_id", "text")
    val merges = CorpusOps.bpeTrain(docs.where(col("doc_id") < 2), 8)
      .collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val hof = CorpusOps.bpeEncode(docs, merges).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val trie = CorpusOps.bpeEncodeTrie(docs, merges).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(trie.keySet == hof.keySet)
    hof.foreach { case (id, toks) =>
      assert(trie(id) == toks, s"doc $id: trie ${trie(id)} vs hof $toks")
    }
    // the trie path must not shuffle: a single map stage over the scan
    val plan = CorpusOps.bpeEncodeTrie(docs, merges)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"trie encode must be shuffle-free:\n$plan")
  }

  test("bpeEncode auto-dispatches to the trie above the HOF merge cap") {
    val s = spark
    import s.implicits._
    val docs = Seq((0L, "low lower newest")).toDF("doc_id", "text")
    val small = Seq(("l", "o"))
    // padding rules that never fire keep the output stable across paths
    val big = small ++ (0 until CorpusOps.BpeHofMaxMerges).map(i => (s"§$i", "¶"))
    assert(big.length > CorpusOps.BpeHofMaxMerges)
    // small table → HOF path: a pure projection, no object-serde bridge
    val smallPlan = CorpusOps.bpeEncode(docs, small)
      .queryExecution.executedPlan.toString
    assert(!smallPlan.contains("MapPartitions"),
      s"small merge table must take the HOF projection path:\n$smallPlan")
    // big table → trie path: the mapPartitions object bridge appears
    val bigPlan = CorpusOps.bpeEncode(docs, big)
      .queryExecution.executedPlan.toString
    assert(bigPlan.contains("MapPartitions"),
      s"oversized merge table must dispatch to the trie path:\n$bigPlan")
    // and the dispatch changes the plan only, never the tokens — the
    // padding rules never fire, so trie(big) ≡ hof(small). (hof(big)
    // itself dies in the analyzer's iteration limit at 65 chained
    // folds — the concrete failure the dispatch exists to prevent.)
    val a = CorpusOps.bpeEncode(docs, big).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val b = CorpusOps.bpeEncodeHof(docs, small).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(a == b, s"dispatch must be plan-only: $a vs $b")
  }

  test("hashed linear score matches an independent local recomputation") {
    val s = spark
    import s.implicits._
    val weights = CorpusOps.fixtureWeights()
    val docs = Seq(
      (0L, "hello world hello again"),
      (1L, "a completely different document with many more tokens in it"),
      (2L, ""), // no tokens: must drop out
      (3L, "hello world hello again")
    ).toDF("doc_id", "text")
    val got = CorpusOps.hashedLinearScore(docs, weights, bias = 0.125)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // independent scalar recomputation (MessageDigest, no Spark)
    def score(text: String): Option[Double] = {
      val toks = text.split(" ").filter(_.nonEmpty)
      if (toks.isEmpty) None
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val ws = toks.map { t =>
          val hex = md.digest(t.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          def dv(c: Char) = if (c >= 'a') c - 'a' + 10 else c - '0'
          weights(dv(hex(0)) * 16 + dv(hex(1)))
        }
        val m = ws.sum / ws.length
        Some(math.floor(1.0 / (1.0 + math.exp(-(m + 0.125))) * 10000 + 0.5) / 10000)
      }
    }
    assert(!got.contains(2L), "token-less doc must not be scored")
    Seq(0L, 1L, 3L).foreach { id =>
      val text = if (id == 1L)
        "a completely different document with many more tokens in it"
      else "hello world hello again"
      assert(got(id) == score(text).get, s"doc $id: ${got(id)} vs ${score(text)}")
    }
    assert(got(0L) == got(3L), "identical text must score identically")
    assert(got(0L) != got(1L), "different text should score differently")
    assert(got.values.forall(v => v > 0.0 && v < 1.0), s"scores out of (0,1): $got")
    // dyadic fixture weights are exactly representable and bounded
    assert(weights.forall(w => w >= -0.25 && w < 0.25))
    assert(weights.distinct.length > 200, "weights should be spread out")
  }

  test("classifier training: loss descends, labels separate, local parity") {
    val s = spark
    import s.implicits._
    // two disjoint vocabularies — a linearly separable toy problem
    val pos = Seq("alpha beta gamma", "alpha gamma", "beta gamma alpha beta")
    val neg = Seq("omega psi chi", "psi chi", "chi omega psi omega")
    val docs = (pos.map((_, 1.0)) ++ neg.map((_, 0.0))).zipWithIndex
      .map { case ((t, y), i) => (i.toLong, t, y) }.toDF("doc_id", "text", "y")
    val (w, bias, losses) =
      CorpusOps.trainHashedClassifier(docs, col("y"), steps = 6, lr = 4.0)
    // 1) full-batch GD on a convex loss with a sane lr: strictly decreasing
    losses.sliding(2).foreach { case Array(a, b) =>
      assert(b < a, s"loss must descend: ${losses.mkString(", ")}")
    }
    // 2) the learned model separates the classes
    val scored = CorpusOps.hashedLinearScore(docs, w, bias)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (posAvg, negAvg) = ((0 to 2).map(i => scored(i.toLong)).sum / 3,
      (3 to 5).map(i => scored(i.toLong)).sum / 3)
    assert(posAvg > negAvg + 0.1,
      s"trained model must separate: pos=$posAvg neg=$negAvg")
    // 3) parity with an independent local full-batch GD (same arithmetic
    // up to distributed double-summation order)
    def bucket(t: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      def dv(c: Char) = if (c >= 'a') c - 'a' + 10 else c - '0'
      dv(hex(0)) * 16 + dv(hex(1))
    }
    val feats = (pos.map((_, 1.0)) ++ neg.map((_, 0.0))).map { case (t, y) =>
      val bs = t.split(" ").filter(_.nonEmpty).map(bucket)
      (y, bs.groupBy(identity).view.mapValues(_.length).toMap, bs.length)
    }
    val lw = new Array[Double](256)
    var lb = 0.0
    for (_ <- 0 until 6) {
      val g = new Array[Double](256)
      var gb = 0.0
      feats.foreach { case (y, bs, n) =>
        val m = bs.map { case (b, c) => lw(b) * c }.sum / n + lb
        val err = 1.0 / (1.0 + math.exp(-m)) - y
        bs.foreach { case (b, c) => g(b) += err * c / n }
        gb += err
      }
      for (i <- 0 until 256) lw(i) -= 4.0 * g(i) / feats.length
      lb -= 4.0 * gb / feats.length
    }
    assert(math.abs(bias - lb) < 1e-9, s"bias $bias vs local $lb")
    (0 until 256).foreach(i =>
      assert(math.abs(w(i) - lw(i)) < 1e-9, s"w($i): ${w(i)} vs ${lw(i)}"))
  }

  test("tf-idf ranks a doc-specific term above corpus-wide boilerplate") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "common common common zebra zebra zebra zebra"),
      (1L, "common unicorn"),
      (2L, "common something else entirely"),
      (3L, "common more filler text here")
    ).toDF("doc_id", "text")
    val got = CorpusOps.tfIdf(docs, topK = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getString(2)).toMap
    // "common" appears in every doc → idf ln(5/5)=0 → score 0; the rare
    // term must win rank 1 in its doc
    assert(got((0L, 1)) == "zebra")
    assert(got((1L, 1)) == "unicorn")
    // zero-score terms still rank (by term asc) but behind positive scores
    val d0 = CorpusOps.tfIdf(docs, topK = 2).where(col("doc_id") === 0)
      .collect().map(r => (r.getInt(1), r.getString(2), r.getDouble(3)))
    assert(d0.find(_._1 == 1).get._3 > d0.find(_._1 == 2).get._3)
  }

  test("bigram perplexity is word-order sensitive; short docs drop out") {
    val s = spark
    import s.implicits._
    // reference corpus with a strong, consistent word order
    val lm = (0L until 20L).map(i =>
      (i, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val probe = Seq(
      (100L, "the quick brown fox jumps"),   // in-order: seen bigrams
      (101L, "fox the jumps quick brown"),   // same unigrams, scrambled order
      (102L, "onetoken")                     // < 2 tokens: no transitions
    ).toDF("doc_id", "text")
    val got = CorpusOps.bigramPerplexity(probe, lm, lambda = 0.7, k = 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(!got.contains(102L), "single-token doc has no bigrams to score")
    assert(got(100L) < got(101L),
      s"in-order text must score lower ppl than scrambled: $got")
    // a unigram LM CANNOT make this distinction (same token multiset)
    val uni = CorpusOps.lmPerplexity(probe.where(col("doc_id") < 102), lm)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(uni(100L) == uni(101L),
      s"unigram ppl must tie on a permuted token multiset: $uni")
    // local recompute of the in-order doc's ppl (exact formula parity)
    val toks = "the quick brown fox jumps over the lazy dog".split(" ")
    val ref = toks.zip(toks.tail)
    val bc = ref.groupBy(identity).view.mapValues(_.length * 20L).toMap
    val cc = ref.map(_._1).groupBy(identity).view.mapValues(_.length * 20L).toMap
    val uc = toks.groupBy(identity).view.mapValues(_.length * 20L).toMap
    val total = 9.0 * 20; val vocab = uc.size
    val denom = total + 0.5 * (vocab + 1)
    val probeToks = "the quick brown fox jumps".split(" ")
    val nll = probeToks.zip(probeToks.tail).map { case (p, t) =>
      val big = if (cc.contains(p))
        bc.getOrElse((p, t), 0L).toDouble / cc(p) else 0.0
      -math.log(0.7 * big + (1.0 - 0.7) * ((uc.getOrElse(t, 0L) + 0.5) / denom))
    }
    val want = math.floor(
      math.exp(nll.sum / nll.length) * 10000 + 0.5) / 10000
    assert(math.abs(got(100L) - want) < 1e-9, s"${got(100L)} vs local $want")
  }

  test("tf-idf broadcasts the df table, with the guarded fallback") {
    val s = spark
    import s.implicits._
    val docs = Seq((0L, "a b c"), (1L, "a b"), (2L, "a x y z")).toDF("doc_id", "text")
    val df = CorpusOps.tfIdf(docs, topK = 2, knownVocab = Some(6L))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"df side not broadcast:\n$plan")
    val fb = CorpusOps.tfIdf(docs, topK = 2, knownVocab = Some(6L),
      maxBroadcastVocab = 1)
    assert(!fb.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
      "oversized vocabulary must not broadcast")
    // guarded fallback returns identical rows
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getInt(1), r.getString(2), r.getDouble(3))
    assert(df.collect().map(key).toSet == fb.collect().map(key).toSet)
  }

  test("incremental dedup: batch vs existing digests, keep-first in batch") {
    val s = spark
    import s.implicits._
    val existing = Seq("seen before", "also seen").toDF("text")
      .select(Dedup.normDigest(col("text")).as("h"))
    val batch = Seq(
      (10L, "Seen Before"),     // dup of existing (normalization!) → dropped
      (11L, "fresh content"),   // novel → kept
      (12L, "fresh content"),   // in-batch dup → dropped (keep-first)
      (13L, "also seen"),       // dup of existing → dropped
      (14L, "another novel doc") // novel → kept
    ).toDF("doc_id", "text")
    val got = CorpusOps.incrementalDedup(batch, existing)
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(11L, 14L), s"got ${got.toSeq}")
  }

  test("KN perplexity backs off to continuation, not frequency (Francisco)") {
    val s = spark
    import s.implicits._
    // "francisco" and "the" have EQUAL unigram frequency (4), but
    // "francisco" only ever follows "san" (1 context) while "the" follows
    // 4 different contexts — after an unseen context, KN must prefer
    // "the" (high continuation), where a frequency backoff ties
    val lm = Seq(
      (0L, "san francisco san francisco san francisco san francisco"),
      (1L, "a the b the c the d the")).toDF("doc_id", "text")
    val probe = Seq(
      (100L, "zzz francisco"),
      (101L, "zzz the")).toDF("doc_id", "text")
    val kn = CorpusOps.knPerplexity(probe, lm, discount = 0.75, k = 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(kn(100L) > kn(101L),
      s"context-bound word must score WORSE after unseen context: $kn")
    // JM's unigram backoff cannot make this distinction
    val jm = CorpusOps.bigramPerplexity(probe, lm, lambda = 0.7, k = 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(jm(100L) == jm(101L), s"JM frequency backoff must tie: $jm")
    // exact formula parity on a seen context: doc "san francisco":
    // c(san·)=4 (all → francisco), N1+(san·)=1, c(san,francisco)=4,
    // B = |{(san,fr),(fr,san),(a,the),(the,b),(b,the),(the,c),(c,the),
    //       (the,d),(d,the)}| = 9, V = distinct followers
    val bTypes = 9.0
    val vocab = 6.0 // francisco, san, the, b, c, d (as followers)
    val pContFr = (1 + 0.5) / (bTypes + 0.5 * (vocab + 1))
    val pSeen = (math.max(4 - 0.75, 0.0) + 0.75 * 1 * pContFr) / 4.0
    val want = math.floor(math.exp(-math.log(pSeen)) * 10000 + 0.5) / 10000
    val one = CorpusOps.knPerplexity(
        Seq((200L, "san francisco")).toDF("doc_id", "text"), lm)
      .collect()(0).getDouble(2)
    assert(one == want, s"$one vs $want")
  }

  /** Non-periodic pseudo-random text (LCG) — a periodic fixture (e.g.
    * (i*31)%26, period 26) never fires the gear boundary condition, so
    * every cut lands on the start-dependent maxSize fallback and the
    * resync property vacuously fails. Natural prose is non-periodic. */
  private def cdcFixtureText(n: Int): String = {
    var x = 0x9e3779b97f4a7c15L
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) {
      x = x * 6364136223846793005L + 1442695040888963407L
      sb += ('a' + (math.abs((x >>> 33).toInt) % 26)).toChar
      i += 1
    }
    sb.toString
  }

  test("cdcChunks: lossless reconstruction, size bounds, determinism") {
    val s = spark
    import s.implicits._
    val text = cdcFixtureText(3000)
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val chunks = CorpusOps.cdcChunks(docs, minSize = 32, avgBits = 7,
        maxSize = 512)
      .orderBy(col("chunk_idx"))
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(chunks.length > 3, s"fixture too smooth: ${chunks.length} chunks")
    // contiguous cover: chunk i starts where i-1 ended, total = doc length
    chunks.sliding(2).foreach { case Array((_, s1, l1), (_, s2, _)) =>
      assert(s2 == s1 + l1) }
    assert(chunks.map(_._3).sum == text.length)
    // every chunk but the last obeys [min, max]
    chunks.init.foreach { case (_, _, len) =>
      assert(len >= 32 && len <= 512, s"len=$len") }
    val again = CorpusOps.cdcChunks(docs, 32, 7, 512)
      .orderBy(col("chunk_idx")).collect().map(_.getString(4)).toList
    assert(again == CorpusOps.cdcChunks(docs, 32, 7, 512)
      .orderBy(col("chunk_idx")).collect().map(_.getString(4)).toList)
  }

  test("cdcChunks: an insertion re-syncs boundaries within a few chunks") {
    val s = spark
    import s.implicits._
    val text = cdcFixtureText(4000)
    val base = CorpusOps.cdcChunks(Seq((1L, text)).toDF("doc_id", "text"))
      .collect().map(_.getString(4)).toSet
    val shifted = CorpusOps.cdcChunks(
        Seq((1L, "HEADER/2026 " + text)).toDF("doc_id", "text"))
      .collect().map(_.getString(4)).toSet
    val shared = (base intersect shifted).size
    // the gear boundary rule depends on the last avgBits bytes only, so
    // all chunks past the first natural boundary after the insertion
    // keep their digests — fixed-size chunking would share ZERO
    assert(shared >= base.size - 4,
      s"shared $shared of ${base.size} — CDC resync broken")
  }

  test("skipGrams: window bound, symmetric emission, minCount filter") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b c d"), (2L, "a b")).toDF("doc_id", "text")
    val w1 = CorpusOps.skipGrams(docs, window = 1, minCount = 1)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // adjacent pairs only, both directions; (a,b) occurs in both docs
    assert(w1(("a", "b")) == 2L && w1(("b", "a")) == 2L)
    assert(w1(("b", "c")) == 1L && w1(("c", "d")) == 1L)
    assert(!w1.contains(("a", "c")), "window 1 must not reach distance 2")
    val w2 = CorpusOps.skipGrams(docs, window = 2, minCount = 1)
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(w2(("a", "c")) == 1L && w2(("b", "d")) == 1L)
    assert(!w2.contains(("a", "d")), "window 2 must not reach distance 3")
    // minCount drops singletons
    val mc = CorpusOps.skipGrams(docs, window = 1, minCount = 2)
      .as[(String, String, Long)].collect().map(r => (r._1, r._2)).toSet
    assert(mc == Set(("a", "b"), ("b", "a")))
  }

  test("cdcChunks property: any Unicode text covers losslessly with bounded chunks") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val s = spark
    import s.implicits._
    // mixed ASCII / multi-byte / surrogate-pair text — chunk offsets are
    // BYTE offsets, so multi-byte code points may straddle a boundary;
    // the contract is byte-level coverage, not char-level
    val gen = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar.map(_.toString), Gen.const(" "),
      Gen.const("\u00e9"), Gen.const("\u4e16"), Gen.const("\ud83d\ude00")))
      .map(_.mkString)
    val prop = Prop.forAll(gen) { text =>
      val rows = CorpusOps.cdcChunks(Seq((1L, text)).toDF("doc_id", "text"),
          minSize = 8, avgBits = 4, maxSize = 64)
        .orderBy(col("chunk_idx"))
        .collect().map(r => (r.getInt(1), r.getLong(2), r.getLong(3)))
      val nBytes = text.getBytes("UTF-8").length
      if (nBytes == 0) rows.isEmpty
      else {
        val contiguous = rows.sliding(2).forall {
          case Array((_, s1, l1), (_, s2, _)) => s2 == s1 + l1
          case _ => true
        }
        val covered = rows.headOption.exists(_._2 == 0L) &&
          rows.map(_._3).sum == nBytes
        val bounded = rows.dropRight(1).forall(r => r._3 >= 8 && r._3 <= 64)
        val indexed = rows.map(_._1).toList == rows.indices.toList
        contiguous && covered && bounded && indexed
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(60).withWorkers(1), prop)
    assert(res.passed, res.status.toString)
  }

  test("unigram EM kernel: exact posteriors on a two-segmentation word") {
    // "ab" under {a:0.25, b:0.25, ab:0.5}: P([ab])=0.5, P([a,b])=0.0625
    // → posterior(ab) = 8/9, posterior(a)=posterior(b) = 1/9; f=9 scales
    val probs = Map("a" -> 0.25, "b" -> 0.25, "ab" -> 0.5)
    val got = UnigramLm.expectedCounts("ab", 9L, probs, maxL = 2).toMap
    assert(math.abs(got("ab") - 8.0) < 1e-9, s"$got")
    assert(math.abs(got("a") - 1.0) < 1e-9 &&
      math.abs(got("b") - 1.0) < 1e-9, s"$got")
  }

  test("unigram viterbi: best segmentation, tie rules, unknown fallback") {
    val probs = Map("a" -> 0.1, "b" -> 0.1, "ab" -> 0.5)
    assert(UnigramLm.viterbi("abab", probs, 2) === Seq("ab", "ab"))
    // unknown char passes through as its own piece
    assert(UnigramLm.viterbi("axb", probs, 2) === Seq("a", "x", "b"))
    assert(UnigramLm.viterbi("", probs, 2) === Nil)
  }

  test("unigramTrain discovers a planted piece; encode is lossless") {
    val s = spark
    import s.implicits._
    // 'ab' dominates: every doc repeats it; noise words keep chars honest
    val docs = (1L to 60L).map(i =>
      (i, if (i % 5 == 0) "xq zr" else "ababab abab ab")).toDF("doc_id", "text")
    val model = CorpusOps.unigramTrain(docs, vocabSize = 32,
      maxPieceLen = 4, iters = 3)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    val topMulti = model.filter(_._2.length > 1).minBy(_._1)
    assert(topMulti._2.startsWith("ab"), s"top multi-char piece: $topMulti")
    val pieces = model.map(m => m._2 -> math.exp(m._3)).toMap
    val enc = CorpusOps.unigramEncode(docs, pieces, maxPieceLen = 4)
    // lossless: pieces concatenate back to the space-stripped text
    val bad = enc.join(docs, "doc_id")
      .select(col("doc_id"),
        concat_ws("", col("pieces")).as("joined"),
        regexp_replace(col("text"), " ", "").as("orig"))
      .where(col("joined") =!= col("orig")).count()
    assert(bad === 0L)
    // compression: the planted docs encode in far fewer pieces than chars
    val plantedLen = enc.where(col("doc_id") === 1L)
      .select(col("n_pieces")).head().getLong(0)
    assert(plantedLen <= 8L, s"expected ~6 pieces for 14 chars, got $plantedLen")
  }

  test("clippedNgramPrecision: hand-computed clipping, repeats capped by ref") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "the cat the cat"), // candidate: 'the'×2 'cat'×2
      (2L, "the cat sat"),     // reference
      (3L, "a")                // 1 token → unigram row only
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 2L)).toDF("cand_id", "ref_id")
    val got = CorpusOps.clippedNgramPrecision(docs, pairs, maxN = 2)
      .collect().map(r => (r.getLong(0), r.getInt(2)) ->
        ((r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // unigrams: clipped = min(2,1)['the'] + min(2,1)['cat'] = 2 of 4
    assert(got((1L, 1)) === ((2L, 4L, 0.5)))
    // bigrams: 'the cat'×2 clipped to 1, 'cat the' unmatched → 1 of 3
    assert(got((1L, 2)) === ((1L, 3L, 1.0 / 3.0)))
    // 'a' has no match and no bigram row at all
    assert(got((3L, 1)) === ((0L, 1L, 0.0)))
    assert(!got.contains((3L, 2)))
    assert(got.size === 3)
  }

  test("clippedNgramPrecision: identical docs score 1.0 at every order") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "x y z x y"), (2L, "x y z x y")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("cand_id", "ref_id")
    val ps = CorpusOps.clippedNgramPrecision(docs, pairs, maxN = 2)
      .select("p_n").as[Double].collect()
    assert(ps.length === 2 && ps.forall(_ === 1.0))
  }
}
