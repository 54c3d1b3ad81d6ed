package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Web-crawl curation operators (RefinedWeb/CCNet preprocessing family):
  * text canonicalization, URL host/domain extraction, per-domain document
  * caps, blocked fuzzy string matching, and snapshot upsert-merge.
  *
  * Scale doctrine: canonicalization and URL parsing are map-only codegen;
  * the domain cap is the SALTED two-stage top-N (a crawl's domain
  * distribution is the canonical power law — one window partitioned by
  * domain alone would put a 100M-page domain in one task); fuzzy matching
  * is blocked on (first char, length) so the candidate space is
  * vocabulary-, not corpus-, squared; the merge is one full-outer shuffle
  * on the key.
  */
object WebOps {

  /** Canonicalize a text column: NFC + strip diacritics + lowercase
    * (native [[graft.functions.NormalizeText]]) then collapse runs of
    * whitespace and trim. Map-only, whole-stage codegen. */
  def canonical(c: Column): Column = {
    // call_function resolves through the registry so arity/type checks
    // stay in one place (same route as the SQL surface)
    trim(regexp_replace(call_function("normalize_text", c), "\\s+", " "))
  }

  /** Host of a URL column (`https://host/...` → `host`), empty string when
    * the URL has no scheme-authority shape. Registrable-domain
    * approximation: host minus a leading `www.`. */
  def host(url: Column): Column = regexp_extract(url, "://([^/]+)", 1)

  def domain(url: Column): Column =
    regexp_replace(host(url), "^www\\.", "")

  /** Canonical URL for crawl-level dedup: lowercase scheme+host, drop the
    * fragment, drop the DEFAULT port for the scheme (:80 only under http,
    * :443 only under https — `http://h:443` is a real nonstandard port and
    * must NOT merge with `http://h`), drop tracking parameters
    * (utm_*, fbclid, gclid, ref), sort surviving query parameters, strip any
    * trailing slash (the root '/' merges with the empty path — same
    * page) and a dangling '?'. Two URLs that
    * differ only in parameter order / case / tracking garbage map to the
    * same string — the keep-first exact-dedup key for page-level dedup.
    *
    * Inputs WITHOUT a scheme://authority shape pass through verbatim:
    * canonicalizing them would collapse every such string to a shared
    * empty-host key and keep-first dedup would silently drop distinct
    * pages. Pure column expressions (split/filter/sort HOFs), map-only
    * codegen. */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val base = regexp_extract(noFrag, "^([^?]*)", 1)
    val query = regexp_extract(noFrag, "^[^?]*\\?(.*)$", 1)
    val schemeHost = lower(regexp_extract(base, "^([^:]+://[^/]+)", 1))
    val hostNoPort = regexp_replace(
      regexp_replace(schemeHost, "^(http://[^:/]+):80$", "$1"),
      "^(https://[^:/]+):443$", "$1")
    val path0 = regexp_extract(base, "^[^:]+://[^/]+(/.*)?$", 1)
    // one uniform trailing-slash strip: "/a/" → "/a" AND the root "/" →
    // "" — so http://h and http://h/ (the same page per RFC 3986, both
    // ubiquitous in crawl data) share one dedup key
    val path = regexp_replace(path0, "/$", "")
    val params = filter(split(query, "&"), p =>
      p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid|ref)="))
    val sortedQ = array_join(array_sort(params), "&")
    when(schemeHost === "", url).otherwise(
      concat(hostNoPort, path,
        when(sortedQ === "", lit("")).otherwise(concat(lit("?"), sortedQ))))
  }

  /** Keep the first `cap` documents (by `ord`) of every domain — the
    * RefinedWeb per-domain quota. Two-stage salted top-N:
    * stage 1 partitions the window by (domain, source partition id), so a
    * hot domain is spread over as many tasks as it has input splits and
    * each task keeps at most `cap`; stage 2 ranks the ≤ cap·P survivors
    * per domain globally. Both stages are one shuffle each; no domain ever
    * concentrates more than cap·P rows in a single task. */
  def perDomainCap(df: DataFrame, domainCol: Column, ord: Column, cap: Int): DataFrame = {
    require(cap >= 1, s"cap=$cap")
    val salted = df.withColumn("__salt", spark_partition_id())
    val w1 = Window.partitionBy(domainCol, col("__salt")).orderBy(ord)
    val survivors = salted
      .withColumn("__r1", row_number().over(w1))
      .where(col("__r1") <= cap)
      .drop("__r1", "__salt")
    val w2 = Window.partitionBy(domainCol).orderBy(ord)
    survivors
      .withColumn("__rank", row_number().over(w2))
      .where(col("__rank") <= cap)
      .drop("__rank")
  }

  /** Blocked fuzzy match: for each left string, right strings within
    * `maxDist` Levenshtein edits, candidates restricted to the same first
    * character and |length difference| ≤ maxDist — the classic
    * inverted-block join (candidate space is block-local, never the full
    * cross product; at crawl scale blocks are vocabulary-sized). Inputs
    * are one-column frames; returns (left, right, dist). */
  def fuzzyMatch(left: DataFrame, right: DataFrame, maxDist: Int): DataFrame = {
    require(maxDist >= 0, s"maxDist=$maxDist")
    val l = left.select(col(left.columns.head).as("left"))
      .withColumn("__bl", substring(col("left"), 1, 1))
    val r = right.select(col(right.columns.head).as("right"))
      .withColumn("__br", substring(col("right"), 1, 1))
    // pure equi-join on the block, cheap length prefilter, then ONE
    // levenshtein evaluation per surviving candidate (it was previously
    // embedded in the join predicate AND the projection — twice per pair,
    // and the non-equi predicate blocked a clean hash join)
    l.join(r, col("__bl") === col("__br"))
      .where(abs(length(col("left")) - length(col("right"))) <= maxDist)
      .withColumn("dist", levenshtein(col("left"), col("right")))
      .where(col("dist") <= maxDist)
      .select(col("left"), col("right"), col("dist"))
  }

  /** SCD-1 snapshot merge (MERGE INTO semantics, no tombstones): rows
    * present in `nw` win; rows only in `old` are carried forward. Returns
    * the merged table plus a `status` column
    * (`inserted` / `updated` / `unchanged` / `carried`) so downstream
    * incremental consumers can subscribe to the change set. One full-outer
    * shuffle on the key over (key, digest) projections only; text
    * comparison is digest-based so the wide text column never shuffles.
    * Returns (key, status, h) — the change-set, not the merged payload
    * (callers re-join the winning side by key for full rows). */
  def snapshotMerge(old: DataFrame, nw: DataFrame, key: String): DataFrame = {
    val o = old.select(col(key).as("__k"), md5(col("text")).as("__oh"))
    // digests only — the wide text column must not ride the full-outer
    // shuffle (it is dropped from the output anyway)
    val n = nw.select(col(key).as("__nk"), md5(col("text")).as("__nh"))
    // presence is the KEY's nullness, not the digest's: md5(null text) is
    // null too, and digest-based tests would misreport a null-text row as
    // inserted/carried; <=> compares digests null-safely for rows whose
    // text is null on both sides
    val merged = o.join(n, col("__k") === col("__nk"), "full_outer")
      .withColumn("status",
        when(col("__k").isNull, lit("inserted"))
          .when(col("__nk").isNull, lit("carried"))
          .when(col("__oh") <=> col("__nh"), lit("unchanged"))
          .otherwise(lit("updated")))
      .withColumn(key, coalesce(col("__nk"), col("__k")))
    // carried rows have no payload from `nw` — the caller re-joins `old`
    // for them if it needs the full row; the digest is enough for the
    // change-set contract here
    merged.select(col(key), col("status"), coalesce(col("__nh"), col("__oh")).as("h"))
  }

  /** Fellegi–Sunter probabilistic record linkage over blocked candidate
    * pairs: each field comparison contributes the log-likelihood weight
    * log2(m/u) on agreement and log2((1−m)/(1−u)) on disagreement, with
    * (m, u) the per-field match/unmatch agreement rates; the pair score
    * is the sum, classified against a threshold. The standard ER scoring
    * model (Splink/RecordLinkage shape), composed downstream of blocking
    * so the pair space is |block|², never |rows|².
    *
    * `fields` = (name, agreePredicate-column pairs built by the caller
    * from the joined frame), `mu` = per-field (m, u). Scale shape: one
    * equi-join on the block key (shuffle or broadcast per Catalyst), the
    * scoring a pure map over the pair frame. Weights fold to literal
    * doubles driver-side — log2 runs once per field, not per row. */
  def fellegiSunter(left: DataFrame, right: DataFrame, blockKey: String,
                    fields: Seq[(String, org.apache.spark.sql.Column)],
                    mu: Seq[(Double, Double)],
                    threshold: Double): DataFrame = {
    require(fields.nonEmpty && fields.size == mu.size,
      s"fields=${fields.size} mu=${mu.size}")
    require(mu.forall { case (m, u) =>
      m > 0 && m < 1 && u > 0 && u < 1 && m > u }, s"need 0<u<m<1: $mu")
    val joined = left.join(right, blockKey)
    val ln2 = math.log(2.0)
    val score = fields.zip(mu).map { case ((_, agree), (m, u)) =>
      // a NULL comparison (either side's field missing) is NO EVIDENCE —
      // neutral 0, the standard FS treatment; otherwise() would charge
      // the full disagreement penalty and bias incomplete records toward
      // non-match
      when(agree.isNull, lit(0.0))
        .when(agree, lit(math.log(m / u) / ln2))
        .otherwise(lit(math.log((1 - m) / (1 - u)) / ln2))
    }.reduce(_ + _)
    joined.withColumn("score", score)
      .withColumn("is_match", (col("score") >= lit(threshold)).cast("int"))
  }
}
