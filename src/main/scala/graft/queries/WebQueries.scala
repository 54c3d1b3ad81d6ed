package graft.queries

import graft.core.{Q, Tables}
import graft.operators.{GraphOps, Similarity, WebOps}
import org.apache.spark.sql.functions._

/** Web-crawl curation catalog (SURVEY §2B extension, round 6): text
  * canonicalization, URL/domain ops with the salted per-domain cap,
  * domain-graph PageRank, blocked fuzzy matching, snapshot upsert-merge,
  * and int8 embedding quantization. Every entry is deterministic and
  * carries an exact DuckDB oracle — including PageRank, whose oracle is
  * the same fixed-iteration recurrence unrolled as chained CTEs.
  *
  * The synthetic corpus has no URLs or diacritics, so fixtures derive them
  * deterministically IN BOTH ENGINES (same concat/substr/modulo on the
  * same columns): accent garnish prepended to every third doc, a URL built
  * from (source, doc_id), typo strings dropped-last-char from the token
  * vocabulary. The derivation is part of the query contract, so the
  * Spark/DuckDB comparison still pins the operator math end to end. */
object WebQueries {

  /** Accent garnish (NFC + decomposable + non-decomposable cases) —
    * prepended identically by query and oracle. Parity of the underlying
    * normalizer over this exact set is pinned char-by-char in
    * TextNormSpec. */
  private val garnish = "Café ÉLAN ß Münster ﬁn łódź Ø NAÏVE "

  val queries: Map[String, Q] = Map(
    // CCNet canonicalization: NFC + strip accents + lowercase + whitespace
    // collapse, via the native codegen normalize_text expression
    "q_llm_normalize" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("text",
          when(col("doc_id") % 3 === 0, concat(lit(garnish), col("text")))
            .otherwise(concat(lit("  "), col("text"), lit("   "))))
      docs.select(col("doc_id"),
          WebOps.canonical(col("text")).as("norm"))
        .withColumn("n_chars_norm", length(col("norm")))
        .orderBy(col("doc_id"))
    }),

    // domain extraction from a derived URL + per-domain doc counts
    "q_web_domain" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("url", concat(lit("https://www."), col("source"),
          lit("-"), col("doc_id") % 13, lit(".example.com/page/"),
          col("doc_id"), lit("?ref=crawl")))
      docs.select(WebOps.domain(col("url")).as("domain"))
        .groupBy(col("domain")).agg(count(lit(1)).as("n_docs"))
        .orderBy(col("domain"))
    }),

    // RefinedWeb per-domain quota: keep the first 3 docs of each domain.
    // Salted two-stage top-N (skew-proof) must equal the plain
    // row_number()-per-domain oracle exactly.
    "q_web_domain_cap" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("domain", concat(col("source"), lit("-"), col("doc_id") % 13))
      WebOps.perDomainCap(docs, col("domain"), col("doc_id"), cap = 3)
        .select(col("doc_id"), col("domain"))
        .orderBy(col("doc_id"))
    }),

    // domain-graph PageRank, 10 fixed iterations, damping 0.85; edges
    // derived (doc_id%50) → ((doc_id*31+n_chars)%50) with multiplicity
    "q_graph_pagerank" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = docs.select((col("doc_id") % 50).as("src"),
        ((col("doc_id") * 31 + col("n_chars")) % 50).as("dst"))
      GraphOps.pageRank(edges, iters = 10, damping = 0.85)
        .select(col("node"),
          (floor(col("rank") * 1e4 + lit(0.5)) / 1e4).as("rank"))
        .orderBy(col("node"))
    }),

    // per-node triangle counts + clustering coefficient on a 60-node
    // derived graph (degree-ordered orientation; see GraphOps scaladoc)
    "q_graph_triangles" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = docs.select((col("doc_id") % 60).as("a"),
        ((col("doc_id") * 31 + col("n_chars")) % 60).as("b"))
      GraphOps.triangleCounts(edges)
        .orderBy(col("node"))
    }),

    // personalized PageRank: teleport to the node%7==0 seed set on the
    // 50-node graph — random-walk-with-restart relevance to the seeds
    "q_graph_ppr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = docs.select((col("doc_id") % 50).as("src"),
        ((col("doc_id") * 31 + col("n_chars")) % 50).as("dst"))
      val seeds = edges.select(col("src").as("node"))
        .union(edges.select(col("dst").as("node"))).distinct()
        .where(col("node") % 7 === 0)
      GraphOps.personalizedPageRank(edges, seeds, iters = 10, damping = 0.85)
        .select(col("node"),
          (floor(col("rank") * 1e4 + lit(0.5)) / 1e4).as("rank"))
        .orderBy(col("node"))
    }),

    // Fellegi–Sunter record linkage: customer vs a deterministically
    // perturbed copy (every 3rd name truncated, every 5th balance
    // shifted 0.37), blocked on a BOUNDED composite key (50-key
    // "geo-cell" × nation — nation alone is a scale-killer: block size
    // grows with data, so pairs grow QUADRATICALLY; the 8× probe
    // measured 15.8× wall before the cell bound). Three field
    // comparisons with per-field (m, u) rates; matches above 8.
    "q_web_linkage" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val blk = (floor(col("c_custkey") / 50) * 100 +
        col("c_nationkey")).as("blk")
      val left = c.select(col("c_custkey").as("lkey"), blk,
        col("c_name").as("lname"),
        col("c_mktsegment").as("lseg"), col("c_acctbal").as("lbal"))
      val right = c.select(col("c_custkey").as("rkey"), blk,
        when(col("c_custkey") % 3 === 0,
          expr("substring(c_name, 1, length(c_name) - 1)"))
          .otherwise(col("c_name")).as("rname"),
        col("c_mktsegment").as("rseg"),
        when(col("c_custkey") % 5 === 0, col("c_acctbal") + 0.37)
          .otherwise(col("c_acctbal")).as("rbal"))
      WebOps.fellegiSunter(left, right, "blk",
          fields = Seq(
            "name" -> (levenshtein(col("lname"), col("rname")) <= 1),
            "segment" -> (col("lseg") === col("rseg")),
            "balance" -> (abs(col("lbal") - col("rbal")) < lit(1.0))),
          mu = linkageMu, threshold = 8.0)
        .where(col("is_match") === 1)
        .select(col("lkey"), col("rkey"),
          (floor(col("score") * 1e4 + lit(0.5)) / 1e4).as("score"))
        .orderBy(col("lkey"), col("rkey"))
    }),

    // HITS hubs & authorities on the 50-node derived digraph (distinct
    // edges), 3 iterations, L1-normalized once at the end
    "q_graph_hits" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = docs.select((col("doc_id") % 50).as("src"),
        ((col("doc_id") * 31 + col("n_chars")) % 50).as("dst"))
      GraphOps.hits(edges, iters = 3)
        .select(col("node"),
          (floor(col("auth") * 1e4 + lit(0.5)) / 1e4).as("auth"),
          (floor(col("hub") * 1e4 + lit(0.5)) / 1e4).as("hub"))
        .orderBy(col("node"))
    }),

    // weakly connected components exposed as a first-class graph op
    // (Dedup's CC loop on a graph DELIBERATELY split into islands by
    // dropping every edge touching node%4==0): (node, component=min id)
    "q_graph_wcc" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = docs.select((col("doc_id") % 60).as("a"),
          ((col("doc_id") * 31 + col("n_chars")) % 60).as("b"))
        .where(col("a") % 4 =!= 0 && col("b") % 4 =!= 0 &&
          col("a") =!= col("b"))
        .select(least(col("a"), col("b")).as("d1"),
          greatest(col("a"), col("b")).as("d2"))
        .distinct()
      graft.operators.Dedup.connectedComponents(edges)
        .select(col("id").as("node"), col("comp").as("component"))
        .orderBy(col("node"))
    }),

    // single-source BFS levels from node 0 on the same 60-node graph —
    // level-synchronous frontier expansion (Pregel's traversal shape)
    "q_graph_bfs" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val edges = docs.select((col("doc_id") % 60).as("a"),
        ((col("doc_id") * 31 + col("n_chars")) % 60).as("b"))
      GraphOps.bfsLevels(edges, src = 0L)
        .orderBy(col("node"))
    }),

    // blocked fuzzy match: dropped-last-char typos vs the token vocabulary
    // at Levenshtein ≤ 1 (block = same first char, |Δlen| ≤ 1)
    "q_join_fuzzy" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val vocab = docs
        .select(explode(split(col("text"), " ")).as("token"))
        .where(col("token") =!= "").distinct()
      val typos = vocab.where(length(col("token")) > 3)
        .select(expr("substring(token, 1, length(token) - 1)").as("typo"))
        .distinct()
      WebOps.fuzzyMatch(typos.select(col("typo")), vocab.select(col("token")), maxDist = 1)
        .orderBy(col("left"), col("right"))
    }),

    // URL canonicalization: two messy variants per (host,path,param) key —
    // different case, default port, tracking params, param order, trailing
    // slash, fragment — must collapse to ONE canonical form (n = 2·k)
    "q_web_canon_url" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .withColumn("url",
          when(col("doc_id") % 2 === 0,
            concat(lit("HTTPS://WWW.EXAMPLE"), col("doc_id") % 5,
              lit(".COM:443/Path"), col("doc_id") % 3,
              lit("/?b=2&a="), col("doc_id") % 7,
              lit("&utm_source=feed&fbclid=xyz#frag")))
          .otherwise(
            concat(lit("https://www.example"), col("doc_id") % 5,
              lit(".com/Path"), col("doc_id") % 3,
              lit("?a="), col("doc_id") % 7, lit("&b=2&ref=tw"))))
      docs.select(WebOps.canonicalUrl(col("url")).as("canon"))
        .groupBy(col("canon")).agg(count(lit(1)).as("n"))
        .orderBy(col("canon"))
    }),

    // SCD-1 snapshot merge: new snapshot wins, removed rows carried
    "q_llm_merge" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val old = docs.where(col("doc_id") % 11 =!= 3)
      val nw = docs.where(col("doc_id") % 11 =!= 7)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
      WebOps.snapshotMerge(old, nw, "doc_id")
        .orderBy(col("doc_id"))
    }),

    // symmetric int8 quantization digest: integer-exact code sums (arrays
    // stay out of the result — the PCA harness lesson), scale at 4 dp
    "q_llm_quant" -> ((s, d) => {
      Similarity.quantizeInt8(Tables.embeddings(s, d))
        .select(col("vec_id"),
          (floor(col("scale") * 1e4 + lit(0.5)) / 1e4).as("scale4"),
          aggregate(col("codes"), lit(0L), (a, x) => a + x.cast("long")).as("q_sum"),
          aggregate(col("codes"), lit(0L), (a, x) => a + abs(x.cast("long"))).as("q_l1"),
          aggregate(col("codes"), lit(0L),
            (a, x) => a + when(abs(x) === 127, 1L).otherwise(0L)).as("n_sat"))
        .orderBy(col("vec_id"))
    }))

  /** Personalized-PageRank oracle: same unrolled-CTE scheme as
    * [[pageRankSql]] with the teleport distribution over the seed set;
    * `(1 - 0.85) * tp` is spelled exactly as the Spark side computes it
    * (bit parity of the IEEE op sequence). The 50-node derived graph has
    * no dangling nodes (every id 0..49 occurs as a src), so the oracle
    * carries no dangling term — asserted by the operator's own spec. */
  private def pprSql(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      val prev = s"r${i - 1}"
      s"""r$i AS (
         SELECT n.node,
                (1 - 0.85) * t.tp + 0.85 * COALESCE(sum(p.r * f.share), 0) AS r
         FROM nodes n JOIN tp t ON t.node = n.node
         LEFT JOIN flow f ON f.dst = n.node
         LEFT JOIN $prev p ON p.node = f.src
         GROUP BY n.node, t.tp)"""
    }.mkString(",\n")
    s"""WITH e AS (
         SELECT doc_id % 50 AS src, (doc_id * 31 + n_chars) % 50 AS dst,
                CAST(count(*) AS DOUBLE) AS w
         FROM documents GROUP BY 1, 2),
       deg AS (SELECT src, sum(w) AS outw FROM e GROUP BY 1),
       flow AS (
         SELECT e.src, e.dst, e.w / deg.outw AS share
         FROM e JOIN deg ON e.src = deg.src),
       nodes AS (SELECT DISTINCT src AS node FROM e
                 UNION SELECT DISTINCT dst FROM e),
       sm AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM nodes
              WHERE node % 7 = 0),
       tp AS (SELECT node,
                     CASE WHEN node % 7 = 0 THEN 1.0 / sm.m ELSE 0.0 END AS tp
              FROM nodes CROSS JOIN sm),
       r0 AS (SELECT node, tp AS r FROM tp),
       $iterCtes
       SELECT node, floor(r * 1e4 + 0.5) / 1e4 AS rank
       FROM r$iters ORDER BY node"""
  }

  /** PageRank oracle: the recurrence unrolled as chained CTEs (DuckDB's
    * recursive CTEs disallow aggregation in the recursive term, so fixed
    * iterations are spelled out — generated, not hand-copied). */
  private def pageRankSql(iters: Int): String = {
    val iterCtes = (1 to iters).map { i =>
      val prev = s"r${i - 1}"
      s"""r$i AS (
         SELECT n.node,
                0.15 / c.n + 0.85 * COALESCE(sum(p.r * f.share), 0) AS r
         FROM nodes n CROSS JOIN cnt c
         LEFT JOIN flow f ON f.dst = n.node
         LEFT JOIN $prev p ON p.node = f.src
         GROUP BY n.node, c.n)"""
    }.mkString(",\n")
    s"""WITH e AS (
         SELECT doc_id % 50 AS src, (doc_id * 31 + n_chars) % 50 AS dst,
                CAST(count(*) AS DOUBLE) AS w
         FROM documents GROUP BY 1, 2),
       deg AS (SELECT src, sum(w) AS outw FROM e GROUP BY 1),
       flow AS (
         SELECT e.src, e.dst, e.w / deg.outw AS share
         FROM e JOIN deg ON e.src = deg.src),
       nodes AS (SELECT DISTINCT src AS node FROM e
                 UNION SELECT DISTINCT dst FROM e),
       cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       r0 AS (SELECT node, 1.0 / c.n AS r FROM nodes CROSS JOIN cnt c),
       $iterCtes
       SELECT node, floor(r * 1e4 + 0.5) / 1e4 AS rank
       FROM r$iters ORDER BY node"""
  }

  /** Per-field (m, u) rates for q_web_linkage — shared by the Spark query
    * and the oracle so both fold to the SAME literal log2 weights. */
  private val linkageMu =
    Seq((0.95, 0.001), (0.9, 0.2), (0.85, 0.01))

  /** Agreement/disagreement weights as full-precision SQL literals
    * (Scala Double.toString round-trips, DuckDB parses to the identical
    * double — the pair score is then an exact 3-term sum both engines
    * agree on bit-for-bit). */
  private def linkageW: Seq[(String, String)] = linkageMu.map { case (m, u) =>
    val ln2 = math.log(2.0)
    ((math.log(m / u) / ln2).toString, (math.log((1 - m) / (1 - u)) / ln2).toString)
  }

  /** Unrolled HITS CTEs mirroring [[graft.operators.GraphOps.hits]]:
    * alternating auth/hub half-rounds over the DISTINCT edge set, no
    * per-round normalization (scaling commutes; normalized once at the
    * end), COALESCE(sum, 0) spelling the operator's left-join + coalesce. */
  private def hitsSql(iters: Int): String = {
    val iterCtes = (1 to iters).flatMap { i =>
      val prevH = s"h${i - 1}"
      Seq(
        s"""a$i AS (
           SELECT n.node, COALESCE(sum(p.h), 0) AS a
           FROM nodes n
           LEFT JOIN e ON e.dst = n.node
           LEFT JOIN $prevH p ON p.node = e.src
           GROUP BY n.node)""",
        s"""h$i AS (
           SELECT n.node, COALESCE(sum(q.a), 0) AS h
           FROM nodes n
           LEFT JOIN e ON e.src = n.node
           LEFT JOIN a$i q ON q.node = e.dst
           GROUP BY n.node)""")
    }.mkString(",\n")
    s"""WITH e AS (
         SELECT DISTINCT doc_id % 50 AS src, (doc_id * 31 + n_chars) % 50 AS dst
         FROM documents),
       nodes AS (SELECT DISTINCT src AS node FROM e
                 UNION SELECT DISTINCT dst FROM e),
       h0 AS (SELECT node, 1.0 AS h FROM nodes),
       $iterCtes,
       na AS (SELECT sum(a) AS sa FROM a$iters),
       nh AS (SELECT sum(h) AS sh FROM h$iters)
       SELECT a.node,
              floor(a.a / na.sa * 1e4 + 0.5) / 1e4 AS auth,
              floor(h.h / nh.sh * 1e4 + 0.5) / 1e4 AS hub
       FROM a$iters a JOIN h$iters h ON a.node = h.node
       CROSS JOIN na CROSS JOIN nh
       ORDER BY a.node"""
  }

  val oracle: Map[String, String] = Map(
    "q_llm_normalize" ->
      s"""WITH g AS (
           SELECT doc_id,
                  CASE WHEN doc_id % 3 = 0 THEN '$garnish' || text
                       ELSE '  ' || text || '   ' END AS text
           FROM documents)
         SELECT doc_id,
                trim(regexp_replace(
                  lower(strip_accents(nfc_normalize(text))),
                  '\\s+', ' ', 'g')) AS norm,
                CAST(len(trim(regexp_replace(
                  lower(strip_accents(nfc_normalize(text))),
                  '\\s+', ' ', 'g'))) AS INT) AS n_chars_norm
         FROM g ORDER BY doc_id""",
    "q_web_domain" ->
      """WITH u AS (
           SELECT 'https://www.' || source || '-' || (doc_id % 13) ||
                  '.example.com/page/' || doc_id || '?ref=crawl' AS url
           FROM documents)
         SELECT regexp_replace(regexp_extract(url, '://([^/]+)', 1),
                               '^www\.', '') AS domain,
                count(*) AS n_docs
         FROM u GROUP BY 1 ORDER BY domain""",
    "q_web_domain_cap" ->
      """WITH d AS (
           SELECT doc_id, source || '-' || (doc_id % 13) AS domain
           FROM documents),
         r AS (
           SELECT doc_id, domain,
                  row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
           FROM d)
         SELECT doc_id, domain FROM r WHERE rn <= 3 ORDER BY doc_id""",
    "q_graph_pagerank" -> pageRankSql(10),
    "q_graph_hits" -> hitsSql(3),
    // min-label propagation to a fixpoint via recursive CTE (the
    // q_llm_pipeline2 CC-oracle pattern on an explicit graph)
    "q_graph_wcc" ->
      """WITH RECURSIVE e AS (
           SELECT DISTINCT least(a, b) AS d1, greatest(a, b) AS d2 FROM (
             SELECT doc_id % 60 AS a, (doc_id * 31 + n_chars) % 60 AS b
             FROM documents)
           WHERE a % 4 <> 0 AND b % 4 <> 0 AND a <> b),
         sym AS (SELECT d1 AS u, d2 AS v FROM e
                 UNION ALL SELECT d2, d1 FROM e),
         walk(node, comp) AS (
           SELECT u, u FROM (SELECT DISTINCT u FROM sym)
           UNION
           SELECT sym.u, walk.comp FROM sym JOIN walk ON sym.v = walk.node),
         lab AS (SELECT node, min(comp) AS component FROM walk GROUP BY 1)
         SELECT CAST(node AS BIGINT) AS node,
                CAST(component AS BIGINT) AS component
         FROM lab ORDER BY node""",
    "q_web_linkage" -> {
      val Seq((na, nd), (sa, sd_), (ba, bd)) = linkageW
      s"""WITH l AS (
           SELECT c_custkey AS lkey,
                  (c_custkey // 50) * 100 + c_nationkey AS blk,
                  c_name AS lname,
                  c_mktsegment AS lseg, c_acctbal AS lbal
           FROM customer),
         r AS (
           SELECT c_custkey AS rkey,
                  (c_custkey // 50) * 100 + c_nationkey AS blk,
                  CASE WHEN c_custkey % 3 = 0
                       THEN substr(c_name, 1, length(c_name) - 1)
                       ELSE c_name END AS rname,
                  c_mktsegment AS rseg,
                  CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 0.37
                       ELSE c_acctbal END AS rbal
           FROM customer),
         p AS (
           SELECT lkey, rkey,
                  (CASE WHEN levenshtein(lname, rname) <= 1
                        THEN $na ELSE $nd END)
                + (CASE WHEN lseg = rseg THEN $sa ELSE $sd_ END)
                + (CASE WHEN abs(lbal - rbal) < 1.0 THEN $ba ELSE $bd END)
                  AS score
           FROM l JOIN r USING (blk))
         SELECT lkey, rkey, floor(score * 1e4 + 0.5) / 1e4 AS score
         FROM p WHERE score >= 8.0 ORDER BY lkey, rkey"""
    },
    "q_graph_ppr" -> pprSql(10),
    "q_graph_triangles" ->
      """WITH raw AS (
           SELECT doc_id % 60 AS p, (doc_id * 31 + n_chars) % 60 AS q
           FROM documents),
         e AS (
           SELECT DISTINCT least(p, q) AS a, greatest(p, q) AS b
           FROM raw WHERE p <> q),
         deg AS (
           SELECT node, count(*) AS degree FROM (
             SELECT a AS node FROM e UNION ALL SELECT b FROM e)
           GROUP BY node),
         tri AS (
           SELECT e1.a AS x, e1.b AS y, e2.b AS z
           FROM e e1
           JOIN e e2 ON e2.a = e1.b
           JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         cnt AS (
           SELECT node, count(*) AS t FROM (
             SELECT x AS node FROM tri
             UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri)
           GROUP BY node)
         SELECT d.node, d.degree, COALESCE(c.t, 0) AS triangles,
                floor(CASE WHEN d.degree > 1
                        THEN COALESCE(c.t, 0) * 2.0 / (d.degree * (d.degree - 1))
                        ELSE 0.0 END * 1e4 + 0.5) / 1e4 AS clustering
         FROM deg d LEFT JOIN cnt c ON c.node = d.node
         ORDER BY d.node""",
    "q_graph_bfs" ->
      """WITH RECURSIVE raw AS (
           SELECT doc_id % 60 AS p, (doc_id * 31 + n_chars) % 60 AS q
           FROM documents),
         e AS (
           SELECT DISTINCT least(p, q) AS a, greatest(p, q) AS b
           FROM raw WHERE p <> q),
         sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
         r(node, d) AS (
           SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS d
           UNION
           SELECT sym.b AS node, r.d + 1 AS d
           FROM r JOIN sym ON sym.a = r.node
           WHERE r.d < 64)
         SELECT node, min(d) AS dist FROM r GROUP BY node ORDER BY node""",
    "q_web_canon_url" ->
      """WITH u AS (
           SELECT CASE WHEN doc_id % 2 = 0 THEN
                    'HTTPS://WWW.EXAMPLE' || (doc_id % 5) ||
                    '.COM:443/Path' || (doc_id % 3) ||
                    '/?b=2&a=' || (doc_id % 7) ||
                    '&utm_source=feed&fbclid=xyz#frag'
                  ELSE
                    'https://www.example' || (doc_id % 5) ||
                    '.com/Path' || (doc_id % 3) ||
                    '?a=' || (doc_id % 7) || '&b=2&ref=tw'
                  END AS url
           FROM documents),
         c AS (
           SELECT regexp_replace(url, '#.*$', '') AS nofrag FROM u),
         p AS (
           SELECT regexp_extract(nofrag, '^([^?]*)', 1) AS base,
                  regexp_extract(nofrag, '^[^?]*\?(.*)$', 1) AS query
           FROM c),
         parts AS (
           SELECT regexp_replace(regexp_replace(
                    lower(regexp_extract(base, '^([^:]+://[^/]+)', 1)),
                    '^(http://[^:/]+):80$', '\1'),
                    '^(https://[^:/]+):443$', '\1') AS hostpart,
                  regexp_extract(base, '^[^:]+://[^/]+(/.*)?$', 1) AS path0,
                  array_to_string(list_sort(list_filter(
                    string_split(query, '&'),
                    x -> x <> '' AND NOT regexp_matches(x,
                      '^(utm_[^=]*|fbclid|gclid|ref)='))), '&') AS sq
           FROM p)
         SELECT hostpart ||
                regexp_replace(path0, '/$', '') ||
                (CASE WHEN sq = '' THEN '' ELSE '?' || sq END) AS canon,
                count(*) AS n
         FROM parts GROUP BY 1 ORDER BY canon""",
    "q_join_fuzzy" ->
      """WITH vocab AS (
           SELECT DISTINCT t AS token FROM (
             SELECT unnest(string_split(text, ' ')) AS t FROM documents)
           WHERE t <> ''),
         typos AS (
           SELECT DISTINCT substr(token, 1, len(token) - 1) AS typo
           FROM vocab WHERE len(token) > 3)
         SELECT typo AS "left", token AS "right",
                CAST(levenshtein(typo, token) AS INT) AS dist
         FROM typos JOIN vocab
           ON substr(typo, 1, 1) = substr(token, 1, 1)
          AND abs(len(typo) - len(token)) <= 1
          AND levenshtein(typo, token) <= 1
         ORDER BY "left", "right"""",
    "q_llm_merge" ->
      """WITH old AS (
           SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 11 <> 3),
         nw AS (
           SELECT doc_id,
                  md5(CASE WHEN doc_id % 5 = 0 THEN text || ' rev2'
                           ELSE text END) AS h
           FROM documents WHERE doc_id % 11 <> 7)
         SELECT COALESCE(nw.doc_id, old.doc_id) AS doc_id,
                CASE WHEN old.h IS NULL THEN 'inserted'
                     WHEN nw.h IS NULL THEN 'carried'
                     WHEN old.h = nw.h THEN 'unchanged'
                     ELSE 'updated' END AS status,
                COALESCE(nw.h, old.h) AS h
         FROM old FULL OUTER JOIN nw ON old.doc_id = nw.doc_id
         ORDER BY doc_id""",
    "q_llm_quant" ->
      """WITH q AS (
           SELECT vec_id,
                  list_max(list_transform(embedding,
                    x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
           FROM embeddings),
         c AS (
           SELECT vec_id, scale,
                  CASE WHEN scale = 0
                       THEN list_transform(xd, x -> 0)
                       ELSE list_transform(xd, x ->
                         CAST(least(127.0, floor(abs(x) / scale + 0.5)) *
                              sign(x) AS INT))
                  END AS codes
           FROM q)
         SELECT vec_id,
                floor(scale * 1e4 + 0.5) / 1e4 AS scale4,
                CAST(list_sum(list_transform(codes, x -> CAST(x AS BIGINT)))
                     AS BIGINT) AS q_sum,
                CAST(list_sum(list_transform(codes,
                     x -> abs(CAST(x AS BIGINT)))) AS BIGINT) AS q_l1,
                CAST(list_sum(list_transform(codes,
                     x -> CASE WHEN abs(x) = 127 THEN 1 ELSE 0 END))
                     AS BIGINT) AS n_sat
         FROM c ORDER BY vec_id""")
}
