package graft.queries

import graft.core.{Q, Tables}
import graft.operators.AsOf
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join surface (SURVEY §2B): broadcast / shuffle equi-joins, all outer
  * variants, semi/anti (R8's exclusion), cross+theta, range/interval
  * (Flink intervalJoin analogue), as-of, and positional zip-join (R15).
  *
  * Scale notes: dimension joins (nation/region) broadcast explicitly; the
  * fact-fact join (lineitem⋈orders) shuffles on the join key and relies on
  * AQE for skew; the as-of join appears twice — the range-join+rank-1 shape
  * and the carry-forward shape that holds at 100 TB (graft.operators.AsOf).
  */
object JoinQueries {

  val queries: Map[String, Q] = Map(
    // dim-dim-fact star join: both dims broadcast (no shuffle of customer)
    "q_join_bcast" -> ((s, d) =>
      Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)),
              col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)),
              col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n"),
             round(sum(col("c_acctbal")), 2).as("sum_bal"))
        .orderBy(col("r_name"))),

    // fact-fact shuffle join on the key both sides are large on
    "q_join_shuffle" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
             round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
               .as("revenue"))
        .orderBy(col("o_orderpriority"))),

    // outer joins: filter one side so unmatched rows actually occur
    "q_join_left" -> ((s, d) =>
      Tables.orders(s, d)
        .join(Tables.customer(s, d).where(col("c_acctbal") > 5000),
              col("o_custkey") === col("c_custkey"), "left")
        .select(col("o_orderkey"),
                coalesce(col("c_mktsegment"), lit("NONE")).as("seg"))
        .orderBy(col("o_orderkey"), col("seg"))),

    "q_join_right" -> ((s, d) =>
      Tables.orders(s, d).where(col("o_totalprice") > 150000)
        .join(Tables.customer(s, d),
              col("o_custkey") === col("c_custkey"), "right")
        .select(col("c_custkey"),
                coalesce(col("o_orderkey"), lit(-1L)).as("ok"))
        .orderBy(col("c_custkey"), col("ok"))),

    "q_join_full" -> ((s, d) =>
      Tables.orders(s, d).where(col("o_totalprice") > 150000)
        .join(Tables.customer(s, d).where(col("c_acctbal") > 5000),
              col("o_custkey") === col("c_custkey"), "full")
        .select(
          coalesce(col("o_custkey"), col("c_custkey")).as("k"),
          when(col("o_orderkey").isNull, "cust_only")
            .when(col("c_custkey").isNull, "order_only")
            .otherwise("both").as("side"))
        .groupBy(col("k"), col("side")).agg(count(lit(1)).as("n"))
        .orderBy(col("k"), col("side"), col("n"))),

    "q_join_semi" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).where(col("o_totalprice") > 100000),
              col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))),

    // R8's Undetermined exclusion generalized: anti-join. The right side
    // is date-restricted (customers with no order since 2000) so the
    // result is NON-EMPTY at sf0.01 AND sf0.1 — every custkey has some
    // order, and two empty sets hashing equal proves nothing (the r11
    // verdict's vacuity nit)
    "q_join_anti" -> ((s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d)
                .where(col("o_orderdate") >= lit("2000-01-01").cast("date")),
              col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"))
        .orderBy(col("c_custkey"))),

    // TPC-H Q5-style snowflake: fact ⋈ three broadcast-sized dims
    // (lineitem → supplier → nation → region) with a region filter that
    // prunes through the dim chain — revenue per supplier nation. The
    // only shuffle is the final per-nation aggregate; every dim join is
    // broadcast at any corpus size (dims are fixed-cardinality).
    "q_join_snowflake" -> ((s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name").isin("ASIA", "EUROPE"))
        .groupBy(col("n_name"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("n_name"))),

    // cross + theta predicate (Catalyst rewrites to equi-join on regionkey)
    "q_join_cross_theta" -> ((s, d) => {
      val n1 = Tables.nation(s, d)
        .select(col("n_nationkey").as("k1"), col("n_name").as("a"),
                col("n_regionkey").as("r1"))
      val n2 = Tables.nation(s, d)
        .select(col("n_nationkey").as("k2"), col("n_name").as("b"),
                col("n_regionkey").as("r2"))
      n1.crossJoin(n2)
        .where(col("k1") < col("k2") && col("r1") === col("r2"))
        .select(col("a"), col("b"))
        .orderBy(col("a"), col("b"))
    }),

    // interval join (Flink intervalJoin / Q-JOIN-7): pairs of events of the
    // same user within 5 minutes, counted per left event
    "q_join_range" -> ((s, d) => {
      val e1 = Tables.events(s, d)
        .select(col("event_id").as("id1"), col("user_id").as("u1"),
                col("ts").as("ts1"))
      val e2 = Tables.events(s, d)
        .select(col("event_id").as("id2"), col("user_id").as("u2"),
                col("ts").as("ts2"))
      e1.join(e2,
          col("u1") === col("u2") && col("id1") < col("id2") &&
          col("ts2").between(col("ts1"),
            col("ts1") + expr("INTERVAL 5 MINUTES")))
        .groupBy(col("id1")).agg(count(lit(1)).as("n"))
        .orderBy(col("id1"))
    }),

    // as-of join: latest signup at-or-before each purchase, per user
    // (range join + rank-1; ties broken by signup event_id desc)
    "q_join_asof" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("id_p"), col("user_id").as("u_p"),
                col("ts").as("ts_p"))
      val sg = ev.where(col("event_type") === "signup")
        .select(col("event_id").as("id_s"), col("user_id").as("u_s"),
                col("ts").as("ts_s"))
      val w = Window.partitionBy(col("id_p"))
        .orderBy(col("ts_s").desc, col("id_s").desc)
      p.join(sg, col("u_p") === col("u_s") && col("ts_s") <= col("ts_p"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("id_p"), col("id_s"))
        .orderBy(col("id_p"), col("id_s"))
    }),

    // as-of via carry-forward (the 100 TB formulation: union + one sort +
    // windowed last(), no pair blowup — see graft.operators.AsOf); LEFT
    // semantics, unmatched purchases keep a NULL signup
    "q_join_asof_cf" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val sg = ev.where(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), col("ts"))
      AsOf.viaCarryForward(p, sg, "user_id", "ts", "event_id", "event_id")
        .orderBy(col("lid"), col("rid"))
    }),

    // as-of with TOLERANCE (pandas merge_asof semantics): signups older
    // than 24 h at purchase time no longer match — stale rows surface as
    // NULL, same as no match. Carry-forward path; the tolerance check is
    // one projected comparison on the carried timestamp.
    "q_join_asof_tol" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val sg = ev.where(col("event_type") === "signup")
        .select(col("event_id"), col("user_id"), col("ts"))
      AsOf.viaCarryForward(p, sg, "user_id", "ts", "event_id", "event_id",
          tolerance = Some(expr("INTERVAL 24 HOURS")))
        .orderBy(col("lid"), col("rid"))
    }),

    // R15's positional zip join: per-lang sorted even/odd doc_id arrays,
    // mates paired by position via posexplode + equi-join on (lang, pos)
    "q_join_pos" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      def side(parity: Int, out: String) = docs
        .where(pmod(col("doc_id"), lit(2)) === parity)
        .groupBy(col("lang"))
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .select(col("lang"), posexplode(col("ids")).as(Seq("pos", out)))
      side(0, "id1").as("a")
        .join(side(1, "id2").as("b"), Seq("lang", "pos"))
        .select(col("lang"), (col("pos") + lit(1L)).as("rn"), col("id1"), col("id2"))
        .orderBy(col("lang"), col("rn"))
    }),

    // point-in-time join (feature-store lookup): each purchase event
    // joins the SCD2 event-type version valid at its own timestamp —
    // valid_from ≤ t < valid_to with the open current version included
    "q_join_pit" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val dim = graft.operators.Analytics
        .scd2History(ev, "user_id", "event_type")
      val fact = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          col("ts").cast("long").as("t"))
      graft.operators.Analytics.pointInTimeJoin(fact, dim, "user_id")
        .select(col("event_id"), col("user_id"), col("t"),
          col("event_type").as("attr_at_t"), col("valid_from"))
        .orderBy(col("event_id"))
    }),

    // Jaro-Winkler similarity join over distinct part names, blocked on
    // the first token — the kernel is a native codegen Expression
    // (functions/StringSim.scala) bit-matched to DuckDB's
    // jaro_winkler_similarity (classic Winkler: p=0.1, prefix cap 4,
    // boost only above 0.7; verified pairwise over the whole fixture
    // vocabulary), so the entry is hash-exact, not rows-only. Blocking
    // makes the candidate set Σ_block |b|², never names² — at corpus
    // scale the block key is the same role the LSH band plays for minhash
    "q_join_jw" -> ((s, d) => {
      val names = Tables.part(s, d).select(col("p_name")).distinct()
        .select(col("p_name").as("name"),
          split(col("p_name"), " ").getItem(0).as("blk"))
      names.as("a")
        .join(names.as("b"),
          col("a.blk") === col("b.blk") && col("a.name") < col("b.name"))
        .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
        .withColumn("jw", expr("jaro_winkler(name_a, name_b)"))
        .where(col("jw") >= 0.5)
        .select(col("name_a"), col("name_b"),
          (floor(col("jw") * 1e4 + lit(0.5)) / 1e4).as("jw"))
        .orderBy(col("name_a"), col("name_b"))
    })
  )

  val oracle: Map[String, String] = Map(
    "q_join_bcast" ->
      """SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(c_acctbal), 2) AS sum_bal
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    "q_join_shuffle" ->
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
                ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_join_left" ->
      """SELECT o_orderkey, COALESCE(c_mktsegment, 'NONE') AS seg
         FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
         ON o_custkey = c_custkey ORDER BY o_orderkey, seg""",
    "q_join_right" ->
      """SELECT c_custkey, COALESCE(o_orderkey, -1) AS ok
         FROM (SELECT * FROM orders WHERE o_totalprice > 150000) o
         RIGHT JOIN customer ON o_custkey = c_custkey
         ORDER BY c_custkey, ok""",
    "q_join_full" ->
      """SELECT COALESCE(o_custkey, c_custkey) AS k,
                CASE WHEN o_orderkey IS NULL THEN 'cust_only'
                     WHEN c_custkey IS NULL THEN 'order_only'
                     ELSE 'both' END AS side,
                CAST(COUNT(*) AS BIGINT) AS n
         FROM (SELECT * FROM orders WHERE o_totalprice > 150000) o
         FULL JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
         ON o_custkey = c_custkey
         GROUP BY 1, 2 ORDER BY k, side, n""",
    "q_join_snowflake" ->
      """SELECT n_name,
                ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                CAST(COUNT(*) AS BIGINT) AS n_items
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name IN ('ASIA', 'EUROPE')
         GROUP BY n_name ORDER BY n_name""",
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_totalprice > 100000)
         ORDER BY c_custkey""",
    "q_join_anti" ->
      """SELECT c_custkey FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                           AND o_orderdate >= DATE '2000-01-01')
         ORDER BY c_custkey""",
    "q_join_cross_theta" ->
      """SELECT n1.n_name AS a, n2.n_name AS b
         FROM nation n1, nation n2
         WHERE n1.n_nationkey < n2.n_nationkey
           AND n1.n_regionkey = n2.n_regionkey
         ORDER BY a, b""",
    "q_join_range" ->
      """SELECT e1.event_id AS id1, CAST(COUNT(*) AS BIGINT) AS n
         FROM events e1 JOIN events e2
           ON e1.user_id = e2.user_id AND e1.event_id < e2.event_id
          AND e2.ts BETWEEN e1.ts AND e1.ts + INTERVAL 5 MINUTE
         GROUP BY 1 ORDER BY id1""",
    "q_join_asof" ->
      """SELECT id_p, id_s FROM (
           SELECT p.event_id AS id_p, s.event_id AS id_s,
                  ROW_NUMBER() OVER (PARTITION BY p.event_id
                                     ORDER BY s.ts DESC, s.event_id DESC) AS rn
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           JOIN (SELECT * FROM events WHERE event_type = 'signup') s
             ON p.user_id = s.user_id AND s.ts <= p.ts)
         WHERE rn = 1 ORDER BY id_p, id_s""",
    "q_join_asof_cf" ->
      """SELECT lid, rid FROM (
           SELECT p.event_id AS lid, s.event_id AS rid,
                  ROW_NUMBER() OVER (PARTITION BY p.event_id
                                     ORDER BY s.ts DESC, s.event_id DESC) AS rn
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
             ON p.user_id = s.user_id AND s.ts <= p.ts)
         WHERE rn = 1 ORDER BY lid, rid""",
    // latest-match-then-tolerance ≡ rank-1 of in-tolerance candidates:
    // the latest right row minimizes left.ts − right.ts, so if IT is
    // stale every older candidate is staler — both formulations agree
    "q_join_asof_tol" ->
      """SELECT lid, rid FROM (
           SELECT p.event_id AS lid, s.event_id AS rid,
                  ROW_NUMBER() OVER (PARTITION BY p.event_id
                                     ORDER BY s.ts DESC, s.event_id DESC) AS rn
           FROM (SELECT * FROM events WHERE event_type = 'purchase') p
           LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
             ON p.user_id = s.user_id AND s.ts <= p.ts
                AND p.ts - s.ts <= INTERVAL 24 HOURS)
         WHERE rn = 1 ORDER BY lid, rid""",
    "q_join_pos" ->
      """SELECT a.lang, a.rn, a.doc_id AS id1, b.doc_id AS id2
         FROM (SELECT lang, doc_id, ROW_NUMBER() OVER
                 (PARTITION BY lang ORDER BY doc_id) AS rn
               FROM documents WHERE doc_id % 2 = 0) a
         JOIN (SELECT lang, doc_id, ROW_NUMBER() OVER
                 (PARTITION BY lang ORDER BY doc_id) AS rn
               FROM documents WHERE doc_id % 2 = 1) b
           ON a.lang = b.lang AND a.rn = b.rn
         ORDER BY a.lang, a.rn""",
    "q_join_pit" ->
      """WITH e AS (
           SELECT user_id, event_type, event_id,
                  datediff('second', TIMESTAMP '1970-01-01 00:00:00',
                           CAST(ts AS TIMESTAMP)) AS t
           FROM events),
         ch AS (
           SELECT user_id, event_type, event_id, t,
                  lag(event_type, 1) OVER w AS prev
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
         runs AS (
           SELECT user_id, event_type, event_id, t FROM ch
           WHERE prev IS NULL OR prev <> event_type),
         dim AS (
           SELECT user_id, event_type, t AS valid_from,
                  lead(t, 1) OVER (PARTITION BY user_id
                                   ORDER BY t, event_id) AS valid_to
           FROM runs),
         fact AS (
           SELECT event_id, user_id, t FROM e
           WHERE event_type = 'purchase')
         SELECT f.event_id, f.user_id, f.t,
                d.event_type AS attr_at_t, d.valid_from
         FROM fact f JOIN dim d ON f.user_id = d.user_id
           AND f.t >= d.valid_from
           AND (d.valid_to IS NULL OR f.t < d.valid_to)
         ORDER BY f.event_id""",
    "q_join_jw" ->
      """WITH nn AS (
           SELECT p_name AS name, string_split(p_name, ' ')[1] AS blk
           FROM (SELECT DISTINCT p_name FROM part)),
         pairs AS (
           SELECT a.name AS name_a, b.name AS name_b,
                  jaro_winkler_similarity(a.name, b.name) AS jw
           FROM nn a JOIN nn b ON a.blk = b.blk AND a.name < b.name)
         SELECT name_a, name_b, floor(jw * 1e4 + 0.5) / 1e4 AS jw
         FROM pairs WHERE jw >= 0.5 ORDER BY name_a, name_b"""
  )
}
