package graft.queries

import graft.core.{Q, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-function surface (SURVEY §2B): ranking, analytic (lag/lead),
  * row/range frames, top-k per group, batch sessionization (the batch twin
  * of the streaming session window).
  *
  * events.ts is µs-granular in the source parquet (verified — no sub-µs
  * component), so Spark's ns→µs truncation is lossless and ts can be used
  * directly in ORDER BY / range frames on both engines.
  *
  * Scale: every window here partitions by a key (custkey/user_id) — no
  * global unpartitioned window, which would single-task at 100 TB.
  */
object WindowQueries {

  private val byUserTs = Window.partitionBy(col("user_id"))
    .orderBy(col("ts"), col("event_id"))

  val queries: Map[String, Q] = Map(
    "q_win_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
                row_number().over(w).as("rn"),
                rank().over(w).as("rnk"),
                dense_rank().over(w).as("drnk"),
                ntile(4).over(w).as("quartile"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // distribution analytics: percent_rank / cume_dist / nth_value.
    // Order keys are made unique (price, orderkey) so tie handling can't
    // differ between engines; the nth_value frame is pinned to ROWS
    // because the SQL-standard default (RANGE) peers tied rows.
    "q_win_dist" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      val wRows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .select(col("o_orderstatus"), col("o_orderkey"),
                (floor(percent_rank().over(w) * 10000 + 0.5) / 10000).as("pr"),
                (floor(cume_dist().over(w) * 10000 + 0.5) / 10000).as("cd"),
                coalesce(
                  floor(nth_value(col("o_totalprice"), 3).over(wRows) * 100
                    + 0.5) / 100,
                  lit(-1.0)).as("third_price"))
        .orderBy(col("o_orderstatus"), col("o_orderkey"))
    }),

    "q_win_lag" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
                lag(col("event_type"), 1).over(byUserTs).as("prev_type"),
                (col("ts").cast("long") -
                 lag(col("ts"), 1).over(byUserTs).cast("long")).as("gap_s"))
        .select(col("user_id"), col("event_id"), col("event_type"),
                coalesce(col("prev_type"), lit("NONE")).as("prev_type"),
                coalesce(col("gap_s"), lit(-1L)).as("gap_s"))
        .orderBy(col("user_id"), col("event_id"))),

    // running sum, rows unbounded-preceding → current
    "q_win_frame_rows" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
                // floor-rounding: engine-identical on halfway cases (the
                // frame sum itself is bit-identical — same sequential order)
                (floor(sum(col("value"))
                  .over(byUserTs.rowsBetween(Window.unboundedPreceding, 0)) * 100 + 0.5) / 100)
                  .as("running"))
        .orderBy(col("user_id"), col("event_id"))),

    // range frame: events in the preceding hour (inclusive), per user.
    // Range frame over epoch-seconds so both engines use identical numeric
    // range semantics.
    "q_win_frame_range" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("epoch_s"))
        .rangeBetween(-3600L, 0L)
      Tables.events(s, d)
        .withColumn("epoch_s", col("ts").cast("long"))
        .select(col("user_id"), col("event_id"),
                count(lit(1)).over(w).as("n_last_hour"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    "q_win_topk" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"),
                round(col("o_totalprice"), 2).as("price"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // q_win_topk's semantics planned through the NATIVE two-phase heap
    // operator (plans/TopKPerGroup.scala: custom SparkStrategy + SparkPlan;
    // map-side partial heap → exchange → ranking final heap, no sorts, no
    // WindowExec) on a private child session so the strategy never leaks
    // into the shared driver session. Same oracle text as q_win_topk —
    // the driver hash-checks that the custom physical operator is
    // row-for-row equivalent to the declarative window form.
    "q_win_topk_native" -> ((s, d) => {
      val s2 = s.newSession()
      graft.plans.TopK.install(s2)
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s2, d)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"),
          row_number().over(w).as("rn"))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("price"))
        .orderBy(col("o_custkey"), col("rn"))
    }),

    // rolling 7-row median of event values per user — an exact aggregate
    // (percentile) used AS a window function; interpolation follows the
    // q_agg_percentile quantile_cont convention, floor-rounded on output
    "q_win_median" -> ((s, d) =>
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          (floor(expr("percentile(value, 0.5)")
            .over(byUserTs.rowsBetween(-6, 0)) * 1e4 + lit(0.5)) / 1e4)
            .as("med7"))
        .orderBy(col("user_id"), col("event_id"))),

    // batch sessionization: 30-min-gap rule via lag + cumulative sum of
    // session-start flags (batch twin of streaming session_window)
    "q_win_session" -> ((s, d) => {
      val gap = col("ts").cast("long") -
        lag(col("ts"), 1).over(byUserTs).cast("long")
      val newSession = when(gap.isNull || gap > 1800, 1L).otherwise(0L)
      Tables.events(s, d)
        .withColumn("sess",
          sum(newSession).over(byUserTs.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("sess"))
        .agg(count(lit(1)).as("n_events"),
             (max(col("ts").cast("long")) - min(col("ts").cast("long")))
               .as("len_s"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
             (floor(avg(col("len_s")) * 100 + 0.5) / 100).as("avg_len_s"),
             sum(col("n_events")).as("n_events"))
        .orderBy(col("user_id"))
    }),

    // q_win_session's semantics through the NATIVE window function
    // `session_id(ts, gap)` (functions/WindowFns.scala — a custom
    // AggregateWindowFunction in the RowNumber extension point: the gap
    // state machine runs as bound update expressions inside WindowExec,
    // ONE window column instead of the lag + cumulative-sum pair). Same
    // oracle text as q_win_session: the driver hash-checks the custom
    // window function row-for-row against the declarative spelling.
    "q_win_session_native" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("epoch", col("ts").cast("long"))
        .withColumn("sess",
          expr("session_id(epoch, 1800L)").over(byUserTs))
        .groupBy(col("user_id"), col("sess"))
        .agg(count(lit(1)).as("n_events"),
             (max(col("epoch")) - min(col("epoch"))).as("len_s"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
             (floor(avg(col("len_s")) * 100 + 0.5) / 100).as("avg_len_s"),
             sum(col("n_events")).as("n_events"))
        .orderBy(col("user_id"))
    })
  )

  // epoch seconds, floor semantics on both engines: Spark ts.cast(long) vs
  // DuckDB datediff from epoch (boundary-crossing count == floor for ts>0)
  private val ep = "datediff('second', TIMESTAMP '1970-01-01 00:00:00', CAST(ts AS TIMESTAMP))"

  val oracle: Map[String, String] = Map(
    "q_win_rank" ->
      """SELECT o_custkey, o_orderkey,
                CAST(ROW_NUMBER() OVER w AS INT) AS rn,
                CAST(RANK() OVER w AS INT) AS rnk,
                CAST(DENSE_RANK() OVER w AS INT) AS drnk,
                CAST(NTILE(4) OVER w AS INT) AS quartile
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey ASC)
         ORDER BY o_custkey, o_orderkey""",
    "q_win_dist" ->
      """SELECT o_orderstatus, o_orderkey,
                floor(PERCENT_RANK() OVER w * 10000 + 0.5) / 10000 AS pr,
                floor(CUME_DIST() OVER w * 10000 + 0.5) / 10000 AS cd,
                COALESCE(floor(NTH_VALUE(o_totalprice, 3) OVER
                  (PARTITION BY o_orderstatus
                   ORDER BY o_totalprice ASC, o_orderkey ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  * 100 + 0.5) / 100,
                  -1.0) AS third_price
         FROM orders
         WINDOW w AS (PARTITION BY o_orderstatus
                      ORDER BY o_totalprice ASC, o_orderkey ASC)
         ORDER BY o_orderstatus, o_orderkey""",
    "q_win_lag" ->
      s"""SELECT user_id, event_id, event_type,
                 COALESCE(LAG(event_type, 1) OVER w, 'NONE') AS prev_type,
                 COALESCE($ep - LAG($ep, 1) OVER w, -1) AS gap_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
          ORDER BY user_id, event_id""",
    "q_win_frame_rows" ->
      """SELECT user_id, event_id,
                floor(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100 + 0.5) / 100 AS running
         FROM events ORDER BY user_id, event_id""",
    "q_win_frame_range" ->
      s"""SELECT user_id, event_id,
                 CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY $ep
                   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_last_hour
          FROM events ORDER BY user_id, event_id""",
    "q_win_median" ->
      """SELECT user_id, event_id,
                floor(quantile_cont(value, 0.5) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id
                  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) * 1e4 + 0.5)
                  / 1e4 AS med7
         FROM events ORDER BY user_id, event_id""",
    "q_win_topk" ->
      """SELECT o_custkey, CAST(rn AS INT) AS rn, o_orderkey, price FROM (
           SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS price,
                  ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders)
         WHERE rn <= 3 ORDER BY o_custkey, rn""",
    // identical text to q_win_topk: the native heap operator must be
    // row-for-row equivalent to the declarative window form
    "q_win_topk_native" ->
      """SELECT o_custkey, CAST(rn AS INT) AS rn, o_orderkey, price FROM (
           SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS price,
                  ROW_NUMBER() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders)
         WHERE rn <= 3 ORDER BY o_custkey, rn""",
    "q_win_session" ->
      s"""WITH g AS (
            SELECT user_id, event_id, ts, $ep - LAG($ep, 1) OVER w AS gap
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS new_s
            FROM g),
          sess AS (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
            FROM flagged),
          per_sess AS (
            SELECT user_id, sess, COUNT(*) AS n_events,
                   MAX($ep) - MIN($ep) AS len_s
            FROM sess GROUP BY user_id, sess)
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
                 floor(AVG(len_s) * 100 + 0.5) / 100 AS avg_len_s,
                 CAST(SUM(n_events) AS BIGINT) AS n_events
          FROM per_sess GROUP BY user_id ORDER BY user_id""",
    // identical text to q_win_session: the native window function must be
    // row-for-row equivalent to the lag + cumulative-sum spelling
    "q_win_session_native" ->
      s"""WITH g AS (
            SELECT user_id, event_id, ts, $ep - LAG($ep, 1) OVER w AS gap
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS new_s
            FROM g),
          sess AS (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
            FROM flagged),
          per_sess AS (
            SELECT user_id, sess, COUNT(*) AS n_events,
                   MAX($ep) - MIN($ep) AS len_s
            FROM sess GROUP BY user_id, sess)
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_sessions,
                 floor(AVG(len_s) * 100 + 0.5) / 100 AS avg_len_s,
                 CAST(SUM(n_events) AS BIGINT) AS n_events
          FROM per_sess GROUP BY user_id ORDER BY user_id"""
  )
}
