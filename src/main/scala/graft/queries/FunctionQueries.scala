package graft.queries

import graft.core.{Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Scalar-function surface (SURVEY §2B): string, regex (the reference's own
  * patterns — app-id `workflow.py:162`, seconds `experiment.py:43-44`,
  * FASTQ filename grammar `baseline_workflow.py:109-117`), date/time, math,
  * conditional/null, array + higher-order, map (R12's kv parse), JSON, hash.
  *
  * Doubles are never cast to string (engine formatting differs); strings are
  * built only from ints/strings. Everything stays inside whole-stage codegen
  * (no UDFs anywhere in this file).
  */
object FunctionQueries {

  val queries: Map[String, Q] = Map(
    // character-trigram counts through the NATIVE char_ngrams GENERATOR
    // (functions/StringSim.scala — the explode-family extension point):
    // rows stream out of GenerateExec with no per-document n-gram array
    // materialization; hash-exact vs the oracle's list_transform unnest
    "q_fn_ngram_gen" -> ((s, d) => {
      Tables.documents(s, d)
        .select(expr("char_ngrams(text, 3)").as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("n"))
        .orderBy(col("gram"))
    }),

    // bitwise family: and/or/xor, shifts, popcount — the bit-fiddling a
    // feature-hashing / bitmap-index pipeline leans on; integer-exact
    "q_fn_bitwise" -> ((s, d) =>
      Tables.orders(s, d).select(
        col("o_orderkey"),
        expr("o_orderkey & 255").as("b_and"),
        expr("o_orderkey | 4096").as("b_or"),
        expr("o_orderkey ^ o_custkey").as("b_xor"),
        expr("shiftleft(o_orderkey % 1024, 4)").as("b_shl"),
        expr("shiftright(o_orderkey, 3)").as("b_shr"),
        expr("bit_count(o_orderkey)").as("b_pop"),
        expr("~o_orderkey").as("b_not"))
        .orderBy(col("o_orderkey"))),

    "q_fn_string" -> ((s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        upper(col("p_name")).as("up"),
        lower(col("p_brand")).as("lo"),
        length(col("p_name")).as("len"),
        substring(col("p_name"), 1, 3).as("sub"),
        concat(col("p_brand"), lit(":"), col("p_name")).as("cat"),
        replace(col("p_name"), lit(" "), lit("_")).as("repl"),
        lpad(col("p_brand"), 10, "*").as("pad"),
        trim(concat(lit("  "), col("p_name"), lit("  "))).as("tr"),
        split(col("p_name"), " ").getItem(0).as("tok0"),
        col("p_name").contains("ring").as("has_ring"),
        col("p_name").startsWith("red").as("is_red"))
        .orderBy(col("p_partkey"))),

    // the reference's own regexes applied to synthesized log/filename columns.
    // repartition() before the regex block: the test tables are single-row-
    // group parquet (scan parallelism 1), and 6 regex ops/row are CPU-bound —
    // spread a deficient single-file scan before the CPU-bound regex work
    // (Tables.spread is a no-op at 100 TB where the scan has its own splits)
    "q_fn_regex" -> ((s, d) =>
      Tables.spread(
        Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("o_orderkey"))
        .withColumn("log_line",
          concat(lit("submitted application_"), col("o_orderkey"),
                 lit("_"), col("o_custkey"), lit(" to queue")))
        .withColumn("timing_line",
          concat(lit("Seconds for bcl conversion: "), col("o_orderkey"),
                 lit("."), col("o_custkey")))
        .withColumn("fname",
          concat(lit("SAMPLE"), col("o_custkey"), lit("_S"),
                 col("o_custkey") % 100, lit("_L00"), col("o_orderkey") % 4,
                 lit("_R"), lit(1) + col("o_orderkey") % 2,
                 lit("_001.fastq.gz")))
        .select(
          col("o_orderkey"),
          regexp_extract(col("log_line"), "(application_\\d+_\\d+)", 1).as("app_id"),
          regexp_extract(col("timing_line"), "(\\d+\\.\\d+)", 1).cast("double").as("secs"),
          regexp_extract(col("fname"), "_L(\\d{3})_R([12])_", 1).cast("int").as("lane"),
          regexp_extract(col("fname"), "_L(\\d{3})_R([12])_", 2).cast("int").as("readno"),
          regexp_extract(col("fname"), "^([^_]+)_", 1).as("sample"),
          col("fname").rlike("_R[12]_\\d{3}\\.fastq\\.gz$").as("valid"))
        .orderBy(col("o_orderkey"))),

    "q_fn_datetime" -> ((s, d) =>
      Tables.orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dy"),
        date_format(col("o_orderdate") + expr("INTERVAL 30 DAYS"), "yyyy-MM-dd")
          .as("plus30"),
        datediff(to_date(col("o_orderdate")), lit("1995-01-01")).as("days_since"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd")
          .as("mstart"),
        // o_orderdate is TIMESTAMP_NTZ (parquet ms, not UTC-adjusted):
        // NTZ→TZ cast is wall-clock-preserving under the UTC session TZ
        col("o_orderdate").cast("timestamp").cast("long").as("epoch_s"),
        quarter(col("o_orderdate")).as("q"),
        dayofweek(col("o_orderdate")).as("dow"))
        .orderBy(col("o_orderkey"))),

    "q_fn_math" -> ((s, d) =>
      Tables.part(s, d).select(
        col("p_partkey"),
        round(col("p_retailprice"), 1).as("r1"),
        floor(col("p_retailprice")).as("fl"),
        ceil(col("p_retailprice")).as("ce"),
        abs(col("p_size") - 25).as("ab"),
        signum(col("p_size") - lit(25)).cast("int").as("sg"),
        round(pow(col("p_size"), 2), 2).as("p2"),
        round(sqrt(col("p_retailprice")), 4).as("sq"),
        round(exp(col("p_size") / lit(100.0)), 4).as("ex"),
        round(log(col("p_retailprice")), 4).as("lg"),
        round(log10(col("p_retailprice")), 4).as("l10"),
        pmod(lit(0) - col("p_size"), lit(7)).as("pm"),
        greatest(col("p_size"), lit(10)).as("gr"),
        least(col("p_size"), lit(10)).as("le"))
        .orderBy(col("p_partkey"))),

    "q_fn_cond" -> ((s, d) =>
      Tables.customer(s, d).select(
        col("c_custkey"),
        when(col("c_acctbal") < 0, "neg")
          .when(col("c_acctbal") < 5000, "mid")
          .otherwise("high").as("bucket"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("-")).as("seg2"),
        nvl(nullif(col("c_name"), col("c_name")), lit("anon")).as("nm"),
        (col("c_nationkey") === 0).as("is_zero"))
        .orderBy(col("c_custkey"))),

    // higher-order array functions over the embedding column, all in double
    "q_fn_array" -> ((s, d) =>
      Tables.embeddings(s, d).select(
        col("vec_id"),
        size(col("embedding")).as("dim"),
        // floor(x*1e4+0.5)/1e4 rounding: identical IEEE ops on both engines
        // (plain round() diverges on halfway cases — see q_proj_expr)
        (floor(element_at(col("embedding"), 1).cast("double") * 10000 + 0.5) / 10000).as("e1"),
        (floor(aggregate(
          transform(slice(col("embedding"), 1, 8), x => x.cast("double")),
          lit(0.0), (acc, x) => acc + x) * 10000 + 0.5) / 10000).as("sum8"),
        size(filter(col("embedding"), x => x > 0)).as("n_pos"),
        (floor(aggregate(
          transform(col("embedding"), x => x.cast("double") * x.cast("double")),
          lit(0.0), (acc, x) => acc + x) * 10000 + 0.5) / 10000).as("sumsq"))
        .orderBy(col("vec_id"))),

    // R12's key-value parse: str_to_map on a synthesized kv string
    "q_fn_map" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("kv",
          concat(lit("state="), col("event_type"), lit(";user="), col("user_id")))
        .withColumn("m", str_to_map(col("kv"), lit(";"), lit("=")))
        .select(
          col("event_id"),
          element_at(col("m"), "state").as("state"),
          element_at(col("m"), "user").cast("long").as("usr"),
          size(map_keys(col("m"))).as("n_keys"))
        .orderBy(col("event_id"))),

    "q_fn_json" -> ((s, d) =>
      Tables.events(s, d).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k_int"),
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k_struct"))
        .orderBy(col("event_id"))),

    "q_fn_hash" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        md5(col("text")).as("h_md5"),
        sha2(col("text"), 256).as("h_sha256"))
        .orderBy(col("doc_id"))),

    // Spark-specific hashes — engine-pinned goldens in FunctionSpec, driver
    // gets a rows-only check (no DuckDB analogue)
    "q_fn_hash_spark" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        xxhash64(col("text")).as("h_xx"),
        hash(col("text")).as("h_murmur"),
        crc32(col("text")).as("h_crc"))
        .orderBy(col("doc_id")))
  )

  val oracle: Map[String, String] = Map(
    "q_fn_ngram_gen" ->
      """WITH g AS (
           SELECT unnest(list_transform(
                    range(1, greatest(length(text) - 2, 0) + 1),
                    i -> substring(text, i, 3))) AS gram
           FROM documents)
         SELECT gram, CAST(count(*) AS BIGINT) AS n
         FROM g GROUP BY 1 ORDER BY gram""",
    "q_fn_bitwise" ->
      """SELECT o_orderkey,
                o_orderkey & 255 AS b_and,
                o_orderkey | 4096 AS b_or,
                xor(o_orderkey, o_custkey) AS b_xor,
                (o_orderkey % 1024) << 4 AS b_shl,
                o_orderkey >> 3 AS b_shr,
                CAST(bit_count(o_orderkey) AS INT) AS b_pop,
                ~o_orderkey AS b_not
         FROM orders ORDER BY o_orderkey""",
    "q_fn_string" ->
      """SELECT p_partkey, upper(p_name) AS up, lower(p_brand) AS lo,
                CAST(length(p_name) AS INT) AS len,
                substr(p_name, 1, 3) AS sub,
                p_brand || ':' || p_name AS cat,
                replace(p_name, ' ', '_') AS repl,
                lpad(p_brand, 10, '*') AS pad,
                trim('  ' || p_name || '  ') AS tr,
                string_split(p_name, ' ')[1] AS tok0,
                contains(p_name, 'ring') AS has_ring,
                starts_with(p_name, 'red') AS is_red
         FROM part ORDER BY p_partkey""",
    "q_fn_regex" ->
      """SELECT o_orderkey,
                regexp_extract('submitted application_' || o_orderkey || '_' || o_custkey || ' to queue',
                               '(application_\d+_\d+)', 1) AS app_id,
                CAST(regexp_extract('Seconds for bcl conversion: ' || o_orderkey || '.' || o_custkey,
                               '(\d+\.\d+)', 1) AS DOUBLE) AS secs,
                CAST(regexp_extract(fname, '_L(\d{3})_R([12])_', 1) AS INT) AS lane,
                CAST(regexp_extract(fname, '_L(\d{3})_R([12])_', 2) AS INT) AS readno,
                regexp_extract(fname, '^([^_]+)_', 1) AS sample,
                regexp_matches(fname, '_R[12]_\d{3}\.fastq\.gz$') AS valid
         FROM (SELECT o_orderkey,
                      'SAMPLE' || o_custkey || '_S' || (o_custkey % 100) ||
                      '_L00' || (o_orderkey % 4) || '_R' || (1 + o_orderkey % 2) ||
                      '_001.fastq.gz' AS fname,
                      o_custkey
               FROM orders)
         ORDER BY o_orderkey""",
    "q_fn_datetime" ->
      """SELECT o_orderkey,
                CAST(year(o_orderdate) AS INT) AS y,
                CAST(month(o_orderdate) AS INT) AS m,
                CAST(day(o_orderdate) AS INT) AS dy,
                strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30,
                CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS days_since,
                strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS mstart,
                datediff('second', TIMESTAMP '1970-01-01 00:00:00', o_orderdate) AS epoch_s,
                CAST(quarter(o_orderdate) AS INT) AS q,
                CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow
         FROM orders ORDER BY o_orderkey""",
    "q_fn_math" ->
      """SELECT p_partkey,
                ROUND(p_retailprice, 1) AS r1,
                CAST(FLOOR(p_retailprice) AS BIGINT) AS fl,
                CAST(CEIL(p_retailprice) AS BIGINT) AS ce,
                ABS(p_size - 25) AS ab,
                CAST(SIGN(p_size - 25) AS INT) AS sg,
                ROUND(POW(p_size, 2), 2) AS p2,
                ROUND(SQRT(p_retailprice), 4) AS sq,
                ROUND(EXP(p_size / 100.0), 4) AS ex,
                ROUND(LN(p_retailprice), 4) AS lg,
                ROUND(LOG10(p_retailprice), 4) AS l10,
                ((-p_size % 7) + 7) % 7 AS pm,
                GREATEST(p_size, 10) AS gr,
                LEAST(p_size, 10) AS le
         FROM part ORDER BY p_partkey""",
    "q_fn_cond" ->
      """SELECT c_custkey,
                CASE WHEN c_acctbal < 0 THEN 'neg'
                     WHEN c_acctbal < 5000 THEN 'mid'
                     ELSE 'high' END AS bucket,
                COALESCE(NULLIF(c_mktsegment, 'BUILDING'), '-') AS seg2,
                COALESCE(NULLIF(c_name, c_name), 'anon') AS nm,
                c_nationkey = 0 AS is_zero
         FROM customer ORDER BY c_custkey""",
    "q_fn_array" ->
      """SELECT vec_id,
                CAST(len(embedding) AS INT) AS dim,
                floor(CAST(embedding[1] AS DOUBLE) * 10000 + 0.5) / 10000 AS e1,
                floor(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))) * 10000 + 0.5) / 10000 AS sum8,
                CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
                floor(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) * 10000 + 0.5) / 10000 AS sumsq
         FROM embeddings ORDER BY vec_id""",
    "q_fn_map" ->
      """SELECT event_id,
                split_part(split_part('state=' || event_type || ';user=' || user_id, ';', 1), '=', 2) AS state,
                CAST(split_part(split_part('state=' || event_type || ';user=' || user_id, ';', 2), '=', 2) AS BIGINT) AS usr,
                2 AS n_keys
         FROM events ORDER BY event_id""",
    "q_fn_json" ->
      """SELECT event_id,
                CAST(json_extract_string(props, '$.k') AS INT) AS k_int,
                CAST(json_extract_string(props, '$.k') AS INT) AS k_struct
         FROM events ORDER BY event_id""",
    "q_fn_hash" ->
      """SELECT doc_id, md5(text) AS h_md5, sha256(text) AS h_sha256
         FROM documents ORDER BY doc_id"""
  )
}
