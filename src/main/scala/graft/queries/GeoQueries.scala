package graft.queries

import graft.core.{Q, Tables}
import graft.operators.Geo
import org.apache.spark.sql.functions._

/** Geospatial catalog: grid-blocked radius self-join, probe k-NN, geohash
  * bucketing. Coordinates are derived from customer keys by shared integer
  * arithmetic (`(key·p) mod m / 100 − offset`), so both engines see
  * bit-identical doubles; distances follow the catalog's floor-1e4 output
  * convention. The one float risk left is libm sin/cos drift at the 10 km
  * filter boundary — distances are continuous, a <1 ulp flip needs a pair
  * within ~1e-11 km of the threshold.
  *
  * Scale notes are on the operators (`operators/Geo.scala`): radius join is
  * a 3×3-neighborhood cell equi-join (never all-pairs; the oracle's O(n²)
  * join is DuckDB-side only), k-NN is the broadcast-probe brute-force shape
  * shared with the ANN baselines.
  */
object GeoQueries {

  /** Deterministic point cloud from customer keys: lat ∈ [−10, 10),
    * lon ∈ [−30, 30), 0.01° granularity. The band is compressed (vs the
    * whole globe) so pair density at the 10 km radius stays meaningful at
    * every sf: ~380 pairs at sf0.01, ~25k at sf0.1. */
  private def customerPoints(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.customer(s, d).select(
      col("c_custkey").as("id"),
      ((col("c_custkey") * lit(7919L) % lit(2000L)) / lit(100.0)
        - lit(10.0)).as("lat"),
      ((col("c_custkey") * lit(104729L) % lit(6000L)) / lit(100.0)
        - lit(30.0)).as("lon"))

  private val pointsSql =
    """SELECT c_custkey AS id,
         (c_custkey * 7919 % 2000) / 100.0 - 10.0 AS lat,
         (c_custkey * 104729 % 6000) / 100.0 - 30.0 AS lon
       FROM customer"""

  /** Shared haversine text: squares spelled x*x (no pow), R = 6371 km. */
  private def havSql(la1: String, lo1: String, la2: String, lo2: String) =
    s"""2 * 6371.0 * asin(sqrt(
          sin(radians($la2 - $la1) / 2) * sin(radians($la2 - $la1) / 2)
          + cos(radians($la1)) * cos(radians($la2))
            * sin(radians($lo2 - $lo1) / 2) * sin(radians($lo2 - $lo1) / 2)))"""

  val queries: Map[String, Q] = Map(
    // all customer pairs within 10 km: 1° grid cells, one side expands to
    // its 3×3 neighborhood, candidates come from a cell equi-join
    "q_geo_gridjoin" -> ((s, d) =>
      Geo.radiusJoin(customerPoints(s, d), radiusKm = 10.0)
        .orderBy(col("id_a"), col("id_b"))),

    // 5 nearest customers to each of 5 deterministic probe points —
    // broadcast brute-force (probe side driver-sized by contract)
    "q_geo_knn" -> ((s, d) => {
      val probes = Tables.region(s, d).select(
        col("r_regionkey").as("probe_id"),
        (col("r_regionkey") * lit(37) % lit(20) - lit(10)
          + lit(0.5)).as("plat"),
        (col("r_regionkey") * lit(73) % lit(60) - lit(30)
          + lit(0.5)).as("plon"))
      Geo.knnToProbes(customerPoints(s, d), probes, k = 5)
        .orderBy(col("probe_id"), col("rnk"))
    }),

    // k-NN JOIN: every point's 3 nearest neighbors within 10 km — the
    // symmetric closure of the grid radius join topped by a per-point
    // window (candidates stay grid-local; no brute force anywhere)
    "q_geo_knn_join" -> ((s, d) =>
      Geo.knnJoin(customerPoints(s, d), radiusKm = 10.0, k = 3)
        .orderBy(col("id"), col("rnk"))),

    // geohash bucketing of the customer point cloud: precision-6 cell per
    // point plus the precision-3 prefix a coarse partitioner would key on.
    // Hash-exact since round 9: the oracle recomputes the hash from pure
    // integer bit math (see geohashSql below); GeoSpec additionally pins
    // the published vectors and the prefix-containment law.
    "q_geo_geohash" -> ((s, d) => {
      customerPoints(s, d)
        .select(col("id"),
          expr("geohash(lat, lon, 6)").as("gh6"),
          expr("geohash(lat, lon, 3)").as("gh3"))
        .orderBy(col("id"))
    }))

  /** DuckDB recomputation of the standard geohash as PURE INTEGER bit
    * math — the generated-SQL oracle technique (q_llm_mmr's playbook).
    * The engine's iterative lat/lon bisection is equivalent to
    * `floor((coord + off) / span · 2^n)` clamped to 2^n − 1: each
    * bisection midpoint is a dyadic rational, exactly representable, so
    * the two forms can only disagree when a coordinate sits within an
    * ulp of a cell edge — and the fixture grid (0.01° steps, denominators
    * 1125/2048 after reduction) puts every non-edge point ≥ 1/2048 of a
    * cell away from an edge while the exact-edge points (lat 0, lon
    * 0/±11.25/±22.5) compute EXACTLY in both forms (dyadic fractions).
    * Bit t of the interleaved word takes lon bit t/2 (even t) or lat bit
    * (t−1)/2 (odd t); each 5-bit group indexes the base-32 alphabet. */
  private def geohashSql(nchars: Int, alias: String): String = {
    val nbits = nchars * 5
    val nlon = (nbits + 1) / 2
    val nlat = nbits / 2
    val interleave = (0 until nbits).map { t =>
      val (src, idx, nb) =
        if (t % 2 == 0) ("lonb", t / 2, nlon) else ("latb", (t - 1) / 2, nlat)
      s"((($src >> ${nb - 1 - idx}) & 1) << ${nbits - 1 - t})"
    }.mkString(" | ")
    val chars = (0 until nchars).map { c =>
      s"substr('0123456789bcdefghjkmnpqrstuvwxyz', " +
        s"CAST(((I >> ${5 * (nchars - 1 - c)}) & 31) AS INT) + 1, 1)"
    }.mkString(" || ")
    s"""(SELECT $chars FROM (SELECT ($interleave) AS I FROM (SELECT
          LEAST(CAST(floor((lon + 180e0) / 360e0 * ${1L << nlon}) AS BIGINT),
                ${(1L << nlon) - 1}) AS lonb,
          LEAST(CAST(floor((lat + 90e0) / 180e0 * ${1L << nlat}) AS BIGINT),
                ${(1L << nlat) - 1}) AS latb))) AS $alias"""
  }

  val oracle: Map[String, String] = Map(
    "q_geo_geohash" ->
      s"""WITH p AS ($pointsSql)
          SELECT id, ${geohashSql(6, "gh6")}, ${geohashSql(3, "gh3")}
          FROM p ORDER BY id""",
    // the oracle pairs by brute force with the provable |Δlat| ≤ 0.2°
    // meridional bound (10 km / 111.19 km/° = 0.09°) — DuckDB-side cost
    // control only, it cannot change the qualifying set
    "q_geo_gridjoin" ->
      s"""WITH p AS ($pointsSql),
          pairs AS (
            SELECT a.id AS id_a, b.id AS id_b,
                   ${havSql("a.lat", "a.lon", "b.lat", "b.lon")} AS dd
            FROM p a JOIN p b
              ON a.id < b.id AND abs(a.lat - b.lat) <= 0.2)
          SELECT id_a, id_b, floor(dd * 1e4 + 0.5) / 1e4 AS dist_km
          FROM pairs WHERE dd <= 10.0 ORDER BY id_a, id_b""",
    // rank ties on the ROUNDED distance (coincident lattice points) break
    // on neighbor id in both engines
    "q_geo_knn_join" ->
      s"""WITH p AS ($pointsSql),
          pairs AS (
            SELECT a.id AS id_a, b.id AS id_b,
                   ${havSql("a.lat", "a.lon", "b.lat", "b.lon")} AS dd
            FROM p a JOIN p b
              ON a.id < b.id AND abs(a.lat - b.lat) <= 0.2),
          q AS (
            SELECT id_a, id_b, floor(dd * 1e4 + 0.5) / 1e4 AS dist_km
            FROM pairs WHERE dd <= 10.0),
          sym AS (
            SELECT id_a AS id, id_b AS nbr, dist_km FROM q
            UNION ALL
            SELECT id_b AS id, id_a AS nbr, dist_km FROM q),
          r AS (
            SELECT id, nbr, dist_km,
                   row_number() OVER (PARTITION BY id
                                      ORDER BY dist_km, nbr) AS rnk
            FROM sym)
          SELECT id, CAST(rnk AS INT) AS rnk, nbr, dist_km
          FROM r WHERE rnk <= 3 ORDER BY id, rnk""",
    "q_geo_knn" ->
      s"""WITH p AS ($pointsSql),
          probes AS (
            SELECT r_regionkey AS probe_id,
                   r_regionkey * 37 % 20 - 10 + 0.5 AS plat,
                   r_regionkey * 73 % 60 - 30 + 0.5 AS plon
            FROM region),
          scored AS (
            SELECT probe_id, p.id,
                   ${havSql("plat", "plon", "p.lat", "p.lon")} AS dd
            FROM p CROSS JOIN probes),
          ranked AS (
            SELECT probe_id, id, dd,
                   row_number() OVER (PARTITION BY probe_id
                                      ORDER BY dd ASC, id ASC) AS rnk
            FROM scored)
          SELECT probe_id, CAST(rnk AS INT) AS rnk, id,
                 floor(dd * 1e4 + 0.5) / 1e4 AS dist_km
          FROM ranked WHERE rnk <= 5 ORDER BY probe_id, rnk""")
}
