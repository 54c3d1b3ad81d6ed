package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Jaro-Winkler + geohash kernels: published golden values, the DuckDB
  * bit-parity contract the q_join_jw oracle relies on, and codegen vs
  * interpreted parity for both expressions.
  */
class StringSimSpec extends SparkSpec {
  import org.apache.spark.unsafe.types.UTF8String.{fromString => u}

  private def jw(a: String, b: String): Double =
    StringSimKernels.jaroWinkler(u(a), u(b))

  test("jaro_winkler matches the classic published vectors") {
    // Winkler's own examples; values verified against DuckDB 1.x
    // jaro_winkler_similarity this round (bit-identical)
    assert(jw("MARTHA", "MARHTA") === 0.9611111111111111)
    assert(jw("DIXON", "DICKSONX") === 0.8133333333333332)
    assert(jw("DWAYNE", "DUANE") === 0.8400000000000001)
  }

  test("jaro_winkler odd-transposition 3-cycle floors like DuckDB (t = 3/2 = 1)") {
    // a 3-cycle permutation (abc→cab) long enough for window = 3 makes the
    // aligned-walk mismatch count ODD (3); integer floor gives t = 1, so
    // jaro = (8/8 + 8/8 + (8−1)/8)/3 — DuckDB 1.x jaro_winkler_similarity
    // returns exactly this (0.9583333333333334, pinned this round), i.e.
    // strcmp95's floored form, NOT the fractional t = 1.5 (0.9375)
    assert(jw("abcxxxxx", "cabxxxxx") === 0.9583333333333334)
    assert(jw("abcdefgh", "cabdefgh") === 0.9583333333333334)
    // shorter 3-cycle where the window blocks one match instead
    assert(jw("abcxx", "cabxx") === 0.8666666666666667)
  }

  test("jaro_winkler edge semantics: window, boost threshold, empties") {
    // window = max(n,m)/2 - 1 = 0 → adjacent transposes can't match
    assert(jw("ab", "ba") === 0.0)
    assert(jw("abc", "bca") === 0.0)
    // jaro = 0.7333 > 0.7 but no common prefix → no boost applied
    assert(jw("CRATE", "TRACE") === 0.7333333333333334)
    // below the 0.7 boost threshold the raw jaro is returned
    assert(jw("abcdef", "fedcba") === 0.38888888888888884)
    assert(jw("x", "x") === 1.0)
    assert(jw("", "x") === 0.0)
    assert(jw("", "") === 1.0)
    // symmetric
    assert(jw("hot gear", "hot bolt") === jw("hot bolt", "hot gear"))
  }

  test("jaro_winkler expression: codegen and interpreted agree on fixtures") {
    val names = spark.read.parquet(s"$sf001/part.parquet")
      .select(col("p_name")).distinct().limit(40)
    val pairs = names.as("a").crossJoin(names.as("b"))
      .select(col("a.p_name").as("x"), col("b.p_name").as("y"))
    val viaExpr = pairs.withColumn("jw", expr("jaro_winkler(x, y)"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2))
      .toMap
    viaExpr.foreach { case ((x, y), v) =>
      assert(v === jw(x, y), s"($x, $y)")
    }
  }

  test("geohash matches published vectors") {
    // Wikipedia's worked example (Ebeltoft harbour)
    assert(StringSimKernels.geohash(57.64911, 10.40744, 11).toString
      === "u4pruydqqvj")
    // equator/meridian origin and extremes
    assert(StringSimKernels.geohash(0.0, 0.0, 1).toString === "s")
    assert(StringSimKernels.geohash(90.0, 180.0, 1).toString === "z")
    assert(StringSimKernels.geohash(-90.0, -180.0, 1).toString === "0")
  }

  test("lcs_len: textbook DP cases, empties, codegen path") {
    def lcs(a: String, b: String): Int = spark.sql(
      s"SELECT lcs_len(split('$a', ' '), split('$b', ' ')) AS v")
      .head().getInt(0)
    // classic: LCS(ABCBDAB, BDCABA) = 4 (BDAB / BCAB / BCBA)
    assert(lcs("A B C B D A B", "B D C A B A") === 4)
    assert(lcs("a b c", "a b c") === 3)          // identity
    assert(lcs("a b c", "x y z") === 0)          // disjoint
    assert(lcs("a b c d", "b d") === 2)          // subsequence, not substring
    assert(lcs("a a a", "a a") === 2)            // repeats bounded by shorter
    // order matters: subsequence must be increasing in BOTH
    assert(lcs("a b", "b a") === 1)
    val e = spark.sql(
      "SELECT lcs_len(slice(split('x', ' '), 1, 0), split('a b', ' ')) AS v")
      .head().getInt(0)
    assert(e === 0)
  }

  test("char_ngrams generator: goldens, edge cases, explode equivalence") {
    def grams(s: String, n: Int): Seq[String] = spark.sql(
      s"SELECT char_ngrams('$s', $n) AS gram").collect()
      .map(_.getString(0)).toSeq
    assert(grams("abcd", 3) === Seq("abc", "bcd"))
    assert(grams("abcd", 1) === Seq("a", "b", "c", "d"))
    assert(grams("abcd", 4) === Seq("abcd"))
    assert(grams("ab", 3) === Nil)     // shorter than n → no rows
    assert(grams("", 2) === Nil)
    // row-for-row equal to the composed transform+explode spelling
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .where(col("doc_id") < 50)
    val viaGen = docs.select(col("doc_id"),
        expr("char_ngrams(text, 3)").as("gram"))
      .groupBy(col("gram")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaExplode = docs.select(col("doc_id"), explode(expr(
        "transform(sequence(1, greatest(length(text) - 2, 0)), " +
        "i -> substring(text, i, 3))")).as("gram"))
      .groupBy(col("gram")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaGen === viaExplode)
    assert(viaGen.nonEmpty)
  }

  test("geohash prefix law: lower precision is a strict prefix") {
    val pts = spark.range(1, 400).select(
      (col("id") * 7919 % 12000 / lit(100.0) - 60.0).as("lat"),
      (col("id") * 104729 % 36000 / lit(100.0) - 180.0).as("lon"))
    val bad = pts.select(
        expr("geohash(lat, lon, 6)").as("g6"),
        expr("geohash(lat, lon, 3)").as("g3"),
        expr("geohash(lat, lon, 1)").as("g1"))
      .where(!col("g6").startsWith(col("g3")) ||
             !col("g3").startsWith(col("g1")))
      .count()
    assert(bad === 0L)
  }
}
