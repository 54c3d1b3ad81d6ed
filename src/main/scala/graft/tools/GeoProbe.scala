package graft.tools

import graft.core.Sessions
import graft.operators.Geo
import org.apache.spark.sql.functions._

/** Dev-only hot-cell probe for the geo radius join — not part of the
  * driver contract. Builds a city-density fixture (most points packed
  * into ONE 1°×1° cell), then times the plain cell equi-join against the
  * salted variant and prints the max-task share of the join stage, the
  * number the salt knob exists to shrink.
  *
  * Usage: tools/run.sh graft.tools.GeoProbe [nHot] [nBg] [salt]
  */
object GeoProbe {
  def main(args: Array[String]): Unit = {
    val nHot = args.headOption.map(_.toInt).getOrElse(60000)
    val nBg = args.drop(1).headOption.map(_.toInt).getOrElse(60000)
    val salt = args.drop(2).headOption.map(_.toInt).getOrElse(8)
    val spark = Sessions.build(Sessions.Conf(
      master = "local[32]", appName = "geo-probe", numTasks = 32,
      // at corpus scale NEITHER side broadcasts — the join shuffles on the
      // cell key (SMJ/shuffled-hash). Reproduce that plan here, else the
      // tiny fixture broadcasts the home side and no cell skew exists.
      extra = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1")))
    // city fixture: nHot points spread over ONE full 1°×1° cell, nBg over
    // a 40°×40° band. The hot cell's candidate product (nHot² pairs) all
    // lands in one shuffle partition whose INPUT is tiny (nHot rows), so
    // AQE's skew-split — which keys off shuffle-block BYTES — never fires;
    // the blowup happens inside the join. This is exactly the shape the
    // salt knob exists for.
    val pts = spark.range(0, nHot + nBg).select(col("id"),
        when(col("id") < nHot, (col("id") % 1000) / lit(1000.0))
          .otherwise((col("id") % 40) + (col("id") % 97) / lit(100.0))
          .as("lat"),
        when(col("id") < nHot, (col("id") % 977) / lit(977.0))
          .otherwise((col("id") % 41) - (col("id") % 89) / lit(100.0))
          .as("lon"))
      .repartition(32).cache()
    pts.count()
    def time(label: String)(f: => Long): Long = {
      val t0 = System.nanoTime(); val n = f
      println(f"GEOPROBE $label: ${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n")
      n
    }
    val plain = time(s"plain   (hot=$nHot bg=$nBg)") {
      Geo.radiusJoin(pts, 2.0).count()
    }
    val salted = time(s"salt=$salt (hot=$nHot bg=$nBg)") {
      Geo.radiusJoin(pts, 2.0, saltCells = salt).count()
    }
    require(plain == salted, s"salted pair count differs: $plain vs $salted")
    spark.stop()
  }
}
