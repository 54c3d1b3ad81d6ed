package graft.tools

import graft.core.{Sessions, Tables}
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Dev-only stage-timing probe for the dedup-clusters pipeline — not part of
  * the driver contract. Times pair generation vs the CC loop separately. */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Sessions.build(
      Sessions.Conf(master = "local[32]", appName = "probe", numTasks = 32))
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROBE $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val docs = Tables.documents(spark, sfDir).where(col("doc_id") < 300)
    def mkPairs() = Dedup.jaccardFromItems(
      docs.select(col("doc_id"), explode(expr(
        "transform(sequence(1, greatest(length(text) - 2, 1)), i -> substring(text, i, 3))"))
        .as("g"))
        .distinct(),
      threshold = 0.5, dfCap = 100000, joinKeys = Seq("g"),
      spreadExplosion = true)
    // candidate volume of the inverted-index join: sum df*(df-1)/2 over keys
    val items = docs.select(col("doc_id"), explode(expr(
      "transform(sequence(1, greatest(length(text) - 2, 1)), i -> substring(text, i, 3))"))
      .as("g")).distinct()
    time("item stats") {
      items.groupBy(col("g")).agg(count(lit(1)).as("df"))
        .agg(sum(col("df") * (col("df") - 1) / 2).as("cand_pairs"),
             count(lit(1)).as("n_keys"), sum(col("df")).as("n_items"),
             max(col("df")).as("max_df"))
        .show(false)
    }
    time("pairs.count cold") { println("pairs=" + mkPairs().count()) }
    val stages = new scala.collection.mutable.ArrayBuffer[(Int, Long, Int, String)]
    val lst = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val dur = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        stages += ((si.stageId, dur, si.numTasks, si.name.take(60)))
      }
    }
    spark.sparkContext.addSparkListener(lst)
    time("pairs.count warm") { mkPairs().count() }
    Thread.sleep(500)
    spark.sparkContext.removeSparkListener(lst)
    stages.sortBy(-_._2).foreach { case (id, dur, nt, nm) =>
      println(s"STAGE $id ${dur}ms tasks=$nt $nm") }
    val pairs = mkPairs().select(col("d1"), col("d2")).cache()
    pairs.count()
    time("cc only (pairs cached) cold") {
      println("cc rows=" + Dedup.connectedComponents(pairs).count())
    }
    time("cc only warm") { Dedup.connectedComponents(pairs).count() }
    time("full query warm") {
      Dedup.dedupClusters(docs.select(col("doc_id")), mkPairs().select(col("d1"), col("d2")))
        .orderBy(col("doc_id")).count()
    }
    spark.stop()
  }
}
