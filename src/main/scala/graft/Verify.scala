package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in a query's SQL text or an exception message would
    * otherwise make the reader's `json.load` (tools/diffcheck.py) fail. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // R26 session lifecycle: sized + built through the one SessionFactory
    // (core/Sessions.scala) so Verify and Bench share identical conf
    val spark = graft.core.Sessions.build(
      graft.core.Sessions.local(appName = "graft-verify"))
    new java.io.File(outDir).mkdirs()
    // queries are independent — run 4 at a time (Spark schedules concurrent
    // jobs FIFO; memory-sink names and staging dirs are collision-free)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt)
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the dump (dev loop; same contract
    // as graft.Bench's isolated mode) — unset runs the full catalog
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.view.filterKeys(names).toMap
      case None => SparkEntry.queries
    }
    // a failed query is reported and the dump carries on; the run then
    // exits non-zero naming every failure
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val tasks = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            failed.add(name)
          }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (!failed.isEmpty) {
      import scala.jdk.CollectionConverters._
      System.err.println(
        s"[verify] failed: ${failed.asScala.toSeq.sorted.mkString(",")}")
      sys.exit(1)
    }
  }
}
