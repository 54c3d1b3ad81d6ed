package graft

import graft.core.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM-wide session — Spark
  * local mode is expensive to boot, and the specs only read), built by the
  * engine's own factory so tests run the same conf and functions as
  * Bench and Verify.
  */
object SparkSpec {
  lazy val spark: SparkSession = Sessions.build(
    Sessions.Conf(master = "local[4]", appName = "graft-test", numTasks = 4))

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  def sf0001: String = SparkSpec.sf0001
  def sf001: String = SparkSpec.sf001

  /** Run `body` and return, for each Spark job it submitted, the task
    * count of each of the job's stages. */
  def jobsOf[A](body: => A): (A, Seq[Seq[Int]]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val key = "graft.test.jobsOf"
    val tag = s"jobs-${System.nanoTime()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]()
    val marked = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some(t) if t == tag => jobs.add(e.stageInfos.map(_.numTasks))
          case Some(t) if t == s"$tag-end" => marked.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, tag)
      val a = body
      // a marker job: a listener sees events in order, so once the marker
      // arrives every job `body` submitted has been recorded
      sc.setLocalProperty(key, s"$tag-end")
      sc.parallelize(Seq(0), 1).count()
      assert(marked.await(60, java.util.concurrent.TimeUnit.SECONDS))
      (a, scala.jdk.CollectionConverters.IteratorHasAsScala(
        jobs.iterator()).asScala.toSeq)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}
