package graft.operators

import graft.SparkSpec
import graft.queries.{RelationalQueries, StreamingQueries}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** Operators share the caller's session with its neighbours: none may
  * write that session's conf, every job they submit plans at the session's
  * own width, concurrent runs on one session match their serial runs, and
  * loop results do not depend on the width. */
class SessionIsolationSpec extends SparkSpec {

  private val shuffleKey = "spark.sql.shuffle.partitions"

  /** 50-node random multigraph with self-loops and duplicate edges. */
  private val edgeSeq: Seq[(Long, Long)] = {
    val r = new scala.util.Random(7)
    Seq.fill(150)((r.nextInt(50).toLong, r.nextInt(50).toLong))
  }

  /** The iterative operators, each built from session `s` and collected
    * as sorted strings (doubles at 9 dp: sums reassociate with the
    * partitioning). */
  private def loops(s: SparkSession): Seq[(String, () => Seq[String])] = {
    import s.implicits._
    def edges = edgeSeq.toDF("src", "dst")
    def pairs = edgeSeq.collect { case (a, b) if a < b => (a, b) }.toDF("d1", "d2")
    Seq[(String, () => DataFrame)](
      "pageRank" -> (() => GraphOps.pageRank(edges)),
      "personalizedPageRank" -> (() =>
        GraphOps.personalizedPageRank(edges, Seq(0L, 1L, 2L).toDF("node"))),
      "hits" -> (() => GraphOps.hits(edges)),
      "bfsLevels" -> (() => GraphOps.bfsLevels(edges, src = 0L)),
      "connectedComponents" -> (() => Dedup.connectedComponents(pairs))
    ).map { case (name, op) => name -> (() => rows(op())) }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => f"$d%.9f"
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  private def tumbling(s: SparkSession): Seq[String] =
    rows(StreamingQueries.queries("q_stream_tumbling")(s, sf0001))

  private def assertConfIs(s: SparkSession, before: Map[String, String]): Unit = {
    val after = s.conf.getAll
    val changed = (before.keySet ++ after.keySet).toSeq.sorted
      .filter(k => before.get(k) != after.get(k))
      .map(k => s"$k: ${before.get(k)} -> ${after.get(k)}")
    assert(changed.isEmpty, s"session conf changed: ${changed.mkString(", ")}")
  }

  test("operators leave the caller's session conf unchanged") {
    val s = spark
    // start from the default so a write by bucketedJoin shows even if an
    // earlier suite already set the key
    s.conf.unset("spark.sql.legacy.bucketedTableScan.outputOrdering")
    val before = s.conf.getAll
    loops(s).foreach { case (_, op) => assert(op().nonEmpty) }
    import s.implicits._
    Bucketing.writeBucketed(edgeSeq.toDF("k", "v"), "graft_iso_l", "k", 4)
    Bucketing.writeBucketed(edgeSeq.toDF("k", "w"), "graft_iso_r", "k", 4)
    assert(Bucketing.bucketedJoin(s, "graft_iso_l", "graft_iso_r", "k")
      .count() > 0)
    assert(tumbling(s).nonEmpty)
    assertConfIs(s, before)
  }

  test("every job a loop submits plans at the session's own width") {
    val s = spark
    val sc = s.sparkContext
    val group = "graft-session-isolation-loops"
    val marker = "graft-session-isolation-marker"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]()
    @volatile var sawMarker = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        if (p != null && p.getProperty("spark.jobGroup.id") == group) jobs.add(p)
        if (p != null && p.getProperty("spark.job.description") == marker)
          sawMarker = true
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "session isolation")
      try loops(s).foreach { case (_, op) => op() }
      finally sc.clearJobGroup()
      // listener events arrive in order: once the marker job is seen,
      // every loop job before it has been too
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      eventually(timeout(30.seconds)) { assert(sawMarker) }
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val widths = jobs.asScala.toSeq.map(_.getProperty(shuffleKey))
    assert(widths.size > 20, s"too few loop jobs seen: ${widths.size}")
    val own = s.conf.get(shuffleKey)
    assert(widths.forall(_ == own),
      s"loop jobs planned at ${widths.distinct.mkString(",")}, session at $own")
  }

  test("loops and a stream replay run concurrently on one session") {
    val s = spark
    val ops = loops(s).toMap
    val work = Seq[(String, () => Seq[String])](
      "pageRank" -> ops("pageRank"),
      "connectedComponents" -> ops("connectedComponents"),
      "q_stream_tumbling" -> (() => tumbling(s)))
    val serial = work.map { case (n, op) => n -> op() }.toMap
    val before = s.conf.getAll
    val pool = java.util.concurrent.Executors.newFixedThreadPool(work.size)
    try {
      val futures = work.map { case (n, op) =>
        n -> pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          override def call(): Seq[String] = op()
        })
      }
      futures.foreach { case (n, f) =>
        assert(f.get() == serial(n), s"$n differs from its serial run")
      }
    } finally pool.shutdown()
    assertConfIs(s, before)
  }

  test("the SQL snapshot-log catalog queries leave a child session's conf unchanged") {
    // the snap catalog arrives with the session's build; a query that
    // registered it itself would write the conf of every session it ran on
    val s = spark.newSession()
    val before = s.conf.getAll
    Seq("q_scan_snapcat", "q_scan_snapmergevolve", "q_scan_snapwiden",
        "q_scan_snapdml_sql", "q_scan_merge_sql", "q_scan_snapcall",
        "q_scan_snapbinpack", "q_scan_snapoptpart", "q_scan_snapcat2",
        "q_scan_snapconstraint_sql").foreach { q =>
      assert(RelationalQueries.queries(q)(s, sf0001).count() > 0, q)
    }
    assertConfIs(s, before)
  }

  test("a listener on the caller's session sees the stream replay's progress") {
    val s = spark
    val progress = new java.util.concurrent.atomic.AtomicLong()
    val inputRows = new java.util.concurrent.atomic.AtomicLong()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progress.incrementAndGet()
        inputRows.addAndGet(e.progress.numInputRows)
      }
    }
    s.streams.addListener(listener)
    try {
      assert(tumbling(s).nonEmpty)
      val events = graft.core.Tables.events(s, sf0001).count()
      eventually(timeout(30.seconds)) {
        assert(progress.get() >= 2)
        assert(inputRows.get() == events)
      }
    } finally s.streams.removeListener(listener)
  }

  test("loop results are the same in child sessions at width 1 and 4") {
    def at(width: Int): Map[String, Seq[String]] = {
      val ns = spark.newSession()
      ns.conf.set(shuffleKey, width.toString)
      loops(ns).map { case (n, op) => n -> op() }.toMap
    }
    val w1 = at(1)
    val w4 = at(4)
    w1.foreach { case (n, r) =>
      assert(r.nonEmpty, n)
      assert(r == w4(n), s"$n differs between widths 1 and 4")
    }
  }
}
