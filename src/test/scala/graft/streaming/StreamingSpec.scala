package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming golden tests (SURVEY §5.2 #5): watermark late-data drop,
  * streaming dedup, stateful sessionization / job-monitor state machines,
  * stream-stream interval join, exactly-once file sink with checkpoint
  * recovery. MemoryStream gives batch-boundary control — the watermark only
  * advances between micro-batches, which these contracts depend on.
  */
class StreamingSpec extends SparkSpec {

  // base offset keeps test event times strictly above the initial watermark
  // (epoch 0) — rows at ts <= watermark are dropped by stateful operators
  private val base = 24L * 3600000L
  private def ts(min: Int): Timestamp = new Timestamp(base + min * 60000L)

  private def ev(id: Long, user: Long, typ: String, min: Int): Event =
    Event(id, user, typ, ts(min), 1.0)

  private var n = 0
  private def sink(): String = { n += 1; s"graft_ss_$n" }

  test("watermark drops late rows in append-mode windowed agg") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Event]
    val name = sink()
    val q = EventStreams.tumblingCounts(in.toDF(), "10 minutes", "15 minutes")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      in.addData(ev(1, 1, "a", 5), ev(2, 1, "a", 7))   // window [0,10)
      q.processAllAvailable()
      in.addData(ev(3, 1, "a", 40))                     // wm -> 40-15=25: closes [0,10)
      q.processAllAvailable()
      in.addData(ev(4, 1, "a", 8))                      // LATE: 8 < wm 25 → dropped
      in.addData(ev(5, 1, "a", 80))                     // wm -> 65: closes [40,50)
      q.processAllAvailable()
      val rows = s.table(name).collect()
        .map(r => ((r.getTimestamp(0).getTime - base) / 60000, r.getLong(2))).toMap
      assert(rows(0L) == 2, s"late row must not join window [0,10): $rows")
      assert(rows(40L) == 1)
    } finally q.stop()
  }

  test("theta sketch inside a watermarked window: exact distinct, state merges across batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Event]
    val name = sink()
    val q = EventStreams.tumblingDistinctUsers(in.toDF(), "10 minutes",
        "15 minutes")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // window [0,10): users 1,2,2,3 across TWO micro-batches — the
      // sketch state must merge, and duplicates must not inflate it
      in.addData(ev(1, 1, "a", 2), ev(2, 2, "a", 3))
      q.processAllAvailable()
      in.addData(ev(3, 2, "a", 5), ev(4, 3, "a", 7))
      q.processAllAvailable()
      // advance the watermark past the window end to emit it
      in.addData(ev(5, 9, "a", 40))
      q.processAllAvailable()
      in.addData(ev(6, 9, "a", 80))
      q.processAllAvailable()
      val rows = s.table(name).collect()
        .map(r => ((r.getTimestamp(0).getTime - base) / 60000,
          r.getDouble(1))).toMap
      // below k the KMV sketch is EXACT: 3 distinct users in [0,10)
      assert(rows(0L) === 3.0, s"$rows")
      assert(rows(40L) === 1.0, s"$rows")
    } finally q.stop()
  }

  test("streaming dedup emits each event_id once") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Event]
    val name = sink()
    val q = EventStreams.dedupByEventId(in.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      in.addData(ev(1, 1, "a", 1), ev(1, 1, "a", 1), ev(2, 1, "a", 2))
      q.processAllAvailable()
      in.addData(ev(2, 1, "a", 2), ev(3, 1, "a", 3))
      q.processAllAvailable()
      val ids = s.table(name).select("event_id").as[Long].collect().sorted
      assert(ids.sameElements(Array(1L, 2L, 3L)))
    } finally q.stop()
  }

  test("sessionize closes sessions on gap and on watermark timeout") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Event]
    val name = sink()
    val q = EventStreams.sessionize(in.toDS(), gapMinutes = 30, delay = "5 minutes")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // user 1: events at 0,10 (one session), then 100 (gap>30 → closes first)
      in.addData(ev(1, 1, "a", 0), ev(2, 1, "a", 10))
      q.processAllAvailable()
      in.addData(ev(3, 1, "a", 100))
      q.processAllAvailable()
      val afterGap = s.table(name).as[SessionOut].collect()
      assert(afterGap.length == 1)
      assert(afterGap.head.n_events == 2 &&
             afterGap.head.start == ts(0) && afterGap.head.end == ts(10))
      // advance watermark far past 100+30 → times out the open session
      in.addData(ev(4, 2, "a", 200))
      q.processAllAvailable()
      in.addData(ev(5, 2, "a", 201))
      q.processAllAvailable()
      val all = s.table(name).as[SessionOut].collect()
      assert(all.exists(o => o.user_id == 1 && o.n_events == 1 && o.start == ts(100)),
        s"open session must close by timeout: ${all.mkString(",")}")
    } finally q.stop()
  }

  test("job monitor emits one terminal result per job (R11 semantics)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[JobEvent]
    val name = sink()
    val q = EventStreams.monitorJobs(in.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      in.addData(JobEvent("j1", "RUNNING", ts(0)), JobEvent("j2", "RUNNING", ts(0)))
      q.processAllAvailable()
      in.addData(JobEvent("j1", "RUNNING", ts(1)), JobEvent("j1", "SUCCEEDED", ts(2)),
                 JobEvent("j2", "FAILED", ts(1)))
      q.processAllAvailable()
      val res = s.table(name).as[JobResult].collect().map(r => r.job_id -> r).toMap
      assert(res("j1").final_status == "SUCCEEDED" && res("j1").n_polls == 3)
      assert(res("j1").secs == 120.0)
      assert(res("j2").final_status == "FAILED")
      // post-terminal duplicate re-registers and re-emits (documented
      // at-least-once contract — state was already dropped)
      in.addData(JobEvent("j1", "SUCCEEDED", ts(3)))
      q.processAllAvailable()
      assert(s.table(name).count() == 3)
    } finally q.stop()
  }

  test("stream-stream interval join matches signup preceding purchase") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val purchases = MemoryStream[Event]
    val signups = MemoryStream[Event]
    val name = sink()
    val q = EventStreams
      .intervalJoin(purchases.toDF(), signups.toDF(), "10 minutes")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      signups.addData(ev(10, 1, "signup", 0), ev(11, 2, "signup", 0))
      purchases.addData(ev(20, 1, "purchase", 5))   // within 10 min → match
      purchases.addData(ev(21, 2, "purchase", 30))  // 30 min later → no match
      q.processAllAvailable()
      val rows = s.table(name).select("l_id", "r_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.toSet == Set((20L, 10L)), rows.mkString(","))
    } finally q.stop()
  }

  test("Trigger.AvailableNow backfills all existing files then terminates") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_avnow").toString
    // two pre-existing batches — the backfill scenario
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$dir/in/b1")
    Seq((3L, "c")).toDF("id", "v").write.parquet(s"$dir/in/b2")
    val name = sink()
    val q = s.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType))))
      .parquet(s"$dir/in/*")
      .groupBy(col("v")).count()
      .writeStream.format("memory").queryName(name)
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // AvailableNow drains everything present at start, then STOPS on its
    // own — the batch-backfill contract (a plain file stream would idle)
    assert(q.awaitTermination(60000), "AvailableNow query did not self-terminate")
    val rows = s.table(name).as[(String, Long)].collect().toMap
    assert(rows == Map("a" -> 1L, "b" -> 1L, "c" -> 1L))
  }

  test("left-outer interval join emits unmatched rows only after watermark passes") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val purchases = MemoryStream[Event]
    val signups = MemoryStream[Event]
    val name = sink()
    val q = EventStreams
      .intervalJoin(purchases.toDF(), signups.toDF(), "10 minutes",
        delay = "15 minutes", joinType = "left_outer")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      signups.addData(ev(10, 1, "signup", 0))
      purchases.addData(ev(20, 1, "purchase", 5))   // matched
      purchases.addData(ev(21, 2, "purchase", 6))   // no signup → unmatched
      q.processAllAvailable()
      val before = s.table(name).where($"r_id".isNull).count()
      assert(before == 0, "unmatched row emitted before its window closed")
      // push the watermark far past 6 + horizon + delay on BOTH streams
      signups.addData(ev(90, 9, "signup", 120))
      purchases.addData(ev(91, 9, "purchase", 120))
      q.processAllAvailable()
      // one more batch so the advanced watermark evicts state
      signups.addData(ev(92, 9, "signup", 121))
      purchases.addData(ev(93, 9, "purchase", 121))
      q.processAllAvailable()
      val rows = s.table(name).select("l_id", "r_id").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
        .toSet
      assert(rows.contains((20L, 10L)), s"matched pair missing: $rows")
      assert(rows.contains((21L, -1L)), s"unmatched purchase never emitted: $rows")
    } finally q.stop()
  }

  test("full-outer interval join emits unmatched rows from BOTH sides") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val purchases = MemoryStream[Event]
    val signups = MemoryStream[Event]
    val name = sink()
    val q = EventStreams
      .intervalJoin(purchases.toDF(), signups.toDF(), "10 minutes",
        delay = "15 minutes", joinType = "fullOuter")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      signups.addData(ev(10, 1, "signup", 0),
        ev(12, 3, "signup", 2)) // user 3 never purchases → right-unmatched
      purchases.addData(ev(20, 1, "purchase", 5)) // matched
      purchases.addData(ev(21, 2, "purchase", 6)) // no signup → left-unmatched
      q.processAllAvailable()
      assert(s.table(name).where($"r_id".isNull || $"l_id".isNull).count() == 0,
        "outer rows emitted before their windows closed")
      // advance the watermark past every real window on BOTH streams,
      // then once more so the advanced watermark evicts state
      signups.addData(ev(90, 9, "signup", 120))
      purchases.addData(ev(91, 9, "purchase", 120))
      q.processAllAvailable()
      signups.addData(ev(92, 9, "signup", 121))
      purchases.addData(ev(93, 9, "purchase", 121))
      q.processAllAvailable()
      val rows = s.table(name).select("l_id", "r_id").collect()
        .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(rows.contains((20L, 10L)), s"matched pair missing: $rows")
      assert(rows.contains((21L, -1L)), s"unmatched purchase missing: $rows")
      assert(rows.contains((-1L, 12L)), s"unmatched signup missing: $rows")
    } finally q.stop()
  }

  test("update output mode re-emits only changed groups per batch") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Event]
    val name = sink()
    val q = in.toDF().groupBy($"event_type").count()
      .writeStream.format("memory").queryName(name).outputMode("update").start()
    try {
      in.addData(ev(1, 1, "a", 1), ev(2, 1, "b", 2))
      q.processAllAvailable()
      in.addData(ev(3, 1, "a", 3)) // only 'a' changes in batch 2
      q.processAllAvailable()
      // memory sink in update mode appends each batch's emitted rows:
      // batch1: (a,1),(b,1); batch2: (a,2) — b NOT re-emitted
      val rows = s.table(name).collect()
        .map(r => (r.getString(0), r.getLong(1))).toList
      assert(rows.sorted == List(("a", 1L), ("a", 2L), ("b", 1L)), rows.toString)
    } finally q.stop()
  }

  test("streaming partitioned gzip text sink (R6's layout, streaming twin)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Event]
    val dir = java.nio.file.Files.createTempDirectory("graft_sgz").toString
    val q = in.toDF()
      .select($"event_type".as("sample"),
        concat_ws("\t", $"event_id", $"user_id").as("value"))
      .writeStream.format("text")
      .option("path", s"$dir/out").option("compression", "gzip")
      .option("checkpointLocation", s"$dir/ck")
      .partitionBy("sample")
      .start()
    try {
      in.addData(ev(1, 10, "a", 1), ev(2, 20, "b", 2), ev(3, 30, "a", 3))
      q.processAllAvailable()
    } finally q.stop()
    val back = s.read.text(s"$dir/out")
      .select(input_file_name().as("f"), $"value").collect()
    assert(back.length == 3)
    assert(back.forall(_.getString(0).contains("sample=")))
    assert(back.forall(_.getString(0).endsWith(".txt.gz")))
    assert(back.count(_.getString(0).contains("sample=a")) == 2)
  }

  test("streaming corpus ingest: cross-batch digest dedup + quality score") {
    // the continuous-crawl shape end-to-end: document batches arrive as
    // files, exact dedup runs STATEFULLY across batches (dropDuplicates on
    // the normalized digest — the streaming twin of incrementalDedup), and
    // the quality score rides as a pure map column (no streaming groupBy)
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    val src = s"$dir/src"
    new java.io.File(src).mkdirs()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    def write(part: Int, docs: Seq[(Long, String)]): Unit =
      docs.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$src/p$part")
    write(1, Seq(10L -> "fresh content here", 11L -> "Seen Before"))
    write(2, Seq(12L -> "fresh content here", // cross-batch dup of 10
                 13L -> "seen before",        // dup of 11 after normalize
                 14L -> "brand new material"))
    val weights = graft.operators.CorpusOps.fixtureWeights()
    val sinkName = sink()
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$src/p*")
      .withColumn("h", graft.operators.Dedup.normDigest(col("text")))
      .dropDuplicates("h")
      .withColumn("q_score", graft.operators.CorpusOps
        .hashedLinearScoreColumn(col("text"), weights, bias = 0.125))
      .writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = s.table(sinkName).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(got.keySet == Set(10L, 11L, 14L),
      s"cross-batch dups must drop, got ${got.keySet}")
    // the map-column score is numerically identical to the aggregating
    // batch operator (dyadic fixture weights make sums order-exact)
    val want = graft.operators.CorpusOps.hashedLinearScore(
        Seq(10L -> "fresh content here", 11L -> "Seen Before",
            14L -> "brand new material").toDF("doc_id", "text"),
        weights, bias = 0.125)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == want, s"streaming scores $got vs batch $want")
  }

  test("streaming vector ingest: IVF assignment is a pure map over the stream") {
    // the vector-index ingestion shape: embedding batches arrive as files
    // and each vector is routed to its IVF list by nearestCentroid — a
    // codegen'd COLUMN, no shuffle, no state — so index ingestion runs on
    // an unbounded stream; the stored (cid, vid, cv) table then serves
    // probes exactly as the batch path does
    val s = spark
    import s.implicits._
    import graft.functions.Sketches.mix64
    val dim = 16
    def vec(seed: Long): Array[Float] = {
      val v = Array.tabulate(dim)(j => mix64(seed * 131 + j).toDouble / Long.MaxValue)
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val all = (0L until 60L).map(i => i -> vec(i))
    val batchDf = all.toDF("vec_id", "embedding")
    val cents = graft.operators.Ivf.trainCentroids(batchDf, nCentroids = 4, iters = 2)

    val dir = java.nio.file.Files.createTempDirectory("graft_vec_ingest").toString
    val src = s"$dir/src"
    new java.io.File(src).mkdirs()
    all.grouped(20).zipWithIndex.foreach { case (part, i) =>
      part.toDF("vec_id", "embedding").coalesce(1)
        .write.mode("overwrite").parquet(s"$src/p$i")
    }
    val schema = batchDf.schema
    val sinkName = sink()
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$src/p*")
      .withColumn("cid", graft.operators.Ivf.nearestCentroid(col("embedding"), cents))
      .select(col("vec_id"), col("cid"))
      .writeStream.format("memory").queryName(sinkName)
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = s.table(sinkName).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = graft.operators.Ivf.assign(batchDf, cents)
      .collect().map(r => r.getLong(1) -> r.getInt(0)).toMap
    assert(got.size == 60 && got == want,
      s"streaming assignment must equal the batch path")
  }

  test("streaming Count-Min sketch equals the batch sketch across micro-batches") {
    // streaming frequency monitoring: the CMS aggregator's partial+final
    // merge contract is exactly what a streaming global aggregate needs —
    // per-micro-batch partials merge into state, so the final sketch must
    // be bit-identical to one batch pass over the same rows (the
    // order-invariance SketchesSpec pins, here exercised across real
    // micro-batch boundaries)
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cms_stream").toString
    val src = s"$dir/src"
    new java.io.File(src).mkdirs()
    val items = (0 until 300).map(i => s"tok${i % 17}")
    items.grouped(100).zipWithIndex.foreach { case (part, i) =>
      part.toDF("item").coalesce(1).write.mode("overwrite").parquet(s"$src/p$i")
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("item",
        org.apache.spark.sql.types.StringType)))
    val sinkName = sink()
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$src/p*")
      .agg(graft.functions.Sketches.countMin(col("item")).as("cms"))
      .writeStream.format("memory").queryName(sinkName)
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = s.table(sinkName).collect()(0).getStruct(0)
    val want = items.toDF("item")
      .agg(graft.functions.Sketches.countMin(col("item")).as("cms"))
      .collect()(0).getStruct(0)
    assert(got.getLong(3) == 300L, "stream must count every item")
    assert(got.getSeq[Long](2) == want.getSeq[Long](2),
      "streaming sketch table must be bit-identical to the batch sketch")
  }

  test("streaming CDC apply: upserts, deletes, carry-forward, idempotent replay") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    val state = s"$dir/state"
    val in = MemoryStream[(Long, String, Long, String)] // key, payload, version, op
    val q = CdcApply.cdcApply(
      in.toDF().toDF("key", "payload", "version", "op"),
      state, checkpoint = s"$dir/ckpt")
    try {
      // batch 0: inserts, with an intra-batch overwrite of key 1 (v2 wins)
      in.addData((1L, "a", 1L, "u"), (1L, "a2", 2L, "u"), (2L, "b", 1L, "u"))
      q.processAllAvailable()
      val s0 = CdcApply.currentSnapshot(s, state).get
        .select("key", "payload").as[(Long, String)].collect().toMap
      assert(s0 == Map(1L -> "a2", 2L -> "b"))
      // batch 1: update 2, delete 1, insert 3 — key 2's old row replaced,
      // key 1 gone, untouched keys carried
      in.addData((2L, "b2", 3L, "u"), (1L, "", 4L, "d"), (3L, "c", 5L, "u"))
      q.processAllAvailable()
      val s1 = CdcApply.currentSnapshot(s, state).get
        .select("key", "payload").as[(Long, String)].collect().toMap
      assert(s1 == Map(2L -> "b2", 3L -> "c"))
    } finally q.stop()
    // idempotent replay: re-applying the LAST batch (same batchId, same
    // data) over the existing generations changes nothing — the replayed
    // batch reads only generations below its own id
    val replay = Seq((2L, "b2", 3L, "u"), (1L, "", 4L, "d"), (3L, "c", 5L, "u"))
      .toDF("key", "payload", "version", "op")
    CdcApply.applyBatch(replay, state, batchId = 1L)
    val s2 = CdcApply.currentSnapshot(s, state).get
      .select("key", "payload").as[(Long, String)].collect().toMap
    assert(s2 == Map(2L -> "b2", 3L -> "c"), "replay must be a no-op")
    // out-of-order protection: a LATE batch carrying versions below the
    // current state (an upsert under key 1's tombstone v4, an upsert
    // under key 2's live v3) must change nothing — max-version merge +
    // persisted tombstones, not batch-wins
    val late = Seq((1L, "zombie", 3L, "u"), (2L, "stale", 2L, "u"))
      .toDF("key", "payload", "version", "op")
    CdcApply.applyBatch(late, state, batchId = 2L)
    val s3 = CdcApply.currentSnapshot(s, state).get
      .select("key", "payload").as[(Long, String)].collect().toMap
    assert(s3 == Map(2L -> "b2", 3L -> "c"),
      s"late low-version changes must lose: $s3")
    // retention: three generations exist (0, 1, 2); expiring to keepLast=1
    // deletes the two oldest, the live snapshot is unchanged
    val deleted = CdcApply.expireGenerations(s, state, keepLast = 1)
    assert(deleted.sorted == Seq(0L, 1L), s"deleted $deleted")
    val s4 = CdcApply.currentSnapshot(s, state).get
      .select("key", "payload").as[(Long, String)].collect().toMap
    assert(s4 == Map(2L -> "b2", 3L -> "c"))
    assert(CdcApply.expireGenerations(s, state, keepLast = 1).isEmpty,
      "second expire must be a no-op")
  }

  test("exactly-once file sink: checkpointed restart does not duplicate") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ck").toString
    val src = s"$dir/src"; val out = s"$dir/out"; val ck = s"$dir/ck"
    new java.io.File(src).mkdirs()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    def write(part: Int, vals: Seq[Long]): Unit =
      vals.toDF("v").coalesce(1).write.mode("overwrite").parquet(s"$src/p$part")
    def run(): Unit = {
      val q = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$src/p*")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ck).start()
      q.processAllAvailable(); q.stop()
    }
    write(1, Seq(1L, 2L)); write(2, Seq(3L))
    run()
    write(3, Seq(4L, 5L))
    run() // restart from checkpoint; p1/p2 must not be reprocessed
    val got = s.read.parquet(out).as[Long].collect().sorted
    assert(got.sameElements(Array(1L, 2L, 3L, 4L, 5L)), got.mkString(","))
  }

  test("detectPattern: skip-till-next-match chains across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Event]
    val name = sink()
    val q = EventStreams.detectPattern(in.toDS(),
        Seq("view", "click", "purchase"), withinSec = 60L * 60)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // u1 opens a chain; the error event must be skipped (followedBy,
      // not next); chain completes in a LATER micro-batch
      in.addData(ev(1, 1, "view", 0), ev(2, 1, "error", 5), ev(3, 1, "click", 10))
      q.processAllAvailable()
      in.addData(ev(4, 1, "purchase", 20))
      q.processAllAvailable()
      val afterFirst = s.table(name).as[PatternMatch].collect()
      assert(afterFirst.toList == List(PatternMatch(1L, ts(0), ts(20), 3)),
        afterFirst.mkString(","))
      // AFTER MATCH SKIP PAST LAST ROW: the next purchase alone (no new
      // view chain) must NOT match; a fresh full chain must
      in.addData(ev(5, 1, "purchase", 25), ev(6, 1, "view", 30),
        ev(7, 1, "click", 40), ev(8, 1, "purchase", 50))
      q.processAllAvailable()
      assert(s.table(name).count() == 2)
      // horizon: u2's click/purchase arrive past view+60min → chain
      // expired, no match; the second view re-opens and completes
      in.addData(ev(9, 2, "view", 100))
      q.processAllAvailable()
      in.addData(ev(10, 2, "click", 170), ev(11, 2, "view", 180),
        ev(12, 2, "click", 190), ev(13, 2, "purchase", 200))
      q.processAllAvailable()
      val u2 = s.table(name).as[PatternMatch].collect().filter(_.user_id == 2L)
      assert(u2.toList == List(PatternMatch(2L, ts(180), ts(200), 3)),
        u2.mkString(","))
    } finally q.stop()
  }

  /** Runs a streaming query over scripted MemoryStream batches and
    * collects the sink, for the golden tests that compare whole outputs. */
  private def runScripted[O: org.apache.spark.sql.Encoder](
      f: org.apache.spark.sql.Dataset[Event] => org.apache.spark.sql.Dataset[O],
      batches: Seq[Seq[Event]]): Seq[O] = {
    val s = spark
    implicit val ctx = s.sqlContext
    import s.implicits._
    val in = MemoryStream[Event]
    val name = sink()
    val q = f(in.toDS()).writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      s.table(name).as[O].collect().toSeq
    } finally q.stop()
  }

  test("sessionize golden: cross-batch extension, gap and timeout closes, many users") {
    // gap close in-stream, watermark-timeout close, multi-user, cross-batch
    // extension — the full sessionize surface
    val batches = Seq(
      Seq(ev(1, 1, "a", 0), ev(2, 1, "a", 10)),
      Seq(ev(3, 1, "a", 20)),                    // extends the open session
      Seq(ev(4, 1, "a", 100), ev(5, 2, "a", 100)), // gap>30 → closes first
      Seq(ev(6, 2, "a", 300)),                   // gap closes u2@100; wm 295
      Seq(ev(7, 3, "a", 400)),                   // wm → times out u1@100, u2@300
      Seq(ev(8, 3, "a", 500)))                   // gap closes u3@400; u3@500 open
    def norm(xs: Seq[SessionOut]) =
      xs.sortBy(o => (o.user_id, o.start.getTime, o.end.getTime, o.n_events))
    implicit val enc = org.apache.spark.sql.Encoders.product[SessionOut]
    val got = norm(runScripted[SessionOut](
      EventStreams.sessionize(_, 30, "5 minutes"), batches))
    assert(got === Seq(
      SessionOut(1L, 3, ts(0), ts(20)), SessionOut(1L, 1, ts(100), ts(100)),
      SessionOut(2L, 1, ts(100), ts(100)), SessionOut(2L, 1, ts(300), ts(300)),
      SessionOut(3L, 1, ts(400), ts(400))), got.toString)
  }

  test("parsePattern: quantifier DSL and validation") {
    assert(EventStreams.parsePattern("view click{2,3} signup? purchase") ===
      IndexedSeq(QStep("view", 1, 1), QStep("click", 2, 3),
        QStep("signup", 0, 1), QStep("purchase", 1, 1)))
    assert(EventStreams.parsePattern("a b{4}") ===
      IndexedSeq(QStep("a", 1, 1), QStep("b", 4, 4)))
    intercept[IllegalArgumentException](EventStreams.parsePattern("a? b"))
    intercept[IllegalArgumentException](EventStreams.parsePattern("a b a"))
    intercept[IllegalArgumentException](QStep("x", 3, 2))
  }

  test("parsePattern: unbounded quantifiers (+ * {m,}) — round 12") {
    assert(EventStreams.parsePattern("a b+ c") ===
      IndexedSeq(QStep("a", 1, 1), QStep("b", 1, Int.MaxValue),
        QStep("c", 1, 1)))
    assert(EventStreams.parsePattern("a b{2,} c")(1) ===
      QStep("b", 2, Int.MaxValue))
    assert(EventStreams.parsePattern("a b* c")(1) ===
      QStep("b", 0, Int.MaxValue))
    assert(EventStreams.parsePattern("a (b|c)+ d")(1) ===
      QStep("b", 1, Int.MaxValue, Seq("c")))
    // the open-on-required rule still applies: a* head is min-0
    intercept[IllegalArgumentException](EventStreams.parsePattern("a* b"))
    // a+ head is fine (min 1)
    assert(EventStreams.parsePattern("a+ b").head ===
      QStep("a", 1, Int.MaxValue))
  }

  test("parsePattern: negation tokens (notFollowedBy) — round 12") {
    assert(EventStreams.parsePattern("v !e c !s p") ===
      IndexedSeq(QStep("v", 1, 1), QStep("c", 1, 1, Nil, Seq("e")),
        QStep("p", 1, 1, Nil, Seq("s"))))
    assert(EventStreams.parsePattern("v !(e|s) c p")(1) ===
      QStep("c", 1, 1, Nil, Seq("e", "s")))
    // dangling negation (no following step)
    intercept[IllegalArgumentException](EventStreams.parsePattern("v c !e"))
    // negation before the opening step has no gap to guard
    intercept[IllegalArgumentException](EventStreams.parsePattern("!e v c"))
    // negated type colliding with a step symbol
    intercept[IllegalArgumentException](EventStreams.parsePattern("v !c c p"))
    // negations are restricted to plain (1,1) chains
    intercept[IllegalArgumentException](
      EventStreams.parsePattern("v !e c{2,3} p"))
    intercept[IllegalArgumentException](
      EventStreams.parsePattern("v !e c p?"))
    intercept[IllegalArgumentException](
      EventStreams.parsePattern("v !e c+ p"))
  }

  test("parsePattern: alternation groups and disjointness") {
    assert(EventStreams.parsePattern("view (click|error){2,3} purchase") ===
      IndexedSeq(QStep("view", 1, 1), QStep("click", 2, 3, Seq("error")),
        QStep("purchase", 1, 1)))
    assert(EventStreams.parsePattern("d (a|b|c)? e")(1) ===
      QStep("a", 0, 1, Seq("b", "c")))
    // the open-on-required rule applies to groups too
    intercept[IllegalArgumentException](
      EventStreams.parsePattern("(a|b|c)? d"))
    assert(QStep("click", 2, 3, Seq("error")).matches("error"))
    assert(!QStep("click", 2, 3, Seq("error")).matches("view"))
    // symbol sets must be pairwise disjoint across steps
    intercept[IllegalArgumentException](
      EventStreams.parsePattern("a (a|b) c"))
    intercept[IllegalArgumentException](
      EventStreams.parsePattern("(a|b) (b|c) d"))
    // ...and duplicate-free within a step
    intercept[IllegalArgumentException](
      EventStreams.parsePattern("x (y|y) z"))
    // malformed atoms are loud, not silently one-symbol
    intercept[IllegalArgumentException](
      EventStreams.parsePattern("a (b| c"))
  }

  test("parsePattern strict contiguity: >step and !>type tokens (round 13)") {
    val p = EventStreams.parsePattern("view !>error click >purchase")
    assert(p(0) === QStep("view", 1, 1))
    assert(p(1) === QStep("click", 1, 1, notNext = Seq("error")))
    assert(p(2) === QStep("purchase", 1, 1, strict = true))
    // notNext alternation groups
    assert(EventStreams.parsePattern("v !>(e|x) c p")(1).notNext ===
      Seq("e", "x"))
    // the opening step has no preceding event to constrain
    intercept[IllegalArgumentException](EventStreams.parsePattern(">v c"))
    intercept[IllegalArgumentException](EventStreams.parsePattern("!>e v c"))
    // strict contiguity requires a plain (1,1) chain
    intercept[IllegalArgumentException](EventStreams.parsePattern("v >c{2} p"))
    intercept[IllegalArgumentException](EventStreams.parsePattern("v >c p*"))
    // cannot mix with notFollowedBy gap guards
    intercept[IllegalArgumentException](EventStreams.parsePattern("v !e c >p"))
    // a notNext guard before a strict step is unreachable
    intercept[IllegalArgumentException](EventStreams.parsePattern("v !>e >c p"))
    // notNext types disjoint from step symbols
    intercept[IllegalArgumentException](EventStreams.parsePattern("v !>c c p"))
    // dangling guard
    intercept[IllegalArgumentException](EventStreams.parsePattern("v c !>e"))
  }

  test("strictRegexTwin reproduces the committed oracle regexes (round 13)") {
    // q_stream_cep6's hand-spelled oracle string, derived
    assert(EventStreams.strictRegexTwin(
        EventStreams.parsePattern("view !>error click >purchase"),
        Map("view" -> "v", "click" -> "c", "error" -> "e",
            "purchase" -> "p")) ===
      "v(?:[^ec][^c]*)?cp")
    // a strict step drops its gap atom entirely
    assert(EventStreams.strictRegexTwin(
        EventStreams.parsePattern("v >c p")) === "vc[^p]*p")
    // relaxed steps use COMMITTED negated-class gaps, not lazy dots
    assert(EventStreams.strictRegexTwin(
        EventStreams.parsePattern("v c >p")) === "v[^c]*cp")
    // alternation groups: class unions the symbols
    assert(EventStreams.strictRegexTwin(
        EventStreams.parsePattern("v >(c|e) p")) === "v(?:c|e)[^p]*p")
    assert(EventStreams.strictRegexTwin(
        EventStreams.parsePattern("v !>(e|x) (c|s) >p"))
      === "v(?:[^excs][^cs]*)?(?:c|s)p")
    // multi-char encodings are rejected loudly (class atoms)
    intercept[IllegalArgumentException](EventStreams.strictRegexTwin(
      EventStreams.parsePattern("view >click p"), identity))
  }

  test("strictNfaStep extents ≡ committed regex on randomized streams (round 13)") {
    // the strict-chain NFA claims the exact extents of the committed
    // regex strictRegexTwin derives — the property that makes
    // q_stream_cep6's DuckDB oracle one RE2-safe regexp. Pattern shapes
    // cover strict steps at every position, notNext guards, alternation
    // on strict and relaxed steps, and all-strict chains.
    val patterns = Seq(
      "v >c p",
      "v c >p",
      "v >c >p",
      "v !>e c p",
      "v !>e c >p",
      "v !>(e|x) c p",
      "v >(c|e) p",
      "v (c|e) >p",
      "v !>s (c|e) >p",
      "v >c s >p",
      "c >p")
    val alphabet = "vcspex".toCharArray
    val rnd = new scala.util.Random(421301)
    for (pat <- patterns) {
      val steps = EventStreams.parsePattern(pat)
      val regex = java.util.regex.Pattern.compile(
        EventStreams.strictRegexTwin(steps))
      for (trial <- 1 to 1000) {
        val n = 4 + rnd.nextInt(28)
        val seq = Array.fill(n)(alphabet(rnd.nextInt(alphabet.length)))
        val str = new String(seq)
        val m = regex.matcher(str)
        val expected = Iterator.continually(m)
          .takeWhile(_.find()).map(x => (x.start, x.end - 1)).toList
        var cur: StrictChainState = null
        val got = scala.collection.mutable.ListBuffer.empty[(Int, Int)]
        seq.zipWithIndex.foreach { case (c, i) =>
          val (next, done) =
            EventStreams.strictNfaStep(steps, cur, i.toLong, c.toString)
          cur = next
          done.foreach { case (st, en, _) => got += ((st.toInt, en.toInt)) }
        }
        assert(got.toList === expected, s"pattern=$pat trial $trial seq=$str")
      }
    }
  }

  test("detectPatternQ strict: next/notNext kill across micro-batches (round 13)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Event]
    val name = sink()
    val q = EventStreams.detectPatternQ(in.toDS(),
        EventStreams.parsePattern("view !>error click >purchase"),
        withinSec = 60L * 60)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // user 1: the event right after the view (arriving in a LATER
      // batch — the fresh flag must persist in state) is an error → the
      // run dies; the later click+purchase alone must not match
      in.addData(ev(1, 1, "view", 0))
      q.processAllAvailable()
      in.addData(ev(2, 1, "error", 5), ev(3, 1, "click", 8),
        ev(4, 1, "purchase", 10))
      q.processAllAvailable()
      assert(s.table(name).count() === 0, "notNext kill failed across batches")
      // user 2: a signup right after the view SPENDS the guard; the later
      // error is skipped as usual; click then immediately purchase
      in.addData(ev(5, 2, "view", 20), ev(6, 2, "signup", 21))
      q.processAllAvailable()
      in.addData(ev(7, 2, "error", 22), ev(8, 2, "click", 24),
        ev(9, 2, "purchase", 25))
      q.processAllAvailable()
      val m2 = s.table(name).as[PatternMatch].collect()
      assert(m2.toList === List(PatternMatch(2L, ts(20), ts(25), 3)),
        m2.mkString(","))
      // user 3: a signup between click and purchase breaks the STRICT
      // step and kills the run; the killing event cannot reopen (not a
      // view), but a later full chain matches — and the strict-kill
      // restart is exactly the committed regex's next leftmost attempt
      in.addData(ev(10, 3, "view", 30), ev(11, 3, "click", 31),
        ev(12, 3, "signup", 32))
      q.processAllAvailable()
      in.addData(ev(13, 3, "view", 33), ev(14, 3, "click", 34),
        ev(15, 3, "purchase", 35))
      q.processAllAvailable()
      val m3 = s.table(name).as[PatternMatch].collect().filter(_.user_id == 3L)
      assert(m3.toList === List(PatternMatch(3L, ts(33), ts(35), 3)),
        m3.mkString(","))
    } finally q.stop()
  }

  test("lazyRegexTwin reproduces the catalog oracle regexes") {
    // q_stream_cep2's hand-spelled oracle string, derived
    assert(EventStreams.lazyRegexTwin(
        EventStreams.parsePattern("v c{2,3} s? p")) ===
      "v(?:.*?c){2,3}?(?:.*?s)??.*?p")
    // q_stream_cep3: the alternation group becomes one (?:c|e) atom
    assert(EventStreams.lazyRegexTwin(
        EventStreams.parsePattern("view (click|error){2,3} signup? purchase"),
        Map("view" -> "v", "click" -> "c", "error" -> "e",
            "signup" -> "s", "purchase" -> "p")) ===
      "v(?:.*?(?:c|e)){2,3}?(?:.*?s)??.*?p")
    // a quantified HEAD step folds its first occurrence out of the bound
    assert(EventStreams.lazyRegexTwin(
        EventStreams.parsePattern("a{2,3} b")) ===
      "a(?:.*?a){1,2}?.*?b")
    // round 12: negated gaps become lazy character classes
    assert(EventStreams.lazyRegexTwin(
        EventStreams.parsePattern("v !e c !s p")) === "v[^e]*?c[^s]*?p")
    assert(EventStreams.lazyRegexTwin(
        EventStreams.parsePattern("v !(e|s) c p")) === "v[^es]*?c.*?p")
    // round 12: unbounded quantifiers
    assert(EventStreams.lazyRegexTwin(
        EventStreams.parsePattern("v c+ s? p")) ===
      "v(?:.*?c){1,}?(?:.*?s)??.*?p")
    assert(EventStreams.lazyRegexTwin(
        EventStreams.parsePattern("v c{2,} p")) === "v(?:.*?c){2,}?.*?p")
    assert(EventStreams.lazyRegexTwin(
        EventStreams.parsePattern("v c* p")) === "v(?:.*?c)*?.*?p")
    assert(EventStreams.lazyRegexTwin(
        EventStreams.parsePattern("a+ b")) === "a(?:.*?a)*?.*?b")
    // multi-char encodings under a negated gap are rejected loudly
    intercept[IllegalArgumentException](EventStreams.lazyRegexTwin(
      EventStreams.parsePattern("v !error c p"), identity))
  }

  test("detectPatternQ: quantified chains across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Event]
    val name = sink()
    val q = EventStreams.detectPatternQ(in.toDS(),
        EventStreams.parsePattern("view click{2,3} signup? purchase"),
        withinSec = 60L * 60)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // one click is below min — the purchase must NOT complete the chain
      in.addData(ev(1, 1, "view", 0), ev(2, 1, "click", 5),
        ev(3, 1, "purchase", 8))
      q.processAllAvailable()
      assert(s.table(name).count() === 0)
      // second click (cross-batch state) satisfies min=2; optional signup
      // consumed; next purchase completes
      in.addData(ev(4, 1, "click", 10), ev(5, 1, "signup", 12),
        ev(6, 1, "purchase", 15))
      q.processAllAvailable()
      val m1 = s.table(name).as[PatternMatch].collect()
      assert(m1.toList === List(PatternMatch(1L, ts(0), ts(15), 5)),
        m1.mkString(","))
      // optional SKIPPED: view 3c p completes without any signup; the 4th
      // click beyond max is skipped like any non-step event (extents and
      // count unchanged). Times stay monotone — the watermark has passed
      // minute 0 by now
      in.addData(ev(7, 2, "view", 20), ev(8, 2, "click", 21), ev(9, 2, "click", 22),
        ev(10, 2, "click", 23), ev(11, 2, "click", 24), ev(12, 2, "purchase", 26))
      q.processAllAvailable()
      val m2 = s.table(name).as[PatternMatch].collect().filter(_.user_id == 2L)
      assert(m2.toList === List(PatternMatch(2L, ts(20), ts(26), 5)),
        m2.mkString(","))
      // horizon expiry mid-count: clicks past view+60min expire the chain
      in.addData(ev(13, 3, "view", 100), ev(14, 3, "click", 110))
      q.processAllAvailable()
      in.addData(ev(15, 3, "click", 170), ev(16, 3, "purchase", 175))
      q.processAllAvailable()
      assert(s.table(name).as[PatternMatch].collect()
        .count(_.user_id == 3L) === 0)
    } finally q.stop()
  }

  test("nfaStep extents ≡ lazy Java regex on randomized symbol streams") {
    // the quantified NFA claims the exact extents of the lazy regex
    // v(?:.*?c){2,3}?(?:.*?s)??.*?p — the property that makes the DuckDB
    // oracle of q_stream_cep2 one regexp. Drive both over 2000 random
    // sequences (seeded) and compare every (start, end) pair.
    val steps = EventStreams.parsePattern("v c{2,3} s? p")
    val regex = java.util.regex.Pattern.compile("v(?:.*?c){2,3}?(?:.*?s)??.*?p")
    val alphabet = "vcspex".toCharArray
    val rnd = new scala.util.Random(421101)
    for (trial <- 1 to 2000) {
      val n = 4 + rnd.nextInt(28)
      val seq = Array.fill(n)(alphabet(rnd.nextInt(alphabet.length)))
      val str = new String(seq)
      // regex extents: non-overlapping leftmost-first (start, end) index pairs
      val m = regex.matcher(str)
      val expected = Iterator.continually(m)
        .takeWhile(_.find()).map(x => (x.start, x.end - 1)).toList
      // NFA extents: event index as the timestamp, infinite horizon
      var cur: PatternState = null
      val got = scala.collection.mutable.ListBuffer.empty[(Int, Int)]
      seq.zipWithIndex.foreach { case (c, i) =>
        val (next, done) = EventStreams.nfaStep(steps, cur, i.toLong, c.toString)
        cur = next
        done.foreach { case (st, en, _) => got += ((st.toInt, en.toInt)) }
      }
      assert(got.toList === expected, s"trial $trial seq=$str")
    }
  }

  test("nfaStep extents ≡ lazy regex with alternation groups (randomized)") {
    // same property as above, with the regex DERIVED by lazyRegexTwin and
    // pattern shapes covering alternation at every position: a grouped
    // middle step, a grouped head, a quantified grouped head and a
    // trailing optional group. 1000 seeded sequences each.
    val patterns = Seq(
      "v (c|e){2,3} s? p",
      "v (c|e) p",
      "(v|s){1,2} c p",
      "(v|s) c{2} (p|e)?",
      "v (c|x){1,2} (s|e)? p",
      // round 12 — notFollowedBy gaps (plain chains)
      "v !e c p",
      "v !e c !s p",
      "v !(e|x) c p",
      "v !s c !e p",
      // round 12 — unbounded looping (oneOrMore / timesOrMore / zeroOrMore)
      "v c+ s? p",
      "v c{2,} p",
      "v c* p",
      "v (c|e)+ s? p",
      "c+ p",
      "v (c|e){2,} (s|x)? p")
    val alphabet = "vcspex".toCharArray
    val rnd = new scala.util.Random(421102)
    for (pat <- patterns) {
      val steps = EventStreams.parsePattern(pat)
      val regex = java.util.regex.Pattern.compile(
        EventStreams.lazyRegexTwin(steps))
      val hasNegs = steps.exists(_.negs.nonEmpty)
      for (trial <- 1 to 1000) {
        val n = 4 + rnd.nextInt(28)
        val seq = Array.fill(n)(alphabet(rnd.nextInt(alphabet.length)))
        val str = new String(seq)
        val m = regex.matcher(str)
        val expected = Iterator.continually(m)
          .takeWhile(_.find()).map(x => (x.start, x.end - 1)).toList
        val got = scala.collection.mutable.ListBuffer.empty[(Int, Int)]
        if (hasNegs) {
          // negation chains run the leftmost Thompson simulation
          var lv: IndexedSeq[Seq[Long]] =
            IndexedSeq.fill(steps.size - 1)(Seq.empty[Long])
          seq.zipWithIndex.foreach { case (c, i) =>
            val (next, done) = EventStreams.negNfaStep(
              steps, lv, i.toLong, c.toString, Long.MaxValue)
            lv = next
            done.foreach { case (st, en) => got += ((st.toInt, en.toInt)) }
          }
        } else {
          var cur: PatternState = null
          seq.zipWithIndex.foreach { case (c, i) =>
            val (next, done) = EventStreams.nfaStep(steps, cur, i.toLong, c.toString)
            cur = next
            done.foreach { case (st, en, _) => got += ((st.toInt, en.toInt)) }
          }
        }
        assert(got.toList === expected, s"pattern=$pat trial $trial seq=$str")
      }
    }
  }

  test("detectPatternQ alternation: either symbol advances the bound (cross-batch)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Event]
    val name = sink()
    val q = EventStreams.detectPatternQ(in.toDS(),
        EventStreams.parsePattern("view (click|error){2,3} signup? purchase"),
        withinSec = 60L * 60)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // one click + one error across SEPARATE batches reach the {2,3} min
      in.addData(ev(1, 1, "view", 0), ev(2, 1, "click", 5))
      q.processAllAvailable()
      assert(s.table(name).count() === 0)
      in.addData(ev(3, 1, "error", 10), ev(4, 1, "purchase", 15))
      q.processAllAvailable()
      val m1 = s.table(name).as[PatternMatch].collect()
      assert(m1.toList === List(PatternMatch(1L, ts(0), ts(15), 4)),
        m1.mkString(","))
      // two clicks and no error also satisfy the same group bound
      in.addData(ev(5, 2, "view", 20), ev(6, 2, "click", 21),
        ev(7, 2, "click", 22), ev(8, 2, "purchase", 24))
      q.processAllAvailable()
      val m2 = s.table(name).as[PatternMatch].collect().filter(_.user_id == 2L)
      assert(m2.toList === List(PatternMatch(2L, ts(20), ts(24), 4)),
        m2.mkString(","))
    } finally q.stop()
  }

  test("detectPatternQ alternation golden: group reps, optional step, error-only bound") {
    val steps = EventStreams.parsePattern("view (click|error){2,3} signup? purchase")
    val batches = Seq(
      Seq(ev(1, 1, "view", 0), ev(2, 1, "click", 5)),
      Seq(ev(3, 1, "error", 10), ev(4, 1, "signup", 12), ev(5, 1, "purchase", 15)),
      Seq(ev(6, 2, "view", 20), ev(7, 2, "error", 21), ev(8, 2, "error", 22),
          ev(9, 2, "purchase", 26)))
    implicit val enc = org.apache.spark.sql.Encoders.product[PatternMatch]
    val got = runScripted[PatternMatch](
        EventStreams.detectPatternQ(_, steps, 60L * 60), batches)
      .sortBy(m => (m.user_id, m.start.getTime))
    // u1: click + error reach the {2,3} min across batches and the optional
    // signup is consumed (5 events); u2: two errors alone meet the bound
    assert(got === Seq(PatternMatch(1L, ts(0), ts(15), 5),
      PatternMatch(2L, ts(20), ts(26), 4)), got.toString)
  }

  test("detectPatternQ negation: a negated type in the gap kills the chain (cross-batch)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Event]
    val name = sink()
    val q = EventStreams.detectPatternQ(in.toDS(),
        EventStreams.parsePattern("view !error click !signup purchase"),
        withinSec = 60L * 60)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // error lands in the view→click gap IN A LATER BATCH — the chain
      // opened in batch 1 must die, and the later click+purchase alone
      // must not match (no open chain)
      in.addData(ev(1, 1, "view", 0))
      q.processAllAvailable()
      in.addData(ev(2, 1, "error", 5), ev(3, 1, "click", 8),
        ev(4, 1, "purchase", 10))
      q.processAllAvailable()
      assert(s.table(name).count() === 0, "gap-kill failed across batches")
      // clean chain for user 2: non-negated noise (other types) skipped,
      // signup AFTER the purchase is past the guarded gap
      in.addData(ev(5, 2, "view", 20), ev(6, 2, "click", 22),
        ev(7, 2, "purchase", 25), ev(8, 2, "signup", 26))
      q.processAllAvailable()
      val m = s.table(name).as[PatternMatch].collect()
      assert(m.toList === List(PatternMatch(2L, ts(20), ts(25), 3)),
        m.mkString(","))
      // signup in the click→purchase gap kills the run through the FIRST
      // click — but the leftmost start survives by taking the SECOND
      // click (the regex's backtracking, which is why negation chains
      // need the Thompson simulation): match is (30, 35), not (33, 35)
      in.addData(ev(9, 3, "view", 30), ev(10, 3, "click", 31),
        ev(11, 3, "signup", 32), ev(12, 3, "view", 33),
        ev(13, 3, "click", 34), ev(14, 3, "purchase", 35))
      q.processAllAvailable()
      val m3 = s.table(name).as[PatternMatch].collect().filter(_.user_id == 3L)
      assert(m3.toList === List(PatternMatch(3L, ts(30), ts(35), 3)),
        m3.mkString(","))
    } finally q.stop()
  }

  test("detectPatternQ oneOrMore: unbounded reps across batches, lazy completion") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Event]
    val name = sink()
    val q = EventStreams.detectPatternQ(in.toDS(),
        EventStreams.parsePattern("view click{2,} purchase"),
        withinSec = 60L * 60)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // 5 clicks (beyond any bounded max) spread over two batches, then
      // purchase: ONE match, ending at the purchase
      in.addData(ev(1, 1, "view", 0), ev(2, 1, "click", 1), ev(3, 1, "click", 2))
      q.processAllAvailable()
      assert(s.table(name).count() === 0)
      in.addData(ev(4, 1, "click", 3), ev(5, 1, "click", 4),
        ev(6, 1, "click", 5), ev(7, 1, "purchase", 8))
      q.processAllAvailable()
      val m = s.table(name).as[PatternMatch].collect()
      assert(m.toList === List(PatternMatch(1L, ts(0), ts(8), 7)),
        m.mkString(","))
      // below min: one click then purchase must NOT match
      in.addData(ev(8, 2, "view", 20), ev(9, 2, "click", 21),
        ev(10, 2, "purchase", 23))
      q.processAllAvailable()
      assert(s.table(name).as[PatternMatch].collect()
        .count(_.user_id == 2L) === 0)
    } finally q.stop()
  }

  test("detectPatternQ oneOrMore golden: click+ with a trailing optional step") {
    implicit val enc = org.apache.spark.sql.Encoders.product[PatternMatch]
    val got = runScripted[PatternMatch](
      EventStreams.detectPatternQ(_,
        EventStreams.parsePattern("view click+ signup? purchase"), 60L * 60),
      Seq(
        Seq(ev(1, 1, "view", 0), ev(2, 1, "click", 1)),
        Seq(ev(3, 1, "click", 2), ev(4, 1, "signup", 3), ev(5, 1, "purchase", 5)),
        Seq(ev(6, 2, "view", 20), ev(7, 2, "purchase", 23))))
    // u1: two clicks across batches, optional signup consumed (5 events);
    // u2: no click, so click+ is below its min and nothing matches
    assert(got === Seq(PatternMatch(1L, ts(0), ts(5), 5)), got.toString)
  }

  test("detectPattern orders same-second events by event_id (epoch-seconds contract)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Event]
    val name = sink()
    val q = EventStreams.detectPattern(in.toDS(), Seq("view", "purchase"),
        withinSec = 60L * 60)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      // both events land in the SAME epoch second; their sub-second
      // (ms) order OPPOSES event_id order. The ts contract observes only
      // epoch-seconds, so (second, event_id) ordering puts view first →
      // the chain must match. A raw-ms sort would see purchase first.
      val sec = base / 1000L + 100L
      in.addData(
        Event(1L, 1L, "view", new Timestamp(sec * 1000L + 900L), 1.0),
        Event(2L, 1L, "purchase", new Timestamp(sec * 1000L + 100L), 1.0))
      q.processAllAvailable()
      val got = s.table(name).as[PatternMatch].collect()
      assert(got.length == 1, s"same-second view→purchase must match: ${got.toSeq}")
      assert(got.head.start.getTime == sec * 1000L &&
        got.head.end.getTime == sec * 1000L, got.head.toString)
    } finally q.stop()
  }

  test("detectPattern state times out once the watermark passes the horizon") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Event]
    val name = sink()
    val q = EventStreams.detectPattern(in.toDS(), Seq("view", "purchase"),
        withinSec = 10L * 60, delay = "5 minutes")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      in.addData(ev(1, 1, "view", 0))
      q.processAllAvailable()
      // advance the watermark far past 0+10min via another user
      in.addData(ev(2, 2, "view", 100))
      q.processAllAvailable()
      in.addData(ev(3, 2, "view", 101))
      q.processAllAvailable()
      // u1's chain expired by timeout: a purchase now cannot close it
      in.addData(ev(4, 1, "purchase", 102))
      q.processAllAvailable()
      assert(s.table(name).count() == 0, "expired chain must not match")
    } finally q.stop()
  }

  test("dedupWithinWatermark expires key state; keep-forever dedup does not") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[Event]
    val name = sink()
    val q = EventStreams.dedupWithinWatermark(in.toDS().toDF(),
        delay = "5 minutes")
      .select("event_id", "user_id")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      in.addData(ev(1, 1, "a", 0))
      q.processAllAvailable()
      // duplicate within the delay window: dropped
      in.addData(ev(1, 2, "a", 2))
      q.processAllAvailable()
      assert(s.table(name).count() == 1)
      // push the watermark far past event 1's expiry, then REPLAY id 1:
      // state expired, the late re-occurrence is emitted again — the
      // bounded-state contract keep-forever dropDuplicates cannot give
      in.addData(ev(2, 1, "a", 100))
      q.processAllAvailable()
      in.addData(ev(3, 1, "a", 101))
      q.processAllAvailable()
      in.addData(ev(1, 3, "a", 102))
      q.processAllAvailable()
      val ids = s.table(name).as[(Long, Long)].collect().toList.sorted
      assert(ids.count(_._1 == 1L) == 2, s"state must expire: $ids")
    } finally q.stop()
  }

  test("MetricsListener captures per-batch rows, state size, watermark") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val listener = new MetricsListener(keep = 8)
    s.streams.addListener(listener)
    val in = MemoryStream[Event]
    val name = sink()
    val q = EventStreams.tumblingCounts(in.toDS().toDF(), "10 minutes",
        "5 minutes")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      in.addData(ev(1, 1, "a", 0), ev(2, 1, "a", 1))
      q.processAllAvailable()
      in.addData(ev(3, 1, "a", 30))
      q.processAllAvailable()
      val snap = listener.snapshot
      assert(snap.nonEmpty, "no progress captured")
      assert(snap.map(_.numInputRows).sum == 3,
        s"rows: ${snap.map(_.numInputRows)}")
      assert(snap.exists(_.stateRows > 0), s"state never observed: $snap")
      assert(snap.exists(_.watermark.nonEmpty), "watermark never reported")
      // ring bound honored
      assert(snap.length <= 8)
    } finally {
      q.stop()
      s.streams.removeListener(listener)
    }
  }
}
