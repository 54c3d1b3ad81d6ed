package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import graft.core.{Q, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-Streaming surface (SURVEY §2B streaming): the events table is
  * replayed through a file-source stream, transformed, and drained into a
  * memory sink; the returned DataFrame is the sink table. Each op's oracle is
  * its batch twin (same window arithmetic written portably in DuckDB SQL) —
  * equality proves stream/batch semantic parity on identical input.
  *
  * Windows are epoch-aligned (Spark's window() default), so the oracle
  * reconstructs them from floor(epoch_s / slide) arithmetic.
  *
  * Watermark/late-data, checkpoint-recovery, and stateful
  * flatMapGroupsWithState semantics are driven by multi-batch golden tests in
  * StreamingSpec (no batch oracle can observe trigger boundaries).
  */
object StreamingQueries {

  private val ctr = new AtomicInteger(0)

  /** The 4-file range-partitioned staging of `events` is identical for every
    * streaming query — build it once per sfDir per JVM, and delete the temp
    * dirs on JVM exit so Verify/Bench runs don't leak graft_stream_src
    * directories into /tmp. */
  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    stagedDirs.values.forEach { dir =>
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(dir))
    }
  }))

  /** Replay events as a file-source stream, apply `build`, drain to a memory
    * sink, return the sink contents.
    *
    * The file source requires a directory, so the table is staged into a
    * temp dir as 4 range-partitioned files and consumed one file per
    * micro-batch — a genuine multi-batch replay, not a single-batch alias of
    * the batch plan.
    */
  private def stagedEvents(s: SparkSession, d: String): String =
    stagedDirs.computeIfAbsent(d, { _ =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft_stream_src").toString
      // `props` (a fat JSON varchar) is untouched by every stream query —
      // pruning it at staging time is the column pruning the file source
      // cannot do retroactively, and halves both the stage write and every
      // replay scan
      Tables.events(s, d).drop("props").repartitionByRange(4, col("ts"))
        .write.mode("overwrite").parquet(dir)
      // the file source replays in MODIFICATION-TIME order, and parallel
      // part writers finish in arbitrary order — pin mtimes to the part
      // NAME order (range order = ts order) so the replay is a
      // deterministic, in-order stream; order-sensitive state machines
      // (CEP) depend on it, and it makes every replay run-reproducible
      val parts = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
      parts.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(1000000L + i * 1000L); () }
      dir
    })

  /** [[stagedEvents]] plus two trailing "flush" files of sentinel events
    * 49/50 h past the corpus max (negative users, one signup + one purchase
    * per file so EVERY side filter passes one through to its watermark
    * node). Consumed as their own final micro-batches, they advance the
    * event-time watermark past every real row's join window so
    * watermark-gated emissions (stream-stream OUTER join nulls, final
    * window closes) drain before `processAllAvailable` returns — the
    * streaming analogue of end-of-input.
    *
    * The real data is staged as TWO range-partitioned files (not the
    * shared 4-file staging): the flush replay runs at one file per
    * trigger so the two sentinel files land in separate batches, which
    * previously charged the 4 real files four micro-batches of pure
    * trigger/planning floor each (guide §1/§2 — per-batch cost here is
    * state-store open+commit × partitions, not data). Two real batches
    * keep the genuine multi-batch state merge while cutting the replay
    * from 6 to 4 micro-batches; range partitioning by ts means no
    * cross-batch late data, so the drained result is byte-identical
    * (oracle-checked: the batch interval join). */
  private def stagedEventsFlushed(s: SparkSession, d: String): String =
    stagedDirs.computeIfAbsent(d + "#flush", { _ =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft_stream_src").toString
      Tables.events(s, d).drop("props").repartitionByRange(2, col("ts"))
        .write.mode("overwrite").parquet(dir)
      val realParts = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
      realParts.zipWithIndex.foreach { case (f, i) =>
        f.setLastModified(1000000L + i * 1000L); () }
      val ev = Tables.events(s, d).drop("props")
      val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0)
      // one sentinel PER JOIN SIDE: each side's watermark node sits behind
      // that side's type filter, and the global watermark is the MIN over
      // the nodes — a single sentinel would advance one side only. The two
      // rows carry distinct negative users at the same instant, so they
      // can never join each other (or any real row); the query filters the
      // negative-user outputs.
      val one = ev.limit(1)
      def sent(id: Long, typ: String) = one
        .withColumn("event_id", lit(id))
        .withColumn("user_id", lit(id))
        .withColumn("event_type", lit(typ))
        .withColumn("ts", lit(new java.sql.Timestamp(
          maxTs.getTime + 49L * 3600 * 1000)))
      // TWO flush batches, not one: a batch evicts state under the
      // watermark computed at the END of the PREVIOUS batch, so the first
      // sentinel batch advances the watermark and the second (replayed
      // separately — the flush run uses maxFilesPerTrigger=1) performs the
      // eviction that emits the tail outer-null rows. One sentinel batch
      // alone leaves the advanced watermark unapplied (observed: the
      // latest unmatched purchase never emitted, because the global
      // watermark is the MIN across both sides' nodes and the lagging
      // side pinned it below that row until the sentinels arrived).
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rm)
        f.delete(); ()
      }
      Seq(1, 2).foreach { i =>
        val pair = sent(-2L * i, "signup").unionAll(sent(-2L * i - 1, "purchase"))
          .withColumn("ts", lit(new java.sql.Timestamp(
            maxTs.getTime + (48L + i) * 3600 * 1000)))
        val flushDir = java.nio.file.Files
          .createTempDirectory("graft_stream_flush").toString
        pair.coalesce(1).write.mode("overwrite").parquet(flushDir)
        val part = new java.io.File(flushDir).listFiles()
          .filter(_.getName.startsWith("part-")).head
        val dst = java.nio.file.Paths.get(dir, s"part-zz-flush$i.parquet")
        java.nio.file.Files.copy(part.toPath, dst)
        dst.toFile.setLastModified(2000000L + i * 1000L)
        rm(new java.io.File(flushDir))
      }
      dir
    })

  private def runStream(s: SparkSession, d: String, mode: String,
                        flush: Boolean = false)
                       (build: DataFrame => DataFrame): DataFrame = {
    val staged = if (flush) stagedEventsFlushed(s, d) else stagedEvents(s, d)
    val ev = Tables.events(s, d).drop("props")
    val name = s"graft_stream_${ctr.incrementAndGet()}"
    // a stateful query creates (and commits) one state-store instance per
    // shuffle partition PER MICRO-BATCH — a stream-stream join holds FOUR
    // stores per partition, each commit a file write+rename, so the
    // per-batch floor is ~linear in the partition count while a replay
    // batch holds a few MB. Round 16 (OPTIMIZATION_r16.md): at 8 partitions a
    // 671-row ssjoin batch spent ~2.4 s summed in state commits vs ~0.3 s
    // at 2 — wall 4.87 → 3.51 s, results identical. Size the count from
    // the staged BYTES (for append-mode replays, state is watermark-
    // bounded and rides input volume), clamped to the session's
    // parallelism: the sf0.1 replay lands on 2, a 32× corpus grows past
    // 8, and a production stream sizes to its cluster at first start the
    // same way (the count bakes into the checkpoint). 2 is an absolute
    // floor — a single-partition replay would stop exercising the
    // cross-partition state merge the multi-batch contract is for; the
    // byte sum includes the two ~KB sentinel files of a flush staging
    // (noise relative to the 4 MB granularity).
    //
    // COMPLETE-mode state is CORPUS-sized, not batch-sized (round 17 —
    // VERDICT r16 #1): every batch re-merges and re-emits the whole
    // accumulated result, so merge parallelism dominates the commit
    // floor that the byte heuristic optimizes. OPTIMIZATION_r17.md, sf0.1:
    // the session-window replay walls 1.67/1.59/1.40/1.55 s warm at
    // 2/4/8/16 partitions (16 pays ~1.9 s summed commits) — the knee is
    // the old 8, so complete mode floors there and still grows with
    // bytes past it; hash-agg complete queries (tumbling) probe flat
    // 2 vs 8, so the shared floor costs them nothing.
    val stagedBytes = new java.io.File(staged).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.length()).sum
    val confParts = s.conf.get("spark.sql.shuffle.partitions").toInt
    val byteParts = math.max(2L, math.min(confParts.toLong,
      (stagedBytes + (4 << 20) - 1) / (4 << 20))).toInt
    val stateParts =
      if (mode == "complete") math.max(math.min(confParts, 8), byteParts)
      else byteParts
    // the width is set on a child session that owns the stream (and its
    // memory-sink table), never on the caller's; the caller's stream
    // listeners follow so its monitoring sees every progress event
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", stateParts.toString)
    s.streams.listListeners().foreach(ss.streams.addListener)
    // 2 files per trigger over 4 staged files = 2 micro-batches: still a
    // genuine multi-batch replay (state merge across batches exercised) at
    // half the per-batch planning cost
    // flush runs take one file per trigger so the two sentinel files land
    // in SEPARATE micro-batches (watermark advance, then eviction)
    val stream = ss.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", if (flush) "1" else "2").parquet(staged)
    val q = build(stream).writeStream
      .format("memory").queryName(name).outputMode(mode).start()
    try q.processAllAvailable() finally q.stop()
    ss.table(name)
  }

  private def fmtWin(c: String): org.apache.spark.sql.Column =
    date_format(col(c), "yyyy-MM-dd HH:mm:ss")

  val queries: Map[String, Q] = Map(
    // tumbling 10-minute window, count + sum per event_type
    "q_stream_tumbling" -> ((s, d) =>
      runStream(s, d, "complete") { ev =>
        ev.groupBy(window(col("ts"), "10 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
          .select(fmtWin("window.start").as("wstart"), col("event_type"),
                  col("n"), col("sum_value"))
      }.orderBy(col("wstart"), col("event_type"))),

    // streaming distinct users per hour via the mergeable KMV/theta UDAF
    // (Sketches.ThetaSketchAggregator) — per-window state is one ≤k-long
    // array however many events arrive; below k the sketch is EXACT, so
    // the count(DISTINCT) oracle hash-checks the streaming sketch path
    // (fixture windows hold ≤ a few hundred users, k = 1024). Above k the
    // θ-rule estimate below keeps estimating instead of clamping at k —
    // same expression as EventStreams.tumblingDistinctUsers, so the query
    // degrades to ±1/√k at corpus scale rather than silently saturating.
    "q_stream_distinct" -> ((s, d) =>
      runStream(s, d, "complete") { ev =>
        val k = 1024
        ev.groupBy(window(col("ts"), "60 minutes"))
          .agg(graft.functions.Sketches.thetaSketch(
            xxhash64(col("user_id")), k).as("sk"))
          .select(fmtWin("window.start").as("wstart"),
            graft.functions.Sketches.thetaEstimate(col("sk"), k)
              .cast("long").as("n_users"))
      }.orderBy(col("wstart"))),

    // sliding window: 10-minute length, 5-minute slide
    "q_stream_sliding" -> ((s, d) =>
      runStream(s, d, "complete") { ev =>
        ev.groupBy(window(col("ts"), "10 minutes", "5 minutes"))
          .agg(count(lit(1)).as("n"))
          .select(fmtWin("window.start").as("wstart"), col("n"))
      }.orderBy(col("wstart"))),

    // session window, 30-minute gap, per user (streaming twin of
    // q_win_session). Boundary semantics: an event at EXACTLY lastEvent+gap
    // still merges (sessions overlap when nextStart <= curEnd), so a session
    // splits only on gap > 30 min — mirrored in the oracle (found by the
    // sf0.1 differential: one exact-1800s gap exists there)
    "q_stream_session" -> ((s, d) =>
      runStream(s, d, "complete") { ev =>
        ev.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"),
                  fmtWin("session_window.start").as("wstart"),
                  col("n_events"))
      }.orderBy(col("user_id"), col("wstart"))),

    // streaming dedup on a composite key
    "q_stream_dedup" -> ((s, d) =>
      runStream(s, d, "append") { ev =>
        ev.dropDuplicates(Seq("user_id", "event_type"))
          .select(col("user_id"), col("event_type"))
      }.orderBy(col("user_id"), col("event_type"))),

    // stream ⋈ static broadcast (R4's demux shape: stream keyed by a small
    // dimension): per-user-bucket counts joined to a static mapping
    "q_stream_static_join" -> ((s, d) =>
      runStream(s, d, "complete") { ev =>
        val dim = Tables.customer(s, d)
          .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
        ev.join(broadcast(dim), Seq("user_id"))
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"))
      }.orderBy(col("c_mktsegment"))),

    // streaming CDC apply: events replayed as a change feed (key=user,
    // version=event-time µs — unique per user, verified both SFs;
    // event_type 'error' = delete) through the foreachBatch max-version
    // merge; result = the final live snapshot. The oracle is the batch
    // argmax — equality proves the multi-batch generational merge ≡ one
    // global latest-version pass.
    "q_stream_cdc" -> ((s, d) => {
      val staged = stagedEvents(s, d)
      val ev = Tables.events(s, d).drop("props")
      val changes = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "2").parquet(staged)
        .select(col("user_id").as("key"),
          col("event_type"), col("value"),
          unix_micros(col("ts")).as("version"),
          when(col("event_type") === "error", lit("d")).otherwise(lit("u"))
            .as("op"))
      val dir = java.nio.file.Files
        .createTempDirectory("graft_cdc_state").toString
      val q = graft.streaming.CdcApply.cdcApply(
        changes, s"$dir/state", s"$dir/ckpt")
      q.processAllAvailable()
      q.stop()
      graft.streaming.CdcApply.currentSnapshot(s, s"$dir/state").get
        .orderBy(col("key"))
    }),

    // Streaming change feed over the snapshot log (round 12 — the Delta
    // "table as a stream" read side): a file stream tails `_log/*.json`
    // (one immutable atomically-published file per version), foreachBatch
    // computes each newly seen version's exact row diff changes(v-1, v)
    // — v=1 diffs against the empty table, a pure-insert backfill — and
    // lands it in a per-version overwrite partition (idempotent on
    // retry). The result aggregates the whole feed per (version, change
    // type); the oracle spells each version's closed-form diff directly.
    "q_stream_snapcdf" -> ((s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_scdf").toString
      val t = graft.operators.SnapshotLog.open(s, tmp, "doc_id")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), col("lang"))
      t.commitAppend(docs.where(col("doc_id") < 300))
      t.commitAppend(docs.where(col("doc_id") >= 300 && col("doc_id") < 500))
      t.commitDelete(docs.where(col("doc_id") % 7 === 0 && col("doc_id") < 500)
        .select(col("doc_id")))
      val band = docs.where(col("doc_id") >= 250 && col("doc_id") < 350)
      t.commitMerge(
        band.withColumn("n_chars", col("n_chars") * 2).unionByName(
          band.withColumn("doc_id", col("doc_id") + 250)
            .withColumn("n_chars", col("n_chars") + 7)))
      val sink = s"$tmp/cdf_sink"
      graft.streaming.SnapshotCdf.backfill(
        s, tmp, "doc_id", sink, s"$tmp/cdf_ckpt")
      graft.streaming.SnapshotCdf.feed(s, sink)
        .groupBy(col("cdf_version").cast("int").as("v"),
          col("_change_type").as("change"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy(col("v"), col("change"))
    }),

    // CDF on predicate DML (round 16 — Delta's change feed over
    // DELETE/UPDATE): commitDeleteWhere / commitUpdateWhere with
    // cdc = true materialize their exact change rows to a log-referenced
    // sidecar — pre-images tag `delete`, UPDATE post-images `insert`,
    // MOR-masked rows never surface — and the snapcdf stream serves the
    // DML versions verbatim instead of refusing. Change cost is bounded
    // by the CHANGE: rewritten boundary files re-project, a DELETE's
    // metadata-dropped files re-read band-bounded. Oracle spells each
    // version's closed form per change type.
    "q_stream_snapcdfdml" -> ((s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_scdfd")
        .toString
      val t = graft.operators.SnapshotLog.open(s, tmp, "doc_id")
      val docs = Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      t.commitAppend(docs.where(col("doc_id") < 400)
        .repartitionByRange(8, col("doc_id")))                         // v1
      t.commitDeleteWhere("doc_id", 50, 99, cdc = true)                // v2
      t.commitUpdateWhere("doc_id", 200, 249,
        Map("n_chars" -> "n_chars + 100000"), cdc = true)              // v3
      require(t.readEntry(2).cdc.isDefined && t.readEntry(3).cdc.isDefined,
        "cdc DML must record its change sidecar")
      val sink = s"$tmp/feed"
      val q = s.readStream.format("snapcdf").load(tmp)
        .writeStream.option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!b.isEmpty) b.write.mode("append").parquet(sink)
          ()
        }.start()
      q.awaitTermination()
      val res = s.read.parquet(sink)
        .groupBy(col("cdf_version").cast("int").as("v"),
          col("_change_type").as("change"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          sum(col("doc_id")).cast("long").as("sum_ids"))
        .orderBy(col("v"), col("change"))
      val rows = res.collect()
      require(rows.length == 4 && rows.forall(_.getAs[Long]("n") > 0),
        s"every change leg must be non-vacuous at this SF: ${rows.toSeq}")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
    }),

    // Custom MicroBatchStream change feed (round 13 — the DSv2 streaming
    // twin of q_stream_snapcdf, for when RATE CONTROL matters): offsets
    // are VERSIONS, option("maxVersionsPerTrigger", 1) admits one commit
    // per micro-batch via SupportsAdmissionControl (asserted in-flight:
    // every batch carries exactly one cdf_version), and a second stream
    // starts at option("startVersion") past a delete commit — the
    // admitted append's entry carries the delete sidecar, applied
    // IN-READER, so a re-appended deleted key never surfaces as an
    // insert. The oracle spells each version's closed-form insert set.
    "q_stream_snapcdf2" -> ((s, d) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_scdf2").toString
      val t = graft.operators.SnapshotLog.open(s, tmp, "doc_id")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"), col("lang"))
      t.commitAppend(docs.where(col("doc_id") < 300))                    // v1
      t.commitAppend(docs.where(col("doc_id") >= 300 && col("doc_id") < 500)) // v2
      val sink = s"$tmp/feed"
      val perBatchVersions =
        new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val q1 = s.readStream.format("snapcdf")
        .option("maxVersionsPerTrigger", 1).load(tmp)
        .writeStream.option("checkpointLocation", s"$tmp/ckpt1")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val vs = b.select(col("cdf_version")).distinct()
            .collect().map(_.getInt(0))
          if (vs.nonEmpty) {
            require(vs.length == 1,
              s"maxVersionsPerTrigger=1 admitted ${vs.toSeq} in one batch")
            perBatchVersions.add(vs.head)
            b.write.mode("append").parquet(sink)
          }
        }
        .start()
      q1.awaitTermination()
      require(perBatchVersions.size == 2,
        s"expected one micro-batch per version, got $perBatchVersions")
      // a delete commit, then an append that RE-WRITES sidecar-deleted
      // keys: the stream resumes past the delete (startVersion) and the
      // reader must drop the still-deleted rows
      t.commitDelete(docs.where(col("doc_id") % 7 === 0 && col("doc_id") < 600)
        .select(col("doc_id")))                                          // v3
      // v4 RE-appends a band that includes sidecar-deleted keys: those
      // rows are invisible at v4 and must not surface as inserts
      t.commitAppend(docs.where(col("doc_id") >= 200 && col("doc_id") < 300)) // v4
      val q2 = s.readStream.format("snapcdf")
        .option("startVersion", 3).load(tmp)
        .writeStream.option("checkpointLocation", s"$tmp/ckpt2")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!b.isEmpty) b.write.mode("append").parquet(sink)
        }
        .start()
      q2.awaitTermination()
      s.read.parquet(sink)
        .groupBy(col("cdf_version").as("v"), col("_change_type").as("change"))
        .agg(count(lit(1)).as("n"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .orderBy(col("v"), col("change"))
    }),

    // Exactly-once streaming ingest INTO the snapshot log (round 12 —
    // the Delta `txn`-action write side, closing the loop with
    // q_stream_snapcdf's read side): the staged 4-file events stream
    // drains one file per micro-batch through SnapshotCdf.ingest, each
    // batch committing its data dir AND its (appId, batchId) watermark
    // in ONE atomic log publish. Idempotence is part of the hash: after
    // the drain the query replays batch 0 by hand (a foreachBatch retry)
    // and re-runs the whole stream on the same checkpoint (a restart);
    // if either committed, every count below doubles and the oracle —
    // the plain batch aggregate over events — mismatches.
    // engine-native streaming SINK (round 14): the same exactly-once
    // contract as q_stream_snapsink but through the connector —
    // `writeStream.format("snaplog")` lands each micro-batch via the
    // native DSv2 StreamingWrite (executors write parquet, the driver
    // publishes the entry with the epoch's txn watermark in ONE atomic
    // commit). The stream is re-run over the SAME checkpoint after
    // completion: a correct sink adds nothing (replayed epochs clean up
    // their staged dirs and skip), asserted via the row count. The
    // result aggregates through the DSv2 READ path, so the row is a
    // full connector write→read round trip against the plain events
    // oracle.
    "q_stream_snapsink2" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("value"))
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_snapsink2").toString
      val staged = s"$tmp/staged"
      ev.repartition(4).write.parquet(staged)
      val root = s"$tmp/table"
      def run(): Unit = {
        val q = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(staged)
          .writeStream.format("snaplog")
          .option("key", "user_id")
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(Trigger.AvailableNow()).start(root)
        q.awaitTermination()
      }
      run()
      val t = graft.operators.SnapshotLog.open(s, root, "user_id")
      val n0 = t.read().count()
      run() // replay over the same checkpoint: exactly-once, no dupes
      require(t.read().count() == n0,
        s"replay duplicated rows: $n0 -> ${t.read().count()}")
      require((1 to t.currentVersion()).forall(v =>
          t.opOf(v) == "txn-append"),
        "every streaming commit must ride the txn action")
      s.read.format("snaplog").load(root)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }),

    // Streaming read of the snaplog TABLE itself (round 15 —
    // `readStream.format("snaplog")`, Delta's "table as an append
    // stream", its most common streaming read): offsets are versions,
    // each admitted append emits its new files as PLAIN rows,
    // maxVersionsPerTrigger rate-controls (asserted in-flight: one
    // version's rows per micro-batch), and a change commit
    // (DELETE WHERE) is SKIPPED whole under skipChangeCommits — the
    // COW rewrite's replacement file never re-emits, so the drain is
    // exactly the original appends. A second stream starts past the
    // change commit via startVersion. Oracle is the closed form of
    // both drains.
    "q_stream_snapread" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_snapread").toString
      val t = graft.operators.SnapshotLog.open(s, tmp, "doc_id")
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"))
      t.commitAppend(docs.where(col("doc_id") < 200))              // v1
      t.commitAppend(docs.where(col("doc_id") >= 200 &&
        col("doc_id") < 350))                                      // v2
      t.commitDeleteWhere("doc_id", 100, 149)                      // v3
      t.commitAppend(docs.where(col("doc_id") >= 350))             // v4
      import scala.jdk.CollectionConverters._
      val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      def drain(sink: String, ckpt: String,
          opts: Map[String, String]): Unit = {
        val rd = opts.foldLeft(s.readStream.format("snaplog")) {
          case (r, (k, v)) => r.option(k, v)
        }
        val q = rd.load(tmp)
          .writeStream.option("checkpointLocation", s"$tmp/$ckpt")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            val n = b.count()
            if (n > 0) { batches.add(n); b.write.mode("append")
              .parquet(s"$tmp/$sink") }
            ()
          }.start()
        q.awaitTermination()
      }
      drain("full", "c1", Map("skipChangeCommits" -> "true",
        "maxVersionsPerTrigger" -> "1"))
      // one version's rows per micro-batch; the change commit skipped
      // whole (its COW rewrite never re-emits)
      require(batches.asScala.size == 3,
        s"expected 3 non-empty one-version batches, got $batches")
      drain("tail", "c2", Map("startVersion" -> "3"))
      def agg(df: org.apache.spark.sql.DataFrame, side: String) =
        df.agg(count(lit(1)).as("n"),
            sum(col("n_chars")).cast("long").as("sum_chars"),
            sum(col("doc_id")).cast("long").as("sum_ids"))
          .select(lit(side).as("side"), col("n"), col("sum_chars"),
            col("sum_ids"))
      agg(s.read.parquet(s"$tmp/full"), "full")
        .unionByName(agg(s.read.parquet(s"$tmp/tail"), "tail"))
        .orderBy(col("side"))
    }),

    "q_stream_snapsink" -> ((s, d) => {
      val staged = stagedEvents(s, d)
      val ev = Tables.events(s, d).drop("props")
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_snapsink").toString
      val root = s"$tmp/table"
      def src = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
      graft.streaming.SnapshotCdf.ingest(
        src, root, "user_id", "events-writer", s"$tmp/ckpt")
      val t = graft.operators.SnapshotLog.open(s, root, "user_id")
      val replayed = t.commitAppendTxn(ev.limit(7), "events-writer", 0L)
      require(replayed.isEmpty,
        "txn replay guard failed: an already-applied batch committed again")
      graft.streaming.SnapshotCdf.ingest(
        src, root, "user_id", "events-writer", s"$tmp/ckpt")
      t.read()
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }),

    // streaming CEP: view→click→purchase chains (skip-till-next-match,
    // one chain per user) detected incrementally across micro-batches;
    // horizon 60 d ≫ corpus span so the oracle is the batch lazy-regex
    // parse — leftmost-earliest chain parity across paradigms
    "q_stream_cep" -> ((s, d) =>
      runStream(s, d, "append") { ev =>
        import s.implicits._
        graft.streaming.EventStreams.detectPattern(
            ev.as[graft.streaming.Event],
            Seq("view", "click", "purchase"), withinSec = 60L * 86400)
          .toDF()
      }.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_matches"))
        .orderBy(col("user_id"))),

    // quantified streaming CEP (round 11): bounded repetition + optional
    // steps — view click{2,3} signup? purchase — under the same lazy
    // skip-till-next-match contract, so the oracle is ONE lazy regexp
    // over the per-user symbol string on both engines
    "q_stream_cep2" -> ((s, d) =>
      runStream(s, d, "append") { ev =>
        import s.implicits._
        graft.streaming.EventStreams.detectPatternQ(
            ev.as[graft.streaming.Event],
            graft.streaming.EventStreams.parsePattern(
              "view click{2,3} signup? purchase"),
            withinSec = 60L * 86400)
          .toDF()
      }.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_matches"))
        .orderBy(col("user_id"))),

    // quantified CEP with an ALTERNATION group: either click or error
    // counts toward the same {2,3} bound (Flink CEP's
    // `where(a or b)`). Symbol sets are pairwise disjoint, so the group
    // is one super-symbol and the DuckDB twin stays ONE lazy regexp with
    // a `(?:c|e)` atom (EventStreams.lazyRegexTwin builds it; the oracle
    // below spells the same string)
    "q_stream_cep3" -> ((s, d) =>
      runStream(s, d, "append") { ev =>
        import s.implicits._
        graft.streaming.EventStreams.detectPatternQ(
            ev.as[graft.streaming.Event],
            graft.streaming.EventStreams.parsePattern(
              "view (click|error){2,3} signup? purchase"),
            withinSec = 60L * 86400)
          .toDF()
      }.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_matches"))
        .orderBy(col("user_id"))),

    // CEP with notFollowedBy (round 12 — Flink CEP absence): an error in
    // the view→click gap or a signup in the click→purchase gap KILLS the
    // chain. The gap atoms of the lazy-regex twin become negated classes
    // ([^e]*?, [^s]*?), so the DuckDB oracle is still ONE regexp — the
    // same derivation the batch eventPattern operator uses for absence
    "q_stream_cep4" -> ((s, d) =>
      runStream(s, d, "append") { ev =>
        import s.implicits._
        graft.streaming.EventStreams.detectPatternQ(
            ev.as[graft.streaming.Event],
            graft.streaming.EventStreams.parsePattern(
              "view !error click !signup purchase"),
            withinSec = 60L * 86400)
          .toDF()
      }.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_matches"))
        .orderBy(col("user_id"))),

    // CEP with UNBOUNDED looping (round 12 — Flink CEP oneOrMore):
    // click+ consumes any number of clicks; under the lazy contract the
    // match still completes at the first purchase once min=1 is met, so
    // the oracle regex quantifier is simply {1,}? — extents depend only
    // on MIN counts, bounded or not
    "q_stream_cep5" -> ((s, d) =>
      runStream(s, d, "append") { ev =>
        import s.implicits._
        graft.streaming.EventStreams.detectPatternQ(
            ev.as[graft.streaming.Event],
            graft.streaming.EventStreams.parsePattern(
              "view click+ signup? purchase"),
            withinSec = 60L * 86400)
          .toDF()
      }.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_matches"))
        .orderBy(col("user_id"))),

    // STRICT-contiguity CEP (round 13 — Flink CEP next/notNext): the
    // event right after the view must not be an error (notNext one-event
    // guard), the click is found under relaxed contiguity, and the event
    // right after the click must be the purchase (next) or the run dies
    // — a failed strict step may itself reopen a run, exactly where the
    // committed regex twin's next leftmost attempt begins. The oracle is
    // ONE RE2-safe regexp (EventStreams.strictRegexTwin derives it:
    // committed negated-class gaps instead of lazy gaps, no lookahead)
    "q_stream_cep6" -> ((s, d) =>
      runStream(s, d, "append") { ev =>
        import s.implicits._
        graft.streaming.EventStreams.detectPatternQ(
            ev.as[graft.streaming.Event],
            graft.streaming.EventStreams.parsePattern(
              "view !>error click >purchase"),
            withinSec = 60L * 86400)
          .toDF()
      }.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_matches"))
        .orderBy(col("user_id"))),

    // stream-STREAM interval join (Flink interval-join analogue): each
    // purchase pairs with the same user's signups in [ts_p − 24 h, ts_p].
    // Each FILTERED side carries its own watermark node (intervalJoin
    // applies withWatermark after the type filters) and the global
    // watermark gating emission is the MIN over both — which is exactly
    // why the flush staging feeds one sentinel PER SIDE. The two-sided
    // range condition lets Spark derive state-eviction bounds: a signup
    // leaves state once the watermark passes its 24 h horizon, a purchase
    // once its own window closes — state is watermark-bounded on BOTH
    // sides, never corpus-sized. The staged replay is range-partitioned
    // by ts (no cross-batch late data), so inner-join emissions are
    // exactly the batch interval join — the DuckDB oracle.
    "q_stream_ssjoin" -> ((s, d) =>
      ssJoin(s, d, "inner").orderBy(col("id_p"), col("id_s"))),

    // LEFT OUTER stream-stream join: unmatched purchases must emit a
    // NULL-signup row, which Spark only releases once the WATERMARK
    // proves no future signup can still match (ts_p's window closed).
    // Tail rows' windows never close on a finite replay, so this variant
    // replays the flush-sentinel staging: one far-future non-matching
    // event advances the watermark past every real window — the
    // streaming end-of-input. Result ≡ the batch LEFT interval join.
    "q_stream_ssjoin_left" -> ((s, d) =>
      ssJoin(s, d, "leftOuter", flush = true)
        .orderBy(col("id_p"), col("id_s"))),

    // FULL OUTER stream-stream join (round 13): unmatched rows on EITHER
    // side emit NULL-partnered once the watermark proves no partner can
    // still arrive — the left variant's contract on both sides at once,
    // which is exactly where state-expiry symmetry shows: a signup's
    // state outlives its 24 h horizon, a purchase's its own window, and
    // each emits its outer row at ITS OWN watermark crossing. Same
    // flush-sentinel staging (one far-future event per side) as the left
    // variant; sentinel-derived rows are stripped from the SINK table
    // (an in-plan filter would push through the join and starve the
    // watermark — see ssJoin). Result ≡ the batch FULL interval join.
    "q_stream_ssjoin_full" -> ((s, d) =>
      runStream(s, d, "append", flush = true) { ev =>
        val p = ev.where(col("event_type") === "purchase")
        val sg = ev.where(col("event_type") === "signup")
        graft.streaming.EventStreams
          .intervalJoin(p, sg, "24 hours", "1 minute", "fullOuter")
          .select(coalesce(col("l_id"), lit(-1L)).as("id_p"),
                  coalesce(col("r_id"), lit(-1L)).as("id_s"),
                  coalesce(col("l_user"), col("r_user")).as("u"))
      }.where(col("u") >= 0).drop("u")
        .orderBy(col("id_p"), col("id_s")))
  )

  /** Shared purchase⋈signup interval self-join through the
    * [[graft.streaming.EventStreams.intervalJoin]] operator (the same code
    * path the MemoryStream goldens pin): join on user + a closed 24 h
    * range, 1 min watermark delay per side. Sentinel (negative-user) rows
    * from the flush staging are dropped post-join; NULL right ids surface
    * as −1 (portable null-ordering for the oracle). */
  private def ssJoin(s: SparkSession, d: String, joinType: String,
                     flush: Boolean = false): DataFrame =
    runStream(s, d, "append", flush) { ev =>
      val p = ev.where(col("event_type") === "purchase")
      val sg = ev.where(col("event_type") === "signup")
      // NO sentinel filter inside the streaming plan: a `l_user >= 0`
      // here gets pushed through the join into BOTH parquet scans, whose
      // row-group stats then prune the all-negative sentinel files — the
      // watermark nodes never see the flush rows and the tail outer-nulls
      // never emit (observed). Sentinel-derived output rows are stripped
      // from the SINK table below, after the stream has drained.
      graft.streaming.EventStreams
        .intervalJoin(p, sg, "24 hours", "1 minute", joinType)
        .select(col("l_id").as("id_p"),
                coalesce(col("r_id"), lit(-1L)).as("id_s"))
    }.where(col("id_p") >= 0)

  // epoch seconds with floor semantics (ts > 0), as plain TIMESTAMP math
  private val ep = "datediff('second', TIMESTAMP '1970-01-01 00:00:00', CAST(ts AS TIMESTAMP))"
  private def bucket(off: Int): String =
    s"TIMESTAMP '1970-01-01 00:00:00' + ((($ep - $off) // 600) * 600 + $off) * INTERVAL '1 second'"

  val oracle: Map[String, String] = Map(
    "q_stream_tumbling" ->
      s"""SELECT strftime(${bucket(0)}, '%Y-%m-%d %H:%M:%S') AS wstart,
                 event_type, CAST(COUNT(*) AS BIGINT) AS n,
                 ROUND(SUM(value), 2) AS sum_value
          FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""",
    "q_stream_distinct" ->
      s"""SELECT strftime(TIMESTAMP '1970-01-01 00:00:00' +
                   (($ep // 3600) * 3600) * INTERVAL '1 second',
                   '%Y-%m-%d %H:%M:%S') AS wstart,
                 CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
          FROM events GROUP BY 1 ORDER BY wstart""",
    // each event belongs to exactly two slide-300 grids (offsets 0 and 300)
    "q_stream_sliding" ->
      s"""SELECT strftime(TIMESTAMP '1970-01-01 00:00:00' +
                   ((($ep - off) // 600) * 600 + off) * INTERVAL '1 second',
                   '%Y-%m-%d %H:%M:%S') AS wstart,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM events CROSS JOIN (VALUES (0), (300)) offs(off)
          GROUP BY 1 ORDER BY wstart""",
    "q_stream_session" ->
      s"""WITH g AS (
            SELECT user_id, event_id, ts,
                   $ep - LAG($ep, 1) OVER w AS gap
            FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END AS new_s
            FROM g),
          sess AS (
            SELECT user_id, ts,
                   SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM flagged)
          SELECT user_id,
                 strftime(MIN(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS wstart,
                 CAST(COUNT(*) AS BIGINT) AS n_events
          FROM sess GROUP BY user_id, sid ORDER BY user_id, wstart""",
    "q_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
         ORDER BY user_id, event_type""",
    "q_stream_static_join" ->
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n
         FROM events JOIN customer ON user_id = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    "q_stream_cdc" ->
      """WITH ch AS (
           SELECT user_id AS key, event_type, value,
                  datediff('microsecond', TIMESTAMP '1970-01-01 00:00:00',
                           CAST(ts AS TIMESTAMP)) AS version,
                  CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
           FROM events),
         w AS (
           SELECT *, row_number() OVER (PARTITION BY key
                                        ORDER BY version DESC) AS rn
           FROM ch)
         SELECT key, event_type, value, version
         FROM w WHERE rn = 1 AND op <> 'd' ORDER BY key""",
    "q_stream_snapcdf" ->
      """SELECT v, change, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(nc) AS BIGINT) AS sum_chars
         FROM (
           SELECT 1 AS v, 'insert' AS change, n_chars AS nc FROM documents
            WHERE doc_id < 300
           UNION ALL
           SELECT 2, 'insert', n_chars FROM documents
            WHERE doc_id >= 300 AND doc_id < 500
           UNION ALL
           SELECT 3, 'delete', n_chars FROM documents
            WHERE doc_id % 7 = 0 AND doc_id < 500
           UNION ALL
           SELECT 4, 'insert', n_chars * 2 FROM documents
            WHERE doc_id >= 250 AND doc_id < 350
           UNION ALL
           SELECT 4, 'insert', n_chars + 7 FROM documents
            WHERE doc_id >= 250 AND doc_id < 350
           UNION ALL
           SELECT 4, 'delete', n_chars FROM documents
            WHERE doc_id >= 250 AND doc_id < 350 AND doc_id % 7 <> 0)
         GROUP BY v, change ORDER BY v, change""",
    "q_stream_snapcdfdml" ->
      """SELECT v, change, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(nc) AS BIGINT) AS sum_chars,
                CAST(SUM(id) AS BIGINT) AS sum_ids
         FROM (
           SELECT 1 AS v, 'insert' AS change, n_chars AS nc, doc_id AS id
           FROM documents WHERE doc_id < 400
           UNION ALL
           SELECT 2, 'delete', n_chars, doc_id FROM documents
            WHERE doc_id BETWEEN 50 AND 99
           UNION ALL
           SELECT 3, 'delete', n_chars, doc_id FROM documents
            WHERE doc_id BETWEEN 200 AND 249
           UNION ALL
           SELECT 3, 'insert', n_chars + 100000, doc_id FROM documents
            WHERE doc_id BETWEEN 200 AND 249)
         GROUP BY v, change ORDER BY v, change""",
    "q_stream_snapcdf2" ->
      """SELECT v, change, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(nc) AS BIGINT) AS sum_chars
         FROM (
           SELECT 1 AS v, 'insert' AS change, n_chars AS nc FROM documents
            WHERE doc_id < 300
           UNION ALL
           SELECT 2, 'insert', n_chars FROM documents
            WHERE doc_id >= 300 AND doc_id < 500
           UNION ALL
           SELECT 4, 'insert', n_chars FROM documents
            WHERE doc_id >= 200 AND doc_id < 300 AND doc_id % 7 <> 0)
         GROUP BY v, change ORDER BY v, change""",
    "q_stream_snapsink" ->
      """SELECT event_type, COUNT(*) AS n,
                ROUND(SUM(value), 2) AS sum_value,
                COUNT(DISTINCT user_id) AS n_users
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q_stream_snapread" ->
      """SELECT 'full' AS side, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                CAST(SUM(doc_id) AS BIGINT) AS sum_ids
         FROM documents
         UNION ALL
         SELECT 'tail', CAST(COUNT(*) AS BIGINT),
                CAST(SUM(n_chars) AS BIGINT), CAST(SUM(doc_id) AS BIGINT)
         FROM documents WHERE doc_id >= 350
         ORDER BY side""",
    "q_stream_snapsink2" ->
      """SELECT event_type, COUNT(*) AS n,
                ROUND(SUM(value), 2) AS sum_value,
                COUNT(DISTINCT user_id) AS n_users
         FROM events GROUP BY event_type ORDER BY event_type""",
    // lazy (non-greedy) quantifiers parse the same leftmost-earliest
    // chain the streaming NFA walks: open at the first view, advance on
    // the first click after it, close on the first purchase after that,
    // resume past the match (AFTER MATCH SKIP PAST LAST ROW)
    "q_stream_cep" ->
      s"""WITH e AS (
            SELECT user_id, $ep AS t, event_id,
                   CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                        WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                        WHEN 'error' THEN 'e' ELSE '_' END AS sym
            FROM events),
          s AS (
            SELECT user_id, string_agg(sym, '' ORDER BY t, event_id) AS s
            FROM e GROUP BY 1),
          m AS (
            SELECT user_id,
                   CAST(len(regexp_extract_all(s, 'v.*?c.*?p')) AS BIGINT)
                     AS n_matches
            FROM s)
          SELECT user_id, n_matches FROM m
          WHERE n_matches > 0 ORDER BY user_id""",
    // quantified twin: lazy bounded repetition {2,3}? and lazy optional
    // (?:.*?s)?? mirror the NFA's min-count extents exactly (extra reps
    // and optional consumption never move the completing event)
    "q_stream_cep2" ->
      s"""WITH e AS (
            SELECT user_id, $ep AS t, event_id,
                   CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                        WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                        WHEN 'error' THEN 'e' ELSE '_' END AS sym
            FROM events),
          s AS (
            SELECT user_id, string_agg(sym, '' ORDER BY t, event_id) AS s
            FROM e GROUP BY 1),
          m AS (
            SELECT user_id,
                   CAST(len(regexp_extract_all(s,
                     'v(?:.*?c){2,3}?(?:.*?s)??.*?p')) AS BIGINT)
                     AS n_matches
            FROM s)
          SELECT user_id, n_matches FROM m
          WHERE n_matches > 0 ORDER BY user_id""",
    "q_stream_cep3" ->
      s"""WITH e AS (
            SELECT user_id, $ep AS t, event_id,
                   CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                        WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                        WHEN 'error' THEN 'e' ELSE '_' END AS sym
            FROM events),
          s AS (
            SELECT user_id, string_agg(sym, '' ORDER BY t, event_id) AS s
            FROM e GROUP BY 1),
          m AS (
            SELECT user_id,
                   CAST(len(regexp_extract_all(s,
                     'v(?:.*?(?:c|e)){2,3}?(?:.*?s)??.*?p')) AS BIGINT)
                     AS n_matches
            FROM s)
          SELECT user_id, n_matches FROM m
          WHERE n_matches > 0 ORDER BY user_id""",
    // negated gaps as lazy character classes — derived by lazyRegexTwin
    // for "view !error click !signup purchase"
    "q_stream_cep4" ->
      s"""WITH e AS (
            SELECT user_id, $ep AS t, event_id,
                   CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                        WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                        WHEN 'error' THEN 'e' ELSE '_' END AS sym
            FROM events),
          s AS (
            SELECT user_id, string_agg(sym, '' ORDER BY t, event_id) AS s
            FROM e GROUP BY 1),
          m AS (
            SELECT user_id,
                   CAST(len(regexp_extract_all(s,
                     'v[^e]*?c[^s]*?p')) AS BIGINT)
                     AS n_matches
            FROM s)
          SELECT user_id, n_matches FROM m
          WHERE n_matches > 0 ORDER BY user_id""",
    // unbounded oneOrMore as a lazy {1,}? — derived by lazyRegexTwin for
    // "view click+ signup? purchase"
    "q_stream_cep5" ->
      s"""WITH e AS (
            SELECT user_id, $ep AS t, event_id,
                   CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                        WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                        WHEN 'error' THEN 'e' ELSE '_' END AS sym
            FROM events),
          s AS (
            SELECT user_id, string_agg(sym, '' ORDER BY t, event_id) AS s
            FROM e GROUP BY 1),
          m AS (
            SELECT user_id,
                   CAST(len(regexp_extract_all(s,
                     'v(?:.*?c){1,}?(?:.*?s)??.*?p')) AS BIGINT)
                     AS n_matches
            FROM s)
          SELECT user_id, n_matches FROM m
          WHERE n_matches > 0 ORDER BY user_id""",
    // strict contiguity as a committed regex — derived by strictRegexTwin
    // for "view !>error click >purchase" (pinned in StreamingSpec)
    "q_stream_cep6" ->
      s"""WITH e AS (
            SELECT user_id, $ep AS t, event_id,
                   CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                        WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                        WHEN 'error' THEN 'e' ELSE '_' END AS sym
            FROM events),
          s AS (
            SELECT user_id, string_agg(sym, '' ORDER BY t, event_id) AS s
            FROM e GROUP BY 1),
          m AS (
            SELECT user_id,
                   CAST(len(regexp_extract_all(s,
                     'v(?:[^ec][^c]*)?cp')) AS BIGINT)
                     AS n_matches
            FROM s)
          SELECT user_id, n_matches FROM m
          WHERE n_matches > 0 ORDER BY user_id""",
    "q_stream_ssjoin" ->
      """SELECT p.event_id AS id_p, s.event_id AS id_s
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         JOIN (SELECT * FROM events WHERE event_type = 'signup') s
           ON p.user_id = s.user_id AND s.ts <= p.ts
              AND p.ts - s.ts <= INTERVAL 24 HOURS
         ORDER BY id_p, id_s""",
    "q_stream_ssjoin_left" ->
      """SELECT p.event_id AS id_p, COALESCE(s.event_id, -1) AS id_s
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
           ON p.user_id = s.user_id AND s.ts <= p.ts
              AND p.ts - s.ts <= INTERVAL 24 HOURS
         ORDER BY id_p, id_s""",
    "q_stream_ssjoin_full" ->
      """SELECT COALESCE(p.event_id, -1) AS id_p,
                COALESCE(s.event_id, -1) AS id_s
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         FULL JOIN (SELECT * FROM events WHERE event_type = 'signup') s
           ON p.user_id = s.user_id AND s.ts <= p.ts
              AND p.ts - s.ts <= INTERVAL 24 HOURS
         ORDER BY id_p, id_s"""
  )
}
