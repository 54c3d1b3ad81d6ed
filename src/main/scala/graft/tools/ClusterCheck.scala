package graft.tools

import java.security.MessageDigest

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Multi-JVM validation gate: runs a representative catalog slice under
  * `local-cluster[2,4,3072]` — Spark's standalone-cluster-in-miniature,
  * where executors are SEPARATE JVMs that really serialize tasks,
  * broadcast kernels, and UDAF buffers over the wire — and asserts every
  * result hash-identical to the same slice under `local[8]`.
  *
  * Why this exists: `local[n]` shares one JVM, so three whole classes of
  * cluster bugs can't fire there — closure/kernel serialization (the PQ
  * codebook broadcasts, the custom `Expression` kernels), UDAF buffer
  * encode/decode between partial and final (hll/theta/tdigest), and
  * driver-held state accidentally referenced from tasks. This gate is the
  * cheapest real evidence those survive a 1000-executor deployment.
  *
  * The slice covers every custom-kernel path (native top-k + session-id
  * plans, sketch UDAFs, PQ/ADC + JW/geohash/ngram codegen expressions)
  * plus one query per catalog family, including a stateful streaming pair.
  *
  * Mechanics: executors are launched by the in-process Worker as child
  * JVMs; they inherit this JVM's classpath via
  * `spark.executor.extraClassPath = java.class.path` and the JDK-17
  * `--add-opens` set via `spark.executor.extraJavaOptions` (the same list
  * `build.sbt` forks with — matching
  * `org.apache.spark.launcher.JavaModuleOptions`).
  *
  * Canonical hash: `df.toJSON` (binary → base64, doubles → shortest
  * round-trip — JVM-stable), rows sorted, sha-256 over the sorted lines.
  *
  * Usage: tools/run.sh graft.tools.ClusterCheck [sfDir]
  * Prints one JSON line: {"mode":…,"n":…,"match":…,"mismatch":[…]}.
  */
object ClusterCheck {

  /** Every custom-kernel query + one per family (SURVEY §2 families). */
  val slice: Seq[String] = Seq(
    // custom plans (SparkStrategy/SparkPlan, AggregateWindowFunction)
    "q_win_topk_native", "q_win_session_native",
    // sketch UDAFs (partial/final buffer serialization across JVMs)
    "q_agg_hll_custom", "q_agg_hll_rollup", "q_agg_tdigest",
    "q_agg_theta", "q_agg_theta_rollup",
    // codegen Expression kernels + broadcast codebooks
    "q_llm_ann_pq", "q_llm_ann_ivfpq", "q_fn_ngram_gen",
    "q_join_jw", "q_geo_geohash",
    // one per family
    "q_scan_parquet", "q_scan_bucketed_join", "q_proj_expr", "q_filt_null",
    "q_distinct", "q_join_shuffle", "q_agg_q1", "q_win_rank",
    "q_evt_funnel", "q_fn_regex", "q_geo_gridjoin", "q_graph_pagerank",
    "q_llm_minhash_pairs", "q_mb_rules", "q_profile_histogram",
    "q_set_except", "q_sort_topk", "q_sql_h01", "q_web_linkage",
    "q_genomics_e2e",
    // stateful streaming (micro-batch state store on executor JVMs)
    "q_stream_tumbling", "q_stream_distinct")

  private val addOpens = Seq(
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    .map(p => s"--add-opens java.base/$p=ALL-UNNAMED").mkString(" ")

  def resultHash(spark: SparkSession, name: String, sfDir: String): (Long, String) = {
    val rows = SparkEntry.queries(name)(spark, sfDir).toJSON.collect().sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString.take(16))
  }

  def runSlice(master: String, extra: Map[String, String],
               sfDir: String,
               names: Seq[String] = slice): Map[String, (Long, String)] = {
    val spark = graft.core.Sessions.build(graft.core.Sessions.Conf(
      master = master, appName = s"graft-clustercheck",
      numTasks = 8, extra = extra))
    try names.map { n =>
      n -> (try resultHash(spark, n, sfDir)
            catch { case e: Throwable =>
              System.err.println(s"[clustercheck] $n ERROR: ${e.getMessage}")
              (-1L, s"ERROR:${e.getClass.getSimpleName}") })
    }.toMap
    finally spark.stop()
  }

  // ------------------------------------------------------------ chaos ----

  /** Executor-loss slice: one query per at-risk execution shape —
    * shuffle-heavy join (map output loss → FetchFailed → stage retry),
    * sketch UDAF (partial buffers recomputed), iterative
    * checkpoint loops (GraphOps rank loop, Dedup's CC loop — the shapes
    * the reliable-checkpoint knob exists for), and stateful streaming
    * (state store reload from the checkpoint location). */
  val chaosSlice: Seq[String] = Seq(
    "q_join_shuffle", "q_sql_h08",
    "q_agg_tdigest", "q_agg_theta_rollup",
    "q_graph_pagerank", "q_graph_wcc", "q_llm_dedup_clusters",
    "q_win_topk_native", "q_genomics_e2e",
    "q_stream_tumbling", "q_stream_cep",
    // round 11: quantified-NFA streaming state + the multimodal decode
    // path (distributed media generation, executor-side ImageIO)
    "q_stream_cep2", "q_mm_imgdup",
    // round 11: symmetric-hash stream-stream join — BOTH sides' join
    // state stores (plus the watermark-gated outer-null buffer) must
    // reload from the checkpoint after the SIGKILL
    "q_stream_ssjoin_left",
    // round 12: negation chains run the leftmost Thompson simulation
    // (negNfaStep per-level start sets) — a distinct state encoding from
    // cep2's O(1) chain, so its checkpoint reload is its own arm
    "q_stream_cep4")

  /** Tracks live executor count via the listener bus (to wait for the
    * initial fleet and observe the post-kill relaunch). */
  private class ExecTracker extends org.apache.spark.scheduler.SparkListener {
    val live: java.util.Set[String] =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    override def onExecutorAdded(
        e: org.apache.spark.scheduler.SparkListenerExecutorAdded): Unit = {
      live.add(e.executorId); ()
    }
    override def onExecutorRemoved(
        e: org.apache.spark.scheduler.SparkListenerExecutorRemoved): Unit = {
      live.remove(e.executorId); ()
    }
  }

  /** PIDs of THIS app's executor JVMs (local-cluster children): /proc
    * scan for CoarseGrainedExecutorBackend carrying our app id. */
  private def executorPids(appId: String): Seq[Int] =
    Option(new java.io.File("/proc").listFiles()).toSeq.flatten
      .filter(_.getName.forall(_.isDigit))
      .flatMap { f =>
        try {
          val cmd = new String(java.nio.file.Files.readAllBytes(
            f.toPath.resolve("cmdline")), "UTF-8").replace('\u0000', ' ')
          if (cmd.contains("CoarseGrainedExecutorBackend") &&
              cmd.contains(appId)) Some(f.getName.toInt)
          else None
        } catch { case _: Exception => None }
      }.sorted

  /** Runs one query while a watcher thread SIGKILLs one of the app's
    * executor JVMs as soon as a job is active — the standalone master
    * relaunches a replacement, so every query in the slice gets its own
    * abrupt executor loss. Returns (rows, hash, kill landed). */
  private def chaosHash(spark: SparkSession, name: String, sfDir: String,
                        killDelayMs: Long): (Long, String, Boolean) = {
    val sc = spark.sparkContext
    val appId = sc.applicationId
    val killed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val killer = new Thread(() => {
      while (!stop.get() && !killed.get()) {
        if (sc.statusTracker.getActiveJobIds().nonEmpty) {
          Thread.sleep(killDelayMs)
          val pids = executorPids(appId)
          if (pids.nonEmpty && !stop.get() &&
              sc.statusTracker.getActiveJobIds().nonEmpty) {
            System.err.println(s"[chaos] kill -9 executor pid ${pids.head} during $name")
            val rc = Runtime.getRuntime
              .exec(Array("kill", "-9", pids.head.toString)).waitFor()
            killed.set(rc == 0)
          }
        } else Thread.sleep(20)
      }
    })
    killer.setDaemon(true)
    killer.start()
    try {
      val (n, h) = resultHash(spark, name, sfDir)
      (n, h, killed.get())
    } finally { stop.set(true); killer.join(2000) }
  }

  /** Round-12 arm: SnapshotLog optimistic concurrency under EXECUTOR
    * LOSS. Two committer threads race version claims (8 appends of 1000
    * rows each against one table) while a watcher SIGKILLs an executor
    * mid-commit — commits run real write + stats jobs on executor JVMs,
    * so the kill lands inside the commit path. Asserts the hard-link CAS
    * + rebase loop kept the log DENSE (every version 1..V published
    * exactly once), no appended row lost, snapshots monotone, and the
    * per-file stats still prune after rebases. Returns (json, ok). */
  private def chaosSnapshotLog(spark: SparkSession): (String, Boolean) = {
    import org.apache.spark.sql.functions._
    val sc = spark.sparkContext
    val appId = sc.applicationId
    val root = java.nio.file.Files
      .createTempDirectory("graft-chaos-snap").toString
    val t1 = graft.operators.SnapshotLog.open(spark, root, "id")
    val t2 = graft.operators.SnapshotLog.open(spark, root, "id")
    t1.commitAppend(spark.range(1)
      .select(lit(0L).as("id"), lit("seed").as("v")))
    val perWriter = 4
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val killed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val killer = new Thread(() => {
      while (!stop.get() && !killed.get()) {
        if (sc.statusTracker.getActiveJobIds().nonEmpty) {
          Thread.sleep(100)
          val pids = executorPids(appId)
          if (pids.nonEmpty && !stop.get()) {
            System.err.println(
              s"[chaos] kill -9 executor pid ${pids.head} during snapshot-log commits")
            killed.set(Runtime.getRuntime
              .exec(Array("kill", "-9", pids.head.toString)).waitFor() == 0)
          }
        } else Thread.sleep(20)
      }
    })
    killer.setDaemon(true)
    killer.start()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(t: graft.operators.SnapshotTable, base: Long): Thread = {
      val th = new Thread(() =>
        try (1 to perWriter).foreach { i =>
          t.commitAppend(spark.range(1000)
            .select((col("id") + base * 1000000L + i * 1000L).as("id"),
              concat(lit(s"w$base-$i-"), col("id")).as("v")))
        } catch { case e: Throwable => errs.add(e); () })
      th.start(); th
    }
    val ths = Seq(writer(t1, 1), writer(t2, 2))
    ths.foreach(_.join(300000))
    stop.set(true)
    killer.join(2000)
    errs.forEach(e => System.err.println(s"[chaos] snapshot-log writer: $e"))
    val v = t1.currentVersion()
    val dense = (1 to v).forall(i => java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_log", s"$i.json")))
    val total = t1.read().count()
    val expect = 1L + 2L * perWriter * 1000L
    val counts = (1 to v).map(t1.read(_).count())
    val monotone = counts == counts.sorted
    // writer 1's i=1 block is ids 1001000..1001999 — the range probe must
    // return exactly it AND skip files via the rebased log stats
    val probe = t1.readRange(1001000L, 1001999L)
    val pruned = probe.count() == 1000L &&
      probe.inputFiles.length < t1.read().inputFiles.length

    // round-12 merge phase: a copy-on-write upsert under a FRESH executor
    // kill — the merge's scan/write/stats jobs retry on the surviving
    // executor and the version publishes exactly once. Upsert rewrites
    // writer 1's i=1 block (500 updated rows) and inserts 5 new keys; the
    // read-back must show exactly the upserted values, the version must
    // advance by one, and no concurrent-commit CME can fire (writers are
    // drained).
    val stop2 = new java.util.concurrent.atomic.AtomicBoolean(false)
    val killed2 = new java.util.concurrent.atomic.AtomicBoolean(false)
    val killer2 = new Thread(() => {
      while (!stop2.get() && !killed2.get()) {
        if (sc.statusTracker.getActiveJobIds().nonEmpty) {
          Thread.sleep(100)
          val pids = executorPids(appId)
          if (pids.nonEmpty && !stop2.get()) {
            System.err.println(
              s"[chaos] kill -9 executor pid ${pids.head} during snapshot-log merge")
            killed2.set(Runtime.getRuntime
              .exec(Array("kill", "-9", pids.head.toString)).waitFor() == 0)
          }
        } else Thread.sleep(20)
      }
    })
    killer2.setDaemon(true)
    killer2.start()
    val mergeOk = try {
      val upd = spark.range(1001000L, 1001500L)
        .select(col("id"), concat(lit("MERGED-"), col("id")).as("v"))
        .unionByName(spark.range(9000000L, 9000005L)
          .select(col("id"), concat(lit("NEW-"), col("id")).as("v")))
      val mv = t1.commitMerge(upd)
      val merged = t1.read()
      mv == v + 1 &&
        merged.count() == expect + 5 &&
        merged.where(col("v").startsWith("MERGED-")).count() == 500 &&
        merged.where(col("v").startsWith("NEW-")).count() == 5 &&
        t1.readRange(1001000L, 1001499L)
          .where(!col("v").startsWith("MERGED-")).count() == 0
    } catch { case e: Throwable =>
      System.err.println(s"[chaos] snapshot-log merge: $e"); false
    } finally { stop2.set(true); killer2.join(2000) }

    // round-12 txn phase: exactly-once STREAMING ingest under yet another
    // fresh executor kill, then a FORCED batch replay. Three source files
    // drain one-per-micro-batch through SnapshotCdf.ingest while the
    // watcher SIGKILLs an executor (foreachBatch's write + stats jobs
    // retry on the survivor; the txn watermark publishes with the data in
    // one atomic log link). Then the last commit marker is deleted — the
    // crash-between-sink-and-commit window — and the stream re-run: the
    // re-executed batch must be skipped by the watermark, every ingested
    // id exactly once.
    val stop3 = new java.util.concurrent.atomic.AtomicBoolean(false)
    val killed3 = new java.util.concurrent.atomic.AtomicBoolean(false)
    val killer3 = new Thread(() => {
      while (!stop3.get() && !killed3.get()) {
        if (sc.statusTracker.getActiveJobIds().nonEmpty) {
          Thread.sleep(100)
          val pids = executorPids(appId)
          if (pids.nonEmpty && !stop3.get()) {
            System.err.println(
              s"[chaos] kill -9 executor pid ${pids.head} during txn ingest")
            killed3.set(Runtime.getRuntime
              .exec(Array("kill", "-9", pids.head.toString)).waitFor() == 0)
          }
        } else Thread.sleep(20)
      }
    })
    killer3.setDaemon(true)
    killer3.start()
    val txnOk = try {
      val srcDir = s"$root/txn_src"; val ckpt = s"$root/txn_ckpt"
      for (g <- 0 until 3)
        spark.range(10000000L + g * 1000L, 10000000L + g * 1000L + 1000L)
          .select(col("id"), concat(lit(s"T$g-"), col("id")).as("v"))
          .coalesce(1).write.parquet(s"$srcDir/g$g")
      new java.io.File(srcDir).listFiles().sortBy(_.getName)
        .flatMap(d => d.listFiles().filter(_.getName.startsWith("part-")))
        .zipWithIndex.foreach { case (f, i) =>
          f.setLastModified(1000000L + i * 1000L); () }
      val schema = spark.read.parquet(s"$srcDir/g0").schema
      def src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true").parquet(srcDir)
      graft.streaming.SnapshotCdf.ingest(src, root, "id", "chaos-app", ckpt)
      val afterDrain = t1.read().where(col("id") >= 10000000L).count()
      val commits = new java.io.File(s"$ckpt/commits").listFiles()
        .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
      val crc = new java.io.File(commits.last.getParentFile,
        s".${commits.last.getName}.crc")
      val torn = commits.last.delete() && (!crc.exists || crc.delete())
      graft.streaming.SnapshotCdf.ingest(src, root, "id", "chaos-app", ckpt)
      val ingested = t1.read().where(col("id") >= 10000000L)
      afterDrain == 3000L && torn &&
        ingested.count() == 3000L &&
        ingested.groupBy(col("id")).count()
          .where(col("count") > 1).count() == 0L &&
        t1.lastTxn("chaos-app").isDefined
    } catch { case e: Throwable =>
      System.err.println(s"[chaos] snapshot-log txn ingest: $e"); false
    } finally { stop3.set(true); killer3.join(2000) }

    // round-13 (late) partition/constraint/bloom phase: a PARTITIONED
    // table under yet another fresh executor kill — two concurrent
    // commitReplacePartitions of DISJOINT partitions must BOTH land
    // (the drop set recomputes on OCC rebase; leaf writes + footer
    // stats + bloom builds retry on the surviving executor), a CHECK
    // constraint must refuse a violating batch mid-chaos leaving NO
    // version behind, and a Bloom point probe on the rebuilt partition
    // must still skip files and return exactly its row.
    val stop4 = new java.util.concurrent.atomic.AtomicBoolean(false)
    val killed4 = new java.util.concurrent.atomic.AtomicBoolean(false)
    val killer4 = new Thread(() => {
      while (!stop4.get() && !killed4.get()) {
        if (sc.statusTracker.getActiveJobIds().nonEmpty) {
          Thread.sleep(100)
          val pids = executorPids(appId)
          if (pids.nonEmpty && !stop4.get()) {
            System.err.println(
              s"[chaos] kill -9 executor pid ${pids.head} during partition replace")
            killed4.set(Runtime.getRuntime
              .exec(Array("kill", "-9", pids.head.toString)).waitFor() == 0)
          }
        } else Thread.sleep(20)
      }
    })
    killer4.setDaemon(true)
    killer4.start()
    val partOk = try {
      val proot = java.nio.file.Files
        .createTempDirectory("graft-chaos-part").toString
      val tp = graft.operators.SnapshotLog.open(spark, proot, "id")
      def mk(part: String, lo: Long, n: Long, tag: String) =
        spark.range(lo, lo + n).select(col("id"), lit(part).as("p"),
          concat(lit(tag), col("id")).as("v"))
      tp.commitAppend(mk("a", 0, 2000, "seed-")
        .unionByName(mk("b", 2000, 2000, "seed-"))
        .unionByName(mk("c", 4000, 2000, "seed-")), Seq("p"))
      tp.addConstraint("nonneg", "id >= 0")
      tp.setBloomColumns(Seq("v"))
      val errsP = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val reps = Seq(("a", 2000000L, "ra-"), ("b", 3000000L, "rb-")).map {
        case (part, lo, tag) =>
          val th = new Thread(() =>
            try {
              tp.commitReplacePartitions(
                mk(part, lo, 2000, tag).repartition(4), Seq("p"))
              ()
            } catch { case e: Throwable => errsP.add(e); () })
          th.start(); th
      }
      reps.foreach(_.join(300000))
      errsP.forEach(e => System.err.println(s"[chaos] partition replace: $e"))
      val vNow = tp.currentVersion()
      val threw =
        try { tp.commitAppend(mk("a", -10, 5, "bad-"), Seq("p")); false }
        catch { case _: IllegalArgumentException => true }
      val probe = tp.readWhereEquals("v", "ra-2000005")
      errsP.isEmpty && threw && tp.currentVersion() == vNow &&
        tp.read().count() == 6000L &&
        tp.readPartitions(Map("p" -> "c")).count() == 2000L &&
        tp.readPartitions(Map("p" -> "a"))
          .where(col("v").startsWith("ra-")).count() == 2000L &&
        tp.readPartitions(Map("p" -> "b"))
          .where(col("v").startsWith("rb-")).count() == 2000L &&
        probe.count() == 1L &&
        probe.inputFiles.length < tp.read().inputFiles.length
    } catch { case e: Throwable =>
      System.err.println(s"[chaos] partition/constraint/bloom: $e"); false
    } finally { stop4.set(true); killer4.join(2000) }

    // round-13 connector phase: the survivor table — rebased commits,
    // post-kill merge splits, txn-ingested batches — read back through
    // the snaplog DSv2 source must equal the SnapshotTable view exactly,
    // deletes/carries included, and a pushed key filter must still prune
    // input partitions from the rebased log stats
    val dsv2Ok = try {
      val api = t1.read()
      val con = spark.read.format("snaplog").load(root)
      def parts(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputPartitions.size
        }.sum
      con.count() == api.count() &&
        con.exceptAll(api).isEmpty && api.exceptAll(con).isEmpty &&
        parts(con.where(col("id") >= 1001000L && col("id") <= 1001999L)) <
          parts(con)
    } catch { case e: Throwable =>
      System.err.println(s"[chaos] snaplog DSv2 readback: $e"); false
    }

    // round-14 SQL-DML / native-write phase: the connector's OWN write
    // path and the SQL row-level routes under yet another fresh executor
    // kill. A native batch write (executors stream parquet, driver
    // publishes from the reported file list — a killed attempt's orphan
    // files must be swept, never double-counted), then SQL UPDATE
    // (group-based COW: scan/rewrite jobs retry on the survivor, the
    // replace publishes exactly once), a banded SQL DELETE (must take
    // the METADATA route even mid-chaos), a SQL MERGE upsert, and an
    // exactly-once STREAMING connector sink re-run over its own
    // checkpoint after the kill.
    val stop5 = new java.util.concurrent.atomic.AtomicBoolean(false)
    val killed5 = new java.util.concurrent.atomic.AtomicBoolean(false)
    val killer5 = new Thread(() => {
      while (!stop5.get() && !killed5.get()) {
        if (sc.statusTracker.getActiveJobIds().nonEmpty) {
          Thread.sleep(100)
          val pids = executorPids(appId)
          if (pids.nonEmpty && !stop5.get()) {
            System.err.println(
              s"[chaos] kill -9 executor pid ${pids.head} during SQL DML")
            killed5.set(Runtime.getRuntime
              .exec(Array("kill", "-9", pids.head.toString)).waitFor() == 0)
          }
        } else Thread.sleep(20)
      }
    })
    killer5.setDaemon(true)
    killer5.start()
    val sqlOk = try {
      val qroot = java.nio.file.Files
        .createTempDirectory("graft-chaos-sql").toString + "/t"
      // native DSv2 batch write under the kill
      spark.range(20000)
        .select(col("id"), concat(lit("s-"), col("id")).as("v"))
        .repartition(8)
        .write.format("snaplog").option("key", "id").mode("append")
        .save(qroot)
      val tq = graft.operators.SnapshotLog.open(spark, qroot, "id")
      val wroteOnce = tq.currentVersion() == 1 && tq.read().count() == 20000L
      // SQL UPDATE — group-based COW
      spark.sql(s"UPDATE graftsnap.`$qroot` SET v = concat('U-', v) " +
        "WHERE id >= 5000 AND id < 6000")
      val updOk = tq.opOf(tq.currentVersion()) == "sql-update" &&
        tq.read().where(col("v").startsWith("U-")).count() == 1000L
      // banded SQL DELETE — metadata route even mid-chaos
      spark.sql(s"DELETE FROM graftsnap.`$qroot` WHERE id < 1000")
      val delOk = tq.opOf(tq.currentVersion()) == "delete-where" &&
        tq.read().count() == 19000L
      // SQL MERGE — COW upsert with inserts
      spark.range(5500, 6500)
        .select(col("id"), concat(lit("M-"), col("id")).as("v"))
        .unionByName(spark.range(40000, 40005)
          .select(col("id"), concat(lit("M-"), col("id")).as("v")))
        .createOrReplaceTempView("graft_chaos_merge_src")
      spark.sql(s"MERGE INTO graftsnap.`$qroot` t " +
        "USING graft_chaos_merge_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      val mrgOk = tq.opOf(tq.currentVersion()) == "sql-merge" &&
        tq.read().count() == 19005L &&
        tq.read().where(col("v").startsWith("M-")).count() == 1005L &&
        tq.read().where(col("v").startsWith("U-")).count() == 500L
      // exactly-once native streaming sink: drain 3 staged files one per
      // micro-batch under the kill, then re-run over the SAME checkpoint
      val sroot = java.nio.file.Files
        .createTempDirectory("graft-chaos-ssink").toString
      for (g <- 0 until 3)
        spark.range(g * 1000L, g * 1000L + 1000L)
          .select(col("id"), concat(lit(s"B$g-"), col("id")).as("v"))
          .coalesce(1).write.parquet(s"$sroot/src/g$g")
      val sschema = spark.read.parquet(s"$sroot/src/g0").schema
      def srun(): Unit = {
        val q = spark.readStream.schema(sschema)
          .option("maxFilesPerTrigger", "1")
          .option("recursiveFileLookup", "true").parquet(s"$sroot/src")
          .writeStream.format("snaplog").option("key", "id")
          .option("checkpointLocation", s"$sroot/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start(s"$sroot/t")
        q.awaitTermination()
      }
      srun()
      val ts = graft.operators.SnapshotLog.open(spark, s"$sroot/t", "id")
      val n1 = ts.read().count()
      srun() // replay over the same checkpoint
      val sinkOk = n1 == 3000L && ts.read().count() == 3000L &&
        ts.read().groupBy(col("id")).count()
          .where(col("count") > 1).count() == 0L &&
        (1 to ts.currentVersion()).forall(i => ts.opOf(i) == "txn-append")
      wroteOnce && updOk && delOk && mrgOk && sinkOk
    } catch { case e: Throwable =>
      System.err.println(s"[chaos] SQL DML / native write: $e"); false
    } finally { stop5.set(true); killer5.join(2000) }

    // round-15 column-mapping phase: the FULL mapped-table DML/CDF
    // surface under yet another fresh executor kill — rename (metadata),
    // a cdc-MERGE through the mapping (replacement files + change
    // sidecar land PHYSICAL names), a snapcdf drain of the whole feed
    // including the sidecar (translated back to logical in-reader, rows
    // exactly-once across task retries), then mapped SQL UPDATE and a
    // banded predicate DELETE, with the final table compared row-exact
    // against the closed form.
    val stop6 = new java.util.concurrent.atomic.AtomicBoolean(false)
    val killed6 = new java.util.concurrent.atomic.AtomicBoolean(false)
    val killer6 = new Thread(() => {
      while (!stop6.get() && !killed6.get()) {
        if (sc.statusTracker.getActiveJobIds().nonEmpty) {
          Thread.sleep(100)
          val pids = executorPids(appId)
          if (pids.nonEmpty && !stop6.get()) {
            System.err.println(
              s"[chaos] kill -9 executor pid ${pids.head} during mapped DML")
            killed6.set(Runtime.getRuntime
              .exec(Array("kill", "-9", pids.head.toString)).waitFor() == 0)
          }
        } else Thread.sleep(20)
      }
    })
    killer6.setDaemon(true)
    killer6.start()
    val mapOk = try {
      val mroot = java.nio.file.Files
        .createTempDirectory("graft-chaos-map").toString + "/t"
      spark.range(30000).select(col("id"), (col("id") * 3).as("n"))
        .repartition(8)
        .write.format("snaplog").option("key", "id").mode("append")
        .save(mroot)                                                  // v1
      val tm = graft.operators.SnapshotLog.open(spark, mroot, "id")
      tm.renameColumn("n", "score")                                   // v2
      tm.commitMerge(spark.range(10000, 11000)
        .select(col("id"), (col("id") * 7).as("score")), cdc = true)  // v3
      val mapHeld = tm.columnMap() == Map("score" -> "n")
      // drain the feed (v1 inserts + v2 no-rows + v3 exact change rows)
      // BEFORE the exact-diff DML versions land
      val msink = java.nio.file.Files
        .createTempDirectory("graft-chaos-mapcdf").toString
      val mq = spark.readStream.format("snapcdf").load(mroot)
        .writeStream.option("checkpointLocation", s"$msink/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!b.isEmpty) b.write.mode("append").parquet(s"$msink/out")
          ()
        }.start()
      mq.awaitTermination()
      val drained = spark.read.parquet(s"$msink/out")
      val insAgg = drained.where(col("_change_type") === "insert")
        .agg(count(lit(1)), sum(col("score"))).collect().head
      val delAgg = drained.where(col("_change_type") === "delete")
        .agg(count(lit(1)), sum(col("score"))).collect().head
      def s3(lo: Long, hi: Long, k: Long) = // k * sum(id in [lo, hi))
        k * (hi * (hi - 1) - lo * (lo - 1)) / 2
      val drainOk = insAgg.getLong(0) == 31000L &&
        insAgg.getLong(1) == s3(0, 30000, 3) + s3(10000, 11000, 7) &&
        delAgg.getLong(0) == 1000L &&
        delAgg.getLong(1) == s3(10000, 11000, 3)
      // mapped SQL UPDATE + banded predicate DELETE, then closed-form
      // row-exact parity of the final table
      spark.sql(s"UPDATE graftsnap.`$mroot` SET score = score + 1 " +
        "WHERE id >= 20000 AND id < 20500")
      tm.commitDeleteWhere("id", 0, 999)
      val expected = spark.range(1000, 30000).select(col("id"),
        when(col("id") >= 10000 && col("id") < 11000, col("id") * 7)
          .when(col("id") >= 20000 && col("id") < 20500, col("id") * 3 + 1)
          .otherwise(col("id") * 3).as("score"))
      val fin = tm.read()
      mapHeld && drainOk && tm.columnMap() == Map("score" -> "n") &&
        fin.count() == 29000L && fin.exceptAll(expected).isEmpty &&
        expected.exceptAll(fin).isEmpty
    } catch { case e: Throwable =>
      System.err.println(s"[chaos] mapped DML/CDF: $e"); false
    } finally { stop6.set(true); killer6.join(2000) }

    // round-16 table-stream phase: the snaplog TABLE-as-stream read
    // (readStream.format("snaplog")) under yet another fresh executor
    // kill — a rename lands MID-HISTORY so per-version mapping
    // translation is on the line, a change commit is skipped whole
    // under skipChangeCommits, versions drain one per micro-batch
    // (admission control across task retries), and an incremental
    // restart over the same checkpoint picks up exactly the new commit.
    // Every emitted row must satisfy the closed form m = id * 2 — a
    // mapping bug surfaces as NULLs, a replay bug as duplicates.
    val stop7 = new java.util.concurrent.atomic.AtomicBoolean(false)
    val killed7 = new java.util.concurrent.atomic.AtomicBoolean(false)
    val killer7 = new Thread(() => {
      while (!stop7.get() && !killed7.get()) {
        if (sc.statusTracker.getActiveJobIds().nonEmpty) {
          Thread.sleep(100)
          val pids = executorPids(appId)
          if (pids.nonEmpty && !stop7.get()) {
            System.err.println(
              s"[chaos] kill -9 executor pid ${pids.head} during table stream")
            killed7.set(Runtime.getRuntime
              .exec(Array("kill", "-9", pids.head.toString)).waitFor() == 0)
          }
        } else Thread.sleep(20)
      }
    })
    killer7.setDaemon(true)
    killer7.start()
    val streamReadOk = try {
      val sroot2 = java.nio.file.Files
        .createTempDirectory("graft-chaos-tstream").toString + "/t"
      spark.range(8000).select(col("id"), (col("id") * 2).as("n"))
        .repartition(4)
        .write.format("snaplog").option("key", "id").mode("append")
        .save(sroot2)                                                 // v1
      val tr = graft.operators.SnapshotLog.open(spark, sroot2, "id")
      tr.renameColumn("n", "m")                                       // v2
      tr.commitAppend(spark.range(8000, 12000)
        .select(col("id"), (col("id") * 2).as("m")))                  // v3
      tr.commitDeleteWhere("id", 0, 499)                              // v4
      tr.commitAppend(spark.range(12000, 13000)
        .select(col("id"), (col("id") * 2).as("m")))                  // v5
      val sout = java.nio.file.Files
        .createTempDirectory("graft-chaos-tsout").toString
      val batches = new java.util.concurrent.atomic.AtomicInteger(0)
      def drain(): Unit = {
        val q = spark.readStream.format("snaplog")
          .option("skipChangeCommits", "true")
          .option("maxVersionsPerTrigger", "1").load(sroot2)
          .writeStream.option("checkpointLocation", s"$sout/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            if (!b.isEmpty) {
              batches.incrementAndGet()
              b.write.mode("append").parquet(s"$sout/out")
            }
            ()
          }.start()
        q.awaitTermination()
      }
      drain()
      val out1 = spark.read.parquet(s"$sout/out")
      // v1+v3+v5 emit whole (the delete SKIPS — its COW rewrite's
      // replacement never re-emits), one version per batch
      val firstOk = out1.count() == 13000L && batches.get() == 3 &&
        out1.columns.toSeq == Seq("id", "m") &&
        out1.where(col("m").isNull ||
          col("m") =!= col("id") * 2).count() == 0L &&
        out1.select(col("id")).distinct().count() == 13000L
      tr.commitAppend(spark.range(13000, 13500)
        .select(col("id"), (col("id") * 2).as("m")))                  // v6
      drain() // incremental restart over the SAME checkpoint
      val out2 = spark.read.parquet(s"$sout/out")
      firstOk && out2.count() == 13500L &&
        out2.select(col("id")).distinct().count() == 13500L &&
        out2.where(col("m") =!= col("id") * 2).count() == 0L
    } catch { case e: Throwable =>
      System.err.println(s"[chaos] table stream read: $e"); false
    } finally { stop7.set(true); killer7.join(2000) }

    // round-16 partition-maintenance race phase: TWO optimizePartition
    // jobs on DISJOINT partitions race under yet another fresh executor
    // kill — both must land UNSERIALISED (the OCC rebase composes
    // commits that left the selected entries untouched), each partition
    // collapses to ONE aligned entry, the foreign partition's entries
    // carry metadata-identical, and a pending MOR sidecar's keys stay
    // masked through both rewrites.
    val stop8 = new java.util.concurrent.atomic.AtomicBoolean(false)
    val killed8 = new java.util.concurrent.atomic.AtomicBoolean(false)
    val killer8 = new Thread(() => {
      while (!stop8.get() && !killed8.get()) {
        if (sc.statusTracker.getActiveJobIds().nonEmpty) {
          Thread.sleep(100)
          val pids = executorPids(appId)
          if (pids.nonEmpty && !stop8.get()) {
            System.err.println(
              s"[chaos] kill -9 executor pid ${pids.head} during optimize race")
            killed8.set(Runtime.getRuntime
              .exec(Array("kill", "-9", pids.head.toString)).waitFor() == 0)
          }
        } else Thread.sleep(20)
      }
    })
    killer8.setDaemon(true)
    killer8.start()
    val partRaceOk = try {
      val oroot = java.nio.file.Files
        .createTempDirectory("graft-chaos-optrace").toString
      val to = graft.operators.SnapshotLog.open(spark, oroot, "id")
      def omk(part: String, lo: Long, n: Long) =
        spark.range(lo, lo + n).select(col("id"), lit(part).as("p"),
          concat(lit(s"$part-"), col("id")).as("v"))
      // fragment partitions a and b across three commits each; c is the
      // foreign control partition
      for (i <- 0 until 3) {
        to.commitAppend(omk("a", i * 1000L, 1000), Seq("p"))
        to.commitAppend(omk("b", 10000L + i * 1000L, 1000), Seq("p"))
      }
      to.commitAppend(omk("c", 20000L, 1000), Seq("p"))
      to.commitDelete(spark.range(500).select(col("id"))
        .toDF("id")) // MOR sidecar masking ids 0-499 (partition a)
      val cEntries = to.readEntry(to.currentVersion()).data
        .filter(d => to.partitionValues().get(d)
          .exists(_.get("p").contains("c"))).toSet
      val errsO = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val races = Seq("a", "b").map { part =>
        val th = new Thread(() =>
          try { to.optimizePartition(Map("p" -> part), 1); () }
          catch { case e: Throwable => errsO.add(e); () })
        th.start(); th
      }
      races.foreach(_.join(300000))
      errsO.forEach(e => System.err.println(s"[chaos] optimize race: $e"))
      val eNow = to.readEntry(to.currentVersion())
      val aEntries = eNow.pvals.collect {
        case (d, vs) if vs.get("p").contains("a") => d }.toSet
      val bEntries = eNow.pvals.collect {
        case (d, vs) if vs.get("p").contains("b") => d }.toSet
      errsO.isEmpty &&
        aEntries.size == 1 && bEntries.size == 1 &&
        cEntries.subsetOf(eNow.data.toSet) &&
        to.readPartitions(Map("p" -> "a")).count() == 2500L &&
        to.readPartitions(Map("p" -> "b")).count() == 3000L &&
        to.read().count() == 6500L &&
        to.read().where(col("id") < 500).count() == 0L
    } catch { case e: Throwable =>
      System.err.println(s"[chaos] optimize-partition race: $e"); false
    } finally { stop8.set(true); killer8.join(2000) }

    val ok = errs.isEmpty && v == 1 + 2 * perWriter && dense &&
      total == expect && monotone && pruned && mergeOk && txnOk &&
      partOk && dsv2Ok && sqlOk && mapOk && streamReadOk && partRaceOk
    val json = s"""{"versions":$v,"rows":$total,"expected":$expect,""" +
      s""""dense":$dense,"monotone":$monotone,"statsPruned":$pruned,""" +
      s""""killLanded":${killed.get()},"writerErrors":${errs.size()},""" +
      s""""mergeOk":$mergeOk,"mergeKillLanded":${killed2.get()},""" +
      s""""txnOk":$txnOk,"txnKillLanded":${killed3.get()},""" +
      s""""partOk":$partOk,"partKillLanded":${killed4.get()},""" +
      s""""dsv2Ok":$dsv2Ok,""" +
      s""""sqlDmlOk":$sqlOk,"sqlKillLanded":${killed5.get()},""" +
      s""""mapOk":$mapOk,"mapKillLanded":${killed6.get()},""" +
      s""""streamReadOk":$streamReadOk,""" +
      s""""streamKillLanded":${killed7.get()},""" +
      s""""partRaceOk":$partRaceOk,""" +
      s""""partRaceKillLanded":${killed8.get()},""" +
      s""""ok":$ok}"""
    (json, ok)
  }

  /** `--chaos`: local[8] reference hashes, then the chaos slice on
    * local-cluster with `spark.graft.checkpoint.reliable=true` and one
    * executor killed mid-query — every hash must survive the retry.
    * A final negative probe re-runs the rank loop with the default
    * localCheckpoint under a kill and records its documented outcome
    * (loud job failure or lucky survival — informational, not gated). */
  private def runChaos(sfDir: String): Unit = {
    val clusterMaster = "local-cluster[2,4,3072]"
    val local = runSlice("local[8]", Map.empty, sfDir, chaosSlice)
    val absCp = sys.props("java.class.path")
      .split(java.io.File.pathSeparator)
      .map(e => new java.io.File(e).getAbsolutePath)
      .mkString(java.io.File.pathSeparator)
    val ckptDir = java.nio.file.Files.createTempDirectory("graft-chaos-ckpt")
    val base = Map(
      "spark.executor.memory" -> "2048m",
      "spark.executor.extraClassPath" -> absCp,
      "spark.executor.extraJavaOptions" -> addOpens,
      // the gate SIGKILLs an executor per arm (~21 kills per run); the
      // standalone master must not count the harness's own chaos toward
      // its app-removal threshold (default 10 consecutive failures)
      "spark.deploy.maxExecutorRetries" -> "1000")
    val spark = graft.core.Sessions.build(graft.core.Sessions.Conf(
      master = clusterMaster, appName = "graft-chaos", numTasks = 8,
      extra = base ++ Map(
        graft.core.Checkpoints.reliableKey -> "true",
        graft.core.Checkpoints.dirKey -> ckptDir.toString)))
    val results =
      try {
        val tracker = new ExecTracker
        spark.sparkContext.addSparkListener(tracker)
        // wait for the two initial executors so the first kill has targets
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (tracker.live.size() < 2 && System.nanoTime() < deadline)
          Thread.sleep(100)
        val gated = chaosSlice.map { n =>
          n -> (try chaosHash(spark, n, sfDir, killDelayMs = 150)
                catch { case e: Throwable =>
                  System.err.println(s"[chaos] $n ERROR: ${e.getMessage}")
                  (-1L, s"ERROR:${e.getClass.getSimpleName}", true) })
        }.toMap
        // round 12: multi-writer SnapshotLog CAS under executor loss
        val snap = chaosSnapshotLog(spark)
        // negative probe: default (localCheckpoint) loop under a kill —
        // Spark's documented contract is a LOUD job failure (truncated
        // lineage, unreplicated blocks), never a wrong answer; it runs
        // in a child session so the gated session's conf stays as built
        val unreliable = spark.newSession()
        unreliable.conf.set(graft.core.Checkpoints.reliableKey, "false")
        val probe =
          try {
            val (n, h, k) = chaosHash(unreliable, "q_graph_pagerank",
              sfDir, killDelayMs = 150)
            val outcome =
              if (!k) "no-kill-landed"
              else if ((n, h) == local("q_graph_pagerank")) "survived-kill"
              else "WRONG-ANSWER"
            s""""$outcome""""
          } catch { case e: Throwable =>
            s""""loud-failure:${e.getClass.getSimpleName}""""
          }
        (gated, probe, snap)
      } finally spark.stop()
    val (gated, probe, (snapJson, snapOk)) = results
    val mismatch = chaosSlice.filter { n =>
      val (ln, lh) = local(n)
      val (cn, ch, _) = gated(n)
      ln != cn || lh != ch || ch.startsWith("ERROR")
    }
    val noKill = chaosSlice.filter(n => !gated(n)._3)
    val json = s"""{"mode":"chaos:$clusterMaster","sf":"${sfDir.split('/').last}",""" +
      s""""n":${chaosSlice.size},"match":${chaosSlice.size - mismatch.size},""" +
      s""""killMissed":[${noKill.map(n => s""""$n"""").mkString(",")}],""" +
      s""""negativeProbe":$probe,""" +
      s""""snapshotLog":$snapJson,""" +
      s""""mismatch":[${mismatch.map(n =>
        s""""$n(local=${local(n)},chaos=${gated(n)})"""").mkString(",")}]}"""
    println(json)
    if (mismatch.nonEmpty || !snapOk) sys.exit(1)
  }

  // --------------------------------------------------- memory envelope ----

  /** `--memenv`: 10⁶ distinct groups × (t-digest + theta) UDAFs inside
    * local-cluster's 2 GB executors. 10⁶ object buffers would be
    * gigabytes if the aggregation held them all — the gate proves the
    * typed-Aggregator path really degrades to Spark's sort-based
    * fallback (ObjectHashAggregate's documented spill mode) instead of
    * OOMing, and that the per-group buffers stay fixed-capacity (max
    * serialized t-digest size is checked against its delta-derived
    * bound). Values are laid out so every group sees exactly the
    * distinct set {0..7}: the theta estimate must be EXACTLY 8 for
    * every group (KMV is exact below k), so correctness-under-spill is
    * asserted for all 10⁶ groups, not sampled. */
  private def runMemEnv(): Unit = {
    val clusterMaster = "local-cluster[2,4,3072]"
    val absCp = sys.props("java.class.path")
      .split(java.io.File.pathSeparator)
      .map(e => new java.io.File(e).getAbsolutePath)
      .mkString(java.io.File.pathSeparator)
    val spark = graft.core.Sessions.build(graft.core.Sessions.Conf(
      master = clusterMaster, appName = "graft-memenv", numTasks = 8,
      extra = Map(
        "spark.executor.memory" -> "2048m",
        "spark.executor.extraClassPath" -> absCp,
        "spark.executor.extraJavaOptions" -> addOpens,
        // the TopK shape below spills at this bound; the sketch shape
        // plans no TopK operator
        graft.plans.TopKPerGroupStrategy.maxGroupsKey -> "65536")))
    try {
      import org.apache.spark.sql.functions._
      val nGroups = 1000000L
      val perGroup = 8L
      val rows = spark.range(nGroups * perGroup)
        .select((col("id") % nGroups).as("g"),
          (col("id") / nGroups).cast("double").as("v"))
      val agg = rows.groupBy(col("g")).agg(
        graft.functions.Sketches.tdigest(col("v"), delta = 50).as("td"),
        graft.functions.Sketches.thetaSketch(col("v").cast("long"), k = 64).as("th"))
      val summary = agg.select(
        count(lit(1)).as("n_groups"),
        sum(when(abs(graft.functions.Sketches.thetaEstimate(col("th"), 64)
          - lit(perGroup.toDouble)) < 1e-9, 0).otherwise(1)).as("theta_wrong"),
        max(length(col("td"))).as("max_td_bytes")).collect()(0)
      val (n, wrong, maxTd) =
        (summary.getLong(0), summary.getLong(1), summary.getInt(2))
      // pack layout: 4-byte count + 16 bytes/centroid, capacity bound
      // from the compress step is ~2·delta centroids
      val tdBound = 4 + 16 * (2 * 50 + 8)

      // second shape: the TopK SPILL path on REAL executor JVMs — 10⁶
      // groups against a 65536 bound force each reduce partition
      // through ~2 key-sorted spill runs written to the executors' own
      // local dirs, then the k-way merge. Correctness is closed-form:
      // group g over values {g, g+nG, …, g+(per−1)·nG} must emit
      // exactly (g+(per−1)·nG, rn=1), (g+(per−2)·nG, rn=2).
      graft.plans.TopK.install(spark)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g")).orderBy(col("v").desc)
      val topk = spark.range(nGroups * perGroup)
        .select((col("id") % nGroups).as("g"), col("id").as("v"))
        .select(col("g"), col("v"), row_number().over(w).as("rn"))
        .where(col("rn") <= 2)
      val topkPlanned = topk.queryExecution.executedPlan.toString
        .contains("TopKPerGroupExec")
      val tSummary = topk.select(
        count(lit(1)).as("rows"),
        sum(when(col("v") ===
          col("g") + (lit(perGroup) - col("rn")) * nGroups, 0)
          .otherwise(1)).as("wrong")).collect()(0)
      val (tRows, tWrong) = (tSummary.getLong(0), tSummary.getLong(1))

      val ok = n == nGroups && wrong == 0L && maxTd <= tdBound &&
        topkPlanned && tRows == 2 * nGroups && tWrong == 0L
      println(s"""{"mode":"memenv:$clusterMaster","groups":$n,""" +
        s""""theta_wrong":$wrong,"max_td_bytes":$maxTd,""" +
        s""""td_bound":$tdBound,"topk_spill_rows":$tRows,""" +
        s""""topk_wrong":$tWrong,"topk_native":$topkPlanned,"pass":$ok}""")
      if (!ok) sys.exit(1)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    // `--all` widens the slice to the ENTIRE catalog (the full-parity
    // gate; ~10× the runtime of the default slice); `--chaos` runs the
    // executor-loss gate; `--memenv` the 10⁶-group sketch-UDAF
    // memory-envelope gate
    val all = args.contains("--all")
    val flags = Set("--all", "--chaos", "--memenv")
    val sfDirArg = args.filterNot(flags.contains).headOption
    if (args.contains("--memenv")) { runMemEnv(); return }
    if (args.contains("--chaos")) {
      runChaos(sfDirArg.getOrElse("/root/testdata/sf0.01"))
      return
    }
    val names = if (all) SparkEntry.queries.keys.toSeq.sorted else slice
    val sfDir = sfDirArg
      .getOrElse("/root/testdata/sf0.001")
    val clusterMaster = "local-cluster[2,4,3072]"
    val local = runSlice("local[8]", Map.empty, sfDir, names)
    // executors run from their own work dir — absolutize every classpath
    // entry (tools/run.sh passes target/scala-2.13/classes relative)
    val absCp = sys.props("java.class.path")
      .split(java.io.File.pathSeparator)
      .map(e => new java.io.File(e).getAbsolutePath)
      .mkString(java.io.File.pathSeparator)
    val cluster = runSlice(clusterMaster, Map(
      "spark.executor.memory" -> "2048m",
      "spark.executor.extraClassPath" -> absCp,
      "spark.executor.extraJavaOptions" -> addOpens), sfDir, names)
    // an ERROR result is a gate failure even when both modes error
    // identically — equal exceptions validate nothing
    val mismatch = names.filter(n => local(n) != cluster(n) ||
      local(n)._2.startsWith("ERROR") || cluster(n)._2.startsWith("ERROR"))
    val json = s"""{"mode":"$clusterMaster","sf":"${sfDir.split('/').last}",""" +
      s""""n":${names.size},"match":${names.size - mismatch.size},""" +
      s""""mismatch":[${mismatch.map(n =>
        s""""$n(local=${local(n)},cluster=${cluster(n)})"""").mkString(",")}]}"""
    println(json)
    if (mismatch.nonEmpty) sys.exit(1)
  }
}
