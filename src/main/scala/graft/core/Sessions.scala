package graft.core

import org.apache.spark.sql.SparkSession

/** R26: resource-session management.
  *
  * The reference runs its engine inside an explicitly-sized YARN session
  * (`workflow.py:195-239`: `yarn-session.sh -n nodes -jm jmMem -tm tmMem
  * -s slots`, poll until RUNNING, then `workflow.py:346-358` tears it down
  * and removes the session's temp files; `launch_bclconverter.sh:7` shows
  * the same slot math inline). Its knobs (`workflow.py:20-31` GlobalConf):
  * `job_manager_mem`, `task_manager_mem`, `slots`, `jnum` (concurrent
  * jobs per session), `tasksPerNode` (per-job parallelism).
  *
  * The Spark analogue is SparkSession configuration — this factory pins the
  * knob mapping in ONE place so every entry point (Bench, Verify, tests)
  * sizes sessions identically:
  *
  *   - slots × nodes / tasksPerNode → `numTasks` → `spark.sql.shuffle
  *     .partitions` AND `spark.default.parallelism` (one stage's task count).
  *   - `jnum` concurrent jobs → FAIR scheduler (`spark.scheduler.mode`), so
  *     co-running jobs in one session share slots rather than convoying
  *     FIFO — the reference runs jnum=2 converter jobs per session.
  *   - `task_manager_mem` → `spark.executor.memory`; `job_manager_mem` →
  *     `spark.driver.memory`. Both only take effect when the master is a
  *     real cluster (under `local[...]` the already-running JVM's -Xmx
  *     governs; we still record them in the conf for observability).
  *   - session start/await → `getOrCreate()` (synchronous in Spark — no
  *     RUNNING-poll loop needed); teardown → `stop()` (Spark cleans its own
  *     temp/shuffle dirs, the `.flink/<appId>` rmr analogue).
  *   - graft's native SQL functions → `spark.sql.extensions` =
  *     `graft.functions.GraftExtensions`, so they arrive with the session
  *     and with every `newSession()` child of it; no engine code registers
  *     them (`register` in `GraftFunctions` is the fallback for a session
  *     built elsewhere).
  *   - the snapshot-log catalogs → `spark.sql.catalog.graftsnap` (path
  *     addressed, `graftsnap.`/path``) and `spark.sql.catalog.graftwh`
  *     (name addressed, tables under one warehouse directory per driver
  *     JVM), both `graft.sources.SnaplogCatalog`, so the SQL-native
  *     snapshot queries find them without writing conf.
  *
  * Cluster note (100 TB deployment): pass `master = "yarn"` (or k8s://…),
  * `executorMemMb`/`dynamicAllocation` from the submit wrapper; nothing
  * else in the engine changes — all operators size themselves off
  * `spark.sql.shuffle.partitions`.
  *
  * The conf is set here, once. Engine code never writes conf on a session
  * it was handed: several jobs share one session (the reference's `jnum`;
  * Verify runs queries concurrently), so a write would leak into its
  * neighbours' plans. An iterative loop carries its width on its cached,
  * pre-partitioned input (`GraphOps.loopPartitions`); an operator that
  * needs other settings builds its own child session with `newSession()`
  * (`RuntimeFilters.bloomJoin`, `Bucketing.bucketedJoin`, the stream
  * replays).
  */
object Sessions {

  /** Conf key of the `graftwh` catalog's warehouse directory. */
  val WarehouseKey = "spark.sql.catalog.graftwh.warehouse"

  /** Engine session sizing — field-per-knob mirror of the reference's
    * GlobalConf (`workflow.py:20-31`). */
  final case class Conf(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      appName: String = "graft",
      /** per-stage task count (reference slots×nodes; GlobalConf.tasksPerNode) */
      numTasks: Int = Runtime.getRuntime.availableProcessors(),
      /** concurrent jobs sharing the session (GlobalConf.jnum) */
      concurrentJobs: Int = 1,
      /** executor memory MB (GlobalConf.task_manager_mem) — cluster masters only */
      executorMemMb: Option[Int] = None,
      /** driver memory MB (GlobalConf.job_manager_mem) — cluster masters only */
      driverMemMb: Option[Int] = None,
      /** YARN dynamic executors (the reference sizes -n statically; off) */
      dynamicAllocation: Boolean = false,
      extra: Map[String, String] = Map.empty)

  /** The knob mapping, exposed as data so SessionsSpec can pin it without
    * building a session. */
  def sparkConf(c: Conf): Map[String, String] = {
    val base = Map(
      "spark.sql.shuffle.partitions" -> c.numTasks.toString,
      "spark.default.parallelism" -> c.numTasks.toString,
      // engine-wide invariants shared by every entry point
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      // events.ts is TIMESTAMP(NANOS) parquet; read as BIGINT nanos
      // (converted to µs timestamps in Tables.events)
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // the native function table, in this session and its children
      "spark.sql.extensions" -> "graft.functions.GraftExtensions",
      // path-addressed snapshot-log tables in SQL text (stateless plugin)
      "spark.sql.catalog.graftsnap" -> "graft.sources.SnaplogCatalog",
      // name-addressed ones, in a warehouse private to this driver JVM
      "spark.sql.catalog.graftwh" -> "graft.sources.SnaplogCatalog",
      WarehouseKey -> (System.getProperty("java.io.tmpdir") +
        s"/graft_wh_${ProcessHandle.current().pid()}"),
      // reliable-checkpoint hygiene (Checkpoints.reliableKey): clean a
      // checkpoint's files once its RDD is GC'd, so iterative loops
      // don't grow the checkpoint dir by one dataset copy per round
      // (must be set at context build — ContextCleaner reads it once)
      "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true")
    val fair =
      if (c.concurrentJobs > 1) Map("spark.scheduler.mode" -> "FAIR")
      else Map.empty[String, String]
    val mem = c.executorMemMb.map(m => "spark.executor.memory" -> s"${m}m").toMap ++
      c.driverMemMb.map(m => "spark.driver.memory" -> s"${m}m").toMap
    val dyn =
      if (c.dynamicAllocation)
        Map("spark.dynamicAllocation.enabled" -> "true",
            "spark.dynamicAllocation.shuffleTracking.enabled" -> "true")
      else Map.empty[String, String]
    base ++ fair ++ mem ++ dyn ++ c.extra
  }

  /** Session start + await (the `_start_flink_yarn_session` +
    * RUNNING-poll analogue — synchronous in Spark). */
  def build(c: Conf): SparkSession = {
    val b = SparkSession.builder().master(c.master).appName(c.appName)
    sparkConf(c).foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The sandbox entry-point conf: SPARK_GRAFT_CPUS threads, one task per
    * thread (Bench and Verify both build through this). */
  def local(defaultCpus: Int = 4, appName: String = "graft"): Conf = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(defaultCpus)
    Conf(master = s"local[$cpus]", appName = appName, numTasks = cpus)
  }
}
