package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.core.Tables
import org.apache.spark.sql.{Row, SparkSession}

/** The catalog workload: a fixed list of catalog queries, run one at a
  * time (a closed loop with one client) in an order the seed permutes.
  *
  * One operation is a query's `(spark, sfDir) => DataFrame` build plus its
  * final action, `collect()`. The collected rows are then written to
  * parquet outside the timed region, for the output check.
  */
object Catalog {

  /** The `catalog` workload, in two parts that stress different layers.
    *
    * Short relational queries, where driver work dominates: a SQL-suite
    * query (it registers every table, so parquet schema inference and
    * analysis dominate), an exact and a sketch aggregate, and a top-k
    * window through the TopKPerGroup operator. */
  val relational: Seq[String] = Seq(
    "q_sql_h03", "q_agg_q1", "q_agg_tdigest", "q_win_topk_native")

  /** Job-heavy operators: iterative loops that checkpoint every round
    * (breadth-first search, BPE merge training) and a file-source stream
    * replay that commits state every micro-batch. */
  val loops: Seq[String] = Seq("q_graph_bfs", "q_llm_bpe", "q_stream_tumbling")

  val workloads: Map[String, Seq[String]] = Map("catalog" -> (relational ++ loops))

  def run(spark: SparkSession, workload: String, seed: Long, passes: Int,
          warmup: Int, trace: Boolean, work: String, sfDir: String)
      : Map[String, Any] = {
    val names = workloads(workload)
    val missing = names.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown catalog queries: ${missing.mkString(",")}")
    val order = new scala.util.Random(seed).shuffle(names)
    val tracer = new Tracer(spark)
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    val registerAll = mutable.ArrayBuffer.empty[Double]

    def exec(name: String, pass: Int, traced: Boolean, pair: Boolean): Unit =
      ops += execute(spark, tracer, name, pass, traced, pair, sfDir,
        s"$work/out/${ops.size}_$name", spans)
    // the first `warmup` passes warm the JVM's code paths for these queries
    // and are not measured; a traced run traces the passes after them
    for (p <- 0 until passes; name <- order)
      exec(name, p, trace && p >= warmup, pair = false)
    if (trace) {
      // trace overhead: every other query again, now warm, untraced and
      // traced back to back, alternating which goes first
      order.zipWithIndex.filter(_._2 % 2 == 0).foreach { case (name, i) =>
        val modes = if (i % 4 == 0) Seq(false, true) else Seq(true, false)
        modes.foreach(exec(name, passes, _, pair = true))
      }
      // Tables.registerAll as one call on its own (the SQL-suite queries
      // make the same call inside their builders)
      for (_ <- 0 until 3) {
        val t0 = System.nanoTime()
        Tables.registerAll(spark, sfDir)
        registerAll += (System.nanoTime() - t0) / 1e9
      }
    }

    val oracle = SparkEntry.oracleSql
    Map(
      "ops" -> ops,
      "oracle_sql" -> names.flatMap(n => oracle.get(n).map(n -> _)).toMap,
      "register_all_s" -> registerAll,
      "spans" -> spans)
  }

  private def execute(spark: SparkSession, tracer: Tracer, name: String,
                      pass: Int, traced: Boolean, pair: Boolean, sfDir: String,
                      out: String,
                      spans: mutable.ArrayBuffer[Map[String, Any]]): Map[String, Any] = {
    val q = SparkEntry.queries(name)
    if (traced) tracer.attach()
    val cg0 = Tracer.codegen()
    val cpu0 = Main.cpuSeconds()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = t0
    var rows: Array[Row] = null
    var schema: org.apache.spark.sql.types.StructType = null
    val error =
      try {
        val df = q(spark, sfDir)
        t1 = System.nanoTime()
        schema = df.schema
        rows = df.collect()
        None
      } catch { case e: Throwable => Some(e) }
    val t2 = System.nanoTime()
    val cpu = Main.cpuSeconds() - cpu0
    if (t1 == t0) t1 = t2
    val endMs = startMs + (t2 - t0) / 1000000L
    val layers =
      if (!traced) Map.empty[String, Any]
      else {
        val (ms, classes) = Tracer.codegenDelta(cg0, Tracer.codegen())
        val (jobs, batches) = tracer.take()
        tracer.detach()
        val opId = spans.size
        spans += Map("id" -> opId, "parent" -> null, "name" -> name,
          "kind" -> "query", "start" -> startMs, "end" -> endMs)
        spans += Map("id" -> (opId + 1), "parent" -> opId, "name" -> "build",
          "kind" -> "build", "start" -> startMs,
          "end" -> (startMs + (t1 - t0) / 1000000L))
        jobs.zipWithIndex.foreach { case (j, k) =>
          spans += Map("id" -> (opId + 2 + k), "parent" -> opId,
            "name" -> s"job ${j.id} ${j.layer}/${j.file}", "kind" -> "job",
            "start" -> j.start, "end" -> j.end)
        }
        Layers.query(jobs, batches, startMs, endMs, (t1 - t0) / 1e9,
          (t2 - t1) / 1e9, ms, classes)
      }
    // the output check reads this file; written outside the timed region
    val failure = error.orElse {
      try {
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(out)
        None
      } catch { case e: Throwable => Some(e) }
    }
    Map("name" -> name, "pass" -> pass, "traced" -> traced, "pair" -> pair,
      "build_s" -> (t1 - t0) / 1e9, "exec_s" -> (t2 - t1) / 1e9,
      "latency_s" -> (t2 - t0) / 1e9, "cpu_s" -> cpu, "ok" -> failure.isEmpty,
      "error" -> failure.map(e => s"${e.getClass.getName}: ${e.getMessage}"),
      "out" -> (if (failure.isEmpty) out else null), "layers" -> layers)
  }
}

/** Per-operation layer figures from the traced run's job and batch
  * records. */
object Layers {
  private def sum(js: Seq[JobRec])(f: JobRec => Double): Double = js.map(f).sum

  def jobTotals(jobs: Seq[JobRec], startMs: Long, endMs: Long): Map[String, Any] = {
    val wall = math.max(1L, endMs - startMs) / 1e3
    val taskS = sum(jobs)(_.taskMs / 1e3)
    Map(
      "jobs" -> jobs.size,
      "stages" -> jobs.map(_.stages).sum,
      "tasks" -> jobs.map(_.tasks).sum,
      "task_s" -> taskS,
      "gc_s" -> sum(jobs)(_.gcMs / 1e3),
      "shuffle_bytes" -> jobs.map(_.shuffleWrite).sum,
      "spill_bytes" -> jobs.map(_.spill).sum,
      "driver_gap_s" -> Tracer.idleSeconds(startMs, endMs, jobs),
      "core_util" -> taskS / (wall * Main.cores))
  }

  def query(jobs: Seq[JobRec], batches: Seq[BatchRec], startMs: Long,
            endMs: Long, buildS: Double, execS: Double, codegenMs: Double,
            codegenClasses: Long): Map[String, Any] = {
    val byFile = jobs.filter(_.layer == "operators").groupBy(_.file).toSeq
      .sortBy(_._1).map { case (f, js) =>
        f -> Map("jobs" -> js.size, "job_s" -> sum(js)(_.seconds))
      }.toMap
    val snapWrites = jobs.filter(j =>
      j.file.startsWith("SnapshotLog") || j.file.startsWith("Snaplog"))
    def dur(k: String) = batches.map(_.durations.getOrElse(k, 0L)).sum
    jobTotals(jobs, startMs, endMs) ++ Map(
      "build_s" -> buildS,
      "exec_s" -> execS,
      "codegen_ms" -> codegenMs,
      "codegen_classes" -> codegenClasses,
      "schema_jobs" -> jobs.count(_.file == "Tables.scala"),
      "checkpoint_jobs" -> jobs.count(_.file == "Checkpoints.scala"),
      "operator_jobs" -> byFile,
      "operator_output_bytes" -> snapWrites.map(_.output).sum,
      "batches" -> batches.size,
      "batch_ms" -> batches.map(_.durations.getOrElse("triggerExecution", 0L)),
      "input_rows" -> batches.map(_.inputRows).sum,
      "add_batch_ms" -> dur("addBatch"),
      "query_planning_ms" -> dur("queryPlanning"),
      "wal_commit_ms" -> dur("walCommit"),
      "commit_offsets_ms" -> dur("commitOffsets"),
      "state_commit_ms" -> batches.map(_.stateCommitMs).sum,
      "state_rows" -> batches.groupBy(_.query).values
        .map(_.last.stateRows).sum,
      "state_memory_bytes" -> (if (batches.isEmpty) 0L
        else batches.map(_.stateMemory).max))
  }
}
