package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One Spark job as the listener saw it. `layer` and `file` name the
  * innermost program frame of the job's call site (`core`/`Tables.scala`,
  * `operators`/`GraphOps.scala`, ...); `bench` means the benchmark's own
  * final action, `streaming` a micro-batch of a running stream. */
final class JobRec(val id: Int, val start: Long, val layer: String,
                   val file: String, val group: String, val desc: String) {
  var end: Long = -1L
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var output = 0L
  var input = 0L
  def seconds: Double = if (end < start) 0.0 else (end - start) / 1e3
}

/** One micro-batch's progress, as Structured Streaming reports it. */
final case class BatchRec(query: String, durations: Map[String, Long],
                          inputRows: Long, stateRows: Long,
                          stateMemory: Long, stateCommitMs: Long)

/** Cumulative code-generation counters (process-wide). */
final case class Codegen(count: Long, sumMs: Double, classes: Long, meanMs: Double)

/** The traced run's instruments: a SparkListener, a StreamingQueryListener
  * and CodegenMetrics readings, attached only while a traced operation
  * runs. Records stay in memory until [[take]] hands them to the caller. */
final class Tracer(spark: SparkSession) {
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, JobRec]
  private val batches = mutable.ArrayBuffer.empty[BatchRec]

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).getOrElse("")
      val details = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val (layer, file) =
        if (prop("sql.streaming.queryId").nonEmpty) ("streaming", "")
        else Tracer.attribute(details)
      val rec = new JobRec(e.jobId, e.time, layer, file,
        prop("spark.jobGroup.id"), prop("spark.job.description"))
      Tracer.this.synchronized {
        jobs += rec
        e.stageIds.foreach(stageToJob(_) = rec)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        stageToJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        stageToJob.get(e.stageId).foreach { r =>
          r.tasks += 1
          val m = e.taskMetrics
          if (m != null) {
            r.taskMs += m.executorRunTime
            r.gcMs += m.jvmGCTime
            r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            r.output += m.outputMetrics.bytesWritten
            r.input += m.inputMetrics.bytesRead
          }
        }
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        jobs.find(_.id == e.jobId).foreach(_.end = e.time)
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = Option(p.durationMs).map { m =>
        val b = Map.newBuilder[String, Long]
        m.forEach((k, v) => b += k -> v.longValue)
        b.result()
      }.getOrElse(Map.empty)
      val ops = Option(p.stateOperators).getOrElse(Array.empty)
      val rec = BatchRec(Option(p.name).getOrElse(""), d, p.numInputRows,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum)
      Tracer.this.synchronized { batches += rec }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
    take()
  }

  /** Everything recorded since the previous call, after the listener bus
    * has delivered every event posted so far. */
  def take(): (Seq[JobRec], Seq[BatchRec]) = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val out = (jobs.toList, batches.toList)
      jobs.clear(); batches.clear(); stageToJob.clear()
      out
    }
  }
}

object Tracer {
  private val Program = Seq("graft.", "perfbench.")

  /** (layer, file) of the innermost program frame in a long call site.
    * Frames look like `graft.operators.GraphOps$.pagerank(GraphOps.scala:120)`. */
  def attribute(callSite: String): (String, String) =
    callSite.split('\n').iterator.map(_.trim)
      .find(f => Program.exists(f.startsWith)) match {
        case Some(f) =>
          val file = f.substring(f.lastIndexOf('(') + 1).takeWhile(_ != ':')
          val layer = if (f.startsWith("perfbench.")) "bench" else f.split('.')(1)
          (layer, file)
        case None => ("spark", "")
      }

  /** The histogram keeps every sample while it holds at most this many
    * (Codahale's exponentially decaying reservoir), so sums are exact
    * below it and estimated from the mean above. */
  private val ReservoirSize = 1028

  def codegen(): Codegen = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    Codegen(h.getCount, snap.getValues.sum.toDouble,
      CodegenMetrics.METRIC_GENERATED_CLASS_BYTECODE_SIZE.getCount, snap.getMean)
  }

  /** (compile ms, generated classes) between two readings. */
  def codegenDelta(a: Codegen, b: Codegen): (Double, Long) = {
    val ms =
      if (b.count <= ReservoirSize) b.sumMs - a.sumMs
      else (b.count - a.count) * b.meanMs
    (ms, b.classes - a.classes)
  }

  /** Seconds of `[from, to]` (epoch ms) covered by no job. */
  def idleSeconds(from: Long, to: Long, js: Seq[JobRec]): Double = {
    val iv = js.filter(_.end >= 0).map(j => (math.max(from, j.start), math.min(to, j.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, (to - from) - covered) / 1e3
  }
}
