package graft.genomics

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, concat_ws}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

/** End-to-end pipeline orchestration — the reference driver's semantics
  * (`workflow.py:512-548`) re-expressed over Spark actions:
  *
  *  Stage 1: decode + filter + demux + partitioned PRQ sink. The driver
  *    lists the run once and builds the demux dictionary; the decode is one
  *    task per tile that also assigns samples, and the one shuffle of the
  *    stage spreads reads by id over the sink's writers.
  *  Stage 2: per-sample alignment, ALL samples launched concurrently
  *    (`workflow.py:503`) as parallel actions on one SparkSession; Spark's
  *    scheduler takes the place of YARN app polling (R11). Each sample's
  *    action reads ONLY its own `sample=<s>/` partition directory — the same
  *    pruning the reference gets by globbing each sample's subdirectory
  *    (`workflow.py:491-503`); stage-2 input I/O is O(dataset), not
  *    O(samples × dataset).
  *  Fail-fast: first sample failure cancels the job group INCLUDING jobs not
  *    yet submitted (`cancelJobGroupAndFutureJobs`), and each sample future
  *    re-checks the failure flag before submitting work — queued siblings
  *    never start their scans (`workflow.py:464-471`'s kill-all, with bounded
  *    work even when samples outnumber pool threads).
  *  Eager cleanup (`remove_output`, `workflow.py:37,450-452`): each sample's
  *    output is deleted as soon as its action completes, bounding peak
  *    storage — the property that matters when the intermediate is tens of
  *    TB.
  */
object Pipeline {

  final case class Result(samples: Seq[String], alignedCounts: Map[String, Long],
                          failed: Option[Throwable])

  private final class AbortedException(cause: Throwable)
    extends RuntimeException("aborted: sibling sample failed", cause)

  /** Read one sample's PRQ lines via its partition directory — a single-dir
    * scan (partition-pruned by construction; the sink lays out
    * `sample=<s>/`, `Codecs.writePartitionedGzip`). Reads through the PRQ
    * DataSource V2 ([[graft.sources.PrqDataSource]] — one InputPartition
    * per gzip file) and re-joins the tab line the external aligner
    * consumes; field-split + rejoin is the identity on well-formed PRQ, so
    * the piped bytes are the sink's lines. */
  def readSamplePrq(spark: SparkSession, prqDir: String, sample: String): Dataset[String] = {
    import spark.implicits._
    spark.read.format("prq")
      .load(s"$prqDir/sample=${Codecs.escapePartitionValue(sample)}")
      .select(concat_ws("\t", col("id"), col("seq1"), col("qual1"),
        col("seq2"), col("qual2")).as("value"))
      .as[String]
  }

  /** Run stage 1 into `prqDir`, then align each sample concurrently with
    * `align` (sample, lines) => aligned lines; `onSampleDone` is the eager
    * cleanup hook, called with each sample's name as it finishes.
    */
  def run(spark: SparkSession, runDir: String, rs: ReadStructure,
          sheet: Seq[(String, String)], prqDir: String,
          alignCmd: Seq[String],
          onSampleDone: String => Unit = _ => ())
      : Result = {
    // Stage 1 (R1-R8): decode → chastity filter → demux → drop Undetermined
    // → partitioned gzip PRQ
    val reads = Demux.demux(
      Bcl.applyFilter(Bcl.decodeRun(spark, runDir, rs)), sheet)
    Codecs.writePartitionedGzip(Demux.dropUndetermined(reads), prqDir)

    // R9: sample discovery from the sink's partition directories — a
    // driver-side listing (same as `workflow.py:398-405`), no data scan
    val samples = Codecs.listSamplePartitions(spark, prqDir)

    // Stage 2 (R10/R11): concurrent per-sample alignment, fail-fast
    implicit val ec: ExecutionContext = ExecutionContext.global
    val firstError = new AtomicReference[Throwable](null)
    val counts = new ConcurrentLinkedQueue[(String, Long)]()
    val jobGroup = s"graft-align-${System.nanoTime()}"
    def abortIfFailed(): Unit = {
      val e = firstError.get()
      if (e != null) throw new AbortedException(e)
    }
    val futures = samples.map { sample =>
      Future {
        abortIfFailed() // a queued sibling of a failed sample never starts
        spark.sparkContext.setJobGroup(jobGroup, s"align $sample",
          interruptOnCancel = true)
        try {
          val lines = readSamplePrq(spark, prqDir, sample)
          abortIfFailed() // last gate before the job is submitted
          val n = ExternalProcessMap.pipePartitions(lines, alignCmd).count()
          counts.add(sample -> n)
          onSampleDone(sample) // eager remove_output slot
        } finally {
          // the pool thread is recycled: left tagged with a cancelled group,
          // a later unrelated action submitted from it would be killed by
          // cancelJobGroupAndFutureJobs's persistent future-jobs cancel
          spark.sparkContext.clearJobGroup()
        }
      }.andThen {
        case Failure(_: AbortedException) => () // not the root cause
        case Failure(e) =>
          // kill-all: first failure cancels every sibling action, running
          // AND not-yet-submitted (Spark 4 future-jobs overload)
          if (firstError.compareAndSet(null, e))
            spark.sparkContext.cancelJobGroupAndFutureJobs(jobGroup)
        case Success(_) => ()
      }
    }
    futures.foreach(f => Try(Await.result(f, Duration.Inf)))
    val out = scala.jdk.CollectionConverters.IteratorHasAsScala(
      counts.iterator()).asScala.toMap
    Result(samples, out, Option(firstError.get()))
  }
}
