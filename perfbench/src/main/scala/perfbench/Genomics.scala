package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.genomics._
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel

/** The paper's job: BCL decode → chastity filter → demux → partitioned
  * gzip PRQ sink (stage 1, `bcl`), then sample discovery and concurrent
  * per-sample alignment through an external process (stage 2, `align`).
  *
  * One operation is one `Pipeline.run` over the generated flowcell. The
  * stand-in aligner is `align.awk`; each process also writes its SAM to its
  * own file, which the output check reads.
  */
object Genomics {

  /** `sh` only names the process's SAM file; the per-line work is awk's. */
  def alignCmd(awk: String, samDir: String): Seq[String] =
    Seq("sh", "-c", "exec awk -v out=\"$(mktemp -p \"$1\" XXXXXXXX.sam)\" -f \"$2\"",
      "sh", samDir, awk)

  /** `sheet.tsv`: a `r1 index r2` line, then one `sample barcode` line each. */
  def readSheet(genDir: String): (ReadStructure, Seq[(String, String)]) = {
    val lines = Files.readAllLines(Paths.get(genDir, "sheet.tsv")).asScala
      .map(_.split('\t'))
    val Array(r1, idx, r2) = lines.head.map(_.toInt)
    (ReadStructure(r1, idx, r2), lines.tail.map(a => a(0) -> a(1)).toSeq)
  }

  def run(spark: SparkSession, seed: Long, passes: Int, warmup: Int,
          trace: Boolean, work: String, genDir: String, awk: String)
      : Map[String, Any] = {
    val runDir = s"$genDir/run"
    val (rs, sheet) = readSheet(genDir)
    val tracer = new Tracer(spark)
    val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]

    def pipeline(traced: Boolean, pair: Boolean): Unit = {
      val k = runs.size
      val prq = s"$work/g/prq_$k"
      val sam = s"$work/g/sam_$k"
      Files.createDirectories(Paths.get(sam))
      if (traced) tracer.attach()
      val cpu0 = Main.cpuSeconds()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val res =
        try Right(Pipeline.run(spark, runDir, rs, sheet, prq, alignCmd(awk, sam)))
        catch { case e: Throwable => Left(e) }
      val secs = (System.nanoTime() - t0) / 1e9
      val cpu = Main.cpuSeconds() - cpu0
      val endMs = startMs + (secs * 1e3).toLong
      val layers =
        if (!traced) Map.empty[String, Any]
        else {
          val (jobs, _) = tracer.take()
          tracer.detach()
          val opId = spans.size
          spans += Map("id" -> opId, "parent" -> null, "name" -> "Pipeline.run",
            "kind" -> "pipeline", "start" -> startMs, "end" -> endMs)
          jobs.zipWithIndex.foreach { case (j, i) =>
            spans += Map("id" -> (opId + 1 + i), "parent" -> opId,
              "name" -> s"job ${j.id} ${j.layer}/${j.file} ${j.desc}",
              "kind" -> "job", "start" -> j.start, "end" -> j.end)
          }
          pipelineLayers(jobs, startMs, endMs)
        }
      val failure = res match {
        case Left(e) => Some(e)
        case Right(r) => r.failed
      }
      runs += Map(
        "pass" -> k, "traced" -> traced, "pair" -> pair, "latency_s" -> secs,
        "cpu_s" -> cpu,
        "ok" -> failure.isEmpty,
        "error" -> failure.map(e => s"${e.getClass.getName}: ${e.getMessage}"),
        "prq" -> prq, "sam" -> sam,
        "samples" -> res.toOption.map(_.samples).getOrElse(Nil),
        "aligned" -> res.toOption.map(_.alignedCounts).getOrElse(Map.empty),
        "layers" -> layers)
    }

    // the first `warmup` runs warm the JVM's code paths and are not
    // measured; a traced run traces the runs after them
    for (p <- 0 until passes) pipeline(traced = trace && p >= warmup, pair = false)
    if (trace) {
      // trace overhead: one more run each way, the seed choosing the order
      val modes = if (seed % 2 == 0) Seq(false, true) else Seq(true, false)
      modes.foreach(pipeline(_, pair = true))
    }

    val extra =
      if (!trace) Map.empty[String, Any]
      else Map(
        "staged" -> guard(staged(spark, tracer, runDir, rs, sheet, s"$work/g/staged")),
        "baseline" -> guard(baseline(spark, s"$genDir/fastq", awk, s"$work/g/baseline")))
    Map("runs" -> runs, "spans" -> spans) ++ extra
  }

  /** Stage split of one traced `Pipeline.run`: stage 1 ends with its last
    * job outside the alignment job group; the rest is discovery plus
    * alignment. Per-sample alignment time is that sample's job. */
  private def pipelineLayers(jobs: Seq[JobRec], startMs: Long, endMs: Long)
      : Map[String, Any] = {
    val (align, stage1) = jobs.partition(_.group.startsWith("graft-align-"))
    val bclEnd = if (stage1.isEmpty) startMs else stage1.map(_.end).max
    val perSample = align.groupBy(_.desc).map { case (d, js) =>
      d.stripPrefix("align ") -> js.map(_.seconds).sum
    }
    Layers.jobTotals(jobs, startMs, endMs) ++ Map(
      "bcl_s" -> (bclEnd - startMs) / 1e3,
      "align_s" -> (endMs - bclEnd) / 1e3,
      "align_sample_s" -> perSample)
  }

  private def guard(f: => Map[String, Any]): Map[String, Any] =
    try Map("ok" -> true) ++ f
    catch { case e: Throwable =>
      Map("ok" -> false, "error" -> s"${e.getClass.getName}: ${e.getMessage}")
    }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Each public call of stage 1 timed and forced on its own: decode (the
    * `decodeRun` call, which lists the run's files, then its count),
    * filter + demux, sink, sample listing, then the PRQ source reading
    * every sample back. Counts give the useful-to-attempted ratios. */
  private def staged(spark: SparkSession, tracer: Tracer, runDir: String,
                     rs: ReadStructure, sheet: Seq[(String, String)],
                     prq: String): Map[String, Any] = {
    tracer.attach()
    val (decoded, listS0) = timed(Bcl.decodeRun(spark, runDir, rs))
    decoded.persist(StorageLevel.MEMORY_ONLY)
    val (clusters, countS) = timed(decoded.count())
    val (decodeJobs, _) = tracer.take()
    val filtered = Bcl.applyFilter(decoded)
    val demuxed = Demux.demux(filtered, sheet).persist(StorageLevel.MEMORY_ONLY)
    val (pf, demuxS) = timed(demuxed.count())
    val assigned = Demux.dropUndetermined(demuxed)
    val nAssigned = assigned.count()
    val (_, sinkS) = timed(Codecs.writePartitionedGzip(assigned, prq))
    val (samples, listS) = timed(Codecs.listSamplePartitions(spark, prq))
    val (readBack, prqReadS) = timed(samples.map(s =>
      Pipeline.readSamplePrq(spark, prq, s).count()).sum)
    tracer.detach()
    decoded.unpersist(); demuxed.unpersist()
    val inputBytes = Files.walk(Paths.get(runDir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        (p.toString.endsWith(".bcl") || p.toString.endsWith(".filter")))
      .map(Files.size).sum
    Map(
      "decode_s" -> (listS0 + countS), "decode_listing_s" -> listS0,
      "demux_s" -> demuxS, "sink_s" -> sinkS,
      "list_samples_s" -> listS, "prq_read_s" -> prqReadS,
      "clusters" -> clusters, "pf" -> pf, "assigned" -> nAssigned,
      "read_back" -> readBack, "samples" -> samples,
      "decode_shuffle_bytes" -> decodeJobs.map(_.shuffleWrite).sum,
      "input_bytes" -> inputBytes,
      "sink_bytes" -> dirBytes(Paths.get(prq)))
  }

  /** The paper's single-node arm: bcl2fastq-style FASTQ aligned one sample
    * at a time with the same stand-in aligner. */
  private def baseline(spark: SparkSession, fastqDir: String, awk: String,
                       sam: String): Map[String, Any] = {
    Files.createDirectories(Paths.get(sam))
    val (counts, secs) =
      timed(FastqBaseline.runSequential(spark, fastqDir, alignCmd(awk, sam)))
    Map("latency_s" -> secs, "sam" -> sam, "aligned" -> counts)
  }

  private def dirBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}
