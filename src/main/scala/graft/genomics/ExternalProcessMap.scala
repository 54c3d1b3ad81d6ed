package graft.genomics

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.Dataset

/** External-process map (SURVEY §2A R10/R17): stream a partition's lines
  * through a subprocess (aligner stand-in), yielding its stdout lines.
  *
  * This is the reference's per-sample `seal seqal` / `bwa mem` fan-out
  * (`workflow.py:491-503`, `baseline_workflow.py:143-147`) turned into a
  * partition-level operator: `Pipeline.run` reads each sample's PRQ
  * partition on its own (`Pipeline.readSamplePrq`) and pipes it, so every
  * sample's reads flow through its own process instances, concurrently
  * across the cluster — the fan-out and the "monitored join" (R11)
  * collapse into Spark's own task scheduling and fail-fast retry.
  *
  * Failure contract (R11, `workflow.py:464-471`): a nonzero exit code throws
  * in the task (with the tail of the process's stderr in the message) →
  * Spark retries the task, then fails the job, cancelling the other
  * partitions — the kill-all semantics of the reference's `_wait`.
  *
  * Pipe hygiene (the three classic subprocess deadlocks/losses):
  *  - stdin is fed from a separate writer thread (no write/read deadlock),
  *    which runs with the task's `TaskContext`, as `PipedRDD`'s does;
  *  - stderr is drained concurrently into a bounded tail buffer — a chatty
  *    aligner can emit unbounded diagnostics without ever filling the ~64 KB
  *    pipe and wedging the task;
  *  - writer-thread IO errors are propagated into the task. A broken pipe is
  *    *expected* when the process fails (it died mid-input; the exit-code
  *    check reports the real cause), but a process that exits 0 after
  *    reading only part of its stdin would silently truncate output — that
  *    case surfaces as an error instead.
  *
  * Output is consumed lazily: stdout rows flow straight into the
  * downstream iterator without materializing a partition's output (tens
  * of GB for a real aligner) in memory.
  */
object ExternalProcessMap {

  /** Bytes of trailing stderr kept for error messages. */
  private val StderrTailBytes = 8192

  /** How long to wait for the stdin writer after the process closes stdout.
    * A child that closes stdout but stops READING stdin without exiting
    * leaves the writer blocked on a full pipe forever — bounded join +
    * forcible kill turns that hang into a task failure with a diagnostic. */
  private[genomics] val DefaultWriterJoinTimeoutMs = 600000L

  /** Start `cmd`, feed it `input` from a writer thread, and return a lazy
    * iterator over its stdout lines. On stdout EOF: joins the writer
    * (bounded — see `DefaultWriterJoinTimeoutMs`), checks the exit code
    * (nonzero → exception carrying the stderr tail), and re-throws any
    * unexpected writer-side IO error.
    */
  private[genomics] def pipe(input: Iterator[String], cmd: Seq[String],
                             ctx: String,
                             writerJoinTimeoutMs: Long = DefaultWriterJoinTimeoutMs)
      : Iterator[String] = {
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(false)
    val proc = pb.start()
    val context = org.apache.spark.TaskContext.get()
    // job cancellation (Pipeline's kill-all) must also kill the aligner —
    // the reference's `_wait` kills child processes, not just the driver loop
    Option(context).foreach(
      _.addTaskCompletionListener[Unit](_ => proc.destroyForcibly()))

    // stderr drain: consume everything, keep only the tail for diagnostics
    val errTail = new java.lang.StringBuilder
    val drainer = new Thread(() => {
      val r = new BufferedReader(
        new InputStreamReader(proc.getErrorStream, "UTF-8"))
      try {
        val buf = new Array[Char](4096)
        var n = r.read(buf)
        while (n >= 0) {
          errTail.synchronized {
            errTail.append(buf, 0, n)
            if (errTail.length > StderrTailBytes)
              errTail.delete(0, errTail.length - StderrTailBytes)
          }
          n = r.read(buf)
        }
      } catch { case _: java.io.IOException => () } // stream closed on kill
      finally r.close()
    }, s"graft-pipe-stderr")
    drainer.setDaemon(true)
    drainer.start()

    val writerError = new AtomicReference[Throwable](null)
    val writer = new Thread(() => {
      // pulling `input` may open a partition reader (a coalesced scan opens
      // one per file), which needs the task's context on this thread
      if (context != null) org.apache.spark.GraftTaskContext.set(context)
      val w = new BufferedWriter(
        new OutputStreamWriter(proc.getOutputStream, "UTF-8"))
      try {
        input.foreach { l => w.write(l); w.newLine() }
        w.close()
      } catch {
        case e: Throwable =>
          // IOException is expected iff the process died (the exit-code
          // check reports that); recorded so an exit-0-after-partial-stdin
          // run — or an upstream iterator failure — still fails the task
          writerError.set(e)
          try w.close() catch { case _: java.io.IOException => () }
      }
    }, s"graft-pipe-stdin")
    writer.setDaemon(true)
    writer.start()

    def stderrMsg: String = errTail.synchronized {
      val s = errTail.toString.trim
      if (s.isEmpty) "" else s"; stderr tail: $s"
    }

    val r = new BufferedReader(
      new InputStreamReader(proc.getInputStream, "UTF-8"))
    new Iterator[String] {
      private var nextLine = r.readLine()
      private var finished = false
      def hasNext: Boolean = {
        if (nextLine == null && !finished) {
          finished = true
          writer.join(writerJoinTimeoutMs)
          if (writer.isAlive) {
            // stdout is closed but the child is still holding stdin open
            // without reading it — kill it and fail loudly instead of
            // hanging the task until the scheduler gives up
            proc.destroyForcibly()
            writer.join(10000)
            throw new RuntimeException(
              s"external process $ctx $cmd closed stdout but stopped " +
                s"reading stdin (writer still blocked after " +
                s"$writerJoinTimeoutMs ms; process killed)$stderrMsg")
          }
          drainer.join(10000)
          val code = proc.waitFor()
          if (code != 0)
            throw new RuntimeException(
              s"external process $ctx $cmd exited $code$stderrMsg")
          val we = writerError.get()
          if (we != null)
            throw new RuntimeException(
              s"external process $ctx $cmd exited 0 but failed reading its " +
                s"stdin (output may be truncated)$stderrMsg", we)
        }
        nextLine != null
      }
      def next(): String = {
        val l = nextLine; nextLine = r.readLine(); l
      }
    }
  }

  /** One process per non-empty partition of `lines`, its stdout lines as
    * the partition's output. */
  def pipePartitions(lines: Dataset[String], cmd: Seq[String]): Dataset[String] = {
    import lines.sparkSession.implicits._
    lines.mapPartitions { it =>
      if (it.isEmpty) Iterator.empty else pipe(it, cmd, "partition")
    }
  }
}
