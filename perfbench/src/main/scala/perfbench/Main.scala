package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.core.Sessions
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` generates the inputs, starts this
  * program, then checks its outputs and reports.
  *
  * Usage: perfbench.Main <workload> <seed> <passes> <warmupPasses>
  *        <trace 0|1> <workDir> <inputDir> <resultFile> [awkScript]
  *
  * Writes one JSON result file: set-up time, every operation with its
  * latency and outcome, and, when traced, per-operation layer figures and
  * spans. Nothing is written outside `workDir` and `resultFile`.
  */
object Main {
  lazy val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, passes, warmup, trace, work, input, result) = args.take(8)
    val traced = trace == "1"
    // run.py points SPARK_LOCAL_DIRS (which overrides spark.local.dir)
    // into the work directory too
    val conf = Sessions.local(appName = "perfbench").copy(extra = Map(
      "spark.sql.warehouse.dir" -> s"$work/warehouse"))

    // set-up, once per JVM as a user pays it: from JVM start until the
    // session is built and has run its first job
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = Sessions.build(conf)
    val sessionBuild = (System.nanoTime() - t0) / 1e9
    warmJob(spark)
    val setup = (System.currentTimeMillis() - jvmStart) / 1e3

    val load = new LoadSampler
    load.start()
    val out: Map[String, Any] =
      try workload match {
        case "genomics" =>
          Genomics.run(spark, seed.toLong, passes.toInt, warmup.toInt, traced,
            work, input, args(8))
        case w =>
          Catalog.run(spark, w, seed.toLong, passes.toInt, warmup.toInt, traced,
            work, input)
      } catch {
        case e: Throwable =>
          Map("fatal" -> s"${e.getClass.getName}: ${e.getMessage}")
      }
    val externalShare = load.finish()
    val res = out ++ Map(
      "workload" -> workload, "seed" -> seed.toLong, "cores" -> cores,
      "warmup" -> warmup.toInt,
      "setup_s" -> setup, "session_build_s" -> sessionBuild,
      "peak_rss_mb" -> peakRssMb(),
      "external_cpu_share" -> externalShare,
      "loadavg" -> loadavg())
    Files.writeString(Paths.get(result),
      JsonMapper.builder().addModule(DefaultScalaModule).build().writeValueAsString(res))
    spark.stop()
  }

  /** The session's first job: one small shuffled aggregate. */
  private def warmJob(spark: SparkSession): Unit =
    spark.range(1000).groupBy(org.apache.spark.sql.functions.col("id") % 7).count()
      .collect()

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds used so far by this JVM and its finished child processes
    * (the aligners); /proc/self/stat counts children in clock ticks. */
  def cpuSeconds(): Double = {
    val f = new String(Files.readAllBytes(Paths.get("/proc/self/stat")))
      .split("\\) ")(1).split(' ')
    os.getProcessCpuTime / 1e9 + (f(13).toLong + f(14).toLong) / 100.0
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  private def loadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Mean share of the machine's CPU used outside this JVM while the
    * workload ran (system load minus process load, sampled every 100 ms). */
  private final class LoadSampler extends Thread {
    private val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    @volatile private var running = true
    private var sum = 0.0
    private var n = 0
    setDaemon(true)
    override def run(): Unit = while (running) {
      val sys = os.getCpuLoad
      val proc = os.getProcessCpuLoad
      if (sys >= 0 && proc >= 0) synchronized { sum += math.max(0.0, sys - proc); n += 1 }
      Thread.sleep(100)
    }
    def finish(): Double = {
      running = false
      join(1000)
      synchronized { if (n == 0) 0.0 else sum / n }
    }
  }
}
