package graft.bench

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** experiment.py-parity tests: retries, fail-fast, CSV schema/append,
  * stage-time regex extraction. No SparkSession needed. */
class ExperimentSpec extends AnyFunSuite {

  test("stage times parse with the reference's regexes") {
    val log = """...noise...
      |Seconds for bcl conversion: 123.45
      |more noise
      |Seconds for alignment: 67.80
      |""".stripMargin
    assert(Experiment.parseStageTimes(log) == (Some(123.45), Some(67.8)))
    assert(Experiment.parseStageTimes("nothing here") == (None, None))
  }

  test("retries then success; every attempt recorded") {
    var calls = 0
    val res = Experiment.run(rep => {
      calls += 1
      if (calls == 1) throw new RuntimeException("flaky")
      StageTimes(1.0, 2.0)
    }, repeats = 2, maxRetries = 3)
    assert(res.length == 3) // fail, success, success
    assert(res.map(a => (a.repeatNum, a.attemptNum, a.retcode)) ==
      Seq((1, 1, 1), (1, 2, 0), (2, 1, 0)))
  }

  test("fail-fast abort after max retries") {
    val e = intercept[RuntimeException] {
      Experiment.run(_ => throw new RuntimeException("always"),
        repeats = 3, maxRetries = 2)
    }
    assert(e.getMessage.contains("aborting"))
  }

  test("preRun cache-drop barrier precedes every attempt, retries included") {
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    var calls = 0
    Experiment.run(rep => {
      calls += 1
      events += s"run_$calls"
      if (calls == 2) throw new RuntimeException("flaky") // rep2 attempt1
      StageTimes(1.0, 2.0)
    }, repeats = 2, maxRetries = 2,
      preRun = () => events += s"pre_${calls + 1}")
    // the barrier fires immediately before EACH attempt — including the
    // retry of the failed attempt (experiment.py clears caches per run)
    assert(events.toSeq ==
      Seq("pre_1", "run_1", "pre_2", "run_2", "pre_3", "run_3"))
  }

  test("CacheDrop barrier clears Spark's block cache and never throws") {
    val spark = graft.SparkSpec.spark
    val df = spark.range(100).toDF("x").cache()
    assert(df.count() == 100)
    assert(!spark.sparkContext.getPersistentRDDs.isEmpty, "cache must be live")
    CacheDrop.barrier(spark)()                 // driver-side drop
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "clearCache must drop every cached block")
    val df2 = spark.range(10).toDF("x").cache()
    df2.count()
    CacheDrop.barrier(spark, executorSlots = 4)() // cluster-shaped fan-out
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    // OS drop is best-effort: unprivileged containers report false
    val _ = CacheDrop.dropOsCaches()
  }

  test("CSV has header once and appends across runs") {
    val csv = Files.createTempFile("graft_exp", ".csv").toString
    Files.delete(Paths.get(csv))
    Experiment.run(_ => StageTimes(1.0, 2.0), repeats = 2, maxRetries = 1,
      csvPath = Some(csv))
    Experiment.run(_ => StageTimes(3.0, 4.0), repeats = 1, maxRetries = 1,
      csvPath = Some(csv))
    val lines = Files.readAllLines(Paths.get(csv))
    assert(lines.get(0) == Experiment.CsvHeader)
    assert(lines.size == 4)
    assert(lines.get(3).split(",")(5) == "3.0")
  }

  test("R26 session factory pins the reference knob mapping") {
    import graft.core.Sessions
    // workflow.py GlobalConf analogues: slots×nodes → task count, jnum → FAIR,
    // tm/jm memory → executor/driver conf, static allocation by default
    val c = Sessions.Conf(master = "yarn", numTasks = 128, concurrentJobs = 2,
      executorMemMb = Some(80000), driverMemMb = Some(10000))
    val m = Sessions.sparkConf(c)
    assert(m("spark.sql.shuffle.partitions") == "128")
    assert(m("spark.default.parallelism") == "128")
    assert(m("spark.scheduler.mode") == "FAIR")            // jnum=2
    assert(m("spark.executor.memory") == "80000m")          // task_manager_mem
    assert(m("spark.driver.memory") == "10000m")            // job_manager_mem
    assert(!m.contains("spark.dynamicAllocation.enabled")) // -n is static
    // single-job session: FIFO default, no memory overrides leak in
    val solo = Sessions.sparkConf(Sessions.Conf(numTasks = 4))
    assert(!solo.contains("spark.scheduler.mode"))
    assert(!solo.contains("spark.executor.memory"))
    // engine invariants present for every entry point
    assert(solo("spark.sql.session.timeZone") == "UTC")
    assert(solo("spark.sql.adaptive.enabled") == "true")
    assert(solo("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(solo("spark.sql.catalog.graftsnap") == "graft.sources.SnaplogCatalog")
    assert(solo("spark.sql.catalog.graftwh") == "graft.sources.SnaplogCatalog")
    assert(solo(Sessions.WarehouseKey).nonEmpty)
    // the sandbox conf honors SPARK_GRAFT_CPUS-default sizing contract
    val loc = Sessions.local(defaultCpus = 4)
    assert(loc.master.startsWith("local["))
    assert(Sessions.sparkConf(loc)("spark.sql.shuffle.partitions") == loc.numTasks.toString)
  }
}
