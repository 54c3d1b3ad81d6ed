package graft.core

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the driver-generated synthetic tables (TESTDATA.md / FIXTURES.md §A).
  *
  * Every query in the catalog receives `(spark, sfDir)` and reads only through
  * these loaders, so partition/pushdown behavior is uniform: one parquet file
  * per table, schema inferred from parquet footers once per file version,
  * filters and column pruning pushed into the scan by Catalyst.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Qualified path → (length, modification time, schema) of the file
    * version the schema was inferred from; shared by every session in the
    * JVM. Every session is built from `Sessions.sparkConf`, which fixes the
    * parquet inference settings (`nanosAsLong`), so the key carries no
    * conf. */
  private val schemas = new ConcurrentHashMap[String, (Long, Long, StructType)]()

  /** Read `dir/name.parquet`. Inferring a parquet schema runs a Spark job
    * over the footers; it runs once per file version: while the path's
    * length and modification time are unchanged, the load reads with the
    * cached schema and runs no job. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = new Path(s"$dir/$name.parquet")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val status =
      try Some(fs.getFileStatus(path))
      catch { case _: FileNotFoundException => None }
    status match {
      case None => spark.read.parquet(path.toString) // its own missing-path error
      case Some(st) =>
        val key = st.getPath.toString
        val (len, mtime) = version(fs, st)
        Option(schemas.get(key)) match {
          case Some((`len`, `mtime`, schema)) =>
            spark.read.schema(schema).parquet(path.toString)
          case _ =>
            val df = spark.read.parquet(path.toString)
            schemas.put(key, (len, mtime, df.schema))
            df
        }
    }
  }

  /** (length, modification time) of a file; of a directory, the total
    * length of the files under it and the latest modification time of it
    * and everything under it (a rewrite replaces the part files). Walks
    * with `listStatus`, which loads no permissions or block locations. */
  private def version(fs: FileSystem, st: FileStatus): (Long, Long) =
    if (!st.isDirectory) (st.getLen, st.getModificationTime)
    else fs.listStatus(st.getPath).map(version(fs, _))
      .foldLeft((0L, st.getModificationTime)) { case ((l, m), (cl, cm)) =>
        (l + cl, math.max(m, cm))
      }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** events.ts is TIMESTAMP(NANOS) parquet, which Spark 4 refuses to map to
    * TimestampType; sessions set spark.sql.legacy.parquet.nanosAsLong=true so
    * the scan yields BIGINT nanos, converted here to a µs timestamp. The
    * source data is µs-granular (verified), so `div 1000` is lossless.
    */
  def events(s: SparkSession, d: String): DataFrame =
    nanosToTs(load(s, d, "events"))

  def nanosToTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        // µs-precision writers (e.g. the tools/scaleup.py probe data, or any
        // engine that emits TIMESTAMP without tz adjustment) surface as NTZ;
        // normalize to TimestampType in the session zone (UTC) so downstream
        // casts/arithmetic behave identically to the nanos-long path
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Repartition by `keys` ONLY when the input's scan parallelism is below
    * the session's core count. The small-SF fixtures are single-file parquet
    * (one split ⇒ one core) and need the spread before CPU-bound stages;
    * a corpus-scale table already has thousands of input splits, where a
    * blind repartition() is a full-corpus shuffle bought for nothing.
    * Inspecting `rdd.getNumPartitions` plans the scan but runs no job. */
  def spread(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame =
    if (df.rdd.getNumPartitions >= df.sparkSession.sparkContext.defaultParallelism)
      df
    else df.repartition(keys: _*)
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register all tables as temp views (for spark.sql-flavored entry points). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
