package graft.genomics

import java.util.zip.Deflater

import org.apache.hadoop.io.compress.zlib.ZlibCompressor
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The PRQ line, its one writer — the partitioned gzip sink — and the
  * sink's partition listing (SURVEY §2A R6/R7/R9), plus the FASTQ filename
  * grammar (R14). Both line formats are read by their DataSource V2
  * readers, `format("prq")` and `format("fastq")`
  * ([[graft.sources.PrqFastqSource]]); FASTQ is written outside the engine.
  */
object Codecs {

  /** PRQ line: id, mate1 seq/qual, mate2 seq/qual — one pair per line
    * (the Seal `prq` format the reference's Stage 2 consumes,
    * `workflow.py:35`). */
  def toPrqLine(r: PrqRead): String =
    s"${r.id}\t${r.seq1}\t${r.qual1}\t${r.seq2}\t${r.qual2}"

  /** gzip level of the PRQ intermediate: zlib's fastest, the level the
    * reference's single-node arm runs bcl2fastq at
    * (`--fastq-compression-level 1`, `baseline_workflow.py:86-89`). The
    * intermediate is deleted once its sample is aligned, so write speed
    * counts for more than its size (level 1 writes ~8 % more bytes than
    * the default level 6, for much less CPU). */
  val PrqGzipLevel: Int = Deflater.BEST_SPEED

  /** R6: write PRQ as `out/sample=<s>/part-*.txt.gz` at [[PrqGzipLevel]].
    * The one shuffle spreads reads by id over the session's width
    * (`spark.sql.shuffle.partitions`), so every writer holds about
    * 1/width of every sample and a sample with at least width reads gets
    * exactly width part files of near-equal size — the reference's
    * `numTasks` writers (`workflow.py:252-253`). A fixed-count repartition
    * is one adaptive execution never coalesces. Every written part has
    * rows, so R7's empty-part pruning pass is unnecessary by construction
    * (the reference needed it because its sink pre-allocated one file per
    * writer regardless of content, `workflow.py:360-373`).
    *
    * The level travels as a write option: Spark copies write options into
    * the job's Hadoop conf, where Hadoop's gzip compressor reads
    * `zlib.compress.level` (the pure-Java `BuiltInGzipCompressor` and the
    * native one alike). */
  def writePartitionedGzip(reads: Dataset[PrqRead], outDir: String): Unit = {
    val width = reads.sparkSession.sessionState.conf.numShufflePartitions
    reads
      .repartition(width, col("id"))
      .select(col("sample"), concat_ws("\t",
        col("id"), col("seq1"), col("qual1"), col("seq2"), col("qual2")).as("value"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("sample")
      .option("compression", "gzip")
      .option("zlib.compress.level", zlibLevelName)
      .text(outDir)
  }

  /** [[PrqGzipLevel]] by its `ZlibCompressor.CompressionLevel` name, the
    * form the `zlib.compress.level` key takes; that enum declares
    * `NO_COMPRESSION` .. `BEST_COMPRESSION` in level order. */
  private val zlibLevelName: String =
    ZlibCompressor.CompressionLevel.values()(PrqGzipLevel).name

  /** Partition-value escaping, matching what the `partitionBy("sample")`
    * sink writes into directory names (Hive-style path escaping). */
  def escapePartitionValue(v: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(v)

  /** R9 as the reference does it (`workflow.py:398-405`): a driver-side
    * listing of the sink's `sample=<s>/` partition directories — no data
    * scan — with the reference's name filter (no `_`-prefix, no
    * unknown/undetermined). Listed through the Hadoop
    * FileSystem API so any scheme the sink can write (hdfs://, s3a://,
    * file://) lists the same way — the reference's `phdfs.lsl`. */
  def listSamplePartitions(spark: SparkSession, prqDir: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(prqDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith("sample=") =>
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(st.getPath.getName.stripPrefix("sample="))
    }.filter { s =>
      val l = s.toLowerCase
      !s.startsWith("_") && !l.contains("unknown") && !l.contains("undetermined")
    }.sorted
  }

  /** FASTQ filename grammar (R14, `baseline_workflow.py:109-117`):
    * name_S##_L###_R{1,2}_001.fastq.gz → (sample, lane, readNo). */
  val fastqNameRe = "^(.+)_S\\d+_L(\\d{3})_R([12])_001\\.fastq(\\.gz)?$"
}
