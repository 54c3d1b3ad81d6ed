package graft.genomics

import org.apache.spark.sql.{DataFrame, Dataset, SaveMode}
import org.apache.spark.sql.functions._

/** One SAM alignment record (SURVEY §1.4 D4, `workflow.py:36`
  * `seqal_output_fmt: 'sam'`): the 11 mandatory tab-separated fields of the
  * SAM spec, plus the optional `TAG:TYPE:VALUE` fields joined verbatim into
  * `tags` ("" when none) so records round-trip byte-exactly. */
case class SamRecord(qname: String, flag: Int, rname: String, pos: Long,
                     mapq: Int, cigar: String, rnext: String, pnext: Long,
                     tlen: Long, seq: String, qual: String, tags: String)

/** SAM dataset shape: parse aligner stdout into typed rows, and sink them
  * back to per-sample text — the reference's `<sample>.sam` files
  * (`baseline_workflow.py:159`), laid out like the PRQ sink so stage-3
  * consumers partition-prune by sample.
  *
  * Scale: parsing is a per-row map (whole-stage-friendly split), the sink
  * repartitions by (sample, salt) exactly like the PRQ sink — no skewed
  * single-writer per sample, no empty parts. */
object Sam {

  /** `@`-prefixed header lines carried by real aligner output. */
  def isHeader(line: String): Boolean = line.startsWith("@")

  def parseLine(line: String): SamRecord = {
    val f = line.split("\t", -1)
    require(f.length >= 11, s"malformed SAM record (${f.length} fields): $line")
    SamRecord(f(0), f(1).toInt, f(2), f(3).toLong, f(4).toInt, f(5), f(6),
      f(7).toLong, f(8).toLong, f(9), f(10),
      if (f.length > 11) f.drop(11).mkString("\t") else "")
  }

  def toLine(r: SamRecord): String = {
    val base = s"${r.qname}\t${r.flag}\t${r.rname}\t${r.pos}\t${r.mapq}\t" +
      s"${r.cigar}\t${r.rnext}\t${r.pnext}\t${r.tlen}\t${r.seq}\t${r.qual}"
    if (r.tags.isEmpty) base else s"$base\t${r.tags}"
  }

  /** Typed rows from raw aligner stdout lines; header lines are dropped
    * (the per-sample sink re-derives headers from the reference dictionary
    * in a real deployment — the reference likewise treats them as
    * pass-through text). */
  def parse(lines: Dataset[String]): Dataset[SamRecord] = {
    import lines.sparkSession.implicits._
    lines.filter(l => !isHeader(l)).map(parseLine)
  }

  /** (sample, SAM line) pairs — each sample's `ExternalProcessMap
    * .pipePartitions` output tagged with its sample — to a typed frame with
    * the sample as leading column. */
  def fromAligned(aligned: Dataset[(String, String)]): DataFrame = {
    import aligned.sparkSession.implicits._
    aligned.filter(t => !isHeader(t._2))
      .map { case (sample, line) => (sample, parseLine(line)) }
      .select(col("_1").as("sample"), col("_2.*"))
  }

  /** Per-sample SAM text sink, `out/sample=<s>/part-*.sam` — same
    * (sample, salt) repartitioning as the PRQ sink: every part non-empty,
    * writers spread within a sample. */
  def writePartitioned(sam: DataFrame, outDir: String, numTasks: Int = 4): Unit = {
    val cols = Seq("qname", "flag", "rname", "pos", "mapq", "cigar", "rnext",
      "pnext", "tlen", "seq", "qual")
    sam
      .repartition(col("sample"), pmod(xxhash64(col("qname")), lit(numTasks)))
      .select(col("sample"),
        when(col("tags") === "",
            concat_ws("\t", cols.map(col): _*))
          .otherwise(concat_ws("\t", (cols :+ "tags").map(col): _*))
          .as("value"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("sample")
      .text(outDir)
  }

  /** Read a partitioned SAM sink back to the typed shape. The directory name
    * carries TWO encoding layers: `input_file_name()` returns a URI (so the
    * Hive-escaped `sample=100%25 cov` arrives as `sample=100%2525%20cov`),
    * and under it the Hive-style path escaping `partitionBy` applied (space,
    * ':', '%', …). Strip the URI layer first, then unescape like
    * `Codecs.listSamplePartitions` so sample names round-trip the sink. */
  def readPartitioned(spark: org.apache.spark.sql.SparkSession,
                      dir: String): DataFrame = {
    import spark.implicits._
    val lines = spark.read.text(dir)
      .select(input_file_name().as("file"), col("value"))
      .as[(String, String)]
      .map { case (file, line) =>
        val path = new java.net.URI(file).getPath // decode the URI layer
        val esc = "sample=([^/]+)/".r.findFirstMatchIn(path)
          .map(_.group(1)).getOrElse("")
        (org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(esc), line)
      }
    fromAligned(lines)
  }
}
