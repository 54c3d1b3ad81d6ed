package graft.sources

import java.io.{BufferedReader, InputStreamReader, ObjectInputStream, ObjectOutputStream}
import java.nio.charset.StandardCharsets
import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 readers for the two genomics line formats — the
  * `TableProvider` rung of the extension-point ladder (SURVEY §1.4 D3,
  * §4.3): `spark.read.format("prq").load(dir)` and
  * `spark.read.format("fastq").load(dir)` are the engine's only readers of
  * these formats. Both are read-only: PRQ is written by
  * [[graft.genomics.Codecs.writePartitionedGzip]], FASTQ outside the engine
  * (bcl2fastq in the reference's baseline arm).
  *
  * What the V2 surface buys over a `spark.read.text` + parse composition:
  *   - COLUMN PRUNING reaches the reader ([[SupportsPushDownRequiredColumns]]):
  *     a count or id-only projection never materializes seq/qual strings
  *     (the bulk of every record) — visible as ReadSchema in explain.
  *   - The `sample=` partition value is decoded once per FILE on the
  *     driver, not regex-extracted from `input_file_name()` per ROW.
  *   - One InputPartition per file, so gzip's unsplittability is a
  *     planning fact (a 4-line FASTQ record never straddles a split); a
  *     1000-file sample fans out to 1000 tasks with no shuffle.
  *
  * Formats (reference `workflow.py:35`, Seal's prq; FASTQ per spec):
  *   - PRQ: one read pair per line, `id\tseq1\tqual1\tseq2\tqual2`, laid
  *     out as `dir/sample=<s>/part-*.txt[.gz]`.
  *   - FASTQ: 4-line records `@id / seq / + / qual`, one file = one
  *     sequential stream (possibly gzip).
  *
  * Compression: any Hadoop codec by extension (CompressionCodecFactory) —
  * the same resolution the text source uses, so `.gz` round-trips.
  */
object PrqFastqSource {
  val prqSchema: StructType = StructType(Seq(
    StructField("sample", org.apache.spark.sql.types.StringType),
    StructField("id", org.apache.spark.sql.types.StringType),
    StructField("seq1", org.apache.spark.sql.types.StringType),
    StructField("qual1", org.apache.spark.sql.types.StringType),
    StructField("seq2", org.apache.spark.sql.types.StringType),
    StructField("qual2", org.apache.spark.sql.types.StringType)))

  val fastqSchema: StructType = StructType(Seq(
    StructField("file", org.apache.spark.sql.types.StringType),
    StructField("id", org.apache.spark.sql.types.StringType),
    StructField("seq", org.apache.spark.sql.types.StringType),
    StructField("qual", org.apache.spark.sql.types.StringType)))

  /** Driver-side recursive listing: every data file under `path`, with its
    * Hive-style `sample=` partition value when one appears on its path
    * (unescaped the same way the sink escaped it). Hidden/metadata files
    * (`_SUCCESS`, `.crc`) are skipped, mirroring FileIndex conventions.
    * The walk uses `listStatus`, not `listFiles`: a `LocatedFileStatus`
    * loads each file's permissions (a forked `ls` per file on a local
    * file system without Hadoop's native library) and, on HDFS, its block
    * locations, and planning needs neither. */
  def listFiles(spark: SparkSession, path: String): Seq[(String, String)] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Seq.empty
    val out = Seq.newBuilder[(String, String)]
    def walk(dir: Path): Unit = fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory) walk(st.getPath)
      else if (st.isFile && !name.startsWith("_") && !name.startsWith(".")) {
        val sample = st.getPath.toString.split('/')
          .find(_.startsWith("sample="))
          .map(seg => org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
            .unescapePathName(seg.stripPrefix("sample=")))
          .orNull
        out += ((st.getPath.toString, sample))
      }
    }
    walk(root)
    out.result().sortBy(_._1)
  }
}

/** Hadoop `Configuration` is not `Serializable`; ship it via its own
  * `write`/`readFields` wire format (what Spark's internal wrapper does,
  * re-spelled on public API only). */
class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject(); value.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** One file = one partition (gzip text is a sequential stream). */
case class LineFilePartition(file: String, sample: String) extends InputPartition

/** A `format(<name>)` source over one line format: a read-only table of
  * fixed schema at the load path, read by `factory`'s readers. */
abstract class LineFileSource(
    name: String, fixedSchema: StructType,
    factory: (Array[String], SerializableHadoopConf) => PartitionReaderFactory)
    extends TableProvider with DataSourceRegister {
  override def shortName(): String = name
  // a user-supplied schema fails at load, before any record is read
  override def supportsExternalMetadata(): Boolean = false
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = fixedSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException(s"$name source requires a path"))
    new LineFileTable(SparkSession.active, s"$name:$path", path, fixedSchema, factory)
  }
}

class LineFileTable(
    spark: SparkSession, tableName: String, path: String, tableSchema: StructType,
    factory: (Array[String], SerializableHadoopConf) => PartitionReaderFactory)
    extends Table with SupportsRead {
  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // match the text source's analysis-time contract: a missing path is a
    // LOUD error, not an empty scan (a typo'd sample partition must abort
    // the run, not silently feed the aligner zero records)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root))
      throw new IllegalArgumentException(s"Path does not exist: $path")
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = tableSchema
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = new Scan with Batch {
        override def readSchema(): StructType = required
        override def toBatch: Batch = this
        override def planInputPartitions(): Array[InputPartition] =
          PrqFastqSource.listFiles(spark, path)
            .map { case (f, s) => LineFilePartition(f, s): InputPartition }.toArray
        override def createReaderFactory(): PartitionReaderFactory =
          factory(required.fieldNames,
            new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
      }
    }
  }
}

/** Base reader: codec-decoded line stream over one file. */
abstract class LineFileReader(part: LineFilePartition, conf: Configuration)
    extends PartitionReader[InternalRow] {
  private val path = new Path(part.file)
  private val rawIn = path.getFileSystem(conf).open(path)
  private val in = {
    val codec = new CompressionCodecFactory(conf).getCodec(path)
    if (codec == null) rawIn else codec.createInputStream(rawIn)
  }
  protected val lines = new BufferedReader(
    new InputStreamReader(in, StandardCharsets.UTF_8))
  override def close(): Unit = lines.close()
}

// ---------------------------------------------------------------- PRQ ----

class PrqDataSource
    extends LineFileSource("prq", PrqFastqSource.prqSchema, PrqReaderFactory(_, _))

case class PrqReaderFactory(fields: Array[String], conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LineFilePartition]
    new LineFileReader(p, conf.value) {
      private val sampleU = UTF8String.fromString(p.sample)
      private var row: InternalRow = _
      override def next(): Boolean = {
        val line = lines.readLine()
        if (line == null) return false
        // -1 keeps trailing empty fields: an empty seq2/qual2 writes as
        // 'id\tseq1\tqual1\t\t', which the default split would collapse
        // to 4 fields and wrongly reject
        val f = line.split("\t", -1)
        require(f.length == 5, s"malformed PRQ line in ${p.file}: " +
          s"${f.length} fields (${line.take(80)})")
        val vals = fields.map {
          case "sample" => sampleU
          case "id" => UTF8String.fromString(f(0))
          case "seq1" => UTF8String.fromString(f(1))
          case "qual1" => UTF8String.fromString(f(2))
          case "seq2" => UTF8String.fromString(f(3))
          case "qual2" => UTF8String.fromString(f(4))
        }
        row = new GenericInternalRow(vals.asInstanceOf[Array[Any]])
        true
      }
      override def get(): InternalRow = row
    }
  }
}

// -------------------------------------------------------------- FASTQ ----

class FastqDataSource
    extends LineFileSource("fastq", PrqFastqSource.fastqSchema, FastqReaderFactory(_, _))

case class FastqReaderFactory(fields: Array[String], conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LineFilePartition]
    new LineFileReader(p, conf.value) {
      private val fileU = UTF8String.fromString(p.file)
      private var row: InternalRow = _
      override def next(): Boolean = {
        val l0 = lines.readLine()
        if (l0 == null) return false
        val l1 = lines.readLine(); val l2 = lines.readLine()
        val l3 = lines.readLine()
        // 4 lines, @-header, +-separator
        require(l3 != null && l0.startsWith("@") && l2.startsWith("+"),
          s"malformed FASTQ record in ${p.file}: ${l0.take(80)}")
        val vals = fields.map {
          case "file" => fileU
          case "id" => UTF8String.fromString(l0.substring(1))
          case "seq" => UTF8String.fromString(l1)
          case "qual" => UTF8String.fromString(l3)
        }
        row = new GenericInternalRow(vals.asInstanceOf[Array[Any]])
        true
      }
      override def get(): InternalRow = row
    }
  }
}
