package graft.operators

import java.nio.file.{Files, Path, Paths}
import com.fasterxml.jackson.databind.JsonNode
import graft.core.GraftCheckpointOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Minimal snapshot-log table format — the three read-side primitives a
  * Delta/Iceberg transaction log provides (versioned snapshots, time
  * travel, merge-on-read deletes), on plain parquet plus a JSON-lines
  * log. Complements the other table-maintenance operators here: the
  * z-order [[LayoutOps.skippingManifest]] is the per-file stats half of
  * such a log, [[Maintenance.compactParquet]] its rewrite half, and
  * [[graft.streaming.CdcApply]] its streaming writer; this object is the
  * versioned-read half.
  *
  * Layout: `<table>/data/c-<uuid>/part-*.parquet` (one directory per
  * commit), `<table>/_log/<N>.json`. Entries come in two forms (round
  * 14 — the Delta log+checkpoint split): ordinary commits publish a
  * CHANGE-sized DELTA (`{"base":N-1,"dataAdd":[…],"dataRemove":[…],
  * "statsAdd":[…],"statsRemove":[…],…}`) and every
  * checkpointInterval-th version publishes a FULL snapshot listing
  * (`{"data":[entries alive],"deletes":[dirs alive],"stats":[per-file
  * stats],…}`), so per-publish metadata is bounded by what the commit
  * CHANGED, not by the table's live-entry count, and resolving any
  * version reads at most checkpointInterval small files (nearest
  * checkpoint + delta tail). Small whole-table fields (`txn`, `schema`,
  * `constraints`, `bloomCols`, `op`, `sv`, `key`) stay full in every
  * entry. Entries are written and parsed with Jackson (on Spark's
  * classpath), never by regex — a string bound or column name can't
  * corrupt the entry or silently drop a file's stats row (round 13; the
  * round-12 regex parser could lose a stats object whose string bound
  * contained '}').
  *
  * Per-file stats (round 12, completed round 13): the entry carries ONE
  * stats row for EVERY part file of every live data entry — key [lo, hi]
  * when the footer provides trusted integral bounds, per-column [lo, hi]
  * for up to [[statCols]] more integral/string columns, per-column NULL
  * counts, and the file's row count, all lifted from parquet FOOTERS at
  * commit time (metadata-only, no data re-read). A file whose footer
  * can't bound the key still gets a row (unbounded sentinel — always
  * scanned), so stats double as the complete file listing: `"sv":2`
  * marks entries with that guarantee, and pruned reads of sv≥2 entries
  * never need a directory listing. Data skipping therefore works at ANY
  * time-travel version, for key ranges ([[SnapshotTable.readRange]]),
  * non-key ranges ([[SnapshotTable.readWhere]]), string bounds
  * ([[SnapshotTable.readWhereString]]), and NULL probes
  * ([[SnapshotTable.readWhereNull]]) — and pruning NEVER changes
  * results: a file without trusted bounds for the probed column is
  * simply always scanned.
  *
  * Merge-on-read deletes: a delete commit writes the doomed KEYS as a
  * parquet sidecar and a log entry keeping the data dirs untouched;
  * readers apply one (broadcast-sized) anti-join. Write cost is key-count
  * proportional, data files are never rewritten until
  * [[SnapshotTable.compact]] folds the deletes in (the deletion-vector
  * pattern). At 100 TB: commits move only NEW data, deletes move only
  * keys, and the log keeps every reader one JSON read away from a
  * consistent file set.
  *
  * Round 12 additions mirror the rest of Delta's log-native surface:
  * MERGE/change-feed/VACUUM/OPTIMIZE, per-app `txn` watermarks for
  * exactly-once streaming ingest ([[SnapshotTable.commitAppendTxn]]),
  * the table SCHEMA in the entry (add-only evolution on append, no
  * footer inference at read, time travel under each version's own
  * schema), and metadata-only [[SnapshotTable.restore]]. Round 13 adds
  * null-count pruning, multi-column z-order OPTIMIZE, and a
  * conflict-detecting OCC guard for [[SnapshotTable.optimize]] /
  * [[SnapshotTable.compact]] (a commit landing under a table rewrite
  * now throws instead of being silently dropped from the new snapshot).
  *
  * Multi-writer safety (round 11 — the Delta/Iceberg single-table
  * multi-writer contract): data/sidecar dirs are named by a commit UUID
  * (never by version, so two in-flight writers can't clobber payloads),
  * and the version claim is an atomic PUBLISH-IF-ABSENT of
  * `_log/<N>.json` — write a temp file, then `Files.createLink` it to
  * the target (link(2) fails with EEXIST atomically; filesystems
  * without hard links fall back to a documented check-then-atomic-move).
  * On collision the loser re-reads the new latest snapshot, REBASES its
  * listing (append/delete compose with whatever won), and retries; after
  * `maxCommitRetries` losses it throws `ConcurrentModificationException`
  * loudly rather than spinning. A torn writer (died after data write,
  * before publish) leaves an unreferenced data dir — never a corrupt
  * log entry, because entries appear only via the atomic link.
  */
object SnapshotLog {
  def open(spark: SparkSession, root: String, keyCol: String): SnapshotTable =
    new SnapshotTable(spark, root, keyCol)

  /** Shared entry (de)serializer — ObjectMapper is thread-safe once
    * configured; Jackson ships with Spark. */
  private[graft] val Json =
    new com.fasterxml.jackson.databind.ObjectMapper()

  /** Per-file stats carried IN the log entry: key bounds `[lo, hi]`
    * (the unbounded sentinel `(Long.MinValue, Long.MaxValue)` when the
    * footer can't bound the key — non-integral key, all-NULL keys,
    * missing footer statistics), `cols`/`scols` bounds for the other
    * stats-budgeted integral/string columns, per-column NULL counts
    * (`nulls`, present only when every row group reported one — a 0 is
    * meaningful: the column has NO nulls in this file), the file's
    * row count (`rows`) and byte size (`bytes`) — both −1 for legacy
    * entries. Every part file of a committed dir gets a row (round 13),
    * so the stats are also the complete file listing of sv≥2 entries —
    * the Delta pattern where skipping works at any time-travel version
    * because the stats are versioned with the snapshot, not rebuilt from
    * the live layout; sizes let engine-native scans report exact
    * post-pruning statistics to the planner (broadcast decisions). */
  private[graft] case class FileStat(file: String, lo: Long, hi: Long,
      cols: Map[String, (Long, Long)] = Map.empty,
      scols: Map[String, (String, String)] = Map.empty,
      nulls: Map[String, Long] = Map.empty,
      rows: Long = -1L, bytes: Long = -1L) {
    /** False for the unbounded sentinel (no trusted key bounds). */
    def keyed: Boolean = !(lo == Long.MinValue && hi == Long.MaxValue)
  }

  /** Versioned snapshot listing parsed from one `_log/<N>.json` entry.
    * `sv` is the stats coverage level: ≥2 guarantees `stats` holds a row
    * for every data file of every entry in `data` (so pruned reads need
    * no directory listing); 1 marks legacy/hand-written entries whose
    * coverage may be partial — pruned reads then list the live dirs and
    * scan any file lacking a stats row (correct, one metadata op per
    * dir). `pvals` maps a PARTITIONED data entry (a hive leaf dir
    * written by `commitAppend(df, partitionBy)`) to its partition
    * column → value assignment (round 13); `constraints` is the table's
    * CHECK-constraint set (name → SQL expression), carried forward by
    * every commit path like `txn`. */
  private[graft] case class Entry(data: Seq[String], deletes: Seq[String],
      stats: Seq[FileStat], sv: Int, cdc: Option[String] = None,
      pvals: Map[String, Map[String, String]] = Map.empty,
      constraints: Map[String, String] = Map.empty,
      bloomCols: Map[String, Int] = Map.empty,
      cmap: Map[String, String] = Map.empty,
      retired: Set[String] = Set.empty)

  /** What a commit path asks the OCC loop to publish (the `compose`
    * return): the snapshot listing plus schema, stats coverage level,
    * and the optional change-data sidecar dir ([[Entry.cdc]] — written
    * by `commitMerge(cdc = true)`, Delta's `_change_data` analogue).
    * `newPvals` are partition-value assignments for NEW data entries
    * (prior entries' values are carried forward automatically and
    * dropped when their entry leaves the listing); `constraints` is
    * None to inherit the previous version's set verbatim, Some(set) to
    * replace it (add/drop constraint). */
  /** One column change of an `ALTER TABLE` statement — applied as a
    * batch by [[SnapshotTable.alterSchema]] in ONE atomic commit. */
  sealed trait AlterOp
  final case class RenameCol(oldName: String, newName: String) extends AlterOp
  final case class DropCol(name: String) extends AlterOp
  final case class AddCol(name: String,
      dt: org.apache.spark.sql.types.DataType) extends AlterOp
  final case class WidenCol(name: String,
      dt: org.apache.spark.sql.types.DataType) extends AlterOp

  /** The LOSSLESS type-widening lattice (Delta's type widening set, minus
    * decimals): every value of `from` maps to exactly one value of `to`
    * with no precision or range loss, so old files upcast on read and
    * the change can be METADATA-ONLY. long→double is deliberately absent
    * (longs above 2^53 lose precision). */
  private[graft] def widensTo(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }
  }

  private[operators] case class Composed(data: Seq[String],
      deletes: Seq[String], stats: Seq[FileStat],
      schema: Option[org.apache.spark.sql.types.StructType], sv: Int,
      cdc: Option[String] = None,
      newPvals: Map[String, Map[String, String]] = Map.empty,
      constraints: Option[Map[String, String]] = None,
      bloomCols: Option[Map[String, Int]] = None,
      colMap: Option[(Map[String, String], Set[String])] = None)
}

final class SnapshotTable(spark: SparkSession, root: String, keyCol: String) {
  import SnapshotLog.{Composed, Entry, FileStat, Json}

  private val logDir = Paths.get(root, "_log")

  private def entryPath(v: Int): Path = logDir.resolve(s"$v.json")

  private val hintPath = logDir.resolve("_latest.hint")

  /** Latest committed version, or 0 when the table is empty.
    *
    * Resolution is O(1)+probes via the `_latest.hint` file (the
    * `_last_checkpoint` pattern): each successful publish overwrites the
    * hint non-atomically AFTER the entry lands, so the hint is purely
    * ADVISORY — it can lag (a racing writer overwrote it with a smaller
    * value, or a writer died between publish and hint) but can never
    * point above a published entry, and a garbled/missing hint falls
    * back to the full listing. From the verified floor the true latest
    * is found by probing forward one exists() per version. Without this, a
    * long-lived table (10⁵ commits) pays an O(V) directory listing on
    * EVERY commit and read — O(V²) cumulative. */
  def currentVersion(): Int = {
    if (!Files.isDirectory(logDir)) return 0
    val hinted =
      try {
        val h = Files.readString(hintPath).trim.toInt
        if (h >= 1 && Files.exists(entryPath(h))) h else fullScanVersion()
      } catch { case _: Exception => fullScanVersion() }
    var v = hinted
    while (Files.exists(entryPath(v + 1))) v += 1
    v
  }

  private def fullScanVersion(): Int =
    Files.list(logDir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toInt).foldLeft(0)(math.max)

  /** Max non-key columns carrying per-file stats (Delta's
    * dataSkippingNumIndexedCols analogue); integral and string columns
    * share the budget. The KEY column never competes for it — it is
    * always stats-collected first (a wide table can exhaust the budget
    * on leading columns, but key-range pruning and merge interval
    * stabbing must not silently degrade). */
  val statCols = 32

  /** A string bound rides the log only when Java string ordering
    * provably matches parquet's unsigned-byte stats ordering: short
    * printable ASCII. (JSON safety is Jackson's job — quotes, braces and
    * backslashes are escaped at write; ordering is the only reason to
    * drop a bound.) Anything else drops the column's bounds for that
    * file — conservative, the file is simply always scanned. */
  private def safeBound(s: String): Boolean =
    s.length <= 64 && s.forall(c => c >= ' ' && c <= '~')

  /** Streaming-writer transaction watermarks carried in the entry
    * (round 12): `"txn":{"<appId>":<lastBatchId>}` — the Delta `txn`
    * action. Every commit path carries the map forward (max per app on
    * rebase), so "has batch N of app X been applied?" is answerable
    * from the latest entry alone. App count = number of distinct
    * streaming writers: driver-metadata-sized. */
  private def readTxn(v: Int): Map[String, Long] = {
    if (v < 1 || !Files.exists(entryPath(v))) return Map.empty
    val tree = Json.readTree(Files.readString(entryPath(v)))
    Option(tree.get("txn")).map { o =>
      o.fieldNames().asScala.map(k => k -> o.get(k).asLong()).toMap
    }.getOrElse(Map.empty)
  }

  // ---- round 14: bounded commit metadata — delta entries + checkpoints ----
  //
  // A FULL entry lists every live dir (57 B/dir): a long-lived table's
  // per-publish metadata grows with its live-entry count (the r13
  // versions_grow probe measured a 113 KB head entry at 2000
  // unmaintained versions). Round 14 makes ordinary commits DELTAS —
  // `{"base": v-1, "dataAdd": […], "dataRemove": […], "statsAdd": […],
  // "statsRemove": […], …}` — with a FULL snapshot entry (a checkpoint,
  // Delta's `_last_checkpoint` cadence) every [[checkpointInterval]]
  // versions, so per-publish bytes are CHANGE-sized and any version
  // resolves as (nearest checkpoint at or below) + (≤ K−1 small
  // deltas). Small whole-table fields (txn, schema, constraints,
  // bloomCols, key, op, sv) stay full in every entry, so raw-field
  // readers (readTxn/schemaOf/keyOf/opOf) never resolve a chain.
  //
  // SELF-VALIDATING encoding: publishEntry only writes a delta when
  // re-applying it to the resolved base reproduces the composed listing
  // EXACTLY (sequence order included) and the delta is smaller than the
  // full form — any compose shape the delta can't express byte-exactly
  // (overwrite, compact, exotic splits) silently publishes full. The
  // append/txn-append/delete paths — the ones that run per micro-batch
  // at 100 TB ingest — are delta-exact by construction.
  //
  // Vacuum keeps chains sound: before dropping entries below the
  // horizon it REWRITES the horizon entry as its resolved full form
  // (atomic same-content replace), so no retained delta ever references
  // a vacuumed ancestor.

  /** Every K-th version publishes a FULL listing (checkpoint); resolving
    * any version reads at most K entry files. */
  private[graft] val checkpointInterval = 10

  /** Resolved-entry cache (entries are immutable once published; the
    * vacuum rewrite is content-identical). Coarse size cap — a clear
    * costs at most one chain re-read. */
  private val entryCache = scala.collection.concurrent.TrieMap.empty[Int, Entry]

  private def parseStats(tree: JsonNode, field: String): Seq[FileStat] = {
    def mapOf[T](n: JsonNode, f: String)(g: JsonNode => T): Map[String, T] =
      Option(n.get(f)).map { o =>
        o.fieldNames().asScala.map(k => k -> g(o.get(k))).toMap
      }.getOrElse(Map.empty)
    Option(tree.get(field)).map {
      _.elements().asScala.map { n =>
        val keyed = n.has("lo") && n.has("hi")
        FileStat(n.get("f").asText(),
          if (keyed) n.get("lo").asLong() else Long.MinValue,
          if (keyed) n.get("hi").asLong() else Long.MaxValue,
          mapOf(n, "cols")(a => (a.get(0).asLong(), a.get(1).asLong())),
          mapOf(n, "scols")(a => (a.get(0).asText(), a.get(1).asText())),
          mapOf(n, "nulls")(_.asLong()),
          if (n.has("rows")) n.get("rows").asLong() else -1L,
          if (n.has("sz")) n.get("sz").asLong() else -1L)
      }.toSeq
    }.getOrElse(Nil)
  }

  private def parsePvals(tree: JsonNode, field: String)
      : Map[String, Map[String, String]] =
    Option(tree.get(field)).map { o =>
      o.fieldNames().asScala.map { d =>
        val inner = o.get(d)
        d -> inner.fieldNames().asScala
          .map(k => k -> inner.get(k).asText()).toMap
      }.toMap
    }.getOrElse(Map.empty)

  private def arrOf(tree: JsonNode, field: String): Seq[String] =
    Option(tree.get(field))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Nil)

  private def mapOfTop[T](tree: JsonNode, field: String)(
      f: JsonNode => T): Map[String, T] =
    Option(tree.get(field)).map { o =>
      o.fieldNames().asScala.map(k => k -> f(o.get(k))).toMap
    }.getOrElse(Map.empty)

  private[graft] def readEntry(v: Int): Entry = {
    require(Files.exists(entryPath(v)),
      s"version $v of $root is gone — vacuumed past the retention horizon " +
        "(or never committed); time travel only reaches retained versions")
    resolveEntry(v)
  }

  private def resolveEntry(v: Int): Entry = entryCache.get(v) match {
    case Some(e) => e
    case None =>
      val tree = Json.readTree(Files.readString(entryPath(v)))
      val e =
        if (tree.has("base")) {
          val b = resolveEntry(tree.get("base").asInt())
          val dataRemove = arrOf(tree, "dataRemove").toSet
          val data = b.data.filterNot(dataRemove) ++ arrOf(tree, "dataAdd")
          val delRemove = arrOf(tree, "delRemove").toSet
          val deletes =
            b.deletes.filterNot(delRemove) ++ arrOf(tree, "delAdd")
          val statsRemove = arrOf(tree, "statsRemove").toSet
          val stats = b.stats.filterNot(s => statsRemove.contains(s.file)) ++
            parseStats(tree, "statsAdd")
          val dataSet = data.toSet
          val pvals = (b.pvals ++ parsePvals(tree, "pvalsAdd"))
            .filter { case (d, _) => dataSet.contains(d) }
          Entry(data, deletes, stats,
            Option(tree.get("sv")).map(_.asInt()).getOrElse(1),
            Option(tree.get("cdc")).map(_.asText()),
            pvals,
            mapOfTop(tree, "constraints")(_.asText()),
            mapOfTop(tree, "bloomCols")(_.asInt()),
            mapOfTop(tree, "cmap")(_.asText()),
            arrOf(tree, "retired").toSet)
        } else
          Entry(arrOf(tree, "data"), arrOf(tree, "deletes"),
            parseStats(tree, "stats"),
            Option(tree.get("sv")).map(_.asInt()).getOrElse(1),
            Option(tree.get("cdc")).map(_.asText()),
            parsePvals(tree, "pvals"),
            mapOfTop(tree, "constraints")(_.asText()),
            mapOfTop(tree, "bloomCols")(_.asInt()),
            mapOfTop(tree, "cmap")(_.asText()),
            arrOf(tree, "retired").toSet)
      if (entryCache.size > 64) entryCache.clear()
      entryCache.put(v, e)
      e
  }

  /** The table's key column as recorded in version `v`'s entry (None for
    * legacy entries written before the field existed). */
  private[graft] def keyOf(v: Int): Option[String] = {
    val tree = Json.readTree(Files.readString(entryPath(v)))
    Option(tree.get("key")).map(_.asText())
  }

  /** The COMMIT timestamp logged in version `v`'s entry (round 15 —
    * Delta's commitInfo.timestamp); None for legacy entries, whose
    * callers fall back to the entry file's mtime. */
  private[graft] def tsOf(v: Int): Option[Long] = {
    val tree = Json.readTree(Files.readString(entryPath(v)))
    Option(tree.get("tms")).map(_.asLong())
  }

  /** Version `v`'s effective commit time: logged timestamp, or the
    * entry file's mtime for legacy entries. */
  private[graft] def commitTimeOf(v: Int): Long =
    tsOf(v).getOrElse(Files.getLastModifiedTime(entryPath(v)).toMillis)

  /** Rewrite version `v`'s LOGGED commit timestamp in place (content
    * otherwise identical, atomic replace) — the test/ops seam for
    * time-based resolution (TIMESTAMP AS OF, RETAIN-hours vacuum);
    * never called by the engine itself. */
  private[graft] def backdateTs(v: Int, tsMillis: Long): Unit = {
    val node = Json.readTree(Files.readString(entryPath(v)))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.put("tms", tsMillis)
    val tmp = logDir.resolve(
      s".backdate-${java.util.UUID.randomUUID().toString}.tmp")
    Files.writeString(tmp, Json.writeValueAsString(node))
    Files.move(tmp, entryPath(v),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** The operation that produced version `v` ("unknown" for legacy
    * entries). */
  private[graft] def opOf(v: Int): String = {
    val tree = Json.readTree(Files.readString(entryPath(v)))
    Option(tree.get("op")).map(_.asText()).getOrElse("unknown")
  }

  /** The table schema AS OF version `v`, from the log entry alone — the
    * Delta pattern: readers never infer schema from parquet footers (at
    * 100 TB file counts footer-merging is a driver-side scan of its
    * own), and time travel reads each version with the schema it was
    * committed under. None for pre-schema (legacy) entries, which fall
    * back to footer inference. */
  def schemaOf(v: Int): Option[org.apache.spark.sql.types.StructType] = {
    val tree = Json.readTree(Files.readString(entryPath(v)))
    Option(tree.get("schema")).map(n =>
      org.apache.spark.sql.types.DataType.fromJson(n.toString)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  /** Widen `prev` (the logged schema) with `next` (an appended batch's):
    * same-name columns must keep their exact type (no silent coercion —
    * a type change is a rewrite, not an append), brand-new columns are
    * appended nullable. Old files simply lack the new columns and read
    * as NULL — Delta's mergeSchema=true append semantics. */
  private def widen(
      prev: org.apache.spark.sql.types.StructType,
      next: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val byName = prev.fields.map(f => f.name -> f).toMap
    for (f <- next.fields; p <- byName.get(f.name))
      require(p.dataType == f.dataType,
        s"schema evolution cannot change column '${f.name}' from " +
          s"${p.dataType.simpleString} to ${f.dataType.simpleString} — " +
          "appends may only ADD columns; a type change needs a rewrite " +
          "(commitOverwrite)")
    val added = next.fields.filterNot(f => byName.contains(f.name))
      .map(_.copy(nullable = true))
    org.apache.spark.sql.types.StructType(prev.fields ++ added)
  }

  /** Per-file stats of a freshly written data dir, from the parquet
    * FOOTERS — metadata-only, no data re-read. The naive alternative (a
    * groupBy(input_file_name) job over the dir) reads every newly
    * written byte a second time: at 100 TB ingest that doubles the write
    * path's I/O, where footers cost one small ranged read per file on
    * the driver. Spark's parquet writer always records row-group min/max
    * and null counts, so these are the same numbers Delta lifts out of
    * its write transaction. EVERY part file gets a row (row count always;
    * key bounds only for integral keys with trusted footer statistics —
    * otherwise the unbounded sentinel), so the stats double as the
    * entry's complete file listing and pruning can never silently drop
    * an unstatted file. */
  private[graft] def statsFor(dir: String): Seq[FileStat] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(dir)
    val parts = p.getFileSystem(conf).listStatus(p).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    // footer opens are latency-bound (a ranged read per file — on object
    // storage a round-trip each); read them on a small bounded pool so a
    // many-file commit costs max(latency) × ceil(files/16), not Σ latency
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(16, parts.size)))
    try {
      val futs = parts.map { st =>
        pool.submit(new java.util.concurrent.Callable[FileStat] {
          def call(): FileStat = footerStat(st, conf)
        })
      }
      futs.map(_.get())
    } finally { pool.shutdown() }
  }

  private def footerStat(st: org.apache.hadoop.fs.FileStatus,
      conf: org.apache.hadoop.conf.Configuration): FileStat = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT32, INT64}
    import org.apache.parquet.schema.LogicalTypeAnnotation.{IntLogicalTypeAnnotation, StringLogicalTypeAnnotation}
    val rdr = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    try {
      val md = rdr.getFooter
      val schema = md.getFileMetaData.getSchema
      def prim(name: String) = {
        val t = schema.getType(Seq(name): _*)
        if (t.isPrimitive) Some(t.asPrimitiveType()) else None
      }
      def integral(name: String): Boolean =
        schema.containsField(name) && prim(name).exists { pt =>
          (pt.getPrimitiveTypeName == INT32 ||
            pt.getPrimitiveTypeName == INT64) &&
            (pt.getLogicalTypeAnnotation == null ||
              pt.getLogicalTypeAnnotation
                .isInstanceOf[IntLogicalTypeAnnotation])
        }
      def stringy(name: String): Boolean =
        schema.containsField(name) && prim(name).exists { pt =>
          pt.getPrimitiveTypeName == BINARY &&
            pt.getLogicalTypeAnnotation
              .isInstanceOf[StringLogicalTypeAnnotation]
        }
      // a top-level name containing '.' is indistinguishable from a
      // nested path in the per-chunk dotted spelling — skip it
      val safeName = (n: String) => !n.contains('.')
      def eligible(n: String) = safeName(n) && (integral(n) || stringy(n))
      // keyCol ALWAYS takes the first stats slot when eligible; only the
      // remaining columns compete for the statCols budget — a 33-column
      // table must not silently lose key-range pruning (round 13)
      val others = schema.getFields.asScala.map(_.getName)
        .filter(n => n != keyCol && eligible(n)).take(statCols)
      val wanted =
        ((if (schema.containsField(keyCol) && eligible(keyCol)) Seq(keyCol)
          else Nil) ++ others).toSet
      // per-column running [lo, hi] and null counts across the file's
      // row groups; a column whose footer lacks statistics (or a set
      // null count) anywhere is dropped from that aspect (untrusted) —
      // all-NULL columns keep their null count but never bound
      val lo = scala.collection.mutable.Map.empty[String, Long]
      val hi = scala.collection.mutable.Map.empty[String, Long]
      val slo = scala.collection.mutable.Map.empty[String, String]
      val shi = scala.collection.mutable.Map.empty[String, String]
      val nn = scala.collection.mutable.Map.empty[String, Long]
      val untrusted = scala.collection.mutable.Set.empty[String]
      val nnUntrusted = scala.collection.mutable.Set.empty[String]
      var rows = 0L
      md.getBlocks.forEach { b =>
        rows += b.getRowCount
        b.getColumns.forEach { c =>
          val name = c.getPath.toDotString
          if (wanted.contains(name)) {
            val s = c.getStatistics
            if (s == null) { untrusted += name; nnUntrusted += name; () }
            else {
              if (s.isNumNullsSet)
                nn.updateWith(name)(o => Some(o.getOrElse(0L) + s.getNumNulls))
              else nnUntrusted += name
              if (s.isEmpty) { untrusted += name; () }
              else if (s.hasNonNullValue) {
                if (integral(name)) {
                  val mn = s.genericGetMin.asInstanceOf[Number].longValue
                  val mx = s.genericGetMax.asInstanceOf[Number].longValue
                  lo.updateWith(name)(o => Some(o.fold(mn)(math.min(_, mn))))
                  hi.updateWith(name)(o => Some(o.fold(mx)(math.max(_, mx))))
                  ()
                } else {
                  val mn = s.genericGetMin
                    .asInstanceOf[org.apache.parquet.io.api.Binary]
                    .toStringUsingUTF8
                  val mx = s.genericGetMax
                    .asInstanceOf[org.apache.parquet.io.api.Binary]
                    .toStringUsingUTF8
                  // printable-ASCII-only bounds: Java string order ≡
                  // parquet's unsigned-byte order
                  if (!safeBound(mn) || !safeBound(mx)) untrusted += name
                  else {
                    slo.updateWith(name)(o =>
                      Some(o.fold(mn)(v => if (mn < v) mn else v)))
                    shi.updateWith(name)(o =>
                      Some(o.fold(mx)(v => if (mx > v) mx else v)))
                  }
                  ()
                }
              }
            }
          }
        }
      }
      def ok(n: String) = !untrusted.contains(n)
      val keyBounds =
        if (integral(keyCol) && ok(keyCol) && lo.contains(keyCol))
          Some((lo(keyCol), hi(keyCol)))
        else None
      // an integral keyCol's bounds ride the primary lo/hi slot, never
      // cols; a STRING keyCol's bounds go to scols so readWhereString
      // prunes on it like any other string column
      FileStat(st.getPath.toString,
        keyBounds.map(_._1).getOrElse(Long.MinValue),
        keyBounds.map(_._2).getOrElse(Long.MaxValue),
        (wanted - keyCol).filter(n => ok(n) && lo.contains(n))
          .map(n => n -> (lo(n), hi(n))).toMap,
        wanted.filter(n => ok(n) && slo.contains(n))
          .map(n => n -> (slo(n), shi(n))).toMap,
        wanted.filterNot(nnUntrusted).filter(nn.contains)
          .map(n => n -> nn(n)).toMap,
        rows, st.getLen)
    } finally rdr.close()
  }

  /** Atomically publish `_log/<v>.json` if and only if no writer claimed
    * `v` first. The temp file is hard-linked to the target — link(2)
    * fails with EEXIST atomically, so exactly one concurrent publisher
    * of a version wins. Filesystems without hard-link support fall back
    * to exists-check + ATOMIC_MOVE (a small check-to-move window — the
    * documented weaker mode; every POSIX/HDFS-local deployment takes the
    * link path). Returns false on collision. */
  /** Serialize `stats` into array field `field` of `node`. */
  private def writeStats(node: com.fasterxml.jackson.databind.node.ObjectNode,
      field: String, stats: Seq[FileStat]): Unit = {
    val stArr = node.putArray(field)
    stats.foreach { s =>
      val o = stArr.addObject()
      o.put("f", s.file)
      if (s.keyed) { o.put("lo", s.lo); o.put("hi", s.hi); () }
      if (s.rows >= 0) { o.put("rows", s.rows); () }
      if (s.bytes >= 0) { o.put("sz", s.bytes); () }
      if (s.cols.nonEmpty) {
        val c = o.putObject("cols")
        s.cols.toSeq.sortBy(_._1).foreach { case (n, (l, h)) =>
          val a = c.putArray(n); a.add(l); a.add(h); ()
        }
      }
      if (s.scols.nonEmpty) {
        val c = o.putObject("scols")
        s.scols.toSeq.sortBy(_._1).foreach { case (n, (l, h)) =>
          val a = c.putArray(n); a.add(l); a.add(h); ()
        }
      }
      if (s.nulls.nonEmpty) {
        val c = o.putObject("nulls")
        s.nulls.toSeq.sortBy(_._1).foreach { case (n, k) => c.put(n, k); () }
      }
    }
  }

  /** Whole-table fields carried FULL in every entry (delta or not). */
  private def writeCommonFields(
      node: com.fasterxml.jackson.databind.node.ObjectNode,
      txn: Map[String, Long],
      schema: Option[org.apache.spark.sql.types.StructType],
      op: String, sv: Int, cdc: Option[String],
      constraints: Map[String, String], bloomCols: Map[String, Int],
      key: String, cmap: Map[String, String],
      retired: Set[String], tms: Long): Unit = {
    // the COMMIT timestamp rides the entry (round 15 — Delta's
    // commitInfo.timestamp): TIMESTAMP AS OF, history() and RETAIN-hours
    // vacuum resolve from the log itself, not from file mtimes a
    // copy/restore of the directory would rewrite (mtimes remain the
    // legacy-entry fallback). Single-writer-clock convenience, same as
    // ever — the ordering authority stays the version number.
    node.put("tms", tms)
    if (cmap.nonEmpty) {
      val cm = node.putObject("cmap")
      cmap.toSeq.sortBy(_._1).foreach { case (l, ph) => cm.put(l, ph); () }
    }
    if (retired.nonEmpty) {
      val ra = node.putArray("retired")
      retired.toSeq.sorted.foreach(ra.add)
      ()
    }
    val txnNode = node.putObject("txn")
    txn.toSeq.sortBy(_._1).foreach { case (a, b) => txnNode.put(a, b); () }
    if (constraints.nonEmpty) {
      val cn = node.putObject("constraints")
      constraints.toSeq.sortBy(_._1).foreach { case (n, e) => cn.put(n, e); () }
    }
    if (bloomCols.nonEmpty) {
      val bn = node.putObject("bloomCols")
      bloomCols.toSeq.sortBy(_._1).foreach { case (c, b) => bn.put(c, b); () }
    }
    node.put("op", op)
    node.put("sv", sv)
    cdc.foreach(d => node.put("cdc", d))
    // the table's key column rides every entry so engine-native readers
    // (the snaplog DSv2 source) can apply MOR deletes and key-range
    // pruning without out-of-band configuration
    node.put("key", key)
    schema.foreach(s => node.set[JsonNode]("schema", Json.readTree(s.json)))
    ()
  }

  private def buildFullNode(v: Int, data: Seq[String], deletes: Seq[String],
      stats: Seq[FileStat], txn: Map[String, Long],
      schema: Option[org.apache.spark.sql.types.StructType],
      op: String, sv: Int, cdc: Option[String],
      pvals: Map[String, Map[String, String]],
      constraints: Map[String, String], bloomCols: Map[String, Int],
      key: String, cmap: Map[String, String],
      retired: Set[String],
      tms: Long): com.fasterxml.jackson.databind.node.ObjectNode = {
    val node = Json.createObjectNode()
    node.put("version", v)
    val dArr = node.putArray("data"); data.foreach(dArr.add)
    val delArr = node.putArray("deletes"); deletes.foreach(delArr.add)
    writeStats(node, "stats", stats)
    if (pvals.nonEmpty) {
      val pv = node.putObject("pvals")
      pvals.toSeq.sortBy(_._1).foreach { case (d, vs) =>
        val o = pv.putObject(d)
        vs.toSeq.sortBy(_._1).foreach { case (c, x) => o.put(c, x); () }
      }
    }
    writeCommonFields(node, txn, schema, op, sv, cdc, constraints,
      bloomCols, key, cmap, retired, tms)
    node
  }

  /** The delta encoding of this listing against the resolved previous
    * entry — None when a delta cannot reproduce the listing EXACTLY on
    * resolution (sequence order included) or would not be smaller than
    * the full form. The check makes the encoding self-validating: a
    * compose shape the delta grammar can't express publishes full, never
    * a lossy delta. */
  private def buildDeltaNode(v: Int, base: Entry,
      data: Seq[String], deletes: Seq[String], stats: Seq[FileStat],
      txn: Map[String, Long],
      schema: Option[org.apache.spark.sql.types.StructType],
      op: String, sv: Int, cdc: Option[String],
      pvals: Map[String, Map[String, String]],
      constraints: Map[String, String], bloomCols: Map[String, Int],
      cmap: Map[String, String], retired: Set[String], tms: Long)
      : Option[com.fasterxml.jackson.databind.node.ObjectNode] = {
    val dataSet = data.toSet
    val baseDataSet = base.data.toSet
    val dataAdd = data.filterNot(baseDataSet)
    val dataRemove = base.data.filterNot(dataSet)
    val delSet = deletes.toSet
    val baseDelSet = base.deletes.toSet
    val delAdd = deletes.filterNot(baseDelSet)
    val delRemove = base.deletes.filterNot(delSet)
    val baseStatSet = base.stats.toSet
    val statSet = stats.toSet
    val statsAdd = stats.filterNot(baseStatSet)
    val statsRemoveRows = base.stats.filterNot(statSet)
    val statsRemove = statsRemoveRows.map(_.file)
    val pvalsAdd = pvals.filter { case (d, m) => !base.pvals.get(d).contains(m) }
    // exact-resolution check: replaying the delta must be the identity
    val rData = base.data.filterNot(dataRemove.toSet) ++ dataAdd
    val rDel = base.deletes.filterNot(delRemove.toSet) ++ delAdd
    val rmSet = statsRemove.toSet
    val rStats = base.stats.filterNot(s => rmSet.contains(s.file)) ++ statsAdd
    val rPvals = (base.pvals ++ pvalsAdd)
      .filter { case (d, _) => dataSet.contains(d) }
    if (rData != data || rDel != deletes || rStats != stats ||
        rPvals != pvals) return None
    val deltaCost = dataAdd.size + dataRemove.size + delAdd.size +
      delRemove.size + statsAdd.size + statsRemove.size + pvalsAdd.size
    val fullCost = data.size + deletes.size + stats.size + pvals.size
    if (deltaCost >= fullCost) return None
    val node = Json.createObjectNode()
    node.put("version", v)
    node.put("base", v - 1)
    def putArr(f: String, xs: Seq[String]): Unit =
      if (xs.nonEmpty) { val a = node.putArray(f); xs.foreach(a.add); () }
    putArr("dataAdd", dataAdd)
    putArr("dataRemove", dataRemove)
    putArr("delAdd", delAdd)
    putArr("delRemove", delRemove)
    if (statsAdd.nonEmpty) writeStats(node, "statsAdd", statsAdd)
    putArr("statsRemove", statsRemove)
    if (pvalsAdd.nonEmpty) {
      val pv = node.putObject("pvalsAdd")
      pvalsAdd.toSeq.sortBy(_._1).foreach { case (d, vs) =>
        val o = pv.putObject(d)
        vs.toSeq.sortBy(_._1).foreach { case (c, x) => o.put(c, x); () }
      }
    }
    writeCommonFields(node, txn, schema, op, sv, cdc, constraints,
      bloomCols, keyCol, cmap, retired, tms)
    Some(node)
  }

  private[graft] def publishEntry(
      v: Int, data: Seq[String], deletes: Seq[String],
      stats: Seq[FileStat] = Nil,
      txn: Map[String, Long] = Map.empty,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      op: String = "append", sv: Int = 2,
      cdc: Option[String] = None,
      pvals: Map[String, Map[String, String]] = Map.empty,
      constraints: Map[String, String] = Map.empty,
      bloomCols: Map[String, Int] = Map.empty,
      cmap: Map[String, String] = Map.empty,
      retired: Set[String] = Set.empty,
      tms: Option[Long] = None)
      : Boolean = {
    Files.createDirectories(logDir)
    val stamp = tms.getOrElse(System.currentTimeMillis())
    // delta-or-checkpoint: ordinary versions publish change-sized deltas
    // against v-1; every checkpointInterval-th version (and v=1, and any
    // listing the delta grammar can't reproduce exactly) publishes FULL
    val base: Option[Entry] =
      if (v <= 1 || v % checkpointInterval == 0) None
      else try Some(readEntry(v - 1)) catch { case _: Exception => None }
    val node = base.flatMap(b => buildDeltaNode(v, b, data, deletes, stats,
        txn, schema, op, sv, cdc, pvals, constraints, bloomCols, cmap,
        retired, stamp))
      .getOrElse(buildFullNode(v, data, deletes, stats, txn, schema, op,
        sv, cdc, pvals, constraints, bloomCols, keyCol, cmap, retired,
        stamp))
    val tmp = logDir.resolve(
      s".commit-${java.util.UUID.randomUUID().toString}.tmp")
    Files.writeString(tmp, Json.writeValueAsString(node))
    def won(): Boolean = {
      // advance the advisory hint AFTER the entry is durable; a torn or
      // lost-race overwrite only makes the hint lag (currentVersion
      // verifies and probes forward), never lie
      try Files.writeString(hintPath, v.toString)
      catch { case _: Exception => () }
      true
    }
    try {
      try { Files.createLink(entryPath(v), tmp); won() }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException =>
          if (Files.exists(entryPath(v))) false
          else {
            // ATOMIC_MOVE is NOT a CAS: on providers where it maps to
            // rename(2) a racer inside the check-to-move window is
            // silently REPLACED (lost update — the documented weaker
            // mode); providers that do check existence throw instead,
            // which must surface as "lost the race", not an abort, so
            // the commit loop can rebase and retry.
            try {
              Files.move(tmp, entryPath(v),
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              won()
            } catch {
              case _: java.nio.file.FileAlreadyExistsException => false
            }
          }
      }
    } finally { Files.deleteIfExists(tmp); () }
  }

  /** Losing more than this many version races in one commit call throws —
    * a pathological writer storm should surface, not spin. */
  val maxCommitRetries = 20

  /** Optimistic-concurrency commit loop: compose the entry against the
    * CURRENT latest version, publish-if-absent, rebase and retry on
    * collision. `compose` sees the version it is trying to claim and
    * returns None to bail without committing (the idempotent-replay
    * skip — e.g. a rebase revealed the batch already landed). Every
    * composed entry inherits the previous version's txn watermarks
    * merged (max per app) with `txnPut`, so a lost race never regresses
    * another streaming writer's high-water mark. The Int in the composed
    * tuple is the stats coverage level ([[Entry.sv]]) to publish. */
  private def commitWithRetry(
      txnPut: Map[String, Long] = Map.empty, op: String = "append")(
      compose: Int => Option[Composed])
      : Option[Int] = {
    var attempt = 0
    while (attempt <= maxCommitRetries) {
      val v = currentVersion() + 1
      compose(v) match {
        case None => return None
        case Some(c) =>
          val txn = (readTxn(v - 1).toSeq ++ txnPut.toSeq)
            .groupMapReduce(_._1)(_._2)(math.max)
          val prev = prevEntry(v)
          // partition values follow their entry: carried while the dir is
          // listed, dropped the commit it leaves (merge/compact/overwrite),
          // extended by whatever the path just wrote
          val dataSet = c.data.toSet
          val pv = (prev.pvals ++ c.newPvals).filter { case (d, _) =>
            dataSet.contains(d)
          }
          // CHECK constraints and the bloom-index config persist across
          // every commit unless the path explicitly replaces the set
          val cons = c.constraints.getOrElse(prev.constraints)
          val bloom = c.bloomCols.getOrElse(prev.bloomCols)
          val (cm, rt) = c.colMap.getOrElse((prev.cmap, prev.retired))
          if (publishEntry(v, c.data, c.deletes, c.stats, txn, c.schema,
              op, c.sv, c.cdc, pv, cons, bloom, cm, rt))
            return Some(v)
      }
      attempt += 1
    }
    throw new java.util.ConcurrentModificationException(
      s"lost $maxCommitRetries version races committing to $root — " +
        "a concurrent writer storm is claiming every version; retry or " +
        "serialize the writers")
  }

  private def newDataDir() =
    s"$root/data/c-${java.util.UUID.randomUUID().toString}"
  private def newDeleteDir() =
    s"$root/deletes/c-${java.util.UUID.randomUUID().toString}"

  /** Append `df` as a new snapshot; returns the committed version. Safe
    * under concurrent writers: the data dir is commit-unique, the version
    * claim is atomic, and on collision the listing REBASES onto the
    * winner's snapshot (append commutes with any committed change). */
  /** The appended schema for version `v`: widened against the previous
    * entry's logged schema (add-only evolution); a legacy (schemaless)
    * table stays schemaless rather than guessing what its files hold. */
  private def appendSchema(v: Int,
      df: DataFrame): Option[org.apache.spark.sql.types.StructType] =
    if (v == 1) Some(df.schema)
    else schemaOf(v - 1).map(widen(_, df.schema))

  private def prevEntry(v: Int): Entry =
    if (v == 1) Entry(Nil, Nil, Nil, 2) else readEntry(v - 1)

  def commitAppend(df: DataFrame): Int = {
    val cons0 = constraints()
    checkConstraints(df, cons0)
    commitAppendValidated(df, cons0)
  }

  /** [[commitAppend]] with the already-validated constraint set pinned
    * by the caller — the testable seam for the rebase re-validation
    * guard (a set older than the live one simulates an addConstraint
    * racing in between validation and publish). */
  private[operators] def commitAppendValidated(df: DataFrame,
      cons0: Map[String, String]): Int = {
    val v0 = currentVersion()
    val e0 = if (v0 == 0) SnapshotLog.Entry(Nil, Nil, Nil, 2)
      else readEntry(v0)
    guardNewColumns(df, e0, if (v0 == 0) None else schemaOf(v0))
    val dir = newDataDir()
    physicalize(df, e0.cmap).write.mode("errorifexists").parquet(dir)
    val newStats = statsFor(dir)
    buildBloom(dir, newStats, bloomConfigPhys())
    commitWithRetry() { v =>
      val p = prevEntry(v)
      guardCmapOnRebase(e0.cmap, e0.retired, p)
      recheckOnRebase(df, cons0, p)
      // stats ride the rebase: the winner's per-file stats are re-read
      // from its entry and our new dir's appended — a lost race never
      // drops skipping metadata
      Some(Composed(p.data :+ dir, p.deletes, p.stats ++ newStats,
        appendSchema(v, df), math.min(p.sv, 2)))
    }.get
  }

  // ---- round 13: partitioned tables / dynamic partition overwrite --------

  /** Shadow-column prefix for the hive partition layout. The REAL column
    * stays in the data files (so parquet footers bound it min = max and
    * the existing stats machinery — readWhere/readWhereString, the
    * snaplog DSv2 pushdown — prunes partitions with zero new read
    * logic); the shadow only names the directory. */
  private val PartPrefix = "gp_"
  private val PartValRe = "[A-Za-z0-9._-]+"

  /** Is `dt` one of the integral types the transforms floor numerically?
    * (One shared predicate — [[SnapshotTypes.integral]] — so the write
    * and probe sides can never diverge.) */
  private def integralType(dt: org.apache.spark.sql.types.DataType): Boolean =
    SnapshotTypes.integral(dt)

  /** Hive-layout write of `df` partitioned by `specs` — each a bare
    * column (identity) or an Iceberg-style TRANSFORM (`bucket(N, col)`,
    * `truncate(W, col)`, `days(col)` — see [[PTransform]]); returns one
    * (leafDir, partitionValues, fileStats) triple per written partition,
    * values keyed by the CANONICAL spec string. The derived value names
    * the directory (and rides `pvals`); the SOURCE column stays in the
    * files. Derived values must be NON-NULL and PATH-SAFE
    * ([A-Za-z0-9._-]) — the leaf dir name IS the value, so no escaping
    * ambiguity can exist between path and logged value (loud error
    * otherwise; bucket ids, truncate bands, calendar days and the usual
    * lang/category values all pass). */
  private def writePartitioned(df: DataFrame, specs: Seq[String],
      cmap0: Map[String, String])
      : Seq[(String, Map[String, String], Seq[FileStat])] = {
    require(specs.nonEmpty, "partitionBy must name at least one column")
    val ts = specs.map(PTransform.parse)
    require(ts.map(_.spec).distinct == ts.map(_.spec),
      s"duplicate partition spec in $specs")
    // pvals store specs under the PHYSICAL source name (round 16 —
    // rename-invariant, so a partition-source column may rename): the
    // caller's specs arrive logical, validation runs on the logical
    // frame, the derive expressions and logged keys are physical
    val tsPhys = ts.map(t => t.withSrc(cmap0.getOrElse(t.srcCol, t.srcCol)))
    val byName = df.schema.fields.map(f => f.name -> f).toMap
    import org.apache.spark.sql.types._
    val exprs: Seq[org.apache.spark.sql.Column] = ts.map { t =>
      val f = byName.getOrElse(t.srcCol, throw new IllegalArgumentException(
        s"partition column '${t.srcCol}' not in (${df.columns.mkString(", ")})"))
      t match {
        case PTransform.Days(_) =>
          require(Seq[DataType](DateType, TimestampType)
              .contains(f.dataType),
            s"days(${t.srcCol}) needs a date/timestamp column, got " +
              f.dataType.simpleString)
        case _: PTransform.Bucket | _: PTransform.Truncate =>
          require(f.dataType == StringType || integralType(f.dataType),
            s"${t.spec} needs a string/integral column, got " +
              f.dataType.simpleString)
        case _: PTransform.IdentityT =>
          require(Seq[DataType](StringType, DateType).contains(f.dataType) ||
              integralType(f.dataType),
            s"partition column '${t.srcCol}' must be string/integral/date, " +
              s"got ${f.dataType.simpleString}")
      }
      t.derivedExpr(f.dataType)
    }
    require(!df.columns.exists(_.startsWith(PartPrefix)),
      s"column names starting with '$PartPrefix' collide with the " +
        "partition shadow columns")
    val viol = df.where(exprs.map(e =>
        e.isNull || !e.rlike(s"^$PartValRe$$"))
      .reduce(_ || _)).limit(1).collect()
    require(viol.isEmpty,
      s"derived partition values must be non-null and path-safe " +
        s"($PartValRe); offending row: ${viol.headOption.fold("")(_.toString)}")
    val dir = newDataDir()
    val bloomCfg = bloomConfigPhys() // physical frame below
    // shadow names and derive expressions bind on the PHYSICALIZED frame
    val exprsPhys: Seq[org.apache.spark.sql.Column] =
      tsPhys.zip(ts).map { case (tp, t) =>
        tp.derivedExpr(byName(t.srcCol).dataType)
      }
    val shadows = tsPhys.map(t => PartPrefix + t.dirKey)
    tsPhys.zip(shadows).zip(exprsPhys).foldLeft(physicalize(df, cmap0)) {
        case (d, ((_, s), e)) => d.withColumn(s, e)
      }.write.mode("errorifexists").partitionBy(shadows: _*).parquet(dir)
    // discover the leaf dirs (depth = spec count below dir); hive nests
    // in partitionBy order, so segment i of a leaf's relative path IS
    // spec i's value — values resolve positionally, never by key parse
    val conf = spark.sessionState.newHadoopConf()
    val top = new org.apache.hadoop.fs.Path(dir)
    val fsys = top.getFileSystem(conf)
    def leaves(p: org.apache.hadoop.fs.Path, depth: Int): Seq[String] =
      if (depth == 0) Seq("")
      else fsys.listStatus(p).toSeq.filter(_.isDirectory)
        .flatMap(s => leaves(s.getPath, depth - 1).map(rel =>
          if (rel.isEmpty) s.getPath.getName else s.getPath.getName + "/" + rel))
    leaves(top, ts.size).map { rel =>
      val vals = rel.split('/').zip(tsPhys).map { case (seg, t) =>
        val i = seg.indexOf('=')
        require(i > PartPrefix.length, s"unexpected partition dir '$seg'")
        t.spec -> seg.substring(i + 1)
      }.toMap
      val leaf = s"$dir/$rel"
      val st = statsFor(leaf)
      buildBloom(leaf, st, bloomCfg)
      (leaf, vals, st)
    }
  }

  /** Partitioned append — Delta/Iceberg partition columns on the
    * snapshot log: data lands hive-laid-out
    * (`data/c-<uuid>/gp_<col>=<value>/part-*.parquet`) with each LEAF
    * dir recorded as its own data entry carrying its explicit partition
    * values in the log (`pvals`). The partition column itself stays IN
    * the files (the shadow column only names the directory), so every
    * file's footer bounds it min = max and partition pruning rides the
    * EXISTING stats machinery — `readWhere`/`readWhereString`, the
    * snaplog DSv2 connector's filter pushdown, and merge interval
    * stabbing all skip foreign partitions with zero new read logic,
    * while [[readPartitions]] and [[commitReplacePartitions]] get exact
    * METADATA-level entry selection from `pvals`. At 100 TB the value
    * is the usual one: ingest aligned to the query dimension (dt, lang,
    * source) turns full scans into per-partition file-list reads, and
    * partition-scoped overwrites never rewrite foreign partitions. */
  def commitAppend(df: DataFrame, partitionBy: Seq[String]): Int = {
    val cons0 = constraints()
    checkConstraints(df, cons0)
    val v0 = currentVersion()
    val e0 = if (v0 == 0) SnapshotLog.Entry(Nil, Nil, Nil, 2)
      else readEntry(v0)
    guardNewColumns(df, e0, if (v0 == 0) None else schemaOf(v0))
    val parts = writePartitioned(df, partitionBy, e0.cmap)
    commitWithRetry() { v =>
      val p = prevEntry(v)
      guardCmapOnRebase(e0.cmap, e0.retired, p)
      recheckOnRebase(df, cons0, p)
      Some(Composed(p.data ++ parts.map(_._1), p.deletes,
        p.stats ++ parts.flatMap(_._3), appendSchema(v, df),
        math.min(p.sv, 2),
        newPvals = parts.map(t => t._1 -> t._2).toMap))
    }.get
  }

  /** Dynamic partition overwrite (Delta's `replaceWhere` on partition
    * columns / Spark's `partitionOverwriteMode=dynamic`, THE idempotent
    * backfill pattern): atomically replace EXACTLY the partitions
    * present in `df` — existing entries whose logged partition values
    * match one of the incoming tuples leave the snapshot, everything
    * else is untouched, and the swap is pure METADATA (no foreign
    * partition is read or rewritten; a re-run of a failed backfill
    * lands the same partitions again, idempotently). Concurrency: the
    * drop set is recomputed from the LATEST entry on every OCC rebase,
    * so writers replacing DISJOINT partitions never conflict and both
    * land — the property that lets one backfill job per day/lang pair
    * run unserialised.
    *
    * Loud refusals keep it exact: every existing data entry must be
    * partition-aligned on the same columns (a merge/compact/optimize
    * rewrite drops alignment — re-ingest partitioned, or overwrite), and
    * pending delete sidecars must be compacted first (a sidecar applies
    * by key across partitions; silently re-deleting replaced rows would
    * be wrong). */
  def commitReplacePartitions(df: DataFrame, partitionBy: Seq[String]): Int = {
    val cons0 = constraints()
    checkConstraints(df, cons0)
    val v0 = currentVersion()
    require(v0 >= 1, "replacePartitions on an empty table — use commitAppend")
    val e0rp = readEntry(v0)
    // canonical PHYSICAL spec strings — "bucket(16, id)" and
    // "bucket(16,id)" are the same partitioning, and pvals key by the
    // rename-invariant physical source name
    val specs = partitionBy.map { s =>
      val t = PTransform.parse(s)
      t.withSrc(physCol(e0rp, t.srcCol)).spec
    }
    guardNewColumns(df, e0rp, schemaOf(v0))
    val parts = writePartitioned(df, partitionBy, e0rp.cmap)
    val replaced: Set[Map[String, String]] = parts.map(_._2).toSet
    commitWithRetry(op = "replace-partitions") { v =>
      require(v > 1,
        "replacePartitions on an empty table — use commitAppend")
      val p = prevEntry(v)
      guardCmapOnRebase(e0rp.cmap, e0rp.retired, p)
      recheckOnRebase(df, cons0, p)
      require(p.deletes.isEmpty,
        s"replacePartitions on $root with pending delete sidecars is " +
          "ambiguous (a sidecar applies by key across partitions) — " +
          "compact() first")
      val drop = p.data.filter { d =>
        p.pvals.get(d) match {
          case Some(vs) if specs.forall(vs.contains) =>
            replaced.contains(specs.map(c => c -> vs(c)).toMap)
          case Some(vs) => throw new IllegalStateException(
            s"data entry $d is partitioned by " +
              s"(${vs.keys.toSeq.sorted.mkString(", ")}), not " +
              s"(${specs.mkString(", ")}) — replacePartitions " +
              "needs a consistently partitioned table")
          case None => throw new IllegalStateException(
            s"data entry $d carries no partition values (unpartitioned " +
              "append, or a merge/compact/optimize rewrite) — " +
              "replacePartitions requires every data entry " +
              "partition-aligned; re-ingest partitioned or commitOverwrite")
        }
      }.toSet
      val keep = p.data.filterNot(drop)
      val keepStats = p.stats.filterNot(s => drop.exists(belongsTo(s.file, _)))
      Some(Composed(keep ++ parts.map(_._1), Nil,
        keepStats ++ parts.flatMap(_._3), appendSchema(v, df),
        math.min(p.sv, 2),
        newPvals = parts.map(t => t._1 -> t._2).toMap))
    }.get
  }

  /** Partition-scoped read: keep only data entries whose logged
    * partition values agree with `values` — METADATA selection, no
    * stats math, no file listing — then apply the exact predicate
    * anyway (entries without partition values, or partitioned on other
    * columns, are always scanned; pruning never changes results).
    * Keys are partition SPECS (a column name, or a transform like
    * `bucket(16,id)` / `days(ts)`), values their derived string form —
    * exactly how they are logged; the exact filter recomputes the
    * transform over the source column. */
  def readPartitions(values: Map[String, String], version: Int = -1)
      : DataFrame = {
    require(values.nonEmpty, "readPartitions needs at least one column=value")
    val latest = currentVersion()
    require(latest >= 1, s"empty table at $root")
    val v = if (version < 0) latest else version
    require(v >= 1 && v <= latest,
      s"version $v out of range [1, $latest] for $root")
    val e = readEntry(v)
    // probes arrive under LOGICAL source names; pvals are keyed by the
    // rename-invariant PHYSICAL spec (round 16 — partition sources may
    // rename), and the exact filter binds the physical frame
    val sch = schemaOf(v)
    val probes = values.toSeq.map { case (k, x) =>
      val tl = PTransform.parse(k)
      (tl, tl.withSrc(physCol(e, tl.srcCol)), x)
    }
    val keep = e.data.filter { d =>
      e.pvals.get(d).forall(vs =>
        probes.forall { case (_, tp, x) => vs.get(tp.spec).forall(_ == x) })
    }
    val rd = physSchema(v, e).map(spark.read.schema(_)).getOrElse(spark.read)
    val flt = probes.map { case (tl, tp, x) =>
      val dt = sch.flatMap(_.fields.find(_.name == tl.srcCol).map(_.dataType))
        .getOrElse(org.apache.spark.sql.types.StringType)
      tp.derivedExpr(dt) === lit(x)
    }.reduce(_ && _)
    val base =
      if (keep.isEmpty) rd.parquet(e.data: _*).where(lit(false))
      else rd.parquet(keep: _*).where(flt)
    val logical = toLogical(base, v, e)
    if (e.deletes.isEmpty) logical
    else logical.join(
      broadcast(spark.read.parquet(e.deletes: _*)
        .select(col(keyCol)).distinct()),
      Seq(keyCol), "left_anti")
  }

  /** Partition values of the latest (or given) version's data entries —
    * one row per partitioned entry, driver-metadata-sized. Specs are
    * stored under PHYSICAL source names (rename-invariant); this
    * user-facing view translates them back to the version's LOGICAL
    * names (identity for unmapped tables). */
  def partitionValues(version: Int = -1): Map[String, Map[String, String]] = {
    val latest = currentVersion()
    require(latest >= 1, s"empty table at $root")
    val e = readEntry(if (version < 0) latest else version)
    if (e.cmap.isEmpty) e.pvals
    else {
      val p2l = e.cmap.map(_.swap)
      e.pvals.map { case (d, vs) =>
        d -> vs.map { case (specStr, x) =>
          val t = PTransform.parse(specStr)
          t.withSrc(p2l.getOrElse(t.srcCol, t.srcCol)).spec -> x
        }
      }
    }
  }

  // ---- round 13: shallow clone --------------------------------------------

  /** SHALLOW CLONE (Delta's `CREATE TABLE ... SHALLOW CLONE`): publish
    * the current snapshot's listing, stats, schema, partition values and
    * constraints as version 1 of a NEW table at `destRoot` — pure
    * metadata, zero data copied, so cloning a 100 TB table costs one
    * JSON write. The clone references the SOURCE files until its own
    * commits diverge; txn watermarks do NOT copy (the clone is a fresh
    * writer space — a streaming app re-targeting it starts clean), and
    * the change-data sidecar pointer is dropped (CDF history belongs to
    * the source). The documented hazard is Delta's own: `vacuum` on the
    * SOURCE can delete files the clone still references (the source
    * doesn't know its children) — vacuum the source only after clones
    * re-materialize (compact/optimize) or are dropped. Vacuum on the
    * CLONE is safe: it sweeps only the clone's own directories. */
  def cloneTo(destRoot: String): SnapshotTable = {
    val v0 = currentVersion()
    require(v0 >= 1, s"cannot clone empty table $root")
    val e = readEntry(v0)
    val dest = new SnapshotTable(spark, destRoot, keyCol)
    require(dest.currentVersion() == 0,
      s"clone destination $destRoot already has commits")
    // the column mapping and retired set travel WITH the listing (ADVICE
    // r15): the clone references the source's physical-named files, so
    // dropping the cmap would surface renamed columns as NULLs and losing
    // `retired` would let an append resurrect dropped columns' bytes. The
    // clone's v1 commit TIME is now (publishEntry's default) — it is a
    // new commit on a new table, not a replay of the source's history.
    require(dest.publishEntry(1, e.data, e.deletes, e.stats, Map.empty,
        schemaOf(v0), "clone", e.sv, None, e.pvals, e.constraints,
        e.bloomCols, e.cmap, e.retired),
      s"clone destination $destRoot gained a commit mid-clone")
    dest
  }

  // ---- round 14: column mapping — metadata-only RENAME/DROP COLUMN -------

  /** The table's column map as of the latest version: LOGICAL name →
    * PHYSICAL (in-file) name, identity entries omitted. Empty = every
    * column reads under its file name (the common case). */
  def columnMap(): Map[String, String] = {
    val v = currentVersion()
    if (v == 0) Map.empty else readEntry(v).cmap
  }

  /** PHYSICAL names retired by DROP COLUMN as of the latest version —
    * names appends may not reuse (old files' bytes would resurface).
    * Write paths capture this alongside [[columnMap]] so a drop racing
    * a staged write is detected even when the drop leaves the mapping
    * itself unchanged (identity-mapped column). */
  def retiredColumns(): Set[String] = {
    val v = currentVersion()
    if (v == 0) Set.empty else readEntry(v).retired
  }

  /** LOGICAL → PHYSICAL column name under entry `e`. */
  private def physCol(e: Entry, c: String): String = e.cmap.getOrElse(c, c)

  /** The PHYSICAL read schema for version `v` (logical fields renamed to
    * their in-file names). */
  private def physSchema(v: Int, e: Entry)
      : Option[org.apache.spark.sql.types.StructType] =
    schemaOf(v).map { s =>
      if (e.cmap.isEmpty) s
      else org.apache.spark.sql.types.StructType(
        s.fields.map(f => f.copy(name = physCol(e, f.name))))
    }

  /** Rename physical-named columns of a freshly read frame back to the
    * version's logical names (identity map: no-op). */
  private def toLogical(df: DataFrame, v: Int, e: Entry): DataFrame =
    if (e.cmap.isEmpty) df
    else {
      val lsch = schemaOf(v).getOrElse(throw new IllegalStateException(
        s"column-mapped version $v of $root has no logged schema"))
      df.select(lsch.fields.map(f =>
        col(physCol(e, f.name)).as(f.name)).toIndexedSeq: _*)
    }

  /** Rename an incoming batch's logical columns to their physical names
    * before the parquet write (identity map: no-op). */
  private def physicalize(df: DataFrame, cmap: Map[String, String]): DataFrame =
    if (cmap.isEmpty) df
    else df.select(df.columns.map(c =>
      col(c).as(cmap.getOrElse(c, c))).toIndexedSeq: _*)

  /** Appends must not reuse a PHYSICAL name another column still maps to
    * or that a drop retired — old files' bytes under that name belong to
    * the other column and would silently resurface. */
  private def guardNewColumns(df: DataFrame, e: Entry,
      prevSchema: Option[org.apache.spark.sql.types.StructType]): Unit =
    prevSchema.foreach { ps =>
      val existing = ps.fieldNames.toSet
      val taken = e.cmap.values.toSet ++ e.retired
      val bad = df.columns.filterNot(existing).filter(taken)
      require(bad.isEmpty,
        s"new column(s) ${bad.mkString(", ")} reuse a physical name " +
          "retired by a rename/drop on " + root + " — pick another name, " +
          "or compact() to materialize the mapping into the files first")
    }

  /** The column mapping the batch was written under must still hold at
    * publish: a rename/drop racing in would leave the staged files'
    * physical names out of step with the new mapping. The RETIRED set
    * is compared too (ADVICE r14): dropping an identity-mapped column
    * leaves `cmap` unchanged — only `retired` grows — and without this
    * check an append validated before the drop would rebase cleanly,
    * widen() would re-add the dropped column, and old files' physical
    * bytes for it would silently resurface (the exact resurrection the
    * retirement mechanism exists to prevent). */
  private def guardCmapOnRebase(cmap0: Map[String, String],
      retired0: Set[String], prev: Entry): Unit =
    if (prev.cmap != cmap0 || prev.retired != retired0)
      throw new java.util.ConcurrentModificationException(
        s"column mapping of $root changed while a write was in flight — " +
          "the staged files carry the old physical names (or reference a " +
          "column dropped since validation); retry the write")

  /** Columns a metadata alter must refuse. RENAME (round 16) lifted
    * three of the round-14 blockers: partition-transform sources and
    * Bloom-indexed columns rename freely (`pvals` and the bloom config
    * key by the rename-invariant PHYSICAL name; every probe path
    * translates through the mapping, and mapping-resetting rewrites
    * re-key the bloom config to the materialized names) and
    * CHECK-referenced columns get their stored predicate SQL REWRITTEN
    * in the same atomic commit. DROP keeps its refusals (a partition's
    * exact recompute, a sidecar probe, and a constraint's predicate —
    * checked on the folded text in the DropCol case — cannot reference
    * a column that no longer exists). The KEY column (MOR sidecars,
    * merge identity) blocks both ops — the one structural blocker
    * left. */
  private def alterBlockers(e: Entry, name: String,
      physName: String, drop: Boolean): Option[String] = {
    if (name == keyCol) return Some(s"'$name' is the key column")
    if (drop) {
      if (e.bloomCols.contains(physName))
        return Some(s"'$name' is Bloom-indexed (setBloomColumns(Nil) first)")
      val partSrcs = e.pvals.values.flatMap(_.keys)
        .map(PTransform.parse(_).srcCol).toSet
      if (partSrcs.contains(physName))
        return Some(s"'$name' is a partition-transform source column")
    }
    None
  }

  /** Single-part column names referenced by the table's CHECK SQL. */
  private def constraintRefs(cons: Map[String, String]): Set[String] =
    cons.values.flatMap { sql =>
      try spark.sessionState.sqlParser.parseExpression(sql).collect {
        case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          u.name
      } catch { case _: Exception => Nil }
    }.toSet

  /** Rewrite one CHECK predicate's SQL for a column rename — parsed,
    * attribute-substituted, re-rendered; unparseable text is left
    * verbatim (it can't reference the column detectably either). */
  private def renameInConstraint(sql: String, oldName: String,
      newName: String): String = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    try {
      val rewritten = spark.sessionState.sqlParser.parseExpression(sql)
        .transform {
          case u: UnresolvedAttribute
              if u.nameParts.length == 1 &&
                u.nameParts.head.equalsIgnoreCase(oldName) =>
            UnresolvedAttribute(Seq(newName))
        }
      rewritten.sql
    } catch { case _: Exception => sql }
  }

  /** RENAME COLUMN as a METADATA-ONLY commit (Delta's column mapping):
    * the files keep their physical column; the entry's `cmap` maps the
    * new logical name onto it, so readers of THIS and later versions see
    * `newName` while time travel reads each earlier version under its
    * own names — zero data moves at any table size. Conflict-pinned
    * like merge (an interleaved commit throws). `compact()`/`optimize`
    * materialize the mapping back into the files (the rewrite writes
    * logical names and resets the map). */
  def renameColumn(oldName: String, newName: String): Int =
    alterSchema(Seq(SnapshotLog.RenameCol(oldName, newName)))

  /** DROP COLUMN as a METADATA-ONLY commit: the logical schema loses the
    * field, readers never request its physical column again, and the
    * physical name is RETIRED (a later append may not reuse it — old
    * files' bytes would resurface under the new column; compact() clears
    * the retirement by rewriting). Time travel still reads pre-drop
    * versions with the column. Same refusals and conflict pin as
    * [[renameColumn]]. */
  def dropColumn(name: String): Int =
    alterSchema(Seq(SnapshotLog.DropCol(name)))

  /** ADD COLUMN as a METADATA-ONLY commit: the logical schema gains a
    * trailing nullable field; existing files simply lack it and read as
    * NULL (the same widen semantics appends get). Refuses reusing a
    * physical name another column maps to or a drop retired. */
  def addColumn(name: String,
      dt: org.apache.spark.sql.types.DataType): Int =
    alterSchema(Seq(SnapshotLog.AddCol(name, dt)))

  /** ALTER COLUMN ... TYPE as a METADATA-ONLY commit (round 16 — Delta's
    * type widening): the logged schema re-types the field along the
    * lossless lattice (byte/short/int → int/long/double, float →
    * double); existing files keep their narrow physical type and UPCAST
    * at read time (both the `spark.read.schema(logged)` path and the
    * DSv2 reader's materializer convert per-slot), later appends land at
    * the wide type. On a 100 TB table "widen a counter column" must not
    * mean "rewrite the corpus". Narrowing and any other change refuse
    * loudly (a rewrite); the KEY column refuses (MOR sidecar identity);
    * partition-source/Bloom columns may widen integral→integral only
    * (their metadata derives from the value's string form). */
  def alterColumnType(name: String,
      dt: org.apache.spark.sql.types.DataType): Int =
    alterSchema(Seq(SnapshotLog.WidenCol(name, dt)))

  /** Apply a SEQUENCE of rename/drop/add column changes as ONE atomic
    * metadata commit — the `ALTER TABLE` statement unit. Every change
    * validates against the FOLDED schema/map (so `ADD COLUMNS (a, b)`
    * or rename-then-add compose naturally) and a failure anywhere
    * publishes NOTHING: a half-altered table cannot exist. Single-change
    * calls keep their specific op label in the history ledger. */
  def alterSchema(ops: Seq[SnapshotLog.AlterOp]): Int = {
    require(ops.nonEmpty, "alterSchema needs at least one change")
    val v0 = currentVersion()
    require(v0 >= 1, s"alter on an empty table at $root")
    val e0 = readEntry(v0)
    var sch = schemaOf(v0).getOrElse(throw new IllegalArgumentException(
      s"legacy table at $root carries no schema — alters need one"))
    var cmap = e0.cmap
    var retired = e0.retired
    var cons = e0.constraints
    def physOf(c: String) = cmap.getOrElse(c, c)
    for (op <- ops) op match {
      case SnapshotLog.RenameCol(oldName, newName) =>
        require(sch.fieldNames.contains(oldName),
          s"no column '$oldName' in (${sch.fieldNames.mkString(", ")})")
        require(!sch.fieldNames.contains(newName),
          s"column '$newName' already exists")
        require(newName.nonEmpty && !newName.contains('.'),
          s"invalid column name '$newName'")
        alterBlockers(e0, oldName, physOf(oldName), drop = false)
          .foreach(b => throw
            new IllegalArgumentException(s"cannot rename: $b"))
        // CHECK predicates referencing the column rewrite atomically
        // with the rename (round 16 — previously a refusal)
        cons = cons.map { case (n, sql) =>
          n -> renameInConstraint(sql, oldName, newName)
        }
        val phys = physOf(oldName)
        cmap =
          if (phys == newName) cmap - oldName // renamed back to file name
          else cmap - oldName + (newName -> phys)
        sch = org.apache.spark.sql.types.StructType(sch.fields.map(f =>
          if (f.name == oldName) f.copy(name = newName) else f))
      case SnapshotLog.DropCol(name) =>
        require(sch.fieldNames.contains(name),
          s"no column '$name' in (${sch.fieldNames.mkString(", ")})")
        require(sch.fields.length > 1, "cannot drop the last column")
        alterBlockers(e0, name, physOf(name), drop = true).foreach(b => throw
          new IllegalArgumentException(s"cannot drop: $b"))
        // a batched rename-then-drop must still refuse on the FOLDED
        // constraint text (the rename above already rewrote references)
        if (constraintRefs(cons).contains(name))
          throw new IllegalArgumentException(
            s"cannot drop: '$name' is referenced by a CHECK constraint")
        retired = retired + physOf(name)
        cmap = cmap - name
        sch = org.apache.spark.sql.types.StructType(
          sch.fields.filterNot(_.name == name))
      case SnapshotLog.AddCol(name, dt) =>
        require(!sch.fieldNames.contains(name),
          s"column '$name' already exists")
        require(name.nonEmpty && !name.contains('.'),
          s"invalid column name '$name'")
        require(!(cmap.values.toSet ++ retired).contains(name),
          s"new column '$name' reuses a physical name retired by a " +
            "rename/drop — pick another name or compact() first")
        sch = org.apache.spark.sql.types.StructType(sch.fields :+
          org.apache.spark.sql.types.StructField(name, dt, nullable = true))
      case SnapshotLog.WidenCol(name, dt) =>
        val f = sch.fields.find(_.name == name).getOrElse(
          throw new IllegalArgumentException(
            s"no column '$name' in (${sch.fieldNames.mkString(", ")})"))
        require(SnapshotLog.widensTo(f.dataType, dt),
          s"cannot change column '$name' from ${f.dataType.simpleString} " +
            s"to ${dt.simpleString} — only LOSSLESS widenings " +
            "(byte/short/int → int/long/double, float → double) are " +
            "metadata-only; anything else is a rewrite (commitOverwrite)")
        require(name != keyCol,
          s"cannot widen the key column '$name': MOR delete sidecars and " +
            "merge identity compare keys at their logged type — " +
            "compact() first, then rewrite")
        // partition-transform and Bloom metadata hash/derive from the
        // value's STRING form: integral→integral keeps it byte-identical
        // ("5" stays "5"), but →double would re-render every probe
        // ("5.0") and silently miss — refuse the float side for those
        val partSrcs = e0.pvals.values.flatMap(_.keys)
          .map(PTransform.parse(_).srcCol).toSet
        if (dt == org.apache.spark.sql.types.DoubleType) {
          require(!partSrcs.contains(physOf(name)) && !partSrcs.contains(name),
            s"cannot widen partition-source column '$name' to double — " +
              "the logged partition values derive from the integral " +
              "string form; widen to long, or re-ingest")
          require(!e0.bloomCols.contains(physOf(name)),
            s"cannot widen Bloom-indexed column '$name' to double — the " +
              "sidecars hash the integral string form; " +
              "setBloomColumns(Nil) first")
        }
        sch = org.apache.spark.sql.types.StructType(sch.fields.map(x =>
          if (x.name == name) x.copy(dataType = dt) else x))
    }
    val opName =
      if (ops.length > 1) "alter-table"
      else ops.head match {
        case _: SnapshotLog.RenameCol => "rename-column"
        case _: SnapshotLog.DropCol   => "drop-column"
        case _: SnapshotLog.AddCol    => "add-column"
        case _: SnapshotLog.WidenCol  => "widen-column"
      }
    val finalSchema = sch
    val finalMap = cmap
    val finalRetired = retired
    val finalCons = cons
    commitWithRetry(op = opName) { v =>
      if (v != v0 + 1)
        throw new java.util.ConcurrentModificationException(
          s"$opName computed against version $v0 of $root but " +
            s"version ${v - 1} has been committed since; re-run")
      Some(Composed(e0.data, e0.deletes, e0.stats, Some(finalSchema), e0.sv,
        constraints =
          if (finalCons == e0.constraints) None else Some(finalCons),
        colMap = Some((finalMap, finalRetired))))
    }.get
  }

  /** CREATE TABLE (round 14 — the SQL-native creation rung): publish an
    * empty version 1 carrying only the SCHEMA and key column, so a
    * name-addressed `CREATE TABLE ... USING snaplog` exists before its
    * first insert — reads return an empty frame under the logged
    * schema, appends widen from it, and the connector resolves the key
    * from the entry like any other table. Metadata-only (one JSON
    * publish); fails loudly if the table already has commits. */
  def createEmpty(schema: org.apache.spark.sql.types.StructType): Int = {
    require(schema.fieldNames.contains(keyCol),
      s"key column '$keyCol' not in (${schema.fieldNames.mkString(", ")})")
    require(currentVersion() == 0,
      s"CREATE TABLE at $root: the table already has commits")
    require(publishEntry(1, Nil, Nil, Nil, Map.empty, Some(schema),
        "create", 2),
      s"CREATE TABLE at $root lost a race to a concurrent first commit")
    1
  }

  /** Idempotent streaming append — the Delta `txn` action. Appends `df`
    * and records `(appId, batchId)` in the entry's txn watermarks in the
    * SAME atomic publish, so "commit the data" and "remember the batch"
    * cannot tear. If the table already carries `txn[appId] >= batchId`
    * the batch is a replay (a foreachBatch retry after a sink-side crash,
    * or a whole-query restart from an older checkpoint): nothing is
    * committed, the just-written data dir is removed, and None is
    * returned — exactly-once ingestion without a transactional sink.
    * The replay check runs inside the OCC loop, so a concurrent twin of
    * the same app racing the same batch resolves to one winner: the
    * loser's rebase re-reads the watermark the winner just advanced.
    * Watermarks only advance (max per app on every commit path), and
    * commits by OTHER apps or batch writers carry them forward, so the
    * check stays answerable from the latest entry alone. */
  def commitAppendTxn(df: DataFrame, appId: String, batchId: Long)
      : Option[Int] = {
    require(appId.nonEmpty && !appId.exists("\"{}:,\\".contains(_)),
      s"""appId "$appId" — quotes/braces/colons/commas/backslashes """ +
        "in an app id are needlessly hostile to log tooling")
    if (lastTxn(appId).exists(_ >= batchId)) return None // cheap pre-check
    val cons0 = constraints()
    checkConstraints(df, cons0)
    val v0 = currentVersion()
    val e0 = if (v0 == 0) SnapshotLog.Entry(Nil, Nil, Nil, 2)
      else readEntry(v0)
    guardNewColumns(df, e0, if (v0 == 0) None else schemaOf(v0))
    val dir = newDataDir()
    physicalize(df, e0.cmap).write.mode("errorifexists").parquet(dir)
    val newStats = statsFor(dir)
    buildBloom(dir, newStats, bloomConfigPhys())
    val committed = commitWithRetry(Map(appId -> batchId), "txn-append") { v =>
      if (readTxn(v - 1).get(appId).exists(_ >= batchId)) None
      else {
        val p = prevEntry(v)
        guardCmapOnRebase(e0.cmap, e0.retired, p)
        recheckOnRebase(df, cons0, p)
        Some(Composed(p.data :+ dir, p.deletes, p.stats ++ newStats,
          appendSchema(v, df), math.min(p.sv, 2)))
      }
    }
    if (committed.isEmpty) { // lost to our own replay — drop the orphan dir
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      ()
    }
    committed
  }

  /** Highest batch id `appId` has committed, from the latest entry. */
  def lastTxn(appId: String): Option[Long] = {
    val v = currentVersion()
    if (v == 0) None else readTxn(v).get(appId)
  }

  // ---- round 13: CHECK constraints / invariants --------------------------

  /** The table's CHECK constraints (name → SQL expression) as of the
    * latest version — Delta's `ALTER TABLE ADD CONSTRAINT` surface. */
  def constraints(): Map[String, String] = {
    val v = currentVersion()
    if (v == 0) Map.empty else readEntry(v).constraints
  }

  /** Enforce `cons` on an incoming batch BEFORE any data is written —
    * write-path invariants, the Delta CHECK-constraint contract. SQL
    * CHECK semantics: a row violates only when the expression evaluates
    * to FALSE; NULL passes (spell `c IS NOT NULL` to forbid nulls).
    * Cost is one pass over the BATCH per constraint (constraints are
    * few; batches are what the writer just produced) — table size never
    * enters, which is the property that keeps invariants affordable on
    * a 100 TB table under continuous ingest. */
  private def checkConstraints(df: DataFrame,
      cons: Map[String, String]): Unit =
    for ((name, sql) <- cons.toSeq.sortBy(_._1)) {
      val bad = df.where(expr(sql) === lit(false)).limit(1).collect()
      if (bad.nonEmpty)
        throw new IllegalArgumentException(
          s"CHECK constraint '$name' ($sql) violated on $root by e.g. " +
            bad.head.toString)
    }

  /** Re-validate an ingest batch on OCC REBASE (ADVICE r13): the batch
    * was checked against the constraint set read BEFORE the commit
    * loop; if the rebase target carries constraints that were not in
    * that validated set (an addConstraint raced in — its own stale-base
    * guard only covers the opposite interleaving), the batch must pass
    * the NEW constraints too before publishing, or the append lands
    * rows the just-added invariant forbids. First-attempt cost is zero
    * (the sets match — no job runs); only a genuine race pays one
    * batch-sized scan per fresh constraint. */
  private def recheckOnRebase(df: DataFrame,
      validated: Map[String, String], prev: Entry): Unit = {
    val fresh = prev.constraints.filter { case (n, s) =>
      !validated.get(n).contains(s)
    }
    if (fresh.nonEmpty) checkConstraints(df, fresh)
  }

  /** Add a CHECK constraint as a metadata-only commit. The CURRENT
    * table is validated first (one scan — the unavoidable price of a
    * new invariant over existing data; Delta pays the same); thereafter
    * every ingest path (append, txn append, overwrite, merge, partition
    * replace) validates its incoming batch at batch-sized cost.
    * Conflict-checked like [[commitMerge]]: rows landing between the
    * validation scan and the publish could violate the new invariant,
    * so an interleaved commit throws `ConcurrentModificationException`
    * rather than publishing a constraint the table may already break. */
  def addConstraint(name: String, sql: String): Int =
    addConstraintAt(name, sql, currentVersion())

  /** [[addConstraint]] with the validation base pinned by the caller —
    * the testable seam for the conflict guard. */
  private[operators] def addConstraintAt(name: String, sql: String,
      v0: Int): Int = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9_.-]+"),
      s"constraint name '$name' — use [A-Za-z0-9_.-] (it rides the log)")
    require(v0 >= 1, "add constraints after the table's first commit")
    require(!readEntry(v0).constraints.contains(name),
      s"constraint '$name' already exists on $root (drop it first)")
    val bad = read(v0).where(expr(sql) === lit(false)).limit(1).collect()
    require(bad.isEmpty,
      s"cannot add CHECK constraint '$name' ($sql): existing rows of " +
        s"$root violate it, e.g. ${bad.headOption.fold("")(_.toString)}")
    commitWithRetry(op = "add-constraint") { v =>
      if (v != v0 + 1)
        throw new java.util.ConcurrentModificationException(
          s"addConstraint('$name') validated version $v0 of $root but " +
            s"version ${v - 1} has been committed since — the validation " +
            "is stale; re-run against the new snapshot")
      val p = prevEntry(v)
      Some(Composed(p.data, p.deletes, p.stats, schemaOf(v - 1), p.sv,
        constraints = Some(p.constraints + (name -> sql))))
    }.get
  }

  /** Drop a CHECK constraint (metadata-only commit). Safe to run
    * concurrently with ingest — removing an invariant can't be violated
    * by an interleaved commit, so no base pin. */
  def dropConstraint(name: String): Int =
    commitWithRetry(op = "drop-constraint") { v =>
      require(v > 1, s"empty table at $root has no constraints")
      val p = prevEntry(v)
      require(p.constraints.contains(name),
        s"no constraint '$name' on $root " +
          s"(have: ${p.constraints.keys.toSeq.sorted.mkString(", ")})")
      Some(Composed(p.data, p.deletes, p.stats, schemaOf(v - 1), p.sv,
        constraints = Some(p.constraints - name)))
    }.get

  // ---- round 13: Bloom-filter file-skipping index -------------------------

  /** The Bloom-indexed columns (column → bits-per-value) as of the
    * latest version, under their LOGICAL names. The config is STORED
    * under the rename-invariant PHYSICAL names (round 16 — Bloom
    * columns may rename, like partition sources): sidecars hash the
    * in-file spelling and every probe path already physicalizes before
    * the lookup. */
  def bloomColumns(): Map[String, Int] = {
    val v = currentVersion()
    if (v == 0) Map.empty
    else {
      val e = readEntry(v)
      if (e.cmap.isEmpty) e.bloomCols
      else {
        val p2l = e.cmap.map(_.swap)
        e.bloomCols.map { case (c, b) => p2l.getOrElse(c, c) -> b }
      }
    }
  }

  /** The raw (PHYSICAL-keyed) Bloom config of the latest entry — what
    * the physical-named write paths hand to [[buildBloom]]. */
  private def bloomConfigPhys(): Map[String, Int] = {
    val v = currentVersion()
    if (v == 0) Map.empty else readEntry(v).bloomCols
  }

  /** LOGICAL name of physical column `phys` under mapping `cmap`. */
  private def logicalOf(cmap: Map[String, String], phys: String): String =
    cmap.collectFirst { case (l, p) if p == phys => l }.getOrElse(phys)

  /** Configure the table's Bloom-filter index — Delta's
    * `CREATE BLOOMFILTER INDEX` role, for point lookups on
    * HIGH-CARDINALITY UNCLUSTERED columns where min/max stats prune
    * nothing (a fragmented layout spans the whole value space in every
    * file) and clustering would cost a rewrite per indexed column.
    * Metadata-only commit; from the next data commit on, every write
    * path also builds `<dir>/_bloom.json` — one Bloom filter per (part
    * file, indexed column), sized from the file's row count — paid as
    * ONE re-read of the just-written BATCH (what Delta's index build
    * pays inside its write transaction; table size never enters).
    * Files written before the config (or whose sidecar was lost) simply
    * have no filter and are always scanned: skipping never changes
    * results. Existing files gain filters when a rewrite path
    * (compact/OPTIMIZE/merge) rewrites them. Pass `cols = Nil` to drop
    * the config. Indexed columns must be string or integral — the
    * filter hashes the value's CAST-TO-STRING form, the same spelling
    * [[readWhereEquals]] probes. */
  def setBloomColumns(cols: Seq[String], bitsPerValue: Int = 10): Int = {
    require(bitsPerValue >= 4 && bitsPerValue <= 24,
      s"bitsPerValue $bitsPerValue out of [4, 24]")
    require(cols.distinct == cols, s"duplicate column in $cols")
    commitWithRetry(op = "set-bloom") { v =>
      require(v > 1, "configure bloom columns after the table's first commit")
      val p = prevEntry(v)
      val sch = schemaOf(v - 1)
      sch.foreach { s =>
        import org.apache.spark.sql.types._
        for (c <- cols) {
          val f = s.fields.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(
              s"bloom column '$c' not in (${s.fieldNames.mkString(", ")})"))
          require(Seq[DataType](StringType, IntegerType, LongType, ShortType,
              ByteType).contains(f.dataType),
            s"bloom column '$c' must be string/integral, got " +
              f.dataType.simpleString)
        }
      }
      // store PHYSICAL keys (identity on unmapped tables): sidecars and
      // probes live in the in-file name space, which renames never move
      Some(Composed(p.data, p.deletes, p.stats, sch, p.sv,
        bloomCols = Some(cols.map(c =>
          p.cmap.getOrElse(c, c) -> bitsPerValue).toMap)))
    }.get
  }

  /** Build `<dir>/_bloom.json` for a freshly written data dir: one Bloom
    * filter per (part file, configured column), each sized from the
    * file's logged row count. One distributed pass over the BATCH (the
    * bytes the writer just produced — never the table), merged
    * driver-side by OR (Bloom union law). The sidecar lives INSIDE the
    * data dir so its lifecycle is the dir's: readers ignore `_`-files,
    * vacuum sweeps it with the dir, and a torn writer's orphan sidecar
    * dies with the orphan dir. */
  private def buildBloom(dir: String, stats: Seq[FileStat],
      cfg: Map[String, Int]): Unit = {
    if (cfg.isEmpty || stats.isEmpty) return
    val df = spark.read.parquet(dir)
    val cols = cfg.keySet.intersect(df.columns.toSet).toSeq.sorted
    if (cols.isEmpty) return
    // (m, k) per file per column, from the logged per-file row counts
    val mk: Map[String, Seq[(Int, Int)]] = stats.map { s =>
      val base = s.file.substring(s.file.lastIndexOf('/') + 1)
      base -> cols.map { c =>
        (FileBloom.mFor(s.rows, cfg(c)), FileBloom.kFor(cfg(c)))
      }
    }.toMap
    val bc = spark.sparkContext.broadcast((cols, mk))
    val merged = df
      .select(input_file_name().as("__f") +:
        cols.map(c => col(c).cast("string").as(c)): _*)
      .queryExecution.toRdd.mapPartitions { it =>
        val (cs, mks) = bc.value
        val acc = scala.collection.mutable.Map
          .empty[(String, Int), Array[Long]]
        it.foreach { row =>
          val f = row.getUTF8String(0).toString
          val base = f.substring(f.lastIndexOf('/') + 1)
          mks.get(base) match {
            case None => ()
            case Some(dims) =>
              var i = 0
              while (i < cs.length) {
                if (!row.isNullAt(i + 1)) {
                  val (m, k) = dims(i)
                  val bits = acc.getOrElseUpdate((base, i),
                    FileBloom.newBits(m))
                  FileBloom.add(bits, m, k, row.getUTF8String(i + 1).toString)
                }
                i += 1
              }
          }
        }
        acc.iterator.map { case ((b, i), bits) => (b, i, bits) }
      }.collect()
    bc.destroy()
    val byKey = scala.collection.mutable.Map.empty[(String, Int), Array[Long]]
    for ((b, i, bits) <- merged) byKey.get((b, i)) match {
      case Some(into) => FileBloom.or(into, bits)
      case None       => byKey((b, i)) = bits
    }
    val node = Json.createObjectNode()
    val filesNode = node.putObject("files")
    for (base <- mk.keys.toSeq.sorted) {
      val fo = filesNode.putObject(base)
      cols.zipWithIndex.foreach { case (c, i) =>
        byKey.get((base, i)).foreach { bits =>
          val (m, k) = mk(base)(i)
          val co = fo.putObject(c)
          co.put("m", m); co.put("k", k)
          co.put("b", FileBloom.toB64(bits))
          ()
        }
      }
    }
    val p = new org.apache.hadoop.fs.Path(dir, "_bloom.json")
    val out = p.getFileSystem(spark.sessionState.newHadoopConf()).create(p)
    try out.write(Json.writeValueAsString(node).getBytes("UTF-8"))
    finally out.close()
  }

  /** Parse a dir's `_bloom.json` → file base name → column → (m, k,
    * bitset). None when the dir has no sidecar (pre-config files,
    * vacuum-collected sidecar — always scanned). Shared with the snaplog
    * DSv2 scan, which probes the same sidecars for pushed =/IN filters. */
  private[graft] def loadBloom(dir: String)
      : Option[Map[String, Map[String, (Int, Int, Array[Long])]]] = {
    val p = new org.apache.hadoop.fs.Path(dir, "_bloom.json")
    val fsys = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fsys.exists(p)) return None
    val in = fsys.open(p)
    val txt =
      try {
        val bos = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 8192, false)
        bos.toString("UTF-8")
      } finally in.close()
    val tree = Json.readTree(txt)
    Option(tree.get("files")).map { fn =>
      fn.fieldNames().asScala.map { base =>
        val fo = fn.get(base)
        base -> fo.fieldNames().asScala.map { c =>
          val co = fo.get(c)
          c -> ((co.get("m").asInt(), co.get("k").asInt(),
            FileBloom.fromB64(co.get("b").asText())))
        }.toMap
      }.toMap
    }
  }

  /** Point-lookup read with BLOOM file skipping layered over the stats:
    * resolve the version's candidate files through the ordinary logged
    * min/max pruning, then drop every candidate whose per-file Bloom
    * filter proves the value absent — the fragmented-layout point probe
    * (log id, URL, user id) that min/max can never prune. Files without
    * a filter for `column` are always scanned, and the exact equality
    * predicate applies regardless — a Bloom false positive costs one
    * extra file scan, never a wrong row. `value` is the value's STRING
    * form (longs round-trip exactly; the filter hashed the same cast). */
  def readWhereEquals(column: String, value: String,
      version: Int = -1): DataFrame = {
    val latest = currentVersion()
    require(latest >= 1, s"empty table at $root")
    val v = if (version < 0) latest else version
    require(v >= 1 && v <= latest,
      s"version $v out of range [1, $latest] for $root")
    val e = readEntry(v)
    val sch = schemaOf(v)
    val isIntegral = sch.exists(_.fields.find(_.name == column).exists(f =>
      Seq[org.apache.spark.sql.types.DataType](
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.ByteType).contains(f.dataType)))
    // canonical probe spelling for metadata probes (ADVICE r13): the
    // Bloom filter and the logged pvals hold the CAST-TO-STRING form
    // ("5", never "05" or " 5"); a non-canonical integral spelling must
    // still probe the canonical form, or pruning false-negatives an
    // existing row into an empty result
    val canonV = if (isIntegral) value.trim.toLong.toString else value
    // metadata probes go by the PHYSICAL name (stats/bloom/pvals are
    // keyed by the in-file spelling); the exact filter runs pre-rename
    val pc = physCol(e, column)
    val pred: Pred =
      if (isIntegral) LongPred(pc, canonV.toLong, canonV.toLong)
      else StrPred(pc, value, value)
    val statPruned: Seq[String] = prunedPaths(e, pred)
      .getOrElse(e.data.flatMap(dataFilesOf))
    // hidden-partition pruning (Iceberg's transform mapping): an entry
    // whose logged TRANSFORM value over `column` differs from the probe
    // value's derived form cannot hold the row — the bucket layout's
    // point-lookup contract (identity/truncate map through their
    // driver-side twins; days never maps equality probes, so it never
    // prunes here). Entries without pvals, or partitioned on other
    // columns, are untouched.
    val pvalPruned: Seq[String] =
      if (e.pvals.isEmpty) statPruned
      else statPruned.filter { f =>
        e.data.find(belongsTo(f, _)).flatMap(e.pvals.get).forall(vs =>
          vs.forall { case (specStr, pv) =>
            val t = PTransform.parse(specStr)
            t.srcCol != pc ||
              t.derive(canonV, isIntegral).forall(_ == pv)
          })
      }
    val byDir = pvalPruned.groupBy(f => f.substring(0, f.lastIndexOf('/')))
    val kept = byDir.toSeq.sortBy(_._1).flatMap { case (dir, files) =>
      loadBloom(dir) match {
        case None => files
        case Some(bm) => files.filter { f =>
          val base = f.substring(f.lastIndexOf('/') + 1)
          bm.get(base).flatMap(_.get(pc)) match {
            case None              => true // no filter for this column — scan
            case Some((m, k, bits)) => FileBloom.contains(bits, m, k, canonV)
          }
        }
      }
    }
    val rd = physSchema(v, e).map(spark.read.schema(_)).getOrElse(spark.read)
    val flt =
      if (isIntegral) col(pc) === lit(canonV.toLong)
      else col(pc) === lit(value)
    val base =
      if (kept.isEmpty) rd.parquet(e.data: _*).where(lit(false))
      else rd.parquet(kept: _*).where(flt)
    val logical = toLogical(base, v, e)
    if (e.deletes.isEmpty) logical
    else logical.join(
      broadcast(spark.read.parquet(e.deletes: _*)
        .select(col(keyCol)).distinct()),
      Seq(keyCol), "left_anti")
  }

  /** Replace the table's contents with `df` (drops prior delete sidecars
    * too — they referred to replaced data). Overwrite is REPLACE
    * semantics by design: it does not conflict-check against concurrent
    * commits (the caller is declaring the table's new contents outright).
    * [[compact]] and [[optimize]], whose new contents are COMPUTED from
    * a snapshot, do conflict-check — see `base`. */
  def commitOverwrite(df: DataFrame): Int = overwriteWith(df, "overwrite")

  /** `base = Some(v0)`: the rewrite was computed from snapshot v0; if
    * any other commit claimed a version since, publishing would silently
    * drop that commit from the new snapshot (a lost update), so fail
    * with `ConcurrentModificationException` instead — the same guard
    * [[commitMerge]] applies (round 13; previously optimize/compact
    * could swallow an interleaved append). The orphaned data dir is
    * unreferenced and swept by the next [[vacuum]]. */
  private def overwriteWith(df: DataFrame, op: String,
      base: Option[Int] = None): Int = {
    // compact/optimize rewrite rows already admitted under the invariants;
    // only a user-supplied overwrite brings NEW rows to validate
    val cons0 = constraints()
    if (op == "overwrite") checkConstraints(df, cons0)
    val dir = newDataDir()
    df.write.mode("errorifexists").parquet(dir)
    val newStats = statsFor(dir)
    // these rewrites RESET the mapping (files carry logical names), so
    // the physical-keyed bloom config translates through the pre-reset
    // mapping — for this build AND the published entry (round 16:
    // bloom columns may rename, so the key spaces can differ)
    val bloomReset: Map[String, Int] = {
      val vb = currentVersion()
      val cm = if (vb == 0) Map.empty[String, String] else readEntry(vb).cmap
      bloomConfigPhys().map { case (c, b) => logicalOf(cm, c) -> b }
    }
    buildBloom(dir, newStats, bloomReset)
    commitWithRetry(op = op) { v =>
      base.foreach { b =>
        if (v != b + 1)
          throw new java.util.ConcurrentModificationException(
            s"$op computed against version $b of $root but version " +
              s"${v - 1} has been committed since — the rewrite is stale; " +
              "re-run against the new snapshot")
      }
      if (op == "overwrite") recheckOnRebase(df, cons0, prevEntry(v))
      // a full rewrite materializes renames/drops into the files: the
      // new files carry the logical names, the mapping resets, and the
      // bloom config re-keys to the (now-physical) logical names
      Some(Composed(Seq(dir), Nil, newStats, Some(df.schema), 2,
        bloomCols = Some(bloomReset),
        colMap = Some((Map.empty, Set.empty))))
    }.get
  }

  /** Merge-on-read delete: write `keys` (one column, matching `keyCol`)
    * as a sidecar; data files stay untouched. */
  def commitDelete(keys: DataFrame): Int = {
    val dir = newDeleteDir()
    keys.select(col(keys.columns.head).as(keyCol))
      .write.mode("errorifexists").parquet(dir)
    commitWithRetry(op = "delete") { v =>
      require(v > 1, "delete on an empty table")
      val p = readEntry(v - 1)
      Some(Composed(p.data, p.deletes :+ dir, p.stats, schemaOf(v - 1), p.sv))
    }.get
  }

  // ---- round 13 (late): predicate DML — DELETE WHERE / UPDATE WHERE ------

  /** DELETE WHERE `column BETWEEN lo AND hi` — the RETENTION op
    * (`DELETE WHERE ts < cutoff` on a time-clustered table). Files are
    * classified from the LOGGED stats: a file whose trusted bounds fall
    * entirely inside the band (and which the log proves NULL-free in
    * `column` — NULL rows never satisfy a range predicate and must
    * survive) is DROPPED as pure metadata — never read, never
    * rewritten; a file whose bounds are disjoint from the band carries
    * over verbatim; only BOUNDARY files (bounds straddle the band, or
    * no trusted evidence) are rewritten copy-on-write, keeping the rows
    * the predicate does not match (NULLs included). On a clustered
    * layout the retention delete of an aligned band is therefore
    * all-metadata — the 100 TB contract, where "apply the retention
    * policy" must not become "rewrite the table". Returns the committed
    * version, or the CURRENT version unchanged when the predicate
    * provably matches nothing (exact no-op detection from metadata).
    * Conflict-checked like [[commitMerge]]; a rewritten partitioned
    * entry loses its partition alignment (like merge — documented). */
  def commitDeleteWhere(column: String, lo: Long, hi: Long,
      cdc: Boolean = false): Int =
    dmlWhere(LongPred(column, lo, hi), None, "delete-where", cdc)

  /** [[commitDeleteWhere]] for STRING bands (logged string bounds). */
  def commitDeleteWhereString(column: String, lo: String, hi: String,
      cdc: Boolean = false): Int =
    dmlWhere(StrPred(column, lo, hi), None, "delete-where", cdc)

  /** UPDATE ... SET `set` WHERE `column BETWEEN lo AND hi` — COW with
    * the same file classification as [[commitDeleteWhere]]: only files
    * the band MAY touch are rewritten (matched rows get each `set`
    * column re-evaluated; unmatched rows copy through), everything else
    * carries as metadata. `set` expressions are SQL text evaluated per
    * row (they may reference any column). */
  def commitUpdateWhere(column: String, lo: Long, hi: Long,
      set: Map[String, String], cdc: Boolean = false): Int = {
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    dmlWhere(LongPred(column, lo, hi), Some(set), "update-where", cdc)
  }

  /** Shared COW machinery for predicate DML. `set` None = DELETE (drop
    * matching rows; fully-inside files drop as metadata), Some = UPDATE
    * (rewrite matching rows; fully-inside files still need the rewrite —
    * their ROWS change — but disjoint files never move).
    *
    * `cdc = true` (round 16 — Delta's CDF on DML): the commit ALSO
    * materializes its exact change rows to a log-referenced sidecar, so
    * the snapcdf stream serves DML versions like cdc-merges instead of
    * refusing. Pre-images of VISIBLE matched rows tag `delete` (UPDATE
    * adds the post-images as `insert`); rows masked by pending MOR
    * sidecars never surface. Cost is bounded by the CHANGE, never table
    * size: rewritten files are being read anyway (their change rows are
    * a free projection), and a DELETE's metadata-dropped files — whose
    * rows are all pre-images — are re-read band-bounded (they sit fully
    * inside the predicate band by construction). Delta pays the same
    * shape: remove-action files are read back when its CDF reader
    * serves a delete. */
  private def dmlWhere(p: Pred, set: Option[Map[String, String]],
      op: String, cdc: Boolean = false): Int = {
    val v0 = currentVersion()
    require(v0 >= 1, s"$op on an empty table at $root")
    val e0 = readEntry(v0)
    // column-mapped tables (round 15): the predicate column arrives under
    // its LOGICAL name; stats/Bloom metadata and the files are keyed by
    // the PHYSICAL name. Probe metadata with the physicalized predicate,
    // do the row work (filter, SET, constraints) in logical space, and
    // physicalize the rewritten batch before it lands — the same
    // translation the SQL row-level route already carries.
    val pPhys: Pred = p match {
      case LongPred(c, lo, hi) => LongPred(physCol(e0, c), lo, hi)
      case StrPred(c, lo, hi)  => StrPred(physCol(e0, c), lo, hi)
      case NullPred(c, n)      => NullPred(physCol(e0, c), n)
    }
    // SET on the KEY column under pending delete sidecars is refused
    // (ADVICE r13): the carried sidecar masks rows BY KEY via the
    // reader's anti-join, so rewriting a sidecar-deleted row's key
    // would resurrect it, and an updated row whose new key collides
    // with a deleted key would be wrongly masked — the same ambiguity
    // commitReplacePartitions refuses; compact() folds the sidecar in
    // first and the update becomes unambiguous
    set.foreach { assign =>
      require(!(assign.contains(keyCol) && e0.deletes.nonEmpty),
        s"UPDATE SET on key column '$keyCol' of $root with pending " +
          "delete sidecars is ambiguous (the sidecar masks rows by key; " +
          "rewriting keys under it can resurrect deleted rows or mask " +
          "updated ones) — compact() first")
    }

    // a file is provably ALL-INSIDE the band only with trusted bounds
    // AND a trusted zero null count (NULL rows never match a range
    // predicate, so they must survive a DELETE untouched)
    def fullyIn(s: FileStat): Boolean = pPhys match {
      case LongPred(c, lo, hi) =>
        val b = if (c == keyCol && s.keyed) Some((s.lo, s.hi))
                else s.cols.get(c)
        b.exists { case (l, h) => l >= lo && h <= hi } &&
          s.nulls.get(c).contains(0L)
      case StrPred(c, lo, hi) =>
        s.scols.get(c).exists { case (l, h) => l >= lo && h <= hi } &&
          s.nulls.get(c).contains(0L)
      case _ => false
    }

    val byEntry: Seq[(String, Seq[FileStat])] =
      e0.data.map(d => d -> e0.stats.filter(s => belongsTo(s.file, d)))
    // entries with no stats coverage, or legacy unstatted files inside
    // statted entries, always take the rewrite path (conservative)
    val dropped = Seq.newBuilder[FileStat]     // DELETE only: metadata drops
    val carried = Seq.newBuilder[FileStat]     // untouched, file-level
    val untouchedE = Seq.newBuilder[(String, Seq[FileStat])] // whole entries
    val rewrite = Seq.newBuilder[String]       // files to scan + rewrite
    for ((d, fs) <- byEntry) {
      val unstatted =
        if (e0.sv >= 2 && fs.nonEmpty) Nil
        else {
          val statted = fs.map(s => normPath(s.file)).toSet
          dataFilesOf(d).filterNot(f => statted.contains(normPath(f)))
        }
      val hit = fs.filter(mayMatch(_, pPhys))
      if (hit.isEmpty && unstatted.isEmpty && fs.nonEmpty) {
        untouchedE += (d -> fs)
      } else {
        val (allIn, boundary) = hit.partition(fullyIn)
        if (set.isEmpty) dropped ++= allIn
        else rewrite ++= allIn.map(_.file)
        rewrite ++= boundary.map(_.file) ++ unstatted
        carried ++= fs.filterNot(mayMatch(_, pPhys))
      }
    }
    val rewriteScan = rewrite.result()
    val droppedStats = dropped.result()
    if (rewriteScan.isEmpty && droppedStats.isEmpty)
      return v0 // provably nothing matches — exact metadata no-op

    val sch = schemaOf(v0)
    // read under the PHYSICAL schema (the in-file names), then work
    // in logical space; identity mapping makes both renames no-ops
    val rd0 = physSchema(v0, e0).map(spark.read.schema(_))
      .getOrElse(spark.read)
    val newDir: Option[(String, Seq[FileStat])] =
      if (rewriteScan.isEmpty) None
      else {
        val rd = rd0
        val scanned = toLogical(rd.parquet(rewriteScan: _*), v0, e0)
        val matchC = filterExpr(p)
        val out = set match {
          case None =>
            // DELETE: keep rows the predicate does NOT match (3-valued:
            // NULL never matches a range predicate, so NULL rows stay)
            scanned.where(!matchC || col(p.col).isNull)
          case Some(assign) =>
            assign.keys.foreach(c => require(scanned.columns.contains(c),
              s"UPDATE SET column '$c' not in " +
                s"(${scanned.columns.mkString(", ")})"))
            val updated = assign.foldLeft(scanned) { case (df, (c, sql)) =>
              df.withColumn(c,
                when(matchC, expr(sql)).otherwise(col(c)))
            }
            // the logged schema stays — a SET expression must not change
            // a column's type (that is a rewrite, not an update)
            for ((a, b) <- scanned.schema.fields.zip(updated.schema.fields))
              require(a.dataType == b.dataType,
                s"UPDATE SET changes column '${a.name}' from " +
                  s"${a.dataType.simpleString} to ${b.dataType.simpleString}" +
                  " — cast the expression back to the column's type")
            updated
        }
        set.foreach(_ => checkConstraints(out, e0.constraints))
        val dir = newDataDir()
        physicalize(out, e0.cmap).write.mode("errorifexists").parquet(dir)
        val st = statsFor(dir)
        buildBloom(dir, st, e0.bloomCols)
        Some(dir -> st)
      }

    // change-data sidecar (cdc = true): exact change rows, VISIBLE rows
    // only (pending MOR sidecar keys anti-join out, like commitMerge's)
    val cdcDir: Option[String] =
      if (!cdc) None
      else {
        def visible(df: DataFrame): DataFrame =
          if (e0.deletes.isEmpty) df
          else df.join(broadcast(spark.read.parquet(e0.deletes: _*)
            .select(col(keyCol)).distinct()), Seq(keyCol), "left_anti")
        val matchC = filterExpr(p)
        val preRewrite =
          if (rewriteScan.isEmpty) None
          else Some(visible(
            toLogical(rd0.parquet(rewriteScan: _*), v0, e0).where(matchC)))
        // a DELETE's metadata-dropped files sit fully inside the band
        // with zero NULLs by construction — every visible row is a
        // pre-image; the re-read is bounded by the deleted data
        val preDropped =
          if (droppedStats.isEmpty) None
          else Some(visible(toLogical(
            rd0.parquet(droppedStats.map(_.file): _*), v0, e0)))
        val pres = (preRewrite.toSeq ++ preDropped.toSeq)
          .reduceOption(_ unionByName _)
        val changeRows = set match {
          case None =>
            pres.map(_.withColumn("_change_type", lit("delete")))
          case Some(assign) =>
            // post-images fold the SET sequentially over the matched
            // pre-images — the same order the rewrite applies, so both
            // frames agree row-for-row
            pres.map { m =>
              val post = assign.foldLeft(m) { case (df, (c, sql)) =>
                df.withColumn(c, expr(sql))
              }
              m.withColumn("_change_type", lit("delete"))
                .unionByName(post.withColumn("_change_type", lit("insert")))
            }
        }
        changeRows.map { cr =>
          val cd = s"$root/cdc/c-${java.util.UUID.randomUUID().toString}"
          // same physical names as the data files (readers translate
          // both through one rule); _change_type passes through identity
          physicalize(cr, e0.cmap).write.mode("errorifexists").parquet(cd)
          cd
        }
      }

    val untouched = untouchedE.result()
    val carriedStats = carried.result()
    commitWithRetry(op = op) { v =>
      if (v != v0 + 1)
        throw new java.util.ConcurrentModificationException(
          s"$op computed against version $v0 of $root but version " +
            s"${v - 1} has been committed since — the copy-on-write file " +
            "set is stale; re-run against the new snapshot")
      // kept stats in base order → change-sized delta publish
      val keptFileSet =
        (untouched.flatMap(_._2) ++ carriedStats).map(_.file).toSet
      Some(Composed(
        untouched.map(_._1) ++ carriedStats.map(_.file) ++
          newDir.map(_._1).toSeq,
        e0.deletes,
        e0.stats.filter(s => keptFileSet.contains(s.file)) ++
          newDir.map(_._2).getOrElse(Nil),
        sch, e0.sv, cdcDir))
    }.get
  }

  // ---- round 14: staged commits (the native DSv2 write path) -------------

  /** Drop files of `dir` that are NOT in `files` — leftovers of failed
    * or speculative task attempts. The snaplog DSv2 writers write
    * attempt-unique file names straight into the commit-unique data dir
    * and report the committed names to the driver; everything else in
    * the dir is an orphan and must go BEFORE the entry publishes,
    * because the non-pruned read path (`read()`) scans entry dirs whole.
    * One listing; `fs.delete` sweeps local-FS `.crc` shadows with each
    * file. */
  private def cleanOrphans(dir: String, files: Seq[String]): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fsys = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fsys.exists(p)) { fsys.mkdirs(p); return }
    val keep = files.map(normPath).toSet
    for (st <- fsys.listStatus(p) if st.isFile) {
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".") &&
          !keep.contains(normPath(st.getPath.toString))) {
        fsys.delete(st.getPath, false)
        ()
      }
    }
  }

  /** Read a staged dir back under its LOGICAL names: files carry the
    * physical field names of the mapping they were written under. */
  private def stagedLogicalDf(dir: String,
      schema: org.apache.spark.sql.types.StructType,
      cmap: Map[String, String]): DataFrame = {
    val phys = org.apache.spark.sql.types.StructType(schema.fields.map(f =>
      f.copy(name = cmap.getOrElse(f.name, f.name))))
    val raw = spark.read.schema(phys).parquet(dir)
    if (cmap.isEmpty) raw
    else raw.select(schema.fields.map(f =>
      col(cmap.getOrElse(f.name, f.name)).as(f.name)).toIndexedSeq: _*)
  }

  /** Commit a data dir whose part files were written by EXECUTORS (the
    * snaplog DSv2 `BatchWrite`/`StreamingWrite` — the engine-native
    * write path): orphan task-attempt files are swept, footer stats
    * lifted, the Bloom sidecar built, CHECK constraints validated
    * against the staged batch (one batch-sized read-back — the price of
    * not having the DataFrame in memory; table size never enters), and
    * the entry published through the SAME OCC loop as [[commitAppend]].
    * `txn = Some((appId, batchId))` is the exactly-once streaming form
    * ([[commitAppendTxn]] semantics: replayed batches clean up their
    * staged dir and return None). `overwrite = true` is REPLACE
    * semantics ([[commitOverwrite]]). */
  private[graft] def commitStaged(dir: String, files: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      overwrite: Boolean = false,
      txn: Option[(String, Long)] = None,
      cmap: Map[String, String] = Map.empty,
      retired: Set[String] = Set.empty): Option[Int] = {
    require(!(overwrite && txn.isDefined),
      "staged commit is append-with-txn or overwrite, not both")
    // `cmap`/`retired` are the column mapping + retired-name set the
    // write was PLANNED under (executors wrote physical field names);
    // an APPEND requires them to still be the table's — a rename/drop
    // racing the write throws instead of publishing files whose
    // physical names are out of step or resurrecting a dropped column.
    // An OVERWRITE skips the check by design (ADVICE r14): truncate
    // REPLACES the table — its files carry logical names and the
    // commit below resets the mapping, so a mapping that changed since
    // planning cannot corrupt anything (every old file leaves).
    if (!overwrite)
      require(columnMap() == cmap && retiredColumns() == retired,
        s"column mapping of $root changed while a connector write was " +
          "staged — retry the write")
    cleanOrphans(dir, files)
    val dropStaged = () => {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
      ()
    }
    if (txn.exists { case (a, b) => lastTxn(a).exists(_ >= b) }) {
      dropStaged(); return None // replayed batch — exactly-once skip
    }
    val cons0 = constraints()
    val stagedDf = () => stagedLogicalDf(dir, schema, cmap)
    if (cons0.nonEmpty && files.nonEmpty)
      checkConstraints(stagedDf(), cons0)
    val newStats = statsFor(dir)
    val stagedBloom =
      if (!overwrite) bloomConfigPhys()
      else {
        // truncate-mode files carry LOGICAL names and the mapping
        // resets below — translate the physical-keyed config
        val cm = columnMap()
        bloomConfigPhys().map { case (c, b) => logicalOf(cm, c) -> b }
      }
    buildBloom(dir, newStats, stagedBloom)
    val committed = commitWithRetry(
        txn.map { case (a, b) => Map(a -> b) }.getOrElse(Map.empty),
        if (overwrite) "overwrite" else txn.fold("append")(_ => "txn-append")) {
      v =>
        if (txn.exists { case (a, b) =>
            readTxn(v - 1).get(a).exists(_ >= b) }) None
        else if (overwrite) {
          // a constraint added since the pre-loop validation must gate
          // the replacement rows too (the addConstraint stale-base guard
          // only covers the opposite interleaving)
          if (files.nonEmpty) recheckOnRebase(stagedDf(), cons0, prevEntry(v))
          // truncate = replace: files carry LOGICAL names, mapping resets;
          // a zero-row replacement empties the table without committing
          // the empty staged dir as a live entry
          Some(Composed(if (files.nonEmpty) Seq(dir) else Nil, Nil,
            newStats, Some(schema), 2,
            bloomCols = Some(stagedBloom),
            colMap = Some((Map.empty, Set.empty))))
        }
        else {
          val p = prevEntry(v)
          guardCmapOnRebase(cmap, retired, p)
          if (files.nonEmpty) recheckOnRebase(stagedDf(), cons0, p)
          // a zero-row batch (e.g. INSERT ... WHERE false) publishes a
          // data-identical entry — the txn watermark still advances, but
          // the empty dir mkdirs'd by cleanOrphans never becomes a live
          // entry accumulating in listings/checkpoints (ADVICE r14;
          // mirrors commitStagedReplace's files.nonEmpty guard)
          Some(Composed(
            if (files.nonEmpty) p.data :+ dir else p.data,
            p.deletes,
            p.stats ++ (if (files.nonEmpty) newStats else Nil),
            if (v == 1) Some(schema) else schemaOf(v - 1).map(widen(_, schema)),
            math.min(p.sv, 2)))
        }
    }
    // drop the staged dir when it never became a live entry: lost to our
    // own replay, or a zero-row batch
    if (committed.isEmpty || files.isEmpty) dropStaged()
    committed
  }

  /** Commit a row-level COPY-ON-WRITE replacement staged by the snaplog
    * DSv2 write path (SQL `DELETE`/`UPDATE`/`MERGE` via
    * `SupportsRowLevelOperations`): the new dir's rows REPLACE exactly
    * `replaced` (the files the operation's scan planned — candidates
    * the command's condition may touch); every other live file carries
    * into the new snapshot untouched, file-level where an entry splits —
    * the same exact-file COW contract as [[commitMerge]]. Pinned to
    * `base` like merge: any interleaved commit throws
    * `ConcurrentModificationException` rather than publishing a lost
    * update. `consolidateSidecar` (MERGE only) re-keys pending
    * merge-on-read sidecars to (old keys) minus (keys present in the
    * replacement) so a MERGE INSERT of a previously deleted key
    * resurrects it — [[commitMerge]]'s resurrection semantics at
    * sidecar-sized cost. */
  private[graft] def commitStagedReplace(dir: String, files: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      replaced: Seq[String], base: Int, op: String,
      consolidateSidecar: Boolean = false): Int = {
    require(base >= 1, s"$op on an empty table at $root")
    cleanOrphans(dir, files)
    val e0 = readEntry(base)
    // the replacement files were written under e0's PHYSICAL names (the
    // row-level write physicalizes like any append), so they splice next
    // to the carried files seamlessly
    val stagedDf = () => stagedLogicalDf(dir, schema, e0.cmap)
    if (e0.constraints.nonEmpty && files.nonEmpty)
      checkConstraints(stagedDf(), e0.constraints)
    val newStats = statsFor(dir)
    buildBloom(dir, newStats, e0.bloomCols)
    val replacedSet = replaced.map(normPath).toSet
    def isReplaced(f: String) = replacedSet.contains(normPath(f))

    val byEntry: Seq[(String, Seq[FileStat])] =
      e0.data.map(d => d -> e0.stats.filter(s => belongsTo(s.file, d)))
    // untouched dirs first (base order), carried split-files after — the
    // sequence shape the delta encoding reproduces exactly, so a
    // file-pruned SQL DML publishes a change-sized delta entry
    val untouchedDirs = Seq.newBuilder[String]
    val carriedFiles = Seq.newBuilder[String]
    val keptFiles = Seq.newBuilder[String]
    for ((d, fs) <- byEntry) {
      val unstatted =
        if (e0.sv >= 2 && fs.nonEmpty) Nil
        else {
          val statted = fs.map(s => normPath(s.file)).toSet
          dataFilesOf(d).filterNot(f => statted.contains(normPath(f)))
        }
      val touched = fs.exists(s => isReplaced(s.file)) ||
        unstatted.exists(isReplaced) || isReplaced(d)
      if (!touched) { untouchedDirs += d; keptFiles ++= fs.map(_.file) }
      else {
        // the entry splits: unreplaced files carry file-level (stats
        // rows verbatim; legacy unstatted survivors carry without one —
        // e0.sv is already < 2 in that case, so coverage stays honest)
        val carry = fs.filterNot(s => isReplaced(s.file))
        carriedFiles ++= carry.map(_.file) ++
          unstatted.filterNot(isReplaced)
        keptFiles ++= carry.map(_.file)
      }
    }
    val keptEntries = Seq.newBuilder[String]
    keptEntries ++= untouchedDirs.result() ++= carriedFiles.result()
    val keptFileSet = keptFiles.result().toSet
    val keptStats = Seq.newBuilder[FileStat]
    keptStats ++= e0.stats.filter(s => keptFileSet.contains(s.file))

    // non-MERGE rewrites must not reintroduce a sidecar-masked KEY: the
    // carried sidecar would silently hide the rewritten row (an UPDATE
    // `SET key = <deleted key>` would report success and vanish), and
    // un-masking it would resurrect the ORIGINAL row still living in a
    // carried file — the same ambiguity the API's key-SET-under-sidecar
    // refusal covers; MERGE consolidates instead (resurrection is its
    // documented contract)
    if (e0.deletes.nonEmpty && !consolidateSidecar && files.nonEmpty) {
      import org.apache.spark.sql.functions.{broadcast, col}
      val clash = stagedDf().select(col(keyCol)).distinct()
        .join(broadcast(spark.read.parquet(e0.deletes: _*)
          .select(col(keyCol)).distinct()), Seq(keyCol), "left_semi")
        .limit(1).collect()
      require(clash.isEmpty,
        s"$op on $root rewrites key ${clash.headOption.fold("")(_.toString)}" +
          " which a pending delete sidecar masks — the row would either " +
          "vanish behind the sidecar or resurrect the deleted original; " +
          "compact() first")
    }
    val newDeletes: Seq[String] =
      if (e0.deletes.isEmpty || !consolidateSidecar || files.isEmpty)
        e0.deletes
      else {
        import org.apache.spark.sql.functions.{broadcast, col}
        val newKeys = spark.read.schema(schema).parquet(dir)
          .select(col(keyCol)).distinct()
        val remaining = spark.read.parquet(e0.deletes: _*)
          .select(col(keyCol)).distinct()
          .join(broadcast(newKeys), Seq(keyCol), "left_anti")
        if (remaining.isEmpty) Nil
        else {
          val dd = newDeleteDir()
          remaining.write.mode("errorifexists").parquet(dd)
          Seq(dd)
        }
      }

    commitWithRetry(op = op) { v =>
      if (v != base + 1)
        throw new java.util.ConcurrentModificationException(
          s"$op computed against version $base of $root but version " +
            s"${v - 1} has been committed since — the copy-on-write file " +
            "set is stale; re-run against the new snapshot")
      val dataDir = if (files.nonEmpty) Seq(dir) else Nil
      Some(Composed(keptEntries.result() ++ dataDir, newDeletes,
        keptStats.result() ++ (if (files.nonEmpty) newStats else Nil),
        Some(schema), e0.sv))
    }.get
  }

  /** Read the table at `version` (default: latest). One log-entry read
    * resolves the file set; deletes apply as a broadcast anti-join. */
  def read(version: Int = -1): DataFrame = readImpl(version, None)

  /** Range read with LOG-STATS file skipping: resolve `version`'s entry,
    * keep only part files whose logged [min,max] of `keyCol` intersects
    * [keyLo, keyHi], scan just those, and still apply the predicate (the
    * stats skip files; the filter is exact). Files without trusted key
    * bounds (non-integral key, all-NULL keys, legacy entries) are always
    * scanned — pruning is never allowed to change results. Because the
    * stats live IN the versioned entry, skipping works identically at
    * any time-travel version — no live-layout manifest to rebuild. */
  def readRange(keyLo: Long, keyHi: Long, version: Int = -1): DataFrame =
    readImpl(version, Some(LongPred(keyCol, keyLo, keyHi)))

  /** [[readRange]] generalized to ANY column with logged stats — the
    * entry carries per-file [min, max] for every integral top-level
    * column (up to [[statCols]] beyond the key, Delta's first-N-columns
    * convention), so a range predicate on a non-key column also prunes
    * from the LOG alone. Files without stats for `column`
    * (non-integral, all-NULL there, or beyond the cap) are always
    * scanned; the exact filter applies regardless. */
  def readWhere(column: String, lo: Long, hi: Long,
      version: Int = -1): DataFrame =
    readImpl(version, Some(LongPred(column, lo, hi)))

  /** [[readWhere]] for STRING columns: the entry carries per-file
    * [min, max] string bounds too (printable-ASCII-short only, so Java
    * ordering matches parquet's unsigned-byte stats order; anything
    * else never materializes a bound and the file is always scanned).
    * Point lookups are `readWhereString(c, v, v)` — the common
    * lang/category/event_type pruning on clustered layouts. */
  def readWhereString(column: String, lo: String, hi: String,
      version: Int = -1): DataFrame =
    readImpl(version, Some(StrPred(column, lo, hi)))

  /** NULL-probe read with log-stats skipping (round 13 — Delta's
    * nullCount pruning): the entry carries per-file NULL counts, so
    * `column IS NULL` skips files the log proves null-free
    * (nullCount = 0) and `column IS NOT NULL` skips files the log
    * proves all-NULL (nullCount = rows) — the common "which rows still
    * need the backfill?" probe after a schema evolution. Files without
    * a trusted null count for `column` (including pre-evolution files
    * that lack the column entirely) are always scanned; the exact
    * filter applies regardless. */
  def readWhereNull(column: String, isNull: Boolean,
      version: Int = -1): DataFrame =
    readImpl(version, Some(NullPred(column, isNull)))

  private sealed trait Pred { def col: String }
  private case class LongPred(col: String, lo: Long, hi: Long) extends Pred
  private case class StrPred(col: String, lo: String, hi: String) extends Pred
  private case class NullPred(col: String, isNull: Boolean) extends Pred

  /** Could a stat row's file hold rows matching the predicate? True
    * when the logged evidence intersects OR the file carries no trusted
    * evidence for the column — pruning is never allowed to change
    * results. */
  private def mayMatch(s: FileStat, p: Pred): Boolean = p match {
    case LongPred(c, lo, hi) =>
      val b = if (c == keyCol && s.keyed) Some((s.lo, s.hi)) else s.cols.get(c)
      b.forall { case (l, h) => h >= lo && l <= hi }
    case StrPred(c, lo, hi) =>
      s.scols.get(c).forall { case (l, h) => h >= lo && l <= hi }
    case NullPred(c, isNull) =>
      if (s.rows < 0) true
      else s.nulls.get(c) match {
        case None    => true // no trusted count — scan
        case Some(n) => if (isNull) n > 0 else n < s.rows
      }
  }

  /** Translate a logical-named predicate to the version's physical
    * names (stats and files are keyed physically). */
  private def toPhysPred(e: Entry, p: Pred): Pred = p match {
    case LongPred(c, lo, hi) => LongPred(physCol(e, c), lo, hi)
    case StrPred(c, lo, hi)  => StrPred(physCol(e, c), lo, hi)
    case NullPred(c, n)      => NullPred(physCol(e, c), n)
  }

  private def filterExpr(p: Pred): org.apache.spark.sql.Column = p match {
    case LongPred(c, lo, hi)  => col(c) >= lo && col(c) <= hi
    case StrPred(c, lo, hi)   => col(c) >= lo && col(c) <= hi
    case NullPred(c, isNull)  => if (isNull) col(c).isNull else col(c).isNotNull
  }

  /** Stats-pruned candidate list for predicate `p` at entry `e`: the
    * files whose logged evidence may match, PLUS everything the stats
    * don't cover (sv≥2: entries with no stats rows whole; legacy: the
    * per-file uncovered set). None when the entry has no stats at all —
    * the caller reads the data entries whole. Both paths may mix dirs
    * and files; pruning never changes results. */
  private def prunedPaths(e: Entry, p: Pred): Option[Seq[String]] = {
    if (e.stats.isEmpty) return None
    // only stats rows of LIVE entries participate (defensive: every
    // commit path already drops rewritten files' rows); paths are
    // normalized, so dir-path spelling (scheme prefixes, double
    // slashes) cannot unprune or misprune
    val liveStats = e.stats.filter(s => e.data.exists(belongsTo(s.file, _)))
    val keep = liveStats.filter(mayMatch(_, p)).map(_.file)
    val extra =
      if (e.sv >= 2) {
        // sv≥2: stats are the complete file listing — entries with
        // no stats rows at all are empty dirs or raw-published test
        // fixtures; scan them whole (correctness over pruning)
        e.data.filterNot(d => e.stats.exists(s => belongsTo(s.file, d)))
      } else {
        // legacy partial coverage: uncovered is computed at FILE
        // granularity (one listing per live dir) so a file lacking a
        // stats row is scanned, never silently pruned — the round-12
        // dir-granularity shortcut could drop an unstatted file
        // whose sibling was statted
        val statted = liveStats.map(s => normPath(s.file)).toSet
        e.data.flatMap(d => dataFilesOf(d)
          .filterNot(f => statted.contains(normPath(f))))
      }
    Some(keep ++ extra)
  }

  private def readImpl(version: Int,
      range: Option[Pred]): DataFrame = {
    val latest = currentVersion()
    require(latest >= 1, s"empty table at $root")
    val v = if (version < 0) latest else version
    require(v >= 1 && v <= latest,
      s"version $v out of range [1, $latest] for $root")
    val e = readEntry(v)
    // a ZERO-DATA version (CREATE TABLE before the first insert, or a
    // DELETE that emptied the table) reads as an empty frame under the
    // logged schema — parquet() cannot be called with no paths
    if (e.data.isEmpty) {
      val sch = schemaOf(v).getOrElse(throw new IllegalArgumentException(
        s"version $v of $root has no data and no logged schema"))
      val empty = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), sch)
      return range.map(p => empty.where(filterExpr(p))).getOrElse(empty)
    }
    // read with the schema AS OF this version, straight from the entry:
    // no footer inference (a driver-side file scan at 100 TB file
    // counts), evolved tables read old files' missing columns as NULL,
    // and time travel sees each version under its own schema — files
    // open under their PHYSICAL names and rename to the version's
    // logical names (column mapping; identity for unmapped tables)
    val rd = physSchema(v, e).map(spark.read.schema(_)).getOrElse(spark.read)
    val physRange = range.map(toPhysPred(e, _))
    val base = physRange match {
      case Some(p) => prunedPaths(e, p) match {
        case Some(paths) =>
          val df = if (paths.isEmpty)
            rd.parquet(e.data: _*).where(lit(false))
          else rd.parquet(paths: _*)
          df.where(filterExpr(p))
        case None =>
          rd.parquet(e.data: _*).where(filterExpr(p))
      }
      case None => rd.parquet(e.data: _*)
    }
    val logical = toLogical(base, v, e)
    if (e.deletes.isEmpty) logical
    else logical.join(
      broadcast(spark.read.parquet(e.deletes: _*)
        .select(col(keyCol)).distinct()),
      Seq(keyCol), "left_anti")
  }

  /** RESTORE: roll the table back to `version`'s state as a NEW commit
    * (history preserved — Delta's `RESTORE TABLE ... VERSION AS OF`).
    * Metadata-only and O(entry): the new entry re-publishes the target
    * version's listing, stats, and schema verbatim; no data moves, so
    * restoring a 100 TB table costs one JSON publish. The restored
    * entry's references also re-protect those files from [[vacuum]]
    * (refs are computed over retained entries). Fails loudly up front
    * if any referenced path was already vacuumed. Txn watermarks are
    * NOT rolled back — they only advance, so a restore can never
    * resurrect an already-applied streaming batch as "new". */
  def restore(version: Int): Int = {
    val latest = currentVersion()
    require(version >= 1 && version <= latest,
      s"restore target $version out of [1, $latest] for $root")
    val e = readEntry(version)
    val hconf = spark.sessionState.newHadoopConf()
    for (d <- e.data ++ e.deletes) {
      val p = new org.apache.hadoop.fs.Path(d)
      require(p.getFileSystem(hconf).exists(p),
        s"cannot restore $root to version $version: $d was vacuumed; " +
          "only versions whose files survive retention are restorable")
    }
    val sch = schemaOf(version)
    // the target's partition values restore with its listing; constraints
    // do NOT roll back (like txn watermarks, invariants only advance —
    // restored rows predate them and are not revalidated, Delta's call)
    commitWithRetry(op = "restore")(_ =>
      Some(Composed(e.data, e.deletes, e.stats, sch, e.sv,
        newPvals = e.pvals, colMap = Some((e.cmap, e.retired))))).get
  }

  /** The newest RETAINED version whose logged commit time (mtime
    * fallback for legacy entries) is at or before `tsMillis` — the
    * TIMESTAMP AS OF resolution rule, shared by the connector's
    * time-travel load and [[restoreToTimestamp]]. Loud when the whole
    * retained history is newer. */
  def versionAtTime(tsMillis: Long): Int = {
    val latest = currentVersion()
    require(latest >= 1, s"empty table at $root")
    (1 to latest).filter(i => Files.exists(entryPath(i)) &&
        commitTimeOf(i) <= tsMillis)
      .lastOption.getOrElse(throw new IllegalArgumentException(
        s"no snaplog version of $root committed at or before " +
          s"timestamp $tsMillis ms (earliest retained entry is newer)"))
  }

  /** RESTORE TO TIMESTAMP (round 16 — Delta's second restore spelling):
    * resolve the timestamp against the logged commit times and restore
    * that version — same file-survival checks, same constraints-never-
    * roll-back contract as [[restore]]. */
  def restoreToTimestamp(tsMillis: Long): Int =
    restore(versionAtTime(tsMillis))

  /** Fold delete sidecars into the data (the deletion-vector compaction):
    * materializes the current view as one overwrite commit. Conflict-
    * checked: a commit landing between the snapshot read and the publish
    * throws `ConcurrentModificationException` (never a lost update). */
  def compact(): Int = {
    val v0 = currentVersion()
    overwriteWith(read(v0), "compact", base = Some(v0))
  }

  /** Small-file BIN-PACKING compaction (round 16 — Delta's plain
    * `OPTIMIZE`, which rewrites only fragments): rewrite ONLY the data
    * files smaller than `smallBytes` into ~`targetBytes` key-clustered
    * outputs; every right-sized file carries as pure METADATA. At
    * 100 TB, streaming ingest's long tail of small files is THE
    * maintenance problem, and "rewrite the table" ([[optimize]]) is not
    * an answer — this touches bytes proportional to the FRAGMENTS.
    * Selection is pure metadata (the logged per-file byte sizes):
    * UNPARTITIONED entries compact at FILE granularity (their carried
    * files re-enter file-level — nothing is lost, they carry no pvals);
    * PARTITIONED leaves compact only when EVERY file of the leaf is
    * small (each compacts into its own dir, re-entering `pvals` under
    * the same assignment so partition alignment survives; a mixed leaf
    * is [[optimizePartition]]'s job — documented). Files the log cannot
    * size (legacy entries) never move. Pending MOR sidecar keys FOLD
    * into the rewritten rows and the sidecar carries for the rest —
    * the [[optimizePartition]] contract. Returns the CURRENT version
    * unchanged when no group has ≥ 2 small files (nothing to gain).
    * Concurrency: REBASES like [[optimizePartition]] — appends and
    * foreign maintenance compose; only a commit that touched the
    * selected files throws. */
  def compactSmallFiles(smallBytes: Long,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    require(smallBytes >= 1 && targetBytes >= 1,
      s"byte thresholds must be positive, got $smallBytes/$targetBytes")
    val v0 = currentVersion()
    require(v0 >= 1, s"compactSmallFiles on an empty table at $root")
    val e0 = readEntry(v0)
    val byEntry = e0.data.map(d => d -> e0.stats.filter(s =>
      belongsTo(s.file, d)))
    def small(s: FileStat) = s.bytes >= 0 && s.bytes < smallBytes
    // group key: the owning leaf's partition assignment (None =
    // unpartitioned pool); each group rewrites into its OWN dir. A
    // group only packs with ≥ 2 files in it — collapsing many one-file
    // leaves of the same partition is exactly the streaming-ingest case
    val groups = scala.collection.mutable.LinkedHashMap
      .empty[Option[Map[String, String]], Vector[(String, Seq[FileStat])]]
    for ((d, fs) <- byEntry) {
      e0.pvals.get(d) match {
        case Some(assign) =>
          if (fs.nonEmpty && fs.forall(small))
            groups.updateWith(Some(assign))(prev =>
              Some(prev.getOrElse(Vector.empty) :+ (d -> fs)))
        case None =>
          val sm = fs.filter(small)
          if (sm.nonEmpty)
            groups.updateWith(None)(prev =>
              Some(prev.getOrElse(Vector.empty) :+ (d -> sm)))
      }
    }
    val packs: Seq[(Option[Map[String, String]], Seq[FileStat])] =
      groups.toSeq
        .map { case (a, leaves) => a -> leaves.flatMap(_._2) }
        .filter(_._2.size >= 2)
    if (packs.isEmpty) return v0 // nothing worth packing
    val packedKeys = packs.map(_._1).toSet
    // wholly-selected PARTITIONED leaves leave the listing outright
    val replaced: Set[String] = groups.toSeq.collect {
      case (k @ Some(_), leaves) if packedKeys.contains(k) =>
        leaves.map(_._1)
    }.flatten.toSet
    val selFiles = packs.flatMap(_._2).map(_.file).toSet
    val rd = physSchema(v0, e0).map(spark.read.schema(_)).getOrElse(spark.read)
    def folded(files: Seq[String]): DataFrame = {
      val raw = toLogical(rd.parquet(files: _*), v0, e0)
      if (e0.deletes.isEmpty) raw
      else raw.join(broadcast(spark.read.parquet(e0.deletes: _*)
        .select(col(keyCol)).distinct()), Seq(keyCol), "left_anti")
    }
    val rewritten: Seq[(String, Option[Map[String, String]], Seq[FileStat])] =
      packs.map { case (assign, fs) =>
        val n = math.max(1,
          math.ceil(fs.map(_.bytes).sum.toDouble / targetBytes).toInt)
        val dir = newDataDir()
        physicalize(folded(fs.map(_.file))
            .repartitionByRange(n, col(keyCol)), e0.cmap)
          .write.mode("errorifexists").parquet(dir)
        val st = statsFor(dir)
        buildBloom(dir, st, e0.bloomCols)
        (dir, assign, st)
      }
    commitWithRetry(op = "compact-files") { v =>
      val p = prevEntry(v)
      guardCmapOnRebase(e0.cmap, e0.retired, p)
      // the rewrite depends ONLY on the selected files: any interleaved
      // commit that kept them listed (appends, foreign partitions' work,
      // new sidecars — their keys still mask through the read-side
      // anti-join) composes; one that removed or re-homed them throws
      val pFiles = p.stats.map(_.file).toSet
      val pvalsHeld = replaced.forall(d =>
        p.data.contains(d) && p.pvals.get(d) == e0.pvals.get(d))
      if (!selFiles.subsetOf(pFiles) || !pvalsHeld)
        throw new java.util.ConcurrentModificationException(
          s"compactSmallFiles computed against version $v0 of $root but " +
            "a commit since has replaced selected files — the pack is " +
            "stale; re-run against the new snapshot")
      // unpartitioned entries split: their UNSELECTED files re-enter
      // file-level; wholly-replaced leaves leave outright
      val touchedEntries = p.data.filter { d =>
        !replaced.contains(d) &&
          p.stats.exists(s => belongsTo(s.file, d) && selFiles(s.file))
      }.toSet
      val carriedFiles = touchedEntries.toSeq.flatMap { d =>
        p.stats.collect { case s
            if belongsTo(s.file, d) && !selFiles(s.file) => s.file }
      }
      val keptData = p.data.filterNot(d =>
        replaced.contains(d) || touchedEntries.contains(d)) ++
        carriedFiles ++ rewritten.map(_._1)
      val keptStats = p.stats.filterNot(s => selFiles(s.file)) ++
        rewritten.flatMap(_._3)
      Some(Composed(keptData, p.deletes, keptStats,
        schemaOf(v - 1), math.min(p.sv, e0.sv),
        newPvals = rewritten.collect {
          case (dir, Some(assign), _) => dir -> assign
        }.toMap))
    }.get
  }

  /** OPTIMIZE / CLUSTER BY: rewrite the live view clustered into
    * `numFiles` part files (one overwrite commit, delete sidecars folded
    * like [[compact]], same conflict guard). With no `zorderCols` the
    * layout is range-clustered on `keyCol` (key-disjoint [lo, hi] per
    * file); with k ≥ 2 columns it is Z-ORDERED — the rows are clustered
    * by the interleaved-bit Morton value of the given INTEGRAL columns
    * ([[LayoutOps.zvalueK]]), so the logged per-file stats prune a range
    * probe on ANY of them to ~n^((k−1)/k) of the files, exactly Delta's
    * `OPTIMIZE ZORDER BY (c1, c2, …)`. Clustering is what makes the
    * log's stats bite: with fragmented ingest every file spans the key
    * space and prunes nothing. Costs one extra bounds aggregate over the
    * snapshot (driver-side k·2 longs) before the clustered rewrite. */
  def optimize(numFiles: Int, zorderCols: String*): Int = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val v0 = currentVersion()
    val base = read(v0)
    val clustered =
      if (zorderCols.isEmpty) base.repartitionByRange(numFiles, col(keyCol))
      else if (zorderCols.size == 1)
        base.repartitionByRange(numFiles, col(zorderCols.head))
      else
        LayoutOps.zvalueK(base, zorderCols, zCol = "__graft_z")
          .repartitionByRange(numFiles, col("__graft_z"))
          .sortWithinPartitions(col("__graft_z"))
          .drop("__graft_z")
    overwriteWith(clustered, "optimize", base = Some(v0))
  }

  /** Partition-scoped OPTIMIZE (round 15 — Delta's `OPTIMIZE t WHERE
    * part = v`): rewrite ONLY the data entries whose LOGGED partition
    * values match `values` into `numFiles` key-clustered (or z-ordered)
    * files; every other entry is untouched at the METADATA level — at
    * 100 TB, maintenance is per-partition or it does not happen (the
    * table-wide [[optimize]] rewrites everything). Selection is pure
    * metadata (`pvals`, like [[readPartitions]]); a `values` set
    * matching nothing is an exact no-op returning the current version.
    * Pending MOR delete sidecars FOLD into the rewritten rows and the
    * sidecar carries unchanged — the rewritten partition's masked rows
    * are gone from its files, other partitions keep masking by key, and
    * re-anti-joining the rewritten rows is harmless (their masked keys
    * no longer exist there).
    *
    * Partition-alignment is PRESERVED when `values` pins the full
    * assignment of every selected entry (the common case — one leaf
    * partition): the rewritten dir re-enters `pvals` under the same
    * assignment, so `commitReplacePartitions`/`readPartitions` keep
    * working — unlike the table-wide optimize, which drops alignment. A
    * partial pin (a subset of a multi-spec partitioning) merges leaves
    * and the rewritten dir leaves `pvals` (documented, like merge).
    * Conflict-pinned to the base version like optimize/compact. */
  def optimizePartition(values: Map[String, String], numFiles: Int,
      zorderCols: String*): Int = {
    require(values.nonEmpty,
      "optimizePartition needs at least one column=value")
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val v0 = currentVersion()
    require(v0 >= 1, s"optimizePartition on an empty table at $root")
    val e0 = readEntry(v0)
    val canon = values.map { case (k, x) =>
      val t = PTransform.parse(k)
      t.withSrc(physCol(e0, t.srcCol)).spec -> x
    }
    val selected = e0.data.filter { d =>
      e0.pvals.get(d).exists(vs =>
        canon.forall { case (c, x) => vs.get(c).contains(x) })
    }
    if (selected.isEmpty) return v0 // no such partition — metadata no-op
    val selSet = selected.toSet
    val rd = physSchema(v0, e0).map(spark.read.schema(_)).getOrElse(spark.read)
    val raw = toLogical(rd.parquet(selected: _*), v0, e0)
    val folded =
      if (e0.deletes.isEmpty) raw
      else raw.join(broadcast(spark.read.parquet(e0.deletes: _*)
        .select(col(keyCol)).distinct()), Seq(keyCol), "left_anti")
    val clustered =
      if (zorderCols.isEmpty)
        folded.repartitionByRange(numFiles, col(keyCol))
      else if (zorderCols.size == 1)
        folded.repartitionByRange(numFiles, col(zorderCols.head))
      else
        LayoutOps.zvalueK(folded, zorderCols, zCol = "__graft_z")
          .repartitionByRange(numFiles, col("__graft_z"))
          .sortWithinPartitions(col("__graft_z"))
          .drop("__graft_z")
    val dir = newDataDir()
    physicalize(clustered, e0.cmap).write.mode("errorifexists").parquet(dir)
    val newStats = statsFor(dir)
    buildBloom(dir, newStats, e0.bloomCols)
    val uniform = selected.forall(d => e0.pvals.get(d).contains(canon))
    commitWithRetry(op = "optimize-partition") { v =>
      val p = prevEntry(v)
      // REBASE, not pin (the replacePartitions concurrency model): the
      // rewrite depends ONLY on the selected entries, so any interleaved
      // commit that left them untouched — appends, other partitions'
      // maintenance, new delete sidecars (their keys still mask the
      // rewritten rows through the read-side anti-join) — composes
      // cleanly, and one maintenance job per partition runs
      // UNSERIALISED. Only a commit that touched OUR entries (same
      // partition raced, or a table-wide rewrite re-shaped the listing)
      // makes the rewrite stale and throws.
      guardCmapOnRebase(e0.cmap, e0.retired, p)
      val pSet = p.data.toSet
      if (!selected.forall(d => pSet.contains(d) &&
          p.pvals.get(d) == e0.pvals.get(d)))
        throw new java.util.ConcurrentModificationException(
          s"optimizePartition computed against version $v0 of $root but " +
            "a commit since has replaced the selected partition's " +
            "entries — the rewrite is stale; re-run against the new " +
            "snapshot")
      Some(Composed(p.data.filterNot(selSet) :+ dir, p.deletes,
        p.stats.filterNot(s => selected.exists(d => belongsTo(s.file, d)))
          ++ newStats,
        schemaOf(v - 1), math.min(p.sv, e0.sv),
        newPvals = if (uniform) Map(dir -> canon) else Map.empty))
    }.get
  }

  // ---- round 12: MERGE / change feed / VACUUM ---------------------------

  /** Scheme-stripped, slash-collapsed path — entries written by
    * `input_file_name()` are URI-form (`file:///x`), locally-walked and
    * caller-supplied paths are plain; all comparisons go through here. */
  private def normPath(p: String): String = {
    val viaUri =
      try {
        val u = new java.net.URI(p)
        if (u.getScheme != null) u.getPath else p
      } catch { case _: Exception => p }
    viaUri.replaceAll("/{2,}", "/").stripSuffix("/")
  }

  /** Does stat/walked file `f` belong to data entry `d` (a dir or a
    * single file)? */
  private def belongsTo(f: String, d: String): Boolean = {
    val nf = normPath(f); val nd = normPath(d)
    nf == nd || nf.startsWith(nd + "/")
  }

  /** Data files of an entry (a dir or a single file) — one metadata
    * listing, no data read. */
  private[graft] def dataFilesOf(entry: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(entry)
    val fsys = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fsys.getFileStatus(p).isFile) Seq(entry)
    else fsys.listStatus(p).toSeq.filter(_.isFile).map(_.getPath.toString)
      .filter { f =>
        val n = f.substring(f.lastIndexOf('/') + 1)
        !n.startsWith("_") && !n.startsWith(".")
      }
  }

  /** Which stat intervals does at least one key of `keys` stab? One
    * distributed pass: the file intervals (file-count-sized metadata)
    * broadcast sorted by `lo` with a running max-`hi` prefix, each key
    * binary-searched to its rightmost candidate and walked left only
    * while the prefix max still reaches it — O(log F + overlap) per key,
    * exact (no false positives, no misses). Unbounded sentinel rows span
    * everything and are stabbed by any key (always rewritten —
    * conservative). Returns the stabbed files. */
  private def stabbedFiles(keys: DataFrame, stats: Seq[FileStat]): Set[String] = {
    import spark.implicits._
    val sorted = stats.sortBy(_.lo).toArray
    val los = sorted.map(_.lo)
    val his = sorted.map(_.hi)
    val maxHi = new Array[Long](sorted.length)
    var m = Long.MinValue
    for (i <- sorted.indices) { m = math.max(m, his(i)); maxHi(i) = m }
    val bc = spark.sparkContext.broadcast((los, his, maxHi))
    val hitIdx = keys.select(col(keyCol).cast("long").as("k"))
      .where(col("k").isNotNull) // null keys stab nothing (join semantics)
      .as[Long]
      .mapPartitions { it =>
        val (los, his, maxHi) = bc.value
        val hit = new scala.collection.mutable.BitSet(los.length)
        it.foreach { k =>
          var j = java.util.Arrays.binarySearch(los, k)
          if (j >= 0) { // rightmost equal lo
            while (j + 1 < los.length && los(j + 1) == k) j += 1
          } else j = -j - 2
          while (j >= 0 && maxHi(j) >= k) {
            if (his(j) >= k && los(j) <= k) hit += j
            j -= 1
          }
        }
        hit.iterator.map(_.toLong)
      }.distinct().collect().toSet
    bc.destroy()
    sorted.iterator.zipWithIndex
      .collect { case (s, i) if hitIdx.contains(i.toLong) => s.file }.toSet
  }

  /** Copy-on-write MERGE (upsert): every current row whose `keyCol`
    * matches a key in `updates` is replaced by the update rows;
    * unmatched update keys are inserts. The 100 TB contract is that the
    * rewrite is FILE-pruned EXACTLY: a part file is rewritten only if at
    * least one update key stabs its logged [lo, hi] interval — computed
    * by a distributed binary search of the (distinct, batch-sized)
    * update keys against the broadcast sorted file-stat intervals
    * ([[stabbedFiles]]), never by the single [min(updates),
    * max(updates)] envelope a Delta-style OPTIMIZE prune would use. The
    * difference matters precisely for the common upsert shape "update a
    * hot band + insert brand-new high keys": the envelope spans from the
    * band to the top of the key space and would rewrite half the table;
    * the stab test rewrites only the band's files, because the insert
    * keys stab nothing. Untouched files carry into the new snapshot as
    * file-level data entries — never read, never rewritten, stats rows
    * verbatim. Only stabbed files are scanned (survivors = pruned scan
    * anti-joined against the broadcast update keys) and rewritten
    * together with the updates into one new data dir. Keys without
    * integral stats (unbounded sentinel rows, legacy entries) fall back
    * to rewriting everything — correct, just unpruned.
    *
    * Pending merge-on-read delete sidecars are CONSOLIDATED, not
    * carried: the new sidecar is (old delete keys) minus (update keys),
    * so an upsert of a previously deleted key resurrects it — MERGE
    * operates on the current view, exactly Delta's semantics. Sidecars
    * are key-count-sized, so the consolidation is metadata-cheap.
    *
    * Concurrency: a merge's rewrite is computed against the snapshot it
    * started from; if ANY other commit lands first, rebasing would
    * require redoing the rewrite, so the merge fails loudly with
    * `ConcurrentModificationException` (the serializable write-conflict
    * Delta reports for overlapping transactions) instead of publishing a
    * lost update. Appends/deletes remain freely concurrent.
    *
    * `cdc = true` (round 13 — Delta's `_change_data` when CDF is
    * enabled): the merge ALSO materializes its exact change rows to a
    * sidecar recorded in the entry (`"cdc"`): the pre-image of every
    * VISIBLE matched row tagged `delete` plus every update row tagged
    * `insert` — `changes(v0, v0+1)` at band-sized extra write cost and
    * zero extra read (the pre-images come from the stabbed scan the
    * rewrite already plans). One documented divergence: an update that
    * rewrites a row with IDENTICAL values still emits its delete+insert
    * pair (the operation's view — Delta CDF's update_pre/postimage),
    * where the lazy `changes()` multiset diff cancels the no-op pair.
    * The snapcdf streaming source serves merge versions from this
    * sidecar; without it they fail loudly there. */
  /** `autoMerge = true` (round 16 — Delta's `MERGE WITH SCHEMA
    * EVOLUTION` / `spark.databricks.delta.schema.autoMerge`): a source
    * batch carrying NEW columns widens the table schema exactly like an
    * append does (add-only, nullable; same-name columns keep their
    * exact type; retired/mapped physical names refuse reuse) — carried
    * files and surviving rows simply lack the new columns and read as
    * NULL. A source MISSING table columns still refuses: this merge is
    * a whole-row upsert, and silently null-filling absent columns on
    * matched rows would destroy data a narrower CDC batch never meant
    * to touch. */
  def commitMerge(updates: DataFrame, cdc: Boolean = false,
      autoMerge: Boolean = false): Int = {
    val v0 = currentVersion()
    require(v0 >= 1, "merge on an empty table — use commitAppend")
    val e0 = readEntry(v0)
    val (data, deletes, stats) = (e0.data, e0.deletes, e0.stats)

    // column-mapped tables (round 15): updates arrive under LOGICAL
    // names; the files carry PHYSICAL ones. Read the rewrite scan under
    // the physical schema, do the key anti-join/union in logical space,
    // and physicalize the replacement batch (and the cdc sidecar) before
    // they land, so the new files splice next to carried files
    // seamlessly and the mapping survives the merge.
    val schema0 = schemaOf(v0)
    val tableCols = schema0.map(_.fieldNames.toSeq)
      .getOrElse(spark.read.parquet(data.head).columns.toSeq)
    val extra = updates.columns.filterNot(tableCols.contains).toSeq
    if (autoMerge) {
      require(tableCols.forall(updates.columns.contains),
        s"merge with schema evolution widens ADD-ONLY: the source is " +
          s"missing table column(s) " +
          s"${tableCols.filterNot(updates.columns.contains).mkString(", ")}" +
          " — a whole-row upsert cannot null-fill them on matched rows")
      guardNewColumns(updates, e0, schema0)
    } else require(extra.isEmpty && updates.columns.toSet == tableCols.toSet,
      s"merge schema mismatch: table has ${tableCols.mkString(",")}, " +
        s"updates have ${updates.columns.mkString(",")}" +
        (if (extra.nonEmpty) " — pass autoMerge = true to widen" else ""))
    // the published schema: widened when evolving, verbatim otherwise
    val mergeSchema = schema0.map(s =>
      if (autoMerge) widen(s, updates.schema) else s)
    val updCols = tableCols ++ extra
    val upd = updates.select(updCols.map(col): _*)
    checkConstraints(upd, e0.constraints)
    // the distinct key set drives FOUR consumers (file stabbing, the
    // survivor anti-join broadcast, the delete-sidecar consolidation,
    // the cdc pre-image mask) — cache it ONCE instead of re-executing
    // the whole updates lineage per consumer (round 16: a warm
    // fixture-scale merge ran 14 jobs with ~2/3 of its wall in
    // inter-action planning; the set is batch-keys-sized, so the cache
    // is bounded by the merge batch, never the table). cache + explicit
    // unpersist in the finally below — not localCheckpoint — so the
    // blocks free deterministically when the verb returns instead of
    // waiting on Dataset GC (a long-lived session commits in loops).
    val updKeys = upd.select(col(keyCol)).distinct().cache()
    try {

    // exact per-file touch set: which stat intervals does at least one
    // update key stab? (None when the table has no stats at all —
    // conservative full rewrite)
    val stabbed: Option[Set[String]] =
      if (stats.isEmpty) None else Some(stabbedFiles(updKeys, stats))

    // partition the live entries: an entry is untouched iff it has full
    // stats coverage and none of its files is stabbed; entries with no
    // stats coverage are conservatively touched (rewritten whole)
    val byEntry: Seq[(String, Seq[FileStat])] =
      data.map(d => d -> stats.filter(s => belongsTo(s.file, d)))
    val (untouchedE, touchedE) = byEntry.partition { case (_, fs) =>
      stabbed.isDefined && fs.nonEmpty &&
        fs.forall(s => !stabbed.get.contains(s.file))
    }
    // within a touched entry, individual unstabbed files are still
    // carried file-level (the entry splits: files, not dirs, are the
    // rewrite unit)
    val carriedFiles = touchedE.flatMap { case (_, fs) =>
      stabbed.map(t => fs.filterNot(s => t.contains(s.file))).getOrElse(Nil)
    }
    val rewriteScan: Seq[String] = touchedE.flatMap { case (d, fs) =>
      if (stabbed.isEmpty || fs.isEmpty) Seq(d)
      else {
        // legacy (sv<2) entries may hold files with no stats row; they
        // must not be lost when the entry splits — fold them into the
        // rewrite scan (one listing; sv≥2 entries find nothing here)
        val statted = fs.map(s => normPath(s.file)).toSet
        val unstatted = dataFilesOf(d)
          .filterNot(f => statted.contains(normPath(f)))
        fs.filter(s => stabbed.get.contains(s.file)).map(_.file) ++ unstatted
      }
    }

    val survivors =
      if (rewriteScan.isEmpty) None
      else {
        // read with the LOGGED schema under PHYSICAL names: post-evolution
        // the scanned files are heterogeneous (older ones lack added
        // columns → NULL); identity mapping makes the renames no-ops
        val rd = physSchema(v0, e0).map(spark.read.schema(_))
          .getOrElse(spark.read)
        Some(toLogical(rd.parquet(rewriteScan: _*), v0, e0)
          .join(broadcast(updKeys), Seq(keyCol), "left_anti"))
      }
    // under evolution the survivors were read at the PRE-widen schema
    // and lack the new columns — null-fill them into the union
    val newData = survivors
      .map(_.unionByName(upd, allowMissingColumns = extra.nonEmpty))
      .getOrElse(upd)
    val dir = newDataDir()
    physicalize(newData, e0.cmap).write.mode("errorifexists").parquet(dir)
    val newStats = statsFor(dir)
    buildBloom(dir, newStats, e0.bloomCols)

    // consolidate sidecars: old deletes minus update keys (resurrection).
    // One pass, not two: the emptiness probe rides the sidecar write as
    // an observed metric instead of a separate isEmpty action, and an
    // empty result drops the just-written dir (round 16 — the merge verb
    // was paying an extra plan+execute of this subtree per commit)
    val newDeletes: Seq[String] =
      if (deletes.isEmpty) Nil
      else {
        val obs = org.apache.spark.sql.Observation()
        val remaining = spark.read.parquet(deletes: _*)
          .select(col(keyCol)).distinct()
          .join(broadcast(updKeys), Seq(keyCol), "left_anti")
          .observe(obs, count(lit(1)).as("n"))
        val dd = newDeleteDir()
        remaining.write.mode("errorifexists").parquet(dd)
        // POSITIVE proof of emptiness only: a missing/NULL metric keeps
        // the sidecar dir (deleting it would resurrect deleted rows) —
        // the safe default if an Observation path ever stopped blocking
        if (obs.get.get("n").exists(v =>
            v != null && v.asInstanceOf[Long] == 0L)) {
          val p = new org.apache.hadoop.fs.Path(dd)
          p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
          Nil
        } else Seq(dd)
      }

    // change-data sidecar: pre-images of VISIBLE matched rows (delete) +
    // the update rows (insert) — resurrected keys were invisible at v0,
    // so v0's sidecar keys are anti-joined out of the pre-images
    val cdcDir: Option[String] =
      if (!cdc) None
      else {
        val rd = physSchema(v0, e0).map(spark.read.schema(_))
          .getOrElse(spark.read)
        val preImages =
          if (rewriteScan.isEmpty) None
          else {
            val matched = toLogical(rd.parquet(rewriteScan: _*), v0, e0)
              .join(broadcast(updKeys), Seq(keyCol), "left_semi")
            Some(
              if (deletes.isEmpty) matched
              else matched.join(
                broadcast(spark.read.parquet(deletes: _*)
                  .select(col(keyCol)).distinct()),
                Seq(keyCol), "left_anti"))
          }
        val changeRows = preImages
          .map(_.withColumn("_change_type", lit("delete"))
            .unionByName(upd.withColumn("_change_type", lit("insert")),
              allowMissingColumns = extra.nonEmpty))
          .getOrElse(upd.withColumn("_change_type", lit("insert")))
        val cd = s"$root/cdc/c-${java.util.UUID.randomUUID().toString}"
        // the sidecar carries the same PHYSICAL names as the data files
        // (readers translate both through one rule); _change_type is
        // never mapped and passes through identity
        physicalize(changeRows, e0.cmap)
          .write.mode("errorifexists").parquet(cd)
        Some(cd)
      }

    val keptEntries = untouchedE.map(_._1) ++ carriedFiles.map(_.file)
    // kept stats in BASE-ENTRY order (same set): the delta encoding
    // reproduces sequences exactly or falls back to full — base order
    // keeps the common merge a change-sized delta publish
    val keptFileSet =
      (untouchedE.flatMap(_._2) ++ carriedFiles).map(_.file).toSet
    val keptStats = stats.filter(s => keptFileSet.contains(s.file))
    commitWithRetry(op = "merge") { v =>
      if (v != v0 + 1)
        throw new java.util.ConcurrentModificationException(
          s"merge computed against version $v0 of $root but version " +
            s"${v - 1} has been committed since — the copy-on-write file " +
            "set is stale; re-run the merge against the new snapshot")
      Some(Composed(keptEntries :+ dir, newDeletes, keptStats ++ newStats,
        mergeSchema, e0.sv, cdcDir))
    }.get
    } finally { updKeys.unpersist(); () }
  }

  /** Change data feed: the exact multiset row diff between two committed
    * versions, each row tagged `_change_type` = `insert` (present at
    * `toV`, absent at `fromV`) or `delete` (the reverse). An update
    * surfaces Delta-style as its old row deleted + its new row inserted.
    *
    * The scan is bounded by WHAT CHANGED, not table size: data entries
    * shared by both versions contribute identical multisets to both
    * sides and cancel out of the diff, so only entries present in
    * exactly one version are read — plus shared entries probed ONLY for
    * keys whose delete-sidecar membership changed (a key-sized broadcast
    * semi-join), because a sidecar flip alters a shared file's visible
    * rows without moving any data file. At 100 TB a merge that rewrote
    * 3 files costs a 3-file diff, never a full-table exceptAll. */
  def changes(fromV: Int, toV: Int): DataFrame = {
    val latest = currentVersion()
    require(fromV >= 0 && toV <= latest && fromV < toV,
      s"need 0 <= fromV < toV <= $latest, got ($fromV, $toV)")
    // fromV = 0 is "before the first commit": v1's rows all surface as
    // inserts — the streaming change-feed backfill start point
    val eA = if (fromV == 0) Entry(Nil, Nil, Nil, 2) else readEntry(fromV)
    val eB = readEntry(toV)
    val (dA, delA) = (eA.data, eA.deletes)
    val (dB, delB) = (eB.data, eB.deletes)
    val shared = dA.toSet.intersect(dB.toSet)
    val onlyA = dA.filterNot(shared)
    val onlyB = dB.filterNot(shared)

    // Per-side sidecar key sets and their symmetric difference (keys whose
    // deleted-status differs between the versions) out of ONE tagged
    // aggregate, collected to the driver: sidecar key sets are batch-sized
    // by design — the exact bound the former broadcast semi-join already
    // assumed — so collecting them costs what broadcasting them did, while
    // dropping the separate flipped.isEmpty action AND the two sidecar
    // re-scans the anti-joins below used to pay per version (round 17,
    // guide §1.2/§5: 2 sidecar-scanning jobs per version → 1).
    val sideTagged: Option[DataFrame] = {
      def rd(dirs: Seq[String], a: Boolean): Option[DataFrame] =
        if (dirs.isEmpty) None
        else Some(spark.read.parquet(dirs: _*)
          .select(col(keyCol), lit(a).as("__a"), lit(!a).as("__b")))
      (rd(delA, a = true).toSeq ++ rd(delB, a = false).toSeq)
        .reduceOption(_ unionByName _)
    }
    // (key, in delA, in delB) — one action per version with any sidecar
    val keyMembership: Array[(Any, Boolean, Boolean)] = sideTagged match {
      case None => Array.empty
      case Some(t) => t.groupBy(col(keyCol))
        .agg(max(col("__a")).as("inA"), max(col("__b")).as("inB"))
        .collect().map(r => (r.get(0), r.getBoolean(1), r.getBoolean(2)))
    }
    val keyField = org.apache.spark.sql.types.StructField(keyCol,
      sideTagged.map(_.schema.head.dataType)
        .getOrElse(org.apache.spark.sql.types.LongType))
    def keyDf(keys: Seq[Any]): DataFrame =
      spark.createDataFrame(
        keys.map(k => org.apache.spark.sql.Row(k)).asJava,
        org.apache.spark.sql.types.StructType(Seq(keyField)))
    val flippedKeys = keyMembership.filter(m => m._2 ^ m._3).map(_._1).toSeq
    val aDelKeys = keyMembership.filter(_._2).map(_._1).toSeq
    val bDelKeys = keyMembership.filter(_._3).map(_._1).toSeq
    val flippedNonEmpty = flippedKeys.nonEmpty

    // both sides diff under toV's LOGICAL schema (the Delta CDF
    // convention for feeds spanning a schema change): fromV's files
    // lacking an added column surface it as NULL, so exceptAll compares
    // aligned rows. Column-mapped tables (round 15): each side's files
    // are read under their PHYSICAL names and renamed to toV's logical
    // names. Physical names are rename-invariant (renames never move
    // data), so toV's mapping covers BOTH sides of a rename inside the
    // window; the fallback covers a mapping-resetting rewrite (compact/
    // overwrite) inside the window via logical continuity. The one
    // unresolvable corner — a rename AND a mapping-materializing rewrite
    // in the same window — reads the renamed column as a drop+add, the
    // same answer Delta gives without column IDs.
    val lSch = schemaOf(toV)
    def readView(files: Seq[String], nameOf: String => String)
        : org.apache.spark.sql.DataFrameReader => DataFrame = { rdr =>
      lSch match {
        case None => rdr.parquet(files: _*) // legacy: no schema, no cmap
        case Some(l) =>
          val phys = org.apache.spark.sql.types.StructType(
            l.fields.map(f => f.copy(name = nameOf(f.name))))
          rdr.schema(phys).parquet(files: _*)
            .select(l.fields.map(f =>
              col(nameOf(f.name)).as(f.name)).toIndexedSeq: _*)
      }
    }
    // toV's logical name → in-file physical name, per side
    val pB: String => String = c => physCol(eB, c)
    val aPhysNames: Set[String] = (if (fromV == 0) None else schemaOf(fromV))
      .map(_.fields.map(f => physCol(eA, f.name)).toSet).getOrElse(Set.empty)
    val aLogicalNames: Set[String] = (if (fromV == 0) None
      else schemaOf(fromV)).map(_.fieldNames.toSet).getOrElse(Set.empty)
    val pA: String => String = c =>
      if (aPhysNames.contains(pB(c))) pB(c)            // physical continuity
      else if (aLogicalNames.contains(c)) physCol(eA, c) // logical continuity
      else pB(c)                                       // added after fromV
    def view(own: Seq[String], delKeys: Seq[Any],
        nameOf: String => String): DataFrame = {
      val parts = Seq(
        if (own.nonEmpty) Some(readView(own, nameOf)(spark.read)) else None,
        if (shared.nonEmpty && flippedNonEmpty)
          // shared files are live at BOTH versions → toV's mapping holds;
          // the flipped set is a collected local relation — no sidecar
          // rescan rides the diff job
          Some(readView(shared.toSeq, pB)(spark.read)
            .join(broadcast(keyDf(flippedKeys)), Seq(keyCol), "left_semi"))
        else None).flatten
      val base = parts match {
        case Nil => readView(Seq((dA ++ dB).head), pB)(spark.read)
          .where(lit(false))
        case xs  => xs.reduce(_ unionByName _)
      }
      if (delKeys.isEmpty) base
      else base.join(broadcast(keyDf(delKeys)), Seq(keyCol), "left_anti")
    }
    val a = view(onlyA, aDelKeys, pA)
    val b = view(onlyB, bDelKeys, pB)
    b.exceptAll(a).withColumn("_change_type", lit("insert"))
      .unionByName(a.exceptAll(b).withColumn("_change_type", lit("delete")))
  }

  /** DESCRIBE HISTORY: one row per retained version — operation name,
    * entry composition, and the entry file's mtime (informational; the
    * log's ordering authority is the version number, not the clock).
    * Driver metadata only: one small file read per version, no data
    * touched. Versions below a vacuum horizon are absent — history is
    * exactly what time travel can still reach. */
  def history(): DataFrame = {
    import spark.implicits._
    val latest = currentVersion()
    (1 to latest).filter(v => Files.exists(entryPath(v))).map { v =>
      val op = opOf(v)
      val e = readEntry(v)
      (v, op, e.data.size, e.deletes.size, e.stats.size, commitTimeOf(v))
    }.toDF("version", "operation", "data_entries", "delete_entries",
      "stat_files", "ts_millis")
  }

  /** Garbage-collect: drop log entries below `retainFrom` and physically
    * delete every data/sidecar file no retained version references —
    * including torn-writer leftovers (dirs written but never published).
    * A dir referenced whole by any retained entry is kept whole; a dir
    * referenced only at file level (post-merge splits) keeps exactly the
    * referenced files (plus their local-FS `.crc` shadows and
    * `_SUCCESS`). Time travel below `retainFrom` then fails loudly at
    * `readEntry`. Returns (filesRemoved, logEntriesRemoved). */
  /** Rewrite a DELTA entry in place as its resolved FULL form — content-
    * identical (readers see the same [[Entry]]), so the atomic replace
    * is safe under concurrent reads; a no-op for full entries. */
  private def materializeFull(v: Int): Unit = {
    val raw = Json.readTree(Files.readString(entryPath(v)))
    if (!raw.has("base")) return
    val e = resolveEntry(v)
    val node = buildFullNode(v, e.data, e.deletes, e.stats, readTxn(v),
      schemaOf(v), opOf(v), e.sv, e.cdc, e.pvals, e.constraints,
      e.bloomCols, keyOf(v).getOrElse(keyCol), e.cmap, e.retired,
      // a legacy (tms-less) entry keeps its mtime-derived commit time
      // (ADVICE r15): stamping the wall clock here would shift the oldest
      // retained version's TIMESTAMP AS OF / RETAIN-hours resolution to
      // "whenever vacuum ran"; commitTimeOf reads the mtime BEFORE the
      // atomic replace below rewrites it
      commitTimeOf(v))
    val tmp = logDir.resolve(
      s".materialize-${java.util.UUID.randomUUID().toString}.tmp")
    Files.writeString(tmp, Json.writeValueAsString(node))
    Files.move(tmp, entryPath(v),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** VACUUM by retention DURATION — the `RETAIN n HOURS` spelling every
    * Delta runbook uses (round 15), next to the version-based
    * [[vacuum]]: the horizon resolves to the OLDEST version whose entry
    * landed inside the window (LOGGED commit timestamps, round 15 —
    * mtime fallback for legacy entries; informational clock, the same
    * single-writer convenience `TIMESTAMP AS OF` documents), so
    * every version committed within the last `hours` stays
    * time-travelable, and the LATEST version is ALWAYS kept even when
    * the entire history is older than the window (`RETAIN 0 HOURS`
    * degenerates to keep-head-only, never to an empty table). Delegates
    * to [[vacuum]] for the sweep itself — same chain materialization,
    * same reference-counted file GC. */
  def vacuumRetainHours(hours: Double, dryRun: Boolean = false): (Int, Int) = {
    require(hours >= 0 && !hours.isNaN,
      s"retention must be >= 0 hours, got $hours")
    val latest = currentVersion()
    require(latest >= 1, s"vacuum on an empty table at $root")
    val cutoff = System.currentTimeMillis() - (hours * 3600000.0).toLong
    val horizon = (1 to latest).find { v =>
      Files.exists(entryPath(v)) && commitTimeOf(v) >= cutoff
    }.getOrElse(latest)
    vacuum(horizon, dryRun = dryRun)
  }

  /** `graceMs` (round 15 — Delta's vacuum retention threshold, the
    * multi-writer half): an UNREFERENCED file younger than the grace
    * window is NOT swept. A concurrent writer stages its data dir
    * BEFORE publishing the entry that references it; a vacuum listing
    * the live refs in that window would otherwise delete the staged dir
    * and the writer would publish an entry pointing at nothing. Default
    * 0 keeps the quiesced-table contract (sweep everything unreferenced,
    * torn leftovers included — what every maintenance test and the CALL
    * procedure exercise); run vacuum CONCURRENTLY with writers only with
    * a grace covering the longest in-flight write, exactly Delta's
    * `RETAIN`-threshold rule for the same race. */
  /** `dryRun = true` (round 15 — Delta's VACUUM ... DRY RUN): report the
    * (files, entries) the sweep WOULD remove and touch NOTHING — no
    * horizon materialization, no deletion, no dir pruning. The
    * operational pre-flight every retention runbook starts with. */
  def vacuum(retainFrom: Int, graceMs: Long = 0L,
      dryRun: Boolean = false): (Int, Int) = {
    val latest = currentVersion()
    require(retainFrom >= 1 && retainFrom <= latest,
      s"retainFrom $retainFrom out of [1, $latest] for $root")
    require(graceMs >= 0, s"graceMs must be >= 0, got $graceMs")
    val graceFloor = System.currentTimeMillis() - graceMs
    def inGrace(f: Path): Boolean = graceMs > 0 &&
      (try Files.getLastModifiedTime(f).toMillis >= graceFloor
       catch { case _: Exception => true }) // raced away mid-sweep: skip
    // the horizon entry becomes SELF-CONTAINED before its ancestors go:
    // a delta entry is rewritten in place as its resolved FULL form
    // (atomic same-content replace), so every retained delta chain
    // terminates at or above the horizon and no retained version ever
    // references a vacuumed ancestor
    if (!dryRun) materializeFull(retainFrom)
    val retained = (retainFrom to latest)
      .filter(v => Files.exists(entryPath(v)))
      .map(readEntry)
    val refs: Set[String] =
      retained.flatMap(e => e.data ++ e.deletes ++ e.cdc).map(normPath).toSet

    var removedFiles = 0
    def sweep(top: Path): Unit = {
      if (!Files.isDirectory(top)) return
      val children = Files.list(top).iterator().asScala.toSeq
      for (c <- children if Files.isDirectory(c)) {
        val nc = normPath(c.toString)
        if (!refs.contains(nc)) {
          // not referenced whole — keep file-level refs AND files under a
          // referenced descendant dir (partitioned leaf entries live one
          // hive level below the commit dir)
          def kept(f: Path): Boolean = {
            if (refs.contains(normPath(f.toString))) return true
            var a = f.getParent
            while (a != null && a.startsWith(c) && a != c) {
              if (refs.contains(normPath(a.toString))) return true
              a = a.getParent
            }
            false
          }
          val files = Files.walk(c).iterator().asScala
            .filter(Files.isRegularFile(_)).toSeq
          val keptFiles = files.filter(kept)
          val keptByParent: Map[Path, Set[String]] = keptFiles
            .groupBy(_.getParent)
            .map { case (p, fs) => p -> fs.map(_.getFileName.toString).toSet }
          // a marker survives iff its own directory's SUBTREE still holds
          // a kept file (ADVICE r13: the commit-dir-wide rule retained a
          // fully-dropped partition leaf's orphan _bloom.json forever
          // because a SIBLING leaf kept files; the subtree rule sweeps
          // the dropped leaf clean while a partitioned commit's top-level
          // _SUCCESS still rides with its live leaves)
          val aliveDirs: Set[Path] = keptFiles.flatMap { f =>
            Iterator.iterate(f.getParent)(_.getParent)
              .takeWhile(p => p != null && p.startsWith(c)).toSeq
          }.toSet
          for (f <- files) {
            val name = f.getFileName.toString
            val base = name.stripPrefix(".").stripSuffix(".crc")
            val keptNames = keptByParent.getOrElse(f.getParent, Set.empty)
            val subtreeAlive = aliveDirs.contains(f.getParent)
            // markers: _SUCCESS, and the bloom sidecar (file-keyed —
            // harmless and useful for survivors)
            val markers = Set("_SUCCESS", "_bloom.json")
            val isShadow = name.startsWith(".") && name.endsWith(".crc") &&
              (keptNames.contains(base) ||
                (markers.contains(base) && subtreeAlive))
            val isMarker = markers.contains(name) && subtreeAlive
            if (!kept(f) && !isShadow && !isMarker && !inGrace(f)) {
              if (!dryRun) Files.delete(f)
              removedFiles += 1
            }
          }
          // prune now-empty directories bottom-up
          if (!dryRun) {
            val dirs = Files.walk(c).iterator().asScala
              .filter(Files.isDirectory(_)).toSeq
              .sortBy(-_.getNameCount)
            for (d <- dirs if !Files.list(d).iterator().hasNext && !inGrace(d))
              Files.delete(d)
          }
        }
      }
    }
    sweep(Paths.get(root, "data"))
    sweep(Paths.get(root, "deletes"))
    sweep(Paths.get(root, "cdc"))

    var removedEntries = 0
    if (dryRun)
      removedEntries = (1 until retainFrom).count(v =>
        Files.exists(entryPath(v)))
    else
      for (v <- 1 until retainFrom if Files.deleteIfExists(entryPath(v)))
        removedEntries += 1
    (removedFiles, removedEntries)
  }
}
