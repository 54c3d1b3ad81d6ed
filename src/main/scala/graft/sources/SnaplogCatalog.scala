package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Column, Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.SnapshotLog

/** [[TableCatalog]] for snapshot-log tables — the rung that makes the
  * log's versioned reads AND its lifecycle SQL-NATIVE. Register once, at
  * session build: `Sessions.sparkConf` sets the path-addressed entry
  * `spark.sql.catalog.graftsnap -> graft.sources.SnaplogCatalog`; a
  * name-addressed catalog also needs its warehouse root:
  *
  * {{{
  * SparkSession.builder()
  *   .config("spark.sql.catalog.snap", "graft.sources.SnaplogCatalog")
  *   .config("spark.sql.catalog.snap.warehouse", "/data/warehouse")
  * }}}
  *
  * Tables address two ways:
  *   - PATH-addressed (Delta's `delta.`/path`` convention): any
  *     identifier whose spelling starts with `/` is the table's
  *     directory — `SELECT * FROM snap.`/data/events``.
  *   - NAME-addressed (round 14): every other identifier resolves under
  *     the catalog's `warehouse` root — `snap.events` lives at
  *     `<warehouse>/events`, `snap.raw.events` at
  *     `<warehouse>/raw/events`. Names make the FULL SQL lifecycle
  *     available: `CREATE TABLE snap.events (...) USING snaplog
  *     TBLPROPERTIES ('key'='user_id')` publishes an empty version 1
  *     carrying the schema (metadata-only), `CREATE TABLE ... AS
  *     SELECT` / `saveAsTable` create-then-append, `INSERT INTO`,
  *     `SELECT ... VERSION AS OF`, SQL DELETE/UPDATE/MERGE, `SHOW
  *     TABLES`, and `DROP TABLE` (which really deletes the directory —
  *     name-addressed only; a path-addressed drop is refused, matching
  *     the "external table" convention).
  *
  * `VERSION AS OF` resolves through the same entry reads as
  * `option("version", N)`; `TIMESTAMP AS OF` picks the highest version
  * whose LOGGED commit timestamp (round 15 — Delta's
  * commitInfo.timestamp; entry-mtime fallback for legacy entries) is ≤
  * the timestamp — the clock is informational (the log's ordering
  * authority is the version number), the single-writer-clock
  * convenience Delta's commit-timestamp resolution also is. The key column comes from the `key`
  * table property at CREATE (default: the first column) and from the
  * log entry thereafter. ALTER/RENAME stay out of scope (evolution
  * happens on append; tables move with their directories). */
class SnaplogCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  private var catalogName: String = _
  private var warehouse: Option[String] = None

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).map(_.stripSuffix("/"))
  }

  override def name(): String = catalogName

  /** `ALTER TABLE ... ADD CONSTRAINT` is analyzer-gated on the CATALOG
    * declaring constraint support (round 15). */
  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog
        .TableCatalogCapability] =
    util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  private def pathOf(ident: Identifier): String = {
    val joined = (ident.namespace() :+ ident.name()).mkString("/")
    if (joined.startsWith("/")) joined
    else warehouse match {
      case Some(w) => s"$w/$joined"
      case None => throw new IllegalArgumentException(
        s"name-addressed snaplog table '$joined' needs the catalog's " +
          s"warehouse root — set spark.sql.catalog.$catalogName.warehouse " +
          "(path-addressed tables spell the full /path)")
    }
  }

  private def nameAddressed(ident: Identifier): Boolean =
    !(ident.namespace() :+ ident.name()).mkString("/").startsWith("/")

  /** A procedure's `table` argument: '/path' verbatim, anything else
    * under the warehouse root (same addressing as identifiers). */
  private[sources] def resolvePath(table: String): String =
    if (table.startsWith("/")) table
    else warehouse match {
      case Some(w) => s"$w/$table"
      case None => throw new IllegalArgumentException(
        s"name-addressed snaplog table '$table' needs the catalog's " +
          s"warehouse root — set spark.sql.catalog.$catalogName.warehouse")
    }

  // ---- SQL CALL: maintenance procedures (round 14) ------------------------

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().isEmpty ||
        ident.namespace().sameElements(Array("system")),
      s"snaplog procedures live at the catalog root (CALL " +
        s"$catalogName.<name>) — got namespace " +
        ident.namespace().mkString("."))
    SnaplogProcedures.load(this, ident.name())
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) SnaplogProcedures.list() else Array.empty

  private def tableAt(ident: Identifier, version: Option[Int]): Table = {
    val path = pathOf(ident)
    val t = SnapshotLog.open(SparkSession.active, path, "__resolve")
    val latest = t.currentVersion()
    if (latest < 1)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    val v = version.getOrElse(latest)
    require(v >= 1 && v <= latest,
      s"version $v out of range [1, $latest] for $path")
    val key = t.keyOf(v).getOrElse(throw new IllegalArgumentException(
      s"legacy snaplog entry at $path carries no key column — " +
        "read it through the SnapshotTable API"))
    val schema = t.schemaOf(v).getOrElse(throw new IllegalArgumentException(
      s"snaplog entry $v at $path carries no schema (legacy table)"))
    new SnaplogTable(SparkSession.active, t, path, v, key, schema,
      t.readEntry(v).cmap, t.readEntry(v).retired)
  }

  override def loadTable(ident: Identifier): Table = tableAt(ident, None)

  override def loadTable(ident: Identifier, version: String): Table =
    tableAt(ident, Some(version.toInt))

  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    // timestamp arrives in MICROseconds since epoch (Spark's contract);
    // resolve to the newest version whose entry mtime is at or before it
    val path = pathOf(ident)
    val t = SnapshotLog.open(SparkSession.active, path, "__resolve")
    val latest = t.currentVersion()
    if (latest < 1)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    val tsMillis = timestamp / 1000L
    // LOGGED commit timestamps (round 15), mtime fallback for legacy
    // entries — a copied/restored table directory keeps resolving;
    // shared with RESTORE TO TIMESTAMP (round 16)
    tableAt(ident, Some(t.versionAtTime(tsMillis)))
  }

  override def tableExists(ident: Identifier): Boolean =
    try SnapshotLog.open(SparkSession.active, pathOf(ident), "__resolve")
      .currentVersion() >= 1
    catch { case _: IllegalArgumentException => false }

  /** SHOW TABLES — name-addressed tables are the warehouse's child
    * directories holding a `_log`; path-addressed tables are unlisted
    * (they live anywhere on the filesystem). */
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val w = warehouse.getOrElse(throw new UnsupportedOperationException(
      s"snaplog catalog '$catalogName' has no warehouse configured; " +
        "path-addressed tables are not listable"))
    val base = java.nio.file.Paths.get((w +: namespace).mkString("/"))
    if (!java.nio.file.Files.isDirectory(base)) return Array.empty
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(base).iterator().asScala
      .filter(p => java.nio.file.Files.isDirectory(p.resolve("_log")))
      // a torn CREATE leaves an empty _log: not a table (and tableExists
      // is false for it) — keep SHOW TABLES and DROP consistent
      .filter(p => SnapshotLog.open(SparkSession.active,
        p.toString, "__resolve").currentVersion() >= 1)
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
  }

  /** CREATE TABLE (name-addressed): publish an empty version 1 carrying
    * the schema — metadata-only; the `key` table property names the key
    * column (default: the first column). CTAS/saveAsTable arrive here
    * first and append through the table's native write path. */
  override def createTable(ident: Identifier, columns: Array[Column],
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "CREATE TABLE ... PARTITIONED BY is not supported through the " +
        "snaplog catalog — partition via SnapshotTable.commitAppend(df, " +
        "specs) (hidden-partition transforms live in the log, not the " +
        "catalog)")
    val provider = Option(properties.get(TableCatalog.PROP_PROVIDER))
    require(provider.forall(_.equalsIgnoreCase("snaplog")),
      s"snaplog catalog cannot create a '${provider.get}' table")
    val schema = new StructType(columns.map(c =>
      org.apache.spark.sql.types.StructField(
        c.name(), c.dataType(), c.nullable())))
    val key = Option(properties.get("key")).getOrElse(schema.fieldNames.head)
    val path = pathOf(ident)
    val t = SnapshotLog.open(SparkSession.active, path, key)
    if (t.currentVersion() >= 1)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    t.createEmpty(schema)
    new SnaplogTable(SparkSession.active, t, path, 1, key, schema)
  }

  /** ALTER TABLE ... ADD/RENAME/DROP COLUMN and ALTER COLUMN TYPE — all
    * METADATA-ONLY commits: rename/drop map the new logical names onto
    * the untouched physical files; add appends a nullable field old
    * files read as NULL; a type change widens along the lossless
    * lattice (round 16), old files upcasting at read. Anything else
    * (narrowing, property sets, repositioning) is refused loudly. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = pathOf(ident)
    val probe = SnapshotLog.open(SparkSession.active, path, "__resolve")
    val latest = probe.currentVersion()
    if (latest < 1)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        ident)
    val key = probe.keyOf(latest).getOrElse(throw new IllegalArgumentException(
      s"legacy snaplog entry at $path carries no key column"))
    val t = SnapshotLog.open(SparkSession.active, path, key)
    // SQL constraint DDL (round 15): `ALTER TABLE ... ADD CONSTRAINT n
    // CHECK (...)` / `DROP CONSTRAINT n` map onto the log's own
    // addConstraint/dropConstraint — same validation scan, same
    // conflict pin (a commit racing the validation throws), same
    // metadata-only publish. A statement is either constraint DDL or
    // column DDL, never both (Spark's grammar), so the atomic-commit
    // contract below is untouched.
    changes.toSeq match {
      case Seq(ac: TableChange.AddConstraint) =>
        ac.constraint() match {
          case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
            t.addConstraint(c.name(),
              Option(c.predicateSql()).getOrElse(
                throw new IllegalArgumentException(
                  s"CHECK constraint '${c.name()}' carries no SQL text")))
          case other => throw new UnsupportedOperationException(
            s"snaplog tables enforce CHECK constraints only; got " +
              s"${other.toDDL} (PRIMARY KEY/UNIQUE/FOREIGN KEY are " +
              "informational elsewhere and not stored here)")
        }
        return loadTable(ident)
      case Seq(dc: TableChange.DropConstraint) =>
        if (dc.ifExists() && !t.constraints().contains(dc.name())) ()
        else t.dropConstraint(dc.name())
        return loadTable(ident)
      case _ => ()
    }
    // one STATEMENT = one atomic commit: all changes fold into a single
    // alterSchema publish, so a refusal anywhere leaves nothing behind
    val ops = changes.map {
      case r: TableChange.RenameColumn =>
        require(r.fieldNames().length == 1,
          "snaplog columns are flat — nested renames are not supported")
        SnapshotLog.RenameCol(r.fieldNames()(0), r.newName())
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames().length == 1,
          "snaplog columns are flat — nested drops are not supported")
        SnapshotLog.DropCol(d.fieldNames()(0))
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "snaplog columns are flat — nested adds are not supported")
        require(a.position() == null,
          "ADD COLUMN position (FIRST/AFTER) is not supported — new " +
            "columns append")
        SnapshotLog.AddCol(a.fieldNames()(0), a.dataType())
      case u: TableChange.UpdateColumnType =>
        // ALTER TABLE ... ALTER COLUMN c TYPE t (round 16 — Delta's type
        // widening): metadata-only along the lossless lattice, old files
        // upcast at read; narrowing refuses inside alterSchema
        require(u.fieldNames().length == 1,
          "snaplog columns are flat — nested type changes are not " +
            "supported")
        SnapshotLog.WidenCol(u.fieldNames()(0), u.newDataType())
      case other => throw new UnsupportedOperationException(
        s"snaplog ALTER TABLE supports ADD/RENAME/DROP COLUMN and " +
          s"ALTER COLUMN TYPE (lossless widening); got $other")
    }
    t.alterSchema(ops.toSeq)
    loadTable(ident)
  }

  /** DROP TABLE — real directory deletion, NAME-addressed tables only
    * (the catalog owns the warehouse layout; a path-addressed table is
    * external, its retention stays explicit via vacuum). */
  override def dropTable(ident: Identifier): Boolean = {
    if (!nameAddressed(ident))
      throw new UnsupportedOperationException(
        "path-addressed snaplog tables are external — retention is " +
          "explicit (SnapshotTable.vacuum); DROP applies to " +
          "name-addressed (warehouse) tables")
    // a torn CREATE (directory with an empty _log) is droppable too —
    // otherwise the phantom could never be cleaned up via SQL
    val torn = !tableExists(ident) && java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(pathOf(ident), "_log"))
    if (!tableExists(ident) && !torn) return false
    val p = new org.apache.hadoop.fs.Path(pathOf(ident))
    p.getFileSystem(SparkSession.active.sessionState.newHadoopConf())
      .delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "snaplog tables are path-addressed; move the directory")
}
