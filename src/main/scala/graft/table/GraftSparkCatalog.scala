package graft.table

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DataSource-V2 `TableCatalog` over a graft warehouse — the standard-
  * Spark integration surface (the reference's Hive `StorageHandler` analog,
  * IcebergStorageHandler.java:38-113, re-expressed as the catalog plugin
  * API Spark actually routes SQL through):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.table.GraftSparkCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/path/wh")
  *   spark.sql("SELECT * FROM graft.db.tbl")                    // current
  *   spark.sql("SELECT * FROM graft.db.tbl VERSION AS OF 1")    // snapshot
  *   spark.sql("SELECT * FROM graft.db.tbl TIMESTAMP AS OF ...")// as-of
  *   spark.sql("ALTER TABLE graft.db.tbl ADD COLUMN score DOUBLE")
  * }}}
  *
  * Reads ride Spark's own vectorized parquet `FileTable` over the pinned
  * snapshot's manifest file list — pushdown, column pruning and row-group
  * skipping are the battle-tested built-ins; snapshot pinning happens per
  * `loadTable` call, so time travel is stateless per query exactly like
  * the predicate path (TestPredicatePushdown.java:74-112). SQL writes are
  * rejected: appends must go through [[GraftTable.append]]'s manifest
  * commit protocol (a bare parquet write would corrupt the table).
  *
  * This path reports the TABLE schema (no virtual `snapshot__id` column) —
  * time travel here uses the standard `VERSION AS OF` syntax; the virtual-
  * column dialect lives on [[GraftCatalog.register]]'s view path.
  */
class GraftSparkCatalog extends CatalogPlugin with TableCatalog
    with FunctionCatalog with ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.ViewCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  /** Column DEFAULT support (Iceberg v3 parity): lets the parser accept
    * `ADD COLUMN … DEFAULT <lit>` / `CREATE TABLE (… DEFAULT <lit>)` and
    * hands the parsed default to [[alterTable]]/[[createTable]]. */
  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** SQL maintenance procedures — `CALL graft.system.expire_snapshots(
    * 'db.t', <ms>)` etc. ([[GraftProcedures]]): Iceberg's operator
    * surface over the proven library maintenance calls. */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    val found =
      if (ident.namespace().sameElements(Array("system")))
        GraftProcedures.load(warehouse, ident.name())
      else None
    found.getOrElse(throw new RuntimeException(
      s"no such graft procedure ${ident.namespace().mkString(".")}." +
        s"${ident.name()} — available: graft system procedures " +
        GraftProcedures.names.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftProcedures.names
        .map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  /** Catalog functions backing storage-partitioned joins: Spark resolves
    * a scan-reported `bucket(n, col)` partitioning against this catalog
    * ([[GraftV2Functions]]); transform functions live in the EMPTY
    * namespace, which is where `V2ExpressionUtils` looks them up. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      GraftV2Functions.names.map(Identifier.of(Array.empty[String], _)).toArray
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction = {
    val found =
      if (ident.namespace().isEmpty) GraftV2Functions.load(ident.name())
      else None
    found.getOrElse(throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident))
  }

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires option 'warehouse'"))
    // metadata-column + pushed-variant repair must work on sessions
    // WITHOUT GraftExtensions (catalog reads do), so it rides the
    // session-level experimental hook; catalogs initialize during
    // analysis, where an active session is guaranteed — the catch is
    // purely defensive for exotic embedding setups
    try org.apache.spark.sql.classic.GraftVariantMetadataRepair
      .inject(org.apache.spark.sql.SparkSession.active)
    catch { case scala.util.control.NonFatal(_) => () }
  }

  override def name(): String = catalogName

  private def cat = new GraftCatalog(warehouse)

  private def identToName(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString(".")

  private[table] def dirFor(ident: Identifier): String =
    cat.tableDir(identToName(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsDir = java.nio.file.Paths.get(
      (Seq(warehouse) ++ namespace).mkString("/"))
    if (!java.nio.file.Files.isDirectory(nsDir)) return Array.empty
    scala.util.Using.resource(java.nio.file.Files.list(nsDir)) { s =>
      s.iterator().asScala
        .filter(p => GraftTable.exists(p.toString))
        .map(p => Identifier.of(namespace, p.getFileName.toString))
        .toArray
    }
  }

  override def tableExists(ident: Identifier): Boolean =
    GraftTable.exists(dirFor(ident))

  /** The metadata table `ident` names ([[MetadataTables]], served on
    * the DSv2 path too) with its base table, when that base exists. The
    * caller has already let a REAL table of the full name win. */
  private def metaBase(ident: Identifier): Option[(MetadataTable, Identifier)] =
    MetadataTables.split(ident.name())
      .map { case (m, b) => (m, Identifier.of(ident.namespace(), b)) }
      .filter { case (_, base) => tableExists(base) }

  /** `ident` as metadata table `m` of `t` at `snapshotId` (None:
    * current). The row-count hint is LAZY: it is only priced when a
    * scan is actually built — `__all_files`' hint walks every
    * snapshot's manifest list, and loadTable alone must not pay that
    * twice (the view build walks them again; the list LRU dedups parses
    * either way). */
  private def metaTable(ident: Identifier, m: MetadataTable, t: GraftTable,
      snapshotId: Option[Long]): Table =
    new GraftMetadataV2Table(identToName(ident),
      m.build(t, SparkSession.active, snapshotId),
      distributed = m.distributed,
      rowCountHint = () => m.rowHint(t, snapshotId))

  /** The shared rule of the `__changes`, `__txn_<name>` and
    * `__branch_<name>` surfaces: split the name at the LAST `marker`
    * into (base, rest), resolved only when the base is non-empty and a
    * real table. The caller has already let a REAL table of the full
    * name win (no silent shadowing). */
  private def splitAt(
      ident: Identifier, marker: String): Option[(Identifier, String)] = {
    val n = ident.name()
    val i = n.lastIndexOf(marker)
    Option.when(i > 0)((Identifier.of(ident.namespace(), n.substring(0, i)),
        n.substring(i + marker.length)))
      .filter { case (base, _) => tableExists(base) }
  }

  override def loadTable(ident: Identifier): Table = {
    if (tableExists(ident)) return loadExisting(ident)
    // `<name>__changes` — the CDC changes table (Iceberg's `t.changes`
    // analog, suffix-spelled like the metadata tables): a
    // MICRO_BATCH_READ-only surface streaming `changesCdc` retraction
    // rows so continuous pipelines survive UPDATE/DELETE/MERGE.
    def changes: Option[Table] = splitAt(ident, "__changes").collect {
      case (base, "") =>
        new GraftCdcV2Table(identToName(ident), GraftTable.load(dirFor(base)))
    }
    // `<name>__txn_<txn>` — the STAGED view of `<name>` inside the open
    // named transaction `<txn>` (CALL begin_transaction): reads see the
    // transaction's own commits, INSERT/DML stage into it, and nothing
    // is visible on `<name>` until CALL commit_transaction publishes
    // every enlisted table atomically.
    def txn: Option[Table] = splitAt(ident, "__txn_").collect {
      case (base, txnName) if txnName.nonEmpty =>
        val txn = GraftTransaction.findNamed(warehouse, txnName)
          .getOrElse(throw new IllegalArgumentException(
            s"no open transaction '$txnName' on this catalog — " +
              s"CALL $name.system.begin_transaction('$txnName') first"))
        new GraftV2Table(identToName(ident), txn.tableAt(dirFor(base)), None)
    }
    // `<name>__branch_<b>` — the WRITE handle of branch <b>: the
    // SQL-shop write–audit–publish spelling. INSERT/UPDATE/DELETE/MERGE
    // against it stage on the branch (a real GraftTable under
    // `branches/<b>`), `VERSION AS OF 'branch:b'` is the audit read,
    // and `CALL publish_branch` fast-forwards main — which stays
    // untouched until then.
    def branch: Option[Table] = splitAt(ident, "__branch_").collect {
      case (base, bName) if bName.nonEmpty =>
        val bt = GraftTable.load(dirFor(base))
        require(bt.branches.contains(bName),
          s"no branch '$bName' on ${identToName(base)} — " +
            s"CALL $name.system.create_branch first")
        new GraftV2Table(identToName(ident), bt.branch(bName), None)
    }
    // metadata tables resolve against the BASE table; an opted-out
    // `__snapshots` falls through to NoSuchTable
    def meta: Option[Table] = metaBase(ident)
      .map { case (m, base) => (m, GraftTable.load(dirFor(base))) }
      .collect { case (m, t) if m.enabled(t) => metaTable(ident, m, t, None) }
    changes.orElse(txn).orElse(branch).orElse(meta)
      .getOrElse(throw new NoSuchTableException(ident))
  }

  /** A table that exists under `ident`'s own name. SESSION-scoped WAP
    * routing (Iceberg's `write.wap.enabled` table property +
    * `spark.wap.branch` session conf, graft-spelled): when the session
    * sets `graft.wap.branch = <b>` and the table OPTS IN via
    * `graft.wap.enabled = true`, the table name itself resolves to the
    * branch handle — every read and write of the session lands on the
    * audit branch until publish, with zero query rewrites. The property
    * gate keeps a session-global conf from silently rerouting unrelated
    * tables; a missing branch on an opted-in table refuses loudly (a
    * typo must never quietly write to main). */
  private def loadExisting(ident: Identifier): Table = {
    val t = GraftTable.load(dirFor(ident))
    val wap = try SparkSession.active.conf.get("graft.wap.branch", "")
    catch { case _: Exception => "" }
    if (wap.nonEmpty && t.properties.get("graft.wap.enabled").contains("true")) {
      require(t.branches.contains(wap),
        s"graft.wap.branch = '$wap' is set and ${identToName(ident)} " +
          s"has graft.wap.enabled, but no branch '$wap' exists — " +
          "CALL create_branch first (or unset the session conf)")
      new GraftV2Table(s"${identToName(ident)}@branch:$wap", t.branch(wap), None)
    } else new GraftV2Table(identToName(ident), t, None)
  }

  /** VERSION AS OF / TIMESTAMP AS OF on a name that is no real table: a
    * snapshot-scoped metadata table travels like its base table, to the
    * snapshot `pick` chooses on it (given the base and its name);
    * table-global ones refuse loudly. */
  private def loadMetaAt(ident: Identifier)(
      pick: (GraftTable, String) => Long): Table =
    metaBase(ident).fold[Table](throw new NoSuchTableException(ident)) {
      case (m, base) =>
        require(m.snapshotScoped,
          s"${m.suffix} is table-global — it has no per-snapshot form")
        val t = GraftTable.load(dirFor(base))
        metaTable(ident, m, t, Some(pick(t, identToName(base))))
    }

  /** `VERSION AS OF <v>` — v is a snapshot id, a tag name, a branch
    * name (the branch's CURRENT snapshot — the SQL audit read of the
    * write–audit–publish flow), or the explicit `branch:<name>` /
    * `tag:<name>` prefix forms. A bare name naming BOTH a tag and a
    * branch is ambiguous and refused loudly (use a prefix form) —
    * resolution order would otherwise silently pick one. Metadata
    * tables take a numeric id or a tag of the base table. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) return loadMetaAt(ident) { (bt, _) =>
      version.toLongOption.orElse(bt.refs.get(version))
        .getOrElse(throw new IllegalArgumentException(
          s"metadata-table version must be a snapshot id or tag, " +
            s"got '$version'"))
    }
    val t = GraftTable.load(dirFor(ident))
    def branchTable(name: String): Table =
      new GraftV2Table(s"${identToName(ident)}@branch:$name", t.branch(name), None)
    if (version.startsWith("branch:"))
      return branchTable(version.stripPrefix("branch:"))
    if (version.startsWith("tag:")) {
      val name = version.stripPrefix("tag:")
      return new GraftV2Table(identToName(ident), t,
        Some(t.refs.getOrElse(name, throw new IllegalArgumentException(
          s"no tag '$name' in ${identToName(ident)}"))))
    }
    // numeric → snapshot id; otherwise a tag or branch name — resolved
    // on ONE loaded instance (no second metadata read)
    version.toLongOption match {
      case Some(id) => new GraftV2Table(identToName(ident), t, Some(id))
      case None =>
        val tag = t.refs.get(version)
        val isBranch = t.branches.contains(version)
        (tag, isBranch) match {
          case (Some(_), true) => throw new IllegalArgumentException(
            s"'$version' names both a tag and a branch in " +
              s"${identToName(ident)} — disambiguate with " +
              s"'tag:$version' or 'branch:$version'")
          case (Some(id), false) =>
            new GraftV2Table(identToName(ident), t, Some(id))
          case (None, true) => branchTable(version)
          case (None, false) => throw new IllegalArgumentException(
            s"graft version must be a snapshot id, tag, branch, " +
              s"'tag:<name>' or 'branch:<name>', got '$version'")
        }
    }
  }

  /** `TIMESTAMP AS OF <t>` — Spark hands micros since epoch. Metadata
    * tables travel like their base table. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val ms = timestampMicros / 1000L
    if (!tableExists(ident)) return loadMetaAt(ident) { (bt, baseName) =>
      bt.snapshotAsOfTime(ms).map(_.snapshotId).getOrElse(
        throw new IllegalArgumentException(
          s"no snapshot at or before ${ms}ms in $baseName"))
    }
    val t = GraftTable.load(dirFor(ident))
    val snap = t.snapshotAsOfTime(ms).map(_.snapshotId)
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot at or before timestamp ${ms}ms in ${identToName(ident)}"))
    new GraftV2Table(identToName(ident), t, Some(snap))
  }

  private def loadGraft(ident: Identifier): GraftTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    GraftTable.load(dirFor(ident))
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val partCols = GraftSparkCatalog.partitionSpecOf(partitions)
    val props = properties.asScala.toMap -
      TableCatalog.PROP_LOCATION - TableCatalog.PROP_PROVIDER -
      TableCatalog.PROP_OWNER - TableCatalog.PROP_EXTERNAL
    // `CREATE TABLE (c INT DEFAULT 5)`: the parsed default rides in the
    // field metadata (CURRENT_DEFAULT) — strip it from the stored schema
    // and record the library's write-default events instead
    val colDefaults = schema.fields.toSeq.collect {
      case f if f.metadata.contains("CURRENT_DEFAULT") =>
        f.name -> f.metadata.getString("CURRENT_DEFAULT")
    }
    val cleanSchema =
      if (colDefaults.isEmpty) schema
      else StructType(schema.fields.map { f =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .remove("CURRENT_DEFAULT").remove("EXISTS_DEFAULT").build())
      })
    // views share the warehouse namespace — a table must not shadow one
    require(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dirFor(ident), "view.json")),
      s"a graft VIEW named ${identToName(ident)} already exists")
    val t = GraftTable.create(dirFor(ident), cleanSchema, props, partCols)
      .withCreateDefaults(colDefaults)
    new GraftV2Table(identToName(ident), t, None)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    var t = loadGraft(ident)
    changes.foreach {
      case add: TableChange.AddColumn if add.fieldNames().length == 1 =>
        // ALTER TABLE … ADD COLUMN c T DEFAULT <lit> (Iceberg v3
        // default parity): the parsed default's SQL rides into the
        // library's add-with-default era event
        t = t.addColumn(add.fieldNames()(0), add.dataType(),
          Option(add.defaultValue()).map(_.getSql))
      case ren: TableChange.RenameColumn if ren.fieldNames().length == 1 =>
        t = t.renameColumn(ren.fieldNames()(0), ren.newName())
      case del: TableChange.DeleteColumn if del.fieldNames().length == 1 =>
        t = t.dropColumn(del.fieldNames()(0))
      case wid: TableChange.UpdateColumnType if wid.fieldNames().length == 1 =>
        t = t.widenColumn(wid.fieldNames()(0), wid.newDataType())
      case set: TableChange.SetProperty
          if set.property() == "graft.partition.spec" =>
        // PARTITION-SPEC EVOLUTION through SQL (Spark's TableChange has
        // no Iceberg-style partition-field op, so the spec rides a
        // reserved property): a comma-separated spec string —
        // `bucket(8,id),days(ts)`, `n_regionkey`, or '' to go
        // unpartitioned — routed to the library's metadata-only layout
        // change (existing files keep their era's layout; v23 machinery)
        // split on commas OUTSIDE transform parens (`bucket(4, id),days(ts)`
        // is two entries) and normalize whitespace to the canonical
        // spec spelling (`bucket(4,id)`)
        val spec = set.value().split(",(?![^(]*\\))")
          .map(_.replaceAll("\\s+", "")).filter(_.nonEmpty).toSeq
        t = t.updatePartitionSpec(spec)
      case set: TableChange.SetProperty =>
        t = t.updateProperties(Map(set.property() -> set.value()))
      case rm: TableChange.RemoveProperty =>
        t = t.updateProperties(Map.empty, Set(rm.property()))
      case other => throw new UnsupportedOperationException(
        "graft supports top-level ADD/RENAME/DROP COLUMN and SET/UNSET " +
          s"TBLPROPERTIES, got $other")
    }
    new GraftV2Table(identToName(ident), t, None)
  }

  // ---- DSv2 ViewCatalog (programmatic surface over [[GraftViews]];
  // the SQL statements route through GraftViewParser because OSS Spark
  // has no analyzer/exec path driving this interface — implementing it
  // anyway keeps the standard API usable and future-proof) ----

  private def viewDbName(ident: Identifier): (String, String) = {
    require(ident.namespace().length == 1,
      s"graft views live under <db>.<name>: ${ident}")
    (ident.namespace()(0), ident.name())
  }

  override def listViews(namespace: String*): Array[Identifier] = {
    require(namespace.length == 1, s"unsupported namespace depth: $namespace")
    GraftViews.list(warehouse, namespace.head)
      .map(n => Identifier.of(namespace.toArray, n)).toArray
  }

  override def viewExists(ident: Identifier): Boolean = {
    val (db, name) = viewDbName(ident)
    GraftViews.exists(warehouse, db, name)
  }

  override def loadView(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.View = {
    val (db, name) = viewDbName(ident)
    if (!GraftViews.exists(warehouse, db, name))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    val meta = GraftViews.load(warehouse, db, name)
    val v = meta.current
    val cat = catalogName
    new org.apache.spark.sql.connector.catalog.View {
      override def name(): String = s"$db.$name"
      override def query(): String = v.sql
      override def currentCatalog(): String = cat
      override def currentNamespace(): Array[String] = Array(db)
      override def schema(): StructType =
        org.apache.spark.sql.types.DataType.fromJson(v.schemaJson)
          .asInstanceOf[StructType]
      override def queryColumnNames(): Array[String] = Array.empty
      override def columnAliases(): Array[String] = v.aliases.toArray
      override def columnComments(): Array[String] = Array.empty
      override def properties(): util.Map[String, String] = {
        val m = new util.HashMap[String, String]()
        meta.properties.foreach { case (k, x) => m.put(k, x) }
        m
      }
    }
  }

  override def createView(
      info: org.apache.spark.sql.connector.catalog.ViewInfo)
      : org.apache.spark.sql.connector.catalog.View = {
    val (db, name) = viewDbName(info.ident())
    if (GraftViews.exists(warehouse, db, name))
      throw new org.apache.spark.sql.catalyst.analysis
        .ViewAlreadyExistsException(info.ident())
    require(!GraftTable.exists(s"$warehouse/$db/$name"),
      s"a graft TABLE named $db.$name already exists")
    GraftViews.upsertVersion(warehouse, db, name, info.sql(),
      info.schema().json, info.columnAliases().toSeq,
      info.properties().asScala.toMap, replaceExisting = false)
    loadView(info.ident())
  }

  override def alterView(
      ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.ViewChange*)
      : org.apache.spark.sql.connector.catalog.View =
    throw new UnsupportedOperationException(
      "graft views take new versions via ALTER VIEW … AS / CREATE OR " +
        "REPLACE (property-only changes are not supported)")

  override def dropView(ident: Identifier): Boolean = {
    val (db, name) = viewDbName(ident)
    if (!GraftViews.exists(warehouse, db, name)) return false
    GraftTable.deleteRecursively(
      java.nio.file.Paths.get(warehouse, db, name))
    true
  }

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft views cannot be renamed")

  override def dropTable(ident: Identifier): Boolean = {
    if (!tableExists(ident)) return false
    GraftTable.deleteRecursively(java.nio.file.Paths.get(dirFor(ident)))
    true
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft tables cannot be renamed")

  override def invalidateTable(ident: Identifier): Unit = ()
}

/** Read-only DSv2 table over one pinned snapshot. Delegates the scan to
  * Spark's parquet `FileTable` built from the manifest's file list — the
  * split planning analog of the reference's `planTasks`
  * (IcebergInputFormat.java:102-118) with Spark's bin-packing. */
final class GraftV2Table(
    tableName: String,
    t: GraftTable,
    snapshotId: Option[Long]) extends Table with SupportsRead
    with SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {

  override def name(): String = tableName

  /** Table schema with the column-default metadata Spark's INSERT
    * resolution reads (`CURRENT_DEFAULT`/`EXISTS_DEFAULT`): an
    * `INSERT INTO t (subset…)` then fills omitted defaulted columns at
    * analysis time, matching the library write path's fill. */
  override def schema(): StructType = {
    val wd = t.writeDefaults
    if (wd.isEmpty) t.schema
    else {
      val m = wd.map(x => x._1 -> x._3).toMap
      StructType(t.schema.fields.map { f =>
        m.get(f.name) match {
          case Some(sql) => f.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putString("CURRENT_DEFAULT", sql)
              .putString("EXISTS_DEFAULT", sql).build())
          case None => f
        }
      })
    }
  }

  /** Iceberg-parity row-provenance metadata columns: `_file` (the data
    * file serving the row) and `_pos` (its row position in that file —
    * the positional-delete coordinate). Selecting either routes the scan
    * through a V1 relation projecting the parquet reader's
    * `_metadata.file_path`/`row_index` over the same manifest-pruned
    * file list, so `_pos` is EXACTLY the index the positional-delete
    * machinery joins on — a SQL curation job can SELECT victims by
    * `_file`/`_pos` and apply them with [[GraftTable.deletePositionalAt]]
    * end to end, no full-precision rewrite anywhere. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = Array(
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_file"
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.StringType
      override def isNullable(): Boolean = false
      override def comment(): String = "data file path serving the row"
    },
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = "_pos"
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable(): Boolean = false
      override def comment(): String = "row position within its data file"
    },
    // ROW LINEAGE (Iceberg v3): stable row identity + last-writing
    // snapshot, served by the same V1 relation (band inheritance or the
    // materialized carry cells rewrites persist)
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftTable.RowIdCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable(): Boolean = true
      override def comment(): String = "stable row id (Iceberg v3 row lineage)"
    },
    new org.apache.spark.sql.connector.catalog.MetadataColumn {
      override def name(): String = GraftTable.LastUpdatedCol
      override def dataType(): org.apache.spark.sql.types.DataType =
        org.apache.spark.sql.types.LongType
      override def isNullable(): Boolean = true
      override def comment(): String = "snapshot that last wrote the row"
    })

  /** The library table behind this DSv2 wrapper — the SQL DML rule
    * ([[ResolveGraftDml]]) routes UPDATE/MERGE to its commit paths. */
  private[table] def underlying: GraftTable = t

  /** Pinned snapshot of a `VERSION/TIMESTAMP AS OF` read (DML refused). */
  private[table] def pinned: Option[Long] = snapshotId

  /** V1 source filter → Column, for the SQL DELETE surface. Conservative:
    * any shape outside this translatable core makes [[canDeleteWhere]]
    * answer false and Spark reports the statement unsupported instead of
    * this table guessing semantics. */
  private def filterToColumn(
      f: org.apache.spark.sql.sources.Filter): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.functions.{col, lit, not => fnot}
    f match {
      case EqualTo(a, v) => Some(col(a) === lit(v))
      case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case GreaterThan(a, v) => Some(col(a) > lit(v))
      case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case LessThan(a, v) => Some(col(a) < lit(v))
      case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case IsNull(a) => Some(col(a).isNull)
      case IsNotNull(a) => Some(col(a).isNotNull)
      case StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case StringContains(a, v) => Some(col(a).contains(v))
      case And(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
      case Or(l, r) =>
        for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
      case Not(c) => filterToColumn(c).map(fnot)
      case _: AlwaysTrue => Some(lit(true))
      case _: AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }

  /** SQL `DELETE FROM graft.db.t WHERE …` — routed to the library's
    * copy-on-write [[GraftTable.delete]]: manifest pruning picks the
    * candidate files, stats-proved files leave as metadata-only drops,
    * and only genuinely partial files rewrite. `TRUNCATE TABLE` arrives
    * as AlwaysTrue and becomes an all-drop manifest edit. Refused on
    * time-travel reads and while merge-on-read deletes are pending
    * (same stance as the programmatic CoW DML). */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    // Every deferred form COMPOSES with CoW delete in the library now,
    // but the DSv2 DELETE plan builds a scan of the relation and the
    // raw scan refuses MoR-pending tables — plain sessions report
    // predicate-deferred/equality statements unsupported (with the
    // scan's direction toward extensions), extensions sessions route
    // to the copy-on-write delete. Positional entries stay allowed.
    snapshotId.isEmpty && t.pendingDeletes.isEmpty &&
      t.equalityDeletes.isEmpty &&
      filters.forall(f => filterToColumn(f).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(snapshotId.isEmpty, s"cannot DELETE from a time-travel read of $tableName")
    val pred = filters.flatMap(filterToColumn(_))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    t.delete(SparkSession.active, pred)
  }

  override def partitioning(): Array[Transform] =
    t.partitionFields.map {
      case IdentityField(c, _) => Expressions.identity(c)
      case BucketField(n, c) => Expressions.bucket(n, c)
      case DaysField(c) => Expressions.days(c)
      case YearsField(c) => Expressions.years(c)
      case MonthsField(c) => Expressions.months(c)
      case HoursField(c) => Expressions.hours(c)
      case TruncateField(w, c) =>
        Expressions.apply("truncate", Expressions.literal(w),
          Expressions.column(c))
    }.toArray

  override def properties(): util.Map[String, String] =
    t.properties.asJava

  override def capabilities(): util.Set[TableCapability] =
    // NO BATCH_WRITE: batch SQL DML routes through the extensions'
    // analyzer rewrite to the library's commit protocol; only the
    // STREAMING sink writes through the DSv2 write path
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE)

  /** DSv2 STREAMING sink (`writeStream.toTable`): executors write
    * parquet straight under `data/` with Spark's own writer machinery;
    * each epoch commits ONE append snapshot idempotently
    * ([[GraftTable.commitStreamFiles]] — replayed epochs delete their
    * duplicates). Partitioned tables stream through the same path: the
    * tasks evaluate the table's partition transforms per row and write
    * the batch layout's `<field>=<value>/` directories (identity
    * sources dropped from footers), the epoch clustered + ordered on
    * the partition sources so files stay one-per-partition-per-epoch.
    * Refusals here run BEFORE any task: write constraints need the
    * DataFrame write path (`writeStreamInto` / foreachBatch), and the
    * incoming schema must match the table schema exactly (name set +
    * types — the same bricked-table guard as [[GraftTable.append]]). */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(snapshotId.isEmpty,
      s"cannot write to a time-travel read of $tableName")
    val in = info.schema()
    require(in.fieldNames.sorted.toSeq == t.schema.fieldNames.sorted.toSeq,
      s"streaming input columns [${in.fieldNames.sorted.mkString(",")}] " +
        s"must match table schema " +
        s"[${t.schema.fieldNames.sorted.mkString(",")}] of $tableName")
    in.fields.foreach { f =>
      val tf = t.schema(f.name)
      require(f.dataType == tf.dataType,
        s"column '${f.name}' is ${f.dataType.sql}, table expects " +
          s"${tf.dataType.sql} (cast in the stream; writing a widened " +
          "type produces files the table schema cannot read back)")
    }
    // writer conf mirroring the batch write path: TIMESTAMP_MICROS (an
    // INT96 file would blind footer-stat pruning), modern rebase, the
    // table's bloom-filter options and write-option passthroughs
    val conf = scala.collection.mutable.Map[String, String](
      "spark.sql.parquet.writeLegacyFormat" -> "false",
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      "spark.sql.parquet.datetimeRebaseModeInWrite" -> "CORRECTED",
      "spark.sql.parquet.int96RebaseModeInWrite" -> "CORRECTED",
      // the schema converter's Configuration constructor reads these
      // with NO default — an unset key is a task-time parse crash
      "spark.sql.parquet.fieldId.write.enabled" -> "true",
      "spark.sql.parquet.variant.annotateLogicalType.enabled" -> "false",
      "parquet.compression" -> "snappy")
    t.bloomColumns.foreach { c =>
      conf(s"parquet.bloom.filter.enabled#$c") = "true"
      conf(s"parquet.bloom.filter.expected.ndv#$c") =
        t.properties.getOrElse(GraftTable.PropBloomNdv, "10000")
    }
    t.properties.foreach { case (k, v) =>
      if (k.startsWith(GraftTable.PropWriteOptionPrefix))
        conf(k.stripPrefix(GraftTable.PropWriteOptionPrefix)) = v
    }
    val sinkId = s"dsv2:${info.queryId()}"
    val dirCaptured = t.dir
    // partition transforms, resolved against the INPUT attribute order
    // and bound for task-side row evaluation — the same Spark
    // expressions the batch writer's writeExpr column evaluates, so the
    // streamed directory layout is bit-identical to a batch write's
    val partFields: Seq[org.apache.spark.sql.classic.GraftStreamPartField] =
      if (t.partitionFields.isEmpty) Nil
      else {
        import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences}
        import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
        val inAttrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
          .toAttributes(in)
        t.partitionFields.map { f =>
          val raw = org.apache.spark.sql.classic.GraftBridge.expr(f.writeExpr)
          val analyzed = SparkSession.active.sessionState.analyzer.execute(
            Project(Seq(Alias(raw, f.fieldName)()), LocalRelation(inAttrs)))
          val resolved = analyzed.collectFirst {
            case p: Project if p.projectList.nonEmpty &&
                p.projectList.head.resolved =>
              p.projectList.head.asInstanceOf[Alias].child
          }.getOrElse(throw new IllegalArgumentException(
            s"cannot resolve partition transform ${f.spec} of $tableName " +
              "against the streaming input schema"))
          org.apache.spark.sql.classic.GraftStreamPartField(
            f.fieldName, f.source,
            BindReferences.bindReference(resolved, inAttrs),
            f.derivedType)
        }
      }
    // V2 transform spellings driving the epoch's clustered distribution
    // + ordering; non-identity transforms resolve against this catalog's
    // own functions (GraftV2Functions — bit-identical to the write-side
    // derivation). Driver-only: never shipped to tasks.
    val clusterOn: Seq[org.apache.spark.sql.connector.expressions.Expression] =
      t.partitionFields.map {
        case IdentityField(c, _) => Expressions.column(c)
        case BucketField(n, c) => Expressions.bucket(n, c)
        case DaysField(c) => Expressions.days(c)
        case YearsField(c) => Expressions.years(c)
        case MonthsField(c) => Expressions.months(c)
        case HoursField(c) => Expressions.hours(c)
        case TruncateField(w, c) => Expressions.apply("truncate",
          Expressions.literal(w), Expressions.column(c))
      }
    val identitySources =
      t.partitionFields.filter(_.isIdentity).map(_.fieldName).toSet
    // WRITE-TIME SORT ORDER (graft.write.sort) carries into STREAM
    // epochs: the sort keys extend the declared per-task ordering
    // (after the partition transforms), and an unpartitioned sorted
    // table asks for a RANGE distribution — each epoch's files then
    // land range-disjoint with tight footer min/max, exactly like the
    // batch path's repartitionByRange + sortWithinPartitions, so
    // min/max pruning works on FRESH streamed data without waiting for
    // a rewrite_data_files pass. (AQE may coalesce the range exchange;
    // merging ADJACENT ranges preserves disjointness.)
    val streamSortCols: Seq[String] =
      GraftTable.writeSortColumns(t.properties, t.schema)
    // write CONSTRAINTS (graft.check.* + graft.notnull.columns) enforce
    // INSIDE the writer tasks, same contract as the batch write job's
    // constraintGuard: a row whose check is FALSE fails the epoch before
    // anything commits; NULL passes (SQL CHECK semantics). Resolved
    // against the input attributes here, bound, and evaluated task-side
    // through a codegen'd predicate (Coalesce(check, true) keeps the
    // null-passes semantics under BasePredicate's null-as-false).
    val constraintChecks: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = {
      import org.apache.spark.sql.catalyst.expressions.{BindReferences, Coalesce, IsNotNull, Literal}
      import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
      val inAttrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
        .toAttributes(in)
      val raws: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] =
        t.properties.toSeq.sortBy(_._1).collect {
          case (k, v) if k.startsWith(GraftTable.PropCheckPrefix) =>
            s"CHECK ${k.stripPrefix(GraftTable.PropCheckPrefix)} ($v)" ->
              org.apache.spark.sql.classic.GraftBridge.expr(
                org.apache.spark.sql.functions.expr(v))
        } ++
        t.properties.get(GraftTable.PropNotNullColumns).toSeq
          .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
          .filter(c => in.fieldNames.contains(c))
          .map(c => s"NOT NULL $c" -> (IsNotNull(
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(c))
            : org.apache.spark.sql.catalyst.expressions.Expression))
      raws.map { case (label, raw) =>
        val analyzed = SparkSession.active.sessionState.analyzer.execute(
          Filter(raw, LocalRelation(inAttrs)))
        val resolved = analyzed.collectFirst {
          case f: Filter if f.condition.resolved => f.condition
        }.getOrElse(throw new IllegalArgumentException(
          s"cannot resolve write constraint [$label] of $tableName " +
            "against the streaming input schema"))
        label -> BindReferences.bindReference(
          Coalesce(Seq(resolved, Literal(true))), inAttrs)
      }
    }
    new org.apache.spark.sql.connector.write.WriteBuilder {
      // RequiresDistributionAndOrdering must sit on the WRITE object
      // Spark's V2Writes hands to DistributionAndOrderingUtils (the
      // MicroBatchWrite wrapper never forwards it from the
      // StreamingWrite): each epoch clusters + orders on the partition
      // TRANSFORM values, resolved against this catalog's own V2
      // functions (GraftV2Functions — bit-identical to the write-side
      // derivation), so one partition's rows land in ONE task,
      // consecutively — one file per partition per epoch, one open
      // writer per task.
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.Write
            with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
          override def requiredDistribution()
              : org.apache.spark.sql.connector.distributions.Distribution = {
            import org.apache.spark.sql.connector.expressions.{SortDirection, Expressions => E}
            import org.apache.spark.sql.connector.{distributions => d}
            if (clusterOn.nonEmpty) d.Distributions.clustered(clusterOn.toArray)
            else if (streamSortCols.nonEmpty)
              d.Distributions.ordered(streamSortCols.map(c =>
                E.sort(E.column(c), SortDirection.ASCENDING)).toArray)
            else d.Distributions.unspecified()
          }
          override def requiredOrdering()
              : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
            import org.apache.spark.sql.connector.expressions.{SortDirection, Expressions => E}
            (clusterOn.map(e => E.sort(e, SortDirection.ASCENDING)) ++
              streamSortCols.map(c =>
                E.sort(E.column(c), SortDirection.ASCENDING))).toArray
          }
          override def distributionStrictlyRequired(): Boolean = false
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            // the streaming sink's executor tasks write PARQUET bytes
            // (ParquetWriteSupport); a declared non-parquet write.format
            // would be silently violated — refuse at plan time with
            // direction instead (batch appends honor the format)
            val declared = t.properties
              .getOrElse(GraftTable.PropWriteFormat, "parquet")
            require(declared == "parquet",
              s"${t.dir} declares ${GraftTable.PropWriteFormat}=$declared " +
                "— the streaming sink writes parquet only; use batch " +
                "appends (format-honoring) or drop the property")
            new org.apache.spark.sql.classic.GraftStreamingWrite(
              dirCaptured, in, info.queryId(), conf.toMap,
              (rels, epoch) => {
                val fresh = GraftTable.load(dirCaptured)
                // mid-stream schema / partition-spec / CONSTRAINT
                // evolution: the epoch's files were written under the
                // START state — the canonical part-<snapId> rename
                // would attribute them to the POST-evolution era
                // (silent NULLs on renamed columns; mixed-spec
                // directories), and rows validated against the START
                // constraint set must not land once stricter checks
                // exist — drop the uncommitted epoch and refuse loudly;
                // the restarted query replays under the current state
                def guarded(p: Map[String, String]) = p.filter { case (k, _) =>
                  k == GraftTable.PropNotNullColumns ||
                    k.startsWith(GraftTable.PropCheckPrefix)
                }
                if (fresh.schema != t.schema ||
                    fresh.partitionColumns != t.partitionColumns ||
                    guarded(fresh.properties) != guarded(t.properties)) {
                  rels.foreach(r => java.nio.file.Files.deleteIfExists(
                    java.nio.file.Paths.get(dirCaptured, r)))
                  throw new IllegalStateException(
                    s"$tableName's schema, partition spec, or write " +
                      "constraints evolved while the stream was " +
                      "running — restart the streaming query so its " +
                      "writes carry the current state")
                }
                val out = fresh.commitStreamFiles(rels, sinkId, epoch)
                // opt-in epoch-threshold small-file compaction (a
                // row-preserving replace streams skip); replayed epochs
                // commit nothing and never re-compact. `fresh` already
                // carries the properties; the compact itself reloads.
                if (out.isDefined)
                  fresh.maybeStreamCompact(SparkSession.active, epoch)
                out
              },
              partFields, identitySources, constraintChecks)
          }
        }
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val spark = SparkSession.active
    val snap = snapshotId match {
      case Some(id) => Some(t.log.byId(id).getOrElse(
        throw new IllegalArgumentException(s"no snapshot $id in ${t.dir}")))
      case None => t.log.current
    }
    snap.foreach { s =>
      // this surface hands the raw file list to the parquet source — it
      // cannot apply merge-on-read delete state; refuse rather than
      // resurrect deleted rows, and refuse LOUDLY WITH DIRECTION: a
      // GraftExtensions session serves these reads with the visible-rows
      // plan and full pushdown (a silent slow fallback here would
      // full-scan a 100 TB table per query instead)
      def refuse(kind: String): String =
        s"${t.dir} has $kind pending at snapshot ${s.snapshotId} — " +
          "read through a GraftExtensions session (builder" +
          ".withExtensions(new GraftExtensions)), via GraftTable.read/" +
          "scan, or compact() to materialize them first"
      val state = DeleteState.of(s)
      require(state.predicates.isEmpty, refuse("deferred deletes"))
      require(state.positional.isEmpty, refuse("positional deletes"))
      require(state.equality.isEmpty, refuse("equality deletes"))
    }
    // LAZY planning: the manifest LIST is read here (small), but its
    // segment files are only parsed for the files a query actually
    // plans — a filtered query over an N-segment table parses only the
    // envelope-matching segments (t.prunedFiles), never the whole
    // manifest. The per-file correctness refusals below force the full
    // list only on tables that can actually exhibit their hazard
    // (rename eras, identity layouts, evolved specs, key-grouped reads);
    // the common 100 TB shape — transform-partitioned, no renames —
    // plans O(matching segments), same as the library scan path.
    val manifest = snap.map(s => Manifest.read(s"${t.dir}/${s.manifestList}"))
      .getOrElse(Manifest.empty)
    lazy val entries = manifest.files
    // this surface hands the file list + LOGICAL schema to one parquet
    // scan; a file predating a column rename holds the old physical name
    // and would read the renamed column as NULL — and one predating an
    // add-with-DEFAULT would read NULL instead of the default — refuse
    // (the library scan and the extensions' SQL splice alias/fill per
    // era). Only tables with recorded evolution eras can hold such files.
    if (t.renames.nonEmpty || t.widenings.nonEmpty || t.defaults.nonEmpty)
      entries.foreach(f => require(!t.renameAffects(f),
        s"${t.dir} has pre-rename/pre-default data files — read via " +
          "GraftTable.scan/GraftCatalog or a GraftExtensions session, or " +
          "compact() to rewrite under the current schema"))
    // normalize: a published branch leaves `branches/<name>/data/…`
    // entries in the parent manifest (and a branch table holds `../../`
    // fork entries) — the parquet source must see clean absolute paths
    def abs(rel: String): String =
      java.nio.file.Paths.get(t.dir, rel).normalize().toString
    // this surface hands the planned list to the PARQUET source; avro
    // entries (appendAvro mixed-format tables) would fail at task time —
    // refuse with direction instead (the library scan path dispatches
    // per file). Checked on whatever list is actually planned — a
    // pruned-away avro file is never read, so never a hazard.
    // The planned entries become the delegate's file index as they are
    // (path + recorded size) — nothing is listed or stat'd.
    def assemble(files: Seq[DataFileEntry]): Seq[org.apache.hadoop.fs.FileStatus] = {
      require(files.forall(_.path.endsWith(".parquet")),
        s"${t.dir} holds non-parquet data files — read it via " +
          "GraftTable.scan/GraftCatalog (per-file format dispatch), not " +
          "the DSv2 catalog")
      files.map(f => ManifestFileIndex.status(t.dir, f))
    }
    val opts = new util.HashMap[String, String](options.asCaseSensitiveMap())
    // identity directory keys need path recovery; transform-derived keys
    // (bucket/days/truncate) keep their source column in the footers and
    // read fine as leaf files without discovery
    if (t.partitionFields.exists(_.isIdentity)) {
      // identity recovery needs ONE basePath ancestor for every file;
      // a multi-root manifest (fork/publish entries) can't satisfy it
      // here — refuse with direction (the library scan path groups by
      // root and handles it)
      require(entries.forall(f =>
        !f.path.startsWith("../") && !f.path.startsWith("branches/")),
        s"${t.dir} is identity-partitioned with branch-era data files — " +
          "read it via GraftTable.scan/GraftCatalog, not the DSv2 catalog")
      // ONE uniform directory layout is required for recovery: a file
      // from another partition-spec ERA (updatePartitionSpec) sits at a
      // different depth/key set — silent NULLs or dropped rows, not an
      // error — so mixed-era identity tables refuse with direction (the
      // library scan path groups files by their own era's spec)
      val expected = t.partitionFields.map(_.fieldName).toSet
      require(entries.forall(_.partition.keySet == expected),
        s"${t.dir} mixes partition-spec eras under an identity layout — " +
          "read it via GraftTable.scan/GraftCatalog or an extensions " +
          "session, or compact() to migrate files to the current spec")
      opts.put("basePath", s"${t.dir}/data")
    } else if (t.properties.contains(GraftTable.PropSpecEvolved)) {
      // leaf-file reads recover NOTHING from directories — a file from
      // an identity-partitioned era holds that column only in its path
      // (partitionBy drops it from the footers), so reading it here
      // would silently produce NULLs for a schema column — refuse. Only
      // spec-EVOLVED tables can hold another era's identity files; a
      // never-evolved non-identity table stays on the lazy path.
      require(entries.forall(f =>
        !f.partition.keySet.exists(k => t.schema.fieldNames.contains(k))),
        s"${t.dir} holds identity-partitioned era data files under a " +
          "non-identity current spec — read it via GraftTable.scan/" +
          "GraftCatalog or an extensions session, or compact() first")
    }
    // Storage-partitioned-join mode, opted into per read
    // (`option("key-grouped", "true")`) or per table
    // (`graft.read.key-grouped=true`): when the spec is a single bucket
    // transform and every live file carries its bucket id from ONE spec
    // era, the scan reports KeyGroupedPartitioning(bucket(n, col)) and
    // groups splits by bucket, so a join of two co-bucketed tables on
    // the bucket source shuffles NEITHER side. Mixed-era tables
    // (PropSpecEvolved) never qualify — two eras' bucket ids are not
    // comparable. Opt-in because the trade is real: scan parallelism
    // collapses to #buckets, right for the co-located join, wrong for a
    // plain wide scan.
    val keyGroupedOn =
      "true".equalsIgnoreCase(options.getOrDefault("key-grouped",
        t.properties.getOrElse("graft.read.key-grouped", "false")))
    val keyGrouped = t.partitionFields match {
      case Seq(b @ BucketField(n, src)) if keyGroupedOn &&
          !t.properties.contains(GraftTable.PropSpecEvolved) &&
          entries.nonEmpty &&
          entries.forall(_.partition.get(b.fieldName)
            .exists(_.exists(_.forall(_.isDigit)))) =>
        def norm(p: String): String =
          new org.apache.hadoop.fs.Path(p).toUri.getPath
        val buckets = entries.map(f =>
          norm(abs(f.path)) -> f.partition(b.fieldName).get.toInt).toMap
        Some((Array[org.apache.spark.sql.connector.expressions.Expression](
          Expressions.bucket(n, src)), buckets.get _))
      case _ => None
    }
    // kept entries for a pushed-filter conjunction, with SEGMENT-LEVEL
    // envelope skipping (t.prunedFiles): only the may-matching segments
    // are ever parsed — the same planning discipline as the library path
    def keptFor(filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
        : Seq[DataFileEntry] = filters
      .reduceOption(org.apache.spark.sql.catalyst.expressions.And)
      .map(e => t.prunedFiles(manifest, e)).getOrElse(entries)
    // manifest pruning BEFORE the parquet source sees the list: the
    // pushed Catalyst data filters drive the same stats/bloom/transform
    // walk the library scan path uses (sound: everything stays residual)
    new org.apache.spark.sql.classic.GraftPruningScanBuilder(
      spark, tableName, t.schema, opts, assemble(entries),
      filters => assemble(keptFor(filters)),
      keyGrouped,
      // COUNT/MIN/MAX from manifest metadata: exact here because this
      // surface already refused merge-on-read-pending state above
      // (manifest totals = visible rows). Under pushed filters the
      // builder only asks when EVERY conjunct was claimed, so the kept
      // entries hold precisely the matching rows — `count(*) WHERE
      // day = X` on a partitioned table is a manifest sum.
      (agg, filters) => AggregatePushdown.localScan(
        agg, t.schema, t.partitionFields, keptFor(filters),
        s"graft agg-stats scan of ${t.dir}"),
      // snapshot-incremental streaming read (readStream.table):
      // offsets are snapshot ids; each trigger plans only the files the
      // new snapshots appended. `starting-snapshot-id` (exact) or
      // `starting-timestamp-ms` (as-of resolution) tail from after that
      // point instead of backfilling from the beginning.
      Some((mkDelegate, _) => new org.apache.spark.sql.classic.GraftMicroBatchStream(
        t.dir,
        GraftStreamStart.resolve(t, options),
        mkDelegate,
        (tbl, f) => tbl.renameAffects(f),
        Option(options.get("max-files-per-trigger")).map(_.trim.toInt),
        Option(options.get("max-rows-per-trigger")).map(_.trim.toLong),
        Option(options.get("max-bytes-per-trigger")).map(_.trim.toLong))),
      // a conjunct is CLAIMED (served by file selection alone, no
      // post-scan re-apply) when every file the pruning walk keeps
      // PROVABLY all-matches it — stats/partition-value proofs, the
      // countWhere discipline. What this unlocks: Spark then sees the
      // filter as fully pushed and offers the aggregate pushdown, so
      // the most common question on a partitioned table ("count WHERE
      // partition slice") collapses to a manifest sum.
      claimFilters = filters => {
        val kept = keptFor(filters)
        filters.filter(c => kept.forall(t.provenAll(c)))
      },
      metadataColScan = Some((req, files) => {
        // per-file lineage constants for `_row_id`/`_last_updated_…`:
        // band base + committing snapshot by basename — scoped to the
        // PRUNED paths this scan actually reads, not the whole manifest:
        // the maps ship as one reference object into every task, and at
        // the design target (10⁶ files) a table-wide map would be an
        // O(table) driver structure serialized per stage for a scan that
        // kept three files
        def bn(p: String): String = p.substring(p.lastIndexOf('/') + 1)
        val wanted = files.map(_.getPath.getName).toSet
        val scoped = entries.filter(f => wanted.contains(bn(f.path)))
        val ridByBn = scoped
          .flatMap(f => f.firstRowId.map(bn(f.path) -> _)).toMap
        val seqByBn = scoped
          .flatMap(f => GraftTable.fileSnapId(f.path).map(bn(f.path) -> _)).toMap
        new GraftFileposScan(tableName, t.schema, req,
          new util.HashMap[String, String](opts), files,
          ridByBn, seqByBn)
      }),
      // manifest-exact scan statistics for CBO: rowCount/sizeInBytes
      // summed over the statically-kept entries (exact — merge-on-read
      // state was refused above), per-column nullCounts from footer
      // stats, and NDV from the table's ANALYZE sketches
      // (GraftTable.analyze). Join reorder and broadcast decisions then
      // work from real numbers instead of byte-derived guesses.
      scanStats = filters => {
        val kept = keptFor(filters)
        val rows = kept.map(_.recordCount).sum
        val bytes = kept.map(_.fileSizeBytes).sum
        val ndv = t.columnNdv
        val colStats = new util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        t.schema.fields.foreach { f =>
          val nulls: Option[Long] = {
            val per = kept.map(_.stats.get(f.name).flatMap(_.nullCount))
            if (per.nonEmpty && per.forall(_.isDefined))
              Some(per.flatten.sum) else None
          }
          // a pruned scan cannot hold more distinct values than rows
          val dc = ndv.get(f.name).map(n => math.min(n, math.max(rows, 1L)))
          if (nulls.isDefined || dc.isDefined)
            colStats.put(
              Expressions.column(f.name),
              new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
                override def distinctCount(): java.util.OptionalLong =
                  dc.map(java.util.OptionalLong.of)
                    .getOrElse(java.util.OptionalLong.empty())
                override def nullCount(): java.util.OptionalLong =
                  nulls.map(java.util.OptionalLong.of)
                    .getOrElse(java.util.OptionalLong.empty())
              })
        }
        Some(new org.apache.spark.sql.connector.read.Statistics {
          override def sizeInBytes(): java.util.OptionalLong =
            java.util.OptionalLong.of(math.max(bytes, 1L))
          override def numRows(): java.util.OptionalLong =
            java.util.OptionalLong.of(rows)
          override def columnStats(): util.Map[
              org.apache.spark.sql.connector.expressions.NamedReference,
              org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
            colStats
        })
      })
  }
}

/** V1-relation scan serving the `_file`/`_pos` metadata columns of
  * [[GraftV2Table]]: the pruned parquet file list is read through the
  * DataFrame path (where the reader's `_metadata` provenance struct is
  * available) and projected to the required schema — `_file` ←
  * `_metadata.file_path`, `_pos` ← `_metadata.row_index`, data columns
  * as themselves. No filter is applied here: everything stayed residual
  * at the pruning builder, so Spark re-applies the full predicate above
  * this relation — and with no parquet row-group skipping in play,
  * `row_index` is the plain physical position, bit-identical to what the
  * positional-delete write path records. Identity-partitioned layouts
  * recover their directory keys through the same `basePath` option as
  * the delegate scan. */
final class GraftFileposScan(
    tableName: String,
    tableSchema: StructType,
    required: StructType,
    options: util.Map[String, String],
    files: Seq[org.apache.hadoop.fs.FileStatus],
    ridByBn: Map[String, Long] = Map.empty,
    seqByBn: Map[String, Long] = Map.empty)
    extends org.apache.spark.sql.connector.read.V1Scan {
  override def readSchema(): StructType = required
  override def description(): String = s"graft _file/_pos scan of $tableName"
  override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
      with org.apache.spark.sql.sources.TableScan](
      context: org.apache.spark.sql.SQLContext): T =
    new org.apache.spark.sql.sources.BaseRelation
        with org.apache.spark.sql.sources.TableScan {
      override def sqlContext: org.apache.spark.sql.SQLContext = context
      override def schema: StructType = required
      override def buildScan(): org.apache.spark.rdd.RDD[
          org.apache.spark.sql.Row] = {
        val spark = context.sparkSession
        if (files.isEmpty)
          return spark.sparkContext.emptyRDD[org.apache.spark.sql.Row]
        import org.apache.spark.sql.functions.{coalesce, col, substring_index}
        val b = org.apache.spark.sql.classic.GraftBridge
        val needsLineage = required.fieldNames
          .exists(n => n == GraftTable.RowIdCol || n == GraftTable.LastUpdatedCol)
        // lineage columns need the physical carry cells too (rewrites
        // persisting prior ids; NULL cells inherit band + position)
        val readSchema =
          if (!needsLineage) tableSchema
          else StructType(tableSchema.fields ++ Seq(
            org.apache.spark.sql.types.StructField(
              GraftTable.LineageRidCol, org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField(
              GraftTable.LineageSeqCol, org.apache.spark.sql.types.LongType)))
        val df = ManifestFileIndex.read(spark,
          new ManifestFileIndex(spark, files, options.asScala.toMap,
            Some(readSchema)),
          readSchema, new org.apache.spark.sql.execution.datasources
            .parquet.ParquetFileFormat)
        lazy val bnCol = substring_index(col("_metadata.file_path"), "/", -1)
        val cols = required.fields.toSeq.map(_.name match {
          case "_file" => col("_metadata.file_path").as("_file")
          case "_pos" => col("_metadata.row_index").as("_pos")
          case n if n == GraftTable.RowIdCol =>
            coalesce(col(GraftTable.LineageRidCol),
              b.column(LineageLookup(b.expr(bnCol), new LineageIndex(ridByBn)))
                + col("_metadata.row_index")).as(GraftTable.RowIdCol)
          case n if n == GraftTable.LastUpdatedCol =>
            coalesce(col(GraftTable.LineageSeqCol),
              b.column(LineageLookup(b.expr(bnCol), new LineageIndex(seqByBn))))
              .as(GraftTable.LastUpdatedCol)
          case n
              if org.apache.spark.sql.execution.datasources.VariantMetadata
                .isVariantStruct(required(n).dataType) =>
            // Catalyst pushed variant extractions AND the query needs
            // metadata columns: serve the rewritten struct by computing
            // each marked path from the raw variant column (correct —
            // the shredded fast path is the delegate scan's, not this
            // rare combination's)
            val st = required(n).dataType.asInstanceOf[StructType]
            org.apache.spark.sql.functions.struct(st.fields.toSeq.map { sf =>
              val vm = org.apache.spark.sql.execution.datasources
                .VariantMetadata.fromMetadata(sf.metadata)
              b.column(org.apache.spark.sql.catalyst.expressions.variant
                .VariantGet(b.expr(col(n)),
                  org.apache.spark.sql.catalyst.expressions.Literal(
                    org.apache.spark.unsafe.types.UTF8String
                      .fromString(vm.path),
                    org.apache.spark.sql.types.StringType),
                  sf.dataType, vm.failOnError,
                  Option(vm.timeZoneId))).as(sf.name)
            }: _*).as(n)
          case n => col(n)
        })
        df.select(cols: _*).rdd
      }
    }.asInstanceOf[T]
}


/** Shared by both streaming sources: the snapshot id to tail AFTER,
  * from `starting-snapshot-id` (exact) or `starting-timestamp-ms`
  * (resolved via as-of-time — snapshots committed after that instant
  * stream, Iceberg's stream-from-timestamp semantics; an instant before
  * the first snapshot means a full backfill). Both set = refuse. */
private[table] object GraftStreamStart {
  def resolve(t: GraftTable, options: CaseInsensitiveStringMap): Long = {
    val bySnap = Option(options.get("starting-snapshot-id")).map(_.trim)
    val byTs = Option(options.get("starting-timestamp-ms")).map(_.trim)
    require(bySnap.isEmpty || byTs.isEmpty,
      "set starting-snapshot-id OR starting-timestamp-ms, not both")
    byTs match {
      case Some(ms) =>
        t.snapshotAsOfTime(ms.toLong).map(_.snapshotId).getOrElse(0L)
      case None => bySnap.map(_.toLong).getOrElse(0L)
    }
  }
}

/** Read-only DSv2 metadata table: one [[MetadataTables]] entry of a
  * base table on the standard catalog path — the reference's
  * system-table naming, V1, extended to the whole family. Stateless:
  * every query re-resolves through `loadTable`, so a new commit is
  * visible to the very next query (the V3 discipline).
  *
  * Two scan shapes, by the entry's `distributed` flag (its SCALE):
  *  - summary-driven views (`__snapshots`, `__segments`, `__deletes`,
  *    `__refs`, `__history` — O(commits)/O(segments)/O(entries),
  *    bounded at any data scale) collapse to a driver-local row set
  *    (LocalScan → a LocalTableScan; downstream operators still
  *    parallelize);
  *  - file-granular views (`__files`, `__partitions`, `__all_files` —
  *    O(data files), ~1 M rows on a big table) keep their DISTRIBUTED
  *    lineage through a [[org.apache.spark.sql.connector.read.V1Scan]]:
  *    the segment shards parse in executor tasks, never as one driver
  *    row set on one task. `rowCountHint` (the entry's manifest-list
  *    upper bound — no segment parse) sizes the relation so joins
  *    against genuinely small metadata still broadcast. */
final class GraftMetadataV2Table(
    tableName: String,
    df: org.apache.spark.sql.DataFrame,
    distributed: Boolean,
    rowCountHint: () => Option[Long])
    extends Table with SupportsRead {

  override def name(): String = tableName
  override def schema(): StructType = df.schema
  override def partitioning(): Array[Transform] = Array.empty
  override def properties(): util.Map[String, String] =
    util.Collections.emptyMap()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        if (distributed) new org.apache.spark.sql.connector.read.V1Scan {
          override def readSchema(): StructType = df.schema
          override def description(): String =
            s"graft metadata table $tableName (distributed)"
          override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
              with org.apache.spark.sql.sources.TableScan](
              context: org.apache.spark.sql.SQLContext): T =
            new org.apache.spark.sql.sources.BaseRelation
                with org.apache.spark.sql.sources.TableScan {
              override def sqlContext: org.apache.spark.sql.SQLContext = context
              override def schema: StructType = df.schema
              override def sizeInBytes: Long = rowCountHint() match {
                case Some(n) =>
                  math.max(1L, n) * math.max(8, df.schema.defaultSize)
                case None => super.sizeInBytes
              }
              override def buildScan(): org.apache.spark.rdd.RDD[
                org.apache.spark.sql.Row] = df.rdd
            }.asInstanceOf[T]
        }
        else new org.apache.spark.sql.connector.read.LocalScan {
          override def rows()
              : Array[org.apache.spark.sql.catalyst.InternalRow] =
            df.queryExecution.executedPlan.executeCollect()
          override def readSchema(): StructType = df.schema
          override def description(): String =
            s"graft metadata table $tableName"
        }
    }
}

/** The `<name>__changes` CDC table: the DSv2 surface whose rows are the
  * base table's changes — schema plus `_change_type`
  * (`insert` | `delete`) and the snapshot id that produced each change
  * ([[GraftTable.changesCdc]]'s shape, Delta-CDF style).
  *
  * STREAMING reads survive the whole DML surface, pacing and
  * checkpointing like the append stream
  * ([[org.apache.spark.sql.classic.GraftCdcMicroBatchStream]]).
  *
  * BATCH reads (Iceberg `create_changelog_view` parity) serve a
  * snapshot-range changelog as plain SQL/DataFrame rows: read options
  * `start-snapshot-id` (EXCLUSIVE base; default 0 = table creation, so
  * the unoptioned read is the full changelog whose empty-state fold
  * reproduces the current table) and `end-snapshot-id` (inclusive;
  * default current) scope the range. Range validation and the rollback
  * refusal are `changesCdc`'s own (unknown ids, inverted ranges and
  * rollback-crossing ranges all refuse loudly); the batch relation is
  * the same per-snapshot delta plan the streaming tail uses — O(changed
  * data) per snapshot, never a table copy. */
final class GraftCdcV2Table(
    tableName: String,
    t: GraftTable) extends Table with SupportsRead {

  // row-lineage tables (graft.row-lineage=true) additionally serve
  // `_row_id`/`_last_updated_snapshot_id` on every change row — the
  // Iceberg v3 changelog identity: consumers key updates on stable row
  // identity instead of whole-row equality. Property-driven, so the
  // relation's schema is stable per table (read options can never
  // reach loadTable — see the metadata-table discipline).
  private val withLineage: Boolean = t.lineageOn
  private val cdcSchema: StructType = StructType(
    (t.schema.fields.toSeq :+
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = true) :+
      org.apache.spark.sql.types.StructField(t.virtualColumn,
        org.apache.spark.sql.types.LongType, nullable = true)) ++
      (if (!withLineage) Nil else Seq(
        org.apache.spark.sql.types.StructField(GraftTable.RowIdCol,
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField(GraftTable.LastUpdatedCol,
          org.apache.spark.sql.types.LongType, nullable = true))))

  override def name(): String = tableName
  override def schema(): StructType = cdcSchema
  override def partitioning(): Array[Transform] = Array.empty
  override def properties(): util.Map[String, String] =
    util.Collections.emptyMap()

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val spark = SparkSession.active
    val opts = new util.HashMap[String, String](options.asCaseSensitiveMap())
    // seed delegate for IDENTITY-partitioned tables: their partition
    // column's value lives only in the directory name, so the raw-file
    // seed needs `basePath` path recovery (the same discipline the base
    // table's DSv2 scan uses) — the plain delegate serves the spilled
    // tail batches, whose files materialize every column physically
    val mkSeedDelegate: Option[(Seq[org.apache.hadoop.fs.FileStatus],
        org.apache.spark.sql.types.StructType) =>
        org.apache.spark.sql.connector.read.Scan] =
      if (!t.partitionFields.exists(_.isIdentity)) None
      else Some { (files, required) =>
        val o = new util.HashMap[String, String](options.asCaseSensitiveMap())
        o.put("basePath", s"${t.dir}/data")
        val index = new ManifestFileIndex(spark, files, o.asScala.toMap,
          Some(cdcSchema))
        val b = org.apache.spark.sql.classic.GraftBridge
          .parquetTable(spark, tableName, index, cdcSchema)
          .newScanBuilder(new CaseInsensitiveStringMap(o))
        // honor the plain delegate's required-column set, so a pruned
        // streaming read prunes the seed scan too
        b match {
          case c: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
            c.pruneColumns(required)
          case _ => ()
        }
        b.build()
      }
    // lineage seed scans take their EXACT read schema (data columns +
    // the `_gf_rid`/`_gf_seq` carry cells; parquet serves
    // requested-but-absent columns as NULL) — basePath recovery rides
    // along for identity layouts, same as the plain seed delegate
    val mkLineageSeed: Option[(Seq[org.apache.hadoop.fs.FileStatus],
        org.apache.spark.sql.types.StructType) =>
        org.apache.spark.sql.connector.read.Scan] =
      if (!withLineage) None
      else Some { (files, readSchema) =>
        val o = new util.HashMap[String, String](options.asCaseSensitiveMap())
        if (t.partitionFields.exists(_.isIdentity))
          o.put("basePath", s"${t.dir}/data")
        val index = new ManifestFileIndex(spark, files, o.asScala.toMap,
          Some(readSchema))
        org.apache.spark.sql.classic.GraftBridge
          .parquetTable(spark, tableName, index, readSchema)
          .newScanBuilder(new CaseInsensitiveStringMap(o))
          .build()
      }
    val streamBuilder = new org.apache.spark.sql.classic.GraftPruningScanBuilder(
      spark, tableName, cdcSchema, opts,
      allFiles = Nil, // streaming rows exist only per micro-batch
      prune = _ => Nil,
      microBatch = Some((mkDelegate, ckpt) =>
        new org.apache.spark.sql.classic.GraftCdcMicroBatchStream(
          t.dir,
          GraftStreamStart.resolve(t, options),
          ckpt,
          t.schema,
          mkDelegate,
          Option(options.get("max-files-per-trigger")).map(_.trim.toInt),
          Option(options.get("max-rows-per-trigger")).map(_.trim.toLong),
          Option(options.get("max-bytes-per-trigger")).map(_.trim.toLong),
          mkSeedDelegate,
          lineage = withLineage,
          mkLineageSeed = mkLineageSeed)))
    // the batch half: a V1 relation over changesCdc's per-snapshot delta
    // plan, range-scoped by read options; streaming delegates to the
    // pruning builder's scan untouched (its column pruning included)
    val startId = Option(options.get("start-snapshot-id"))
      .map(_.trim.toLong).getOrElse(0L)
    val endId = Option(options.get("end-snapshot-id")).map(_.trim.toLong)
    new ScanBuilder
      with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
      private var required: StructType = cdcSchema
      override def pruneColumns(r: StructType): Unit = {
        required = r
        streamBuilder.pruneColumns(r)
      }
      override def build(): org.apache.spark.sql.connector.read.Scan = {
        val streamScan = streamBuilder.build()
        val requiredNow = required
        new org.apache.spark.sql.connector.read.V1Scan {
          override def readSchema(): StructType = requiredNow
          override def description(): String =
            s"graft changelog $tableName [start=$startId, " +
              s"end=${endId.getOrElse("current")}]"
          override def toMicroBatchStream(checkpointLocation: String)
              : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
            streamScan.toMicroBatchStream(checkpointLocation)
          override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
              with org.apache.spark.sql.sources.TableScan](
              context: org.apache.spark.sql.SQLContext): T =
            new org.apache.spark.sql.sources.BaseRelation
                with org.apache.spark.sql.sources.TableScan {
              override def sqlContext: org.apache.spark.sql.SQLContext = context
              override def schema: StructType = requiredNow
              override def buildScan()
                  : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
                t.changesCdc(context.sparkSession, startId, endId,
                    lineage = withLineage)
                  .select(requiredNow.fieldNames.map(
                    org.apache.spark.sql.functions.col).toSeq: _*)
                  .rdd
            }.asInstanceOf[T]
        }
      }
    }
  }
}

object GraftSparkCatalog {
  /** SQL `PARTITIONED BY` v2 Transform nodes → the library's partition
    * spec strings (identity plus the hidden transforms); the strings
    * re-parse through [[PartitionField]] at create/replace. */
  private[table] def partitionSpecOf(partitions: Array[Transform]): Seq[String] = {
    def ref(t: Transform): String = t.references()(0).fieldNames().mkString(".")
    def intArg(t: Transform): Int = t.arguments().collectFirst {
      case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
        l.value().toString.toInt
    }.getOrElse(throw new UnsupportedOperationException(
      s"transform $t needs an integer literal argument"))
    partitions.toSeq.map {
      case t if t.name() == "identity" && t.references().length == 1 => ref(t)
      case t if t.name() == "bucket" && t.references().length == 1 =>
        s"bucket(${intArg(t)},${ref(t)})"
      case t if t.name() == "days" && t.references().length == 1 =>
        s"days(${ref(t)})"
      case t if t.name() == "years" && t.references().length == 1 =>
        s"years(${ref(t)})"
      case t if t.name() == "months" && t.references().length == 1 =>
        s"months(${ref(t)})"
      case t if t.name() == "hours" && t.references().length == 1 =>
        s"hours(${ref(t)})"
      case t if t.name() == "truncate" && t.references().length == 1 =>
        s"truncate(${intArg(t)},${ref(t)})"
      case other => throw new UnsupportedOperationException(
        "graft supports identity/bucket/years/months/days/hours/truncate " +
          s"partitioning, got $other")
    }
  }
}
