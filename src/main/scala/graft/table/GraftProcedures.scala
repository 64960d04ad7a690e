package graft.table

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL maintenance procedures — `CALL graft.system.<proc>(...)`, the
  * operator-at-a-SQL-shop interface over the proven library calls
  * (Iceberg's procedure surface, re-expressed through Spark 4's DSv2
  * `ProcedureCatalog`):
  *
  * {{{
  *   CALL graft.system.expire_snapshots('db.t', older_than_ms => <ts>, retain_last => 2)
  *   CALL graft.system.remove_orphan_files('db.t', older_than_ms => <ts>)
  *   CALL graft.system.rewrite_data_files('db.t')                -- compact
  *   CALL graft.system.rewrite_data_files('db.t', zorder_by => 'a,b')
  *   CALL graft.system.rewrite_manifests('db.t')
  *   CALL graft.system.rollback_to_snapshot('db.t', 3)
  * }}}
  *
  * Timestamps are epoch MILLIS (`older_than_ms`), absolute for both
  * expiration and orphan reclamation (the library's orphan API takes an
  * age; the procedure converts — one convention at the SQL surface).
  * Every procedure returns a result-set scan (ids expired, paths
  * reclaimed, the snapshot a rewrite committed), so `CALL` composes with
  * the operator's runbook instead of printing into a void. Tag/branch
  * retention anchors, the retain-last floor, and the commit-claim
  * serialization all come from the library calls themselves.
  */
object GraftProcedures {

  val names: Seq[String] = Seq(
    "expire_snapshots", "remove_orphan_files", "rewrite_data_files",
    "rewrite_manifests", "rollback_to_snapshot", "set_current_snapshot",
    "cherrypick_snapshot", "ancestors_of", "set_partition_spec",
    "create_tag", "create_branch", "publish_branch", "drop_branch",
    "add_files", "analyze_table", "snapshot", "migrate",
    "create_changelog_view", "rewrite_position_delete_files",
    "rewrite_delete_files", "register_table",
    "begin_transaction", "commit_transaction", "rollback_transaction",
    "recover_transactions")

  def load(warehouse: String, name: String): Option[UnboundProcedure] =
    name match {
      case "expire_snapshots" => Some(expireSnapshots(warehouse))
      case "remove_orphan_files" => Some(removeOrphanFiles(warehouse))
      case "rewrite_data_files" => Some(rewriteDataFiles(warehouse))
      case "rewrite_manifests" => Some(rewriteManifests(warehouse))
      case "rollback_to_snapshot" => Some(rollbackToSnapshot(warehouse))
      case "set_current_snapshot" => Some(setCurrentSnapshot(warehouse))
      case "cherrypick_snapshot" => Some(cherrypickSnapshot(warehouse))
      case "ancestors_of" => Some(ancestorsOf(warehouse))
      case "set_partition_spec" => Some(setPartitionSpec(warehouse))
      case "create_tag" => Some(createTag(warehouse))
      case "create_branch" => Some(createBranch(warehouse))
      case "publish_branch" => Some(publishBranch(warehouse))
      case "drop_branch" => Some(dropBranch(warehouse))
      case "add_files" => Some(addFiles(warehouse))
      case "analyze_table" => Some(analyzeTable(warehouse))
      case "snapshot" => Some(snapshotTable(warehouse))
      case "migrate" => Some(migrateTable(warehouse))
      case "create_changelog_view" => Some(createChangelogView(warehouse))
      case "rewrite_position_delete_files" =>
        Some(rewritePositionDeleteFiles(warehouse))
      case "rewrite_delete_files" => Some(rewriteDeleteFiles(warehouse))
      case "register_table" => Some(registerTable(warehouse))
      case "begin_transaction" => Some(beginTransaction(warehouse))
      case "commit_transaction" => Some(commitTransaction(warehouse))
      case "rollback_transaction" => Some(rollbackTransaction(warehouse))
      case "recover_transactions" => Some(recoverTransactions(warehouse))
      case _ => None
    }

  private def in(name: String, dt: DataType) =
    ProcedureParameter.in(name, dt).build()
  private def inDefault(name: String, dt: DataType, default: String) =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  private def tableOf(warehouse: String, row: InternalRow): GraftTable = {
    require(!row.isNullAt(0), "table argument must not be null")
    val name = row.getUTF8String(0).toString
    GraftTable.load(new GraftCatalog(warehouse).tableDir(name))
  }

  private def result(schema: StructType, rows: Seq[Seq[Any]], desc: String)
      : java.util.Iterator[Scan] =
    java.util.List.of[Scan](
      new GraftLocalAggScan(schema, rows, desc)).iterator()

  /** One-class procedure shell: graft procedures are all IN-parameter,
    * single-result, side-effecting maintenance calls. */
  private final class Proc(
      procName: String,
      procDescription: String,
      params: Array[ProcedureParameter],
      outSchema: StructType,
      run: InternalRow => Seq[Seq[Any]])
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = procDescription
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] =
      result(outSchema, run(input), s"graft procedure $procName")
  }

  private def expireSnapshots(wh: String): UnboundProcedure = new Proc(
    "expire_snapshots",
    "Expire snapshots committed before older_than_ms (epoch millis), " +
      "keeping at least retain_last newest; tags and live branch forks " +
      "stay retention anchors. Returns the expired snapshot ids.",
    Array(
      in("table", StringType),
      in("older_than_ms", LongType),
      inDefault("retain_last", IntegerType, "1")),
    StructType(Seq(StructField("expired_snapshot_id", LongType,
      nullable = false))),
    row => {
      val t = tableOf(wh, row)
      t.expireSnapshots(row.getLong(1), row.getInt(2))
        .map(id => Seq[Any](id))
    })

  private def removeOrphanFiles(wh: String): UnboundProcedure = new Proc(
    "remove_orphan_files",
    "Delete files under the table's data/deletes/manifests roots that " +
      "no snapshot references and that are older than older_than_ms " +
      "(epoch millis — keep it well above any in-flight write). " +
      "Returns the reclaimed paths.",
    Array(
      in("table", StringType),
      in("older_than_ms", LongType)),
    StructType(Seq(StructField("orphan_path", StringType,
      nullable = false))),
    row => {
      val t = tableOf(wh, row)
      // the library call takes an AGE; the SQL surface is absolute
      val age = math.max(0L, System.currentTimeMillis() - row.getLong(1))
      t.removeOrphanFiles(age)
        .map(p => Seq[Any](UTF8String.fromString(p)))
    })

  private def rewriteDataFiles(wh: String): UnboundProcedure = new Proc(
    "rewrite_data_files",
    "Compact files smaller than smaller_than_bytes into target-size " +
      "files (row-preserving replace snapshots; streams skip them). " +
      "sort_by/zorder_by take comma-separated columns for clustered " +
      "rewrites. max_file_group_bytes > 0 enables PARTIAL PROGRESS: " +
      "candidates are bin-packed into input groups of at most that many " +
      "bytes and each group commits its own replace snapshot (a failed " +
      "group never rolls back completed ones). where scopes the pass to " +
      "files that MAY hold matching rows (manifest pruning — partition " +
      "values, stats, transforms), the compact-one-slice maintenance " +
      "shape. Returns the replace snapshot id(s), or no rows when " +
      "nothing qualified.",
    Array(
      in("table", StringType),
      inDefault("smaller_than_bytes", LongType, "9223372036854775807"),
      inDefault("target_file_bytes", LongType, "0"),
      inDefault("sort_by", StringType, "''"),
      inDefault("zorder_by", StringType, "''"),
      inDefault("max_file_group_bytes", LongType, "0"),
      inDefault("where", StringType, "''")),
    StructType(Seq(StructField("replace_snapshot_id", LongType,
      nullable = false))),
    row => {
      val t = tableOf(wh, row)
      def cols(i: Int): Seq[String] =
        if (row.isNullAt(i)) Nil
        else row.getUTF8String(i).toString.split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
      val target = row.getLong(2)
      val groupBytes = row.getLong(5)
      val where: Option[org.apache.spark.sql.Column] =
        if (row.isNullAt(6)) None
        else Option(row.getUTF8String(6).toString.trim).filter(_.nonEmpty)
          .map(org.apache.spark.sql.functions.expr)
      val spark = org.apache.spark.sql.SparkSession.active
      val snaps =
        if (groupBytes > 0L)
          t.compactPartial(spark,
            smallerThanBytes = row.getLong(1),
            maxFileGroupBytes = groupBytes,
            sortBy = cols(3),
            targetFileBytes = if (target > 0L) Some(target) else None,
            zorderBy = cols(4),
            where = where)
        else
          t.compact(spark,
            smallerThanBytes = row.getLong(1),
            sortBy = cols(3),
            targetFileBytes = if (target > 0L) Some(target) else None,
            zorderBy = cols(4),
            where = where).toSeq
      snaps.map(s => Seq[Any](s.snapshotId))
    })

  private def analyzeTable(wh: String): UnboundProcedure = new Proc(
    "analyze_table",
    "Compute per-column NDV statistics for the cost-based optimizer " +
      "(mergeable HLL sketches stored in table properties; re-running " +
      "after appends sketches only the NEW files and unions). columns " +
      "is a comma-separated list; empty = every atomic column. Returns " +
      "(column_name, ndv).",
    Array(
      in("table", StringType),
      inDefault("columns", StringType, "''")),
    StructType(Seq(
      StructField("column_name", StringType, nullable = false),
      StructField("ndv", LongType, nullable = false))),
    row => {
      val t = tableOf(wh, row)
      val cols =
        if (row.isNullAt(1)) Nil
        else row.getUTF8String(1).toString.split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
      val analyzed = t.analyze(
        org.apache.spark.sql.SparkSession.active, cols)
      analyzed.columnNdv.toSeq.sortBy(_._1).map { case (c, n) =>
        Seq[Any](UTF8String.fromString(c), n)
      }
    })

  private def rewriteManifests(wh: String): UnboundProcedure = new Proc(
    "rewrite_manifests",
    "Re-shard the current manifest list into segments of target_files " +
      "entries (metadata-only replace snapshot). Returns the replace " +
      "snapshot id, or no rows when already at most this coarse.",
    Array(
      in("table", StringType),
      inDefault("target_files", IntegerType,
        Manifest.coalesceSmallFiles.toString)),
    StructType(Seq(StructField("replace_snapshot_id", LongType,
      nullable = false))),
    row => tableOf(wh, row).rewriteManifests(row.getInt(1))
      .map(s => Seq[Any](s.snapshotId)).toSeq)


  private def rewritePositionDeleteFiles(wh: String): UnboundProcedure =
    new Proc(
      "rewrite_position_delete_files",
      "Fold the pending positional-delete state into its canonical " +
        "form — one consolidated entry, one deletion vector per " +
        "affected data file — WITHOUT rewriting any data file: legacy " +
        "(file,pos)-parquet entries convert to in-reader vectors, ghost " +
        "rows for long-gone targets drop, a stacked entry list " +
        "collapses. Returns the folding snapshot id, or no rows when " +
        "the state is already canonical (nothing committed).",
      Array(in("table", StringType)),
      StructType(Seq(
        StructField("snapshot_id", LongType, nullable = false),
        StructField("position_delete_files", LongType, nullable = false))),
      row => {
        val t = tableOf(wh, row)
        val spark = org.apache.spark.sql.SparkSession.active
        t.rewritePositionDeletes(spark).map { s =>
          Seq[Any](s.snapshotId,
            t.positionalDeletes.map(_.dvs.size).sum.toLong)
        }.toSeq
      })


  private def rewriteDeleteFiles(wh: String): UnboundProcedure =
    new Proc(
      "rewrite_delete_files",
      "Materialize the pending EQUALITY and PREDICATE-deferred delete " +
        "entries by rewriting ONLY the data files they cover (visible " +
        "rows preserved exactly, dead rows dropped, lineage carried) — " +
        "O(covered data), not O(table), unlike a full rewrite_data_files " +
        "pass. Afterwards __deletes drains of both forms, reads lose " +
        "their residual filters/anti-joins, and operations refusing " +
        "pending equality state (branch publish, CDC seeds) proceed. " +
        "Returns the folding snapshot id, or no rows when neither form " +
        "pends (nothing committed).",
      Array(in("table", StringType)),
      StructType(Seq(
        StructField("snapshot_id", LongType, nullable = false),
        StructField("rewritten_data_files", LongType, nullable = false))),
      row => {
        val t = tableOf(wh, row)
        val spark = org.apache.spark.sql.SparkSession.active
        t.rewriteDeleteFiles(spark).map { s =>
          Seq[Any](s.snapshotId,
            s.summary.getOrElse("rewritten-data-files", "0").toLong)
        }.toSeq
      })

  private def beginTransaction(wh: String): UnboundProcedure = new Proc(
    "begin_transaction",
    "Open a named WAREHOUSE TRANSACTION: until commit_transaction " +
      "publishes, every enlisted table's commits stage invisibly. " +
      "While '<txn>' is open, <table>__txn_<txn> addresses the staged " +
      "view of <table> — SELECT sees the transaction's own commits, " +
      "INSERT/UPDATE/DELETE/MERGE stage into it (first touch enlists " +
      "the table and takes its commit claim; outside committers fail " +
      "loudly until publish). commit_transaction swaps every staged " +
      "log atomically — a reader never sees a partial cut.",
    Array(in("name", StringType)),
    StructType(Seq(StructField("txn_id", StringType, nullable = false))),
    row => {
      require(!row.isNullAt(0), "name must not be null")
      val txn = GraftTransaction.beginNamed(wh, row.getUTF8String(0).toString)
      Seq(Seq[Any](UTF8String.fromString(txn.id)))
    })

  private def commitTransaction(wh: String): UnboundProcedure = new Proc(
    "commit_transaction",
    "Atomically publish every table staged under the named transaction " +
      "(all-or-nothing: after the transaction's commit marker lands, " +
      "readers and recovery roll every enlisted table forward; before " +
      "it, none). Releases the name and the tables' commit claims.",
    Array(in("name", StringType)),
    StructType(Seq(
      StructField("txn_id", StringType, nullable = false),
      StructField("tables_published", LongType, nullable = false))),
    row => {
      require(!row.isNullAt(0), "name must not be null")
      val txn = GraftTransaction.endNamed(wh,
        row.getUTF8String(0).toString, commit = true)
      Seq(Seq[Any](UTF8String.fromString(txn.id),
        txn.enlistedDirs.size.toLong))
    })

  private def rollbackTransaction(wh: String): UnboundProcedure = new Proc(
    "rollback_transaction",
    "Abandon the named transaction: staged logs are dropped, commit " +
      "claims released, nothing becomes visible. Staged data files " +
      "become ordinary orphans (remove_orphan_files reclaims them).",
    Array(in("name", StringType)),
    StructType(Seq(
      StructField("txn_id", StringType, nullable = false),
      StructField("tables_discarded", LongType, nullable = false))),
    row => {
      require(!row.isNullAt(0), "name must not be null")
      val txn = GraftTransaction.endNamed(wh,
        row.getUTF8String(0).toString, commit = false)
      Seq(Seq[Any](UTF8String.fromString(txn.id),
        txn.enlistedDirs.size.toLong))
    })

  private def recoverTransactions(wh: String): UnboundProcedure = new Proc(
    "recover_transactions",
    "Warehouse recovery sweep: finish every transaction that crashed " +
      "after its commit marker (swap + clean) and roll back dead " +
      "uncommitted ones older than older_than_ms.",
    Array(inDefault("older_than_ms", LongType, "60000")),
    StructType(Seq(StructField("txn_id", StringType, nullable = false))),
    row => {
      val age = if (row.isNullAt(0)) 60000L else row.getLong(0)
      GraftTransaction.recover(wh, age)
        .map(id => Seq[Any](UTF8String.fromString(id)))
    })

  private def registerTable(wh: String): UnboundProcedure = new Proc(
    "register_table",
    "Catalog-register an EXISTING graft table directory under this " +
      "warehouse (Iceberg register_table parity — the relocated or " +
      "restored-table case): validates the source is a graft table and " +
      "links it at <warehouse>/<db>/<name> (a symbolic link — the " +
      "catalog entry is a pointer; the table is not copied, moved or " +
      "rewritten, and keeps working at its original path). Refuses a " +
      "name a table or view already holds, and a source already " +
      "addressable in this warehouse (one catalog name per table). " +
      "Returns (snapshot_id, total_data_files); snapshot_id is 0 for " +
      "an empty table.",
    Array(
      in("source", StringType),
      in("table", StringType)),
    StructType(Seq(
      StructField("snapshot_id", LongType, nullable = false),
      StructField("total_data_files", LongType, nullable = false))),
    row => {
      import java.nio.file.{Files, Paths}
      require(!row.isNullAt(0) && !row.isNullAt(1),
        "source and table must not be null")
      val srcDir = row.getUTF8String(0).toString
      val name = row.getUTF8String(1).toString
      val src = Paths.get(srcDir).toRealPath()
      // the register may be the first-ever catalog operation — the
      // warehouse root must exist before toRealPath/list can walk it
      Files.createDirectories(Paths.get(wh))
      val whReal = Paths.get(wh).toRealPath()
      require(GraftTable.exists(src.toString),
        s"$srcDir is not a graft table (no metadata.json)")
      require(!src.startsWith(whReal),
        s"$srcDir already lives under warehouse $wh — it is already " +
          "addressable; register_table is for directories OUTSIDE the " +
          "warehouse (relocated/restored tables)")
      // one catalog name per table: a prior register may have linked
      // this same real directory under another name — a literal-prefix
      // check can't see through the symlink, so compare REAL paths of
      // every existing entry (a 2-level warehouse listing; admin-op
      // cost, and the only sound dedup under links)
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.list(Paths.get(wh))) { dbs =>
        dbs.iterator().asScala.filter(Files.isDirectory(_)).foreach { db =>
          scala.util.Using.resource(Files.list(db)) { ts =>
            ts.iterator().asScala.foreach { entry =>
              if (Files.exists(entry.resolve("metadata.json")) &&
                  entry.toRealPath() == src)
                throw new IllegalArgumentException(
                  s"$srcDir is already registered as " +
                    s"${db.getFileName}.${entry.getFileName} under $wh — " +
                    "one catalog name per table")
            }
          }
        }
      }
      val t = GraftTable.load(src.toString) // full metadata validation
      val dest = Paths.get(new GraftCatalog(wh).tableDir(name))
      require(!Files.exists(dest, java.nio.file.LinkOption.NOFOLLOW_LINKS),
        s"$name already exists under $wh (table, view, or stray " +
          "directory) — register_table never overwrites")
      Files.createDirectories(dest.getParent)
      Files.createSymbolicLink(dest, src)
      Seq(Seq[Any](
        t.log.current.map(_.snapshotId).getOrElse(0L),
        t.log.current.map(s =>
          s.summary.get("total-data-files").map(_.toLong).getOrElse(0L))
          .getOrElse(0L)))
    })

  private def createTag(wh: String): UnboundProcedure = new Proc(
    "create_tag",
    "Name a snapshot (retention anchor + `VERSION AS OF 'name'` target); " +
      "snapshot_id defaults to the current snapshot (0 sentinel). " +
      "max_ref_age_ms (Iceberg parity; -1 = keep forever) makes the tag " +
      "itself expirable: once older, expire_snapshots drops it and its " +
      "snapshot stops anchoring.",
    Array(
      in("table", StringType),
      in("name", StringType),
      inDefault("snapshot_id", LongType, "0"),
      inDefault("max_ref_age_ms", LongType, "-1")),
    StructType(Seq(
      StructField("tag", StringType, nullable = false),
      StructField("snapshot_id", LongType, nullable = false))),
    row => {
      val t = tableOf(wh, row)
      val asked = row.getLong(2)
      val id = if (asked > 0L) asked
        else t.log.current.map(_.snapshotId).getOrElse(
          throw new IllegalArgumentException(
            "cannot tag an empty table — no current snapshot"))
      val tagName = row.getUTF8String(1).toString
      val age = if (row.isNullAt(3)) -1L else row.getLong(3)
      t.tag(tagName, id, maxRefAgeMs = Some(age).filter(_ >= 0L))
      Seq(Seq[Any](UTF8String.fromString(tagName), id))
    })

  private def createBranch(wh: String): UnboundProcedure = new Proc(
    "create_branch",
    "Fork a write-audit-publish branch at the current snapshot " +
      "(metadata-only; the fork anchors retention while the branch " +
      "lives). Audit-read it with VERSION AS OF 'branch:<name>'. " +
      "Retention policy (Iceberg parity, -1 = unset): max_ref_age_ms " +
      "ages the whole branch out (an unpublished branch dies with its " +
      "candidate data); min_snapshots_to_keep / max_snapshot_age_ms " +
      "govern the branch's own chain whenever expire_snapshots runs on " +
      "the parent.",
    Array(
      in("table", StringType),
      in("name", StringType),
      inDefault("max_ref_age_ms", LongType, "-1"),
      inDefault("min_snapshots_to_keep", IntegerType, "-1"),
      inDefault("max_snapshot_age_ms", LongType, "-1")),
    StructType(Seq(
      StructField("branch", StringType, nullable = false),
      StructField("fork_snapshot_id", LongType, nullable = false))),
    row => {
      val t = tableOf(wh, row)
      val name = row.getUTF8String(1).toString
      def optL(i: Int): Option[Long] =
        if (row.isNullAt(i)) None else Some(row.getLong(i)).filter(_ >= 0L)
      val minKeep = if (row.isNullAt(3)) None
        else Some(row.getInt(3)).filter(_ >= 0)
      t.createBranch(name,
        maxRefAgeMs = optL(2),
        minSnapshotsToKeep = minKeep,
        maxSnapshotAgeMs = optL(4))
      Seq(Seq[Any](UTF8String.fromString(name),
        t.branches(name)._1))
    })

  private def publishBranch(wh: String): UnboundProcedure = new Proc(
    "publish_branch",
    "Atomically land an audited branch's accumulated commits on the " +
      "main table (one publish snapshot; change feeds net it exactly).",
    Array(
      in("table", StringType),
      in("name", StringType)),
    StructType(Seq(StructField("publish_snapshot_id", LongType,
      nullable = false))),
    row => {
      val t = tableOf(wh, row)
      val snap = t.publishBranch(row.getUTF8String(1).toString)
      Seq(Seq[Any](snap.snapshotId))
    })

  private def dropBranch(wh: String): UnboundProcedure = new Proc(
    "drop_branch",
    "Abandon an unpublished branch (its files and retention anchor go " +
      "with it).",
    Array(
      in("table", StringType),
      in("name", StringType)),
    StructType(Seq(StructField("dropped", StringType, nullable = false))),
    row => {
      val t = tableOf(wh, row)
      val name = row.getUTF8String(1).toString
      t.dropBranch(name)
      Seq(Seq[Any](UTF8String.fromString(name)))
    })

  private def addFiles(wh: String): UnboundProcedure = new Proc(
    "add_files",
    "File-level import (migration onboarding): hard-link or copy " +
      "existing parquet files — one file, or every *.parquet under a " +
      "directory — into the table as ONE append snapshot. Footer " +
      "schemas must match the table exactly; no row is rewritten, no " +
      "Spark job runs. Identity-partitioned tables import a Hive " +
      "<col>=<value> directory layout (values + stats from the paths); " +
      "transform layouts and constraint-bearing tables refuse " +
      "(append() instead). Returns (snapshot_id, added_files, " +
      "added_records).",
    Array(
      in("table", StringType),
      in("source", StringType)),
    StructType(Seq(
      StructField("snapshot_id", LongType, nullable = false),
      StructField("added_files", LongType, nullable = false),
      StructField("added_records", LongType, nullable = false))),
    row => {
      val t = tableOf(wh, row)
      val src = java.nio.file.Paths.get(row.getUTF8String(1).toString)
      val files: Seq[String] =
        if (java.nio.file.Files.isDirectory(src))
          scala.util.Using.resource(java.nio.file.Files.walk(src)) { w =>
            import scala.jdk.CollectionConverters._
            w.iterator().asScala.map(_.toString)
              .filter(_.endsWith(".parquet")).toSeq.sorted
          }
        else Seq(src.toString)
      require(files.nonEmpty, s"no parquet files under $src")
      val snap = t.importFiles(
        org.apache.spark.sql.SparkSession.active, files,
        sourceRoot =
          if (java.nio.file.Files.isDirectory(src)) Some(src.toString)
          else None)
      Seq(Seq[Any](snap.snapshotId,
        snap.summary("added-data-files").toLong,
        snap.summary("added-records").toLong))
    })

  /** Shared bootstrap scaffolding for `snapshot`/`migrate`: discover a
    * foreign parquet directory's files, data schema and Hive-layout
    * identity partition columns (types from Spark's partition
    * discovery — the same inference a plain `spark.read.parquet` uses,
    * so the created table reads exactly what the directory read). */
  private def discoverLayout(srcDir: String)
      : (Seq[String], StructType, Seq[String]) = {
    val spark = org.apache.spark.sql.SparkSession.active
    val src = java.nio.file.Paths.get(srcDir)
    require(java.nio.file.Files.isDirectory(src),
      s"$srcDir is not a directory")
    require(!java.nio.file.Files.exists(src.resolve("metadata.json")),
      s"$srcDir is already a graft table")
    val files = scala.util.Using.resource(java.nio.file.Files.walk(src)) { w =>
      import scala.jdk.CollectionConverters._
      w.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toSeq.sorted
    }
    require(files.nonEmpty, s"no parquet files under $srcDir")
    // full schema WITH partition discovery vs one footer: the
    // discovery-only columns are the Hive-layout partition columns (in
    // discovery order, with Spark's inferred types)
    val full = spark.read.parquet(srcDir).schema
    // footers convert directly: no Spark job per file
    val conf = spark.sessionState.newHadoopConf()
    val footer = ParquetStats.footerSchema(files.head, conf, spark)
    val partCols = full.fieldNames.filterNot(footer.fieldNames.contains).toSeq
    // FOOTER UNIFORMITY before any metadata lands: importFiles would
    // refuse a straggler footer per file, but by then create() has
    // committed metadata.json — validate the whole set up front so a
    // mixed-schema directory refuses with the directory untouched
    val expect = footer.fields.map(f => f.name -> f.dataType).sortBy(_._1).toSeq
    files.tail.foreach { f =>
      val fs = ParquetStats.footerSchema(f, conf, spark)
      require(fs.fields.map(x => x.name -> x.dataType).sortBy(_._1).toSeq
          == expect,
        s"$f footer schema differs from ${files.head} — a graft table " +
          "needs one schema; rewrite the stragglers first")
    }
    (files, full, partCols)
  }

  private def bootstrapInto(
      destDir: String,
      srcDir: String,
      files: Seq[String],
      schema: StructType,
      partCols: Seq[String]): (GraftTable, Snapshot) = {
    val spark = org.apache.spark.sql.SparkSession.active
    val inPlace = java.nio.file.Paths.get(destDir).normalize() ==
      java.nio.file.Paths.get(srcDir).normalize()
    val tb = GraftTable.create(destDir, schema, partitionBy = partCols)
    try {
      val snap = tb.importFiles(spark, files,
        sourceRoot = if (partCols.nonEmpty) Some(srcDir) else None)
      (tb, snap)
    } catch { case e: Throwable =>
      // FAILURE ATOMICITY: a refused import must not leave a wedged
      // zero-snapshot table. For `snapshot` the destination is ours
      // alone — remove it whole; for `migrate` (dest == source) remove
      // ONLY the graft metadata artifacts, never the user's files
      // (importFiles' own staging discipline already cleaned data/)
      if (inPlace) {
        Seq("metadata.json", "snapshots.json").foreach(n =>
          java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(destDir, n)))
        val manifests = java.nio.file.Paths.get(destDir, "manifests")
        if (java.nio.file.Files.exists(manifests))
          GraftTable.deleteRecursively(manifests)
        // data/ only if EMPTY of regular files: importFiles' own failure
        // cleanup removed its links, but the source estate may
        // legitimately contain a directory of that name — never touch
        // user files
        val dataP = java.nio.file.Paths.get(destDir, "data")
        if (java.nio.file.Files.exists(dataP)) {
          val hasFiles = scala.util.Using.resource(
            java.nio.file.Files.walk(dataP))(
            _.anyMatch(p => java.nio.file.Files.isRegularFile(p)))
          if (!hasFiles) GraftTable.deleteRecursively(dataP)
        }
      } else GraftTable.deleteRecursively(java.nio.file.Paths.get(destDir))
      throw e
    }
  }

  private def snapshotTable(wh: String): UnboundProcedure = new Proc(
    "snapshot",
    "ZERO-COPY shadow table over a foreign parquet directory (Iceberg " +
      "snapshot parity, onboarding beyond add_files): derive the schema " +
      "from the footers (Hive <col>=<value> directories become identity " +
      "partition columns, types from Spark's partition discovery), " +
      "create `table` under the warehouse, and import every file by " +
      "hard link (copy across devices) — the SOURCE directory is never " +
      "touched, no row is rewritten, no Spark job scans data. The " +
      "shadow then takes the full table surface (DML, time travel, " +
      "compaction) without affecting the source. Returns (snapshot_id, " +
      "imported_files, imported_records).",
    Array(
      in("source", StringType),
      in("table", StringType)),
    StructType(Seq(
      StructField("snapshot_id", LongType, nullable = false),
      StructField("imported_files", LongType, nullable = false),
      StructField("imported_records", LongType, nullable = false))),
    row => {
      require(!row.isNullAt(0) && !row.isNullAt(1),
        "source and table must not be null")
      val srcDir = row.getUTF8String(0).toString
      val destDir = new GraftCatalog(wh)
        .tableDir(row.getUTF8String(1).toString)
      val (files, schema, partCols) = discoverLayout(srcDir)
      val (_, snap) = bootstrapInto(destDir, srcDir, files, schema, partCols)
      Seq(Seq[Any](snap.snapshotId,
        snap.summary("added-data-files").toLong,
        snap.summary("added-records").toLong))
    })

  private def migrateTable(wh: String): UnboundProcedure = new Proc(
    "migrate",
    "IN-PLACE conversion of a plain parquet directory under the " +
      "warehouse into a graft table (Iceberg migrate parity): the " +
      "directory's own files become snapshot 1 — schema from footers, " +
      "Hive <col>=<value> directories become identity partition " +
      "columns, files land under data/ as hard links (copy across " +
      "devices) and the ORIGINAL loose files are then removed (their " +
      "bytes live on under the table; a link shares them outright). " +
      "Refuses directories that are already graft tables. Returns " +
      "(snapshot_id, migrated_files, migrated_records).",
    Array(in("table", StringType)),
    StructType(Seq(
      StructField("snapshot_id", LongType, nullable = false),
      StructField("migrated_files", LongType, nullable = false),
      StructField("migrated_records", LongType, nullable = false))),
    row => {
      require(!row.isNullAt(0), "table argument must not be null")
      val dir = new GraftCatalog(wh).tableDir(row.getUTF8String(0).toString)
      val (files, schema, partCols) = discoverLayout(dir)
      val (_, snap) = bootstrapInto(dir, dir, files, schema, partCols)
      // conversion, not a copy: the originals' rows now live under
      // data/ (hard links share the bytes) — drop the loose paths so
      // nothing double-imports and the table root stays canonical.
      // Best-effort empty-directory cleanup; a leftover loose file is
      // harmless (outside data/, invisible to reads and maintenance)
      files.foreach(f =>
        java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(f)))
      val root = java.nio.file.Paths.get(dir).normalize()
      files.flatMap { f =>
        Iterator.iterate(java.nio.file.Paths.get(f).getParent)(_.getParent)
          .takeWhile(p => p != null && p.normalize() != root)
          .toSeq
      }.distinct
        .sortBy(-_.getNameCount)
        .foreach { p =>
          try java.nio.file.Files.deleteIfExists(p)
          catch { case _: java.nio.file.DirectoryNotEmptyException => () }
        }
      Seq(Seq[Any](snap.snapshotId,
        snap.summary("added-data-files").toLong,
        snap.summary("added-records").toLong))
    })

  private def createChangelogView(wh: String): UnboundProcedure = new Proc(
    "create_changelog_view",
    "Register a session TEMP VIEW over the table's snapshot-range " +
      "changelog (Iceberg create_changelog_view parity — the SQL-only " +
      "spelling of the batch `<name>__changes` read): rows are the " +
      "net per-snapshot deltas (`_change_type` insert|delete + the " +
      "producing snapshot id), start_snapshot_id is EXCLUSIVE (0 = " +
      "table creation, the default), end_snapshot_id inclusive " +
      "(0 = current). Unknown ids, inverted ranges and ranges crossing " +
      "a rollback refuse loudly AT THE CALL. The view captures the " +
      "RANGE, not the data — each query re-plans the same O(changed " +
      "data) delta plan.",
    Array(
      in("table", StringType),
      in("view_name", StringType),
      inDefault("start_snapshot_id", LongType, "0"),
      inDefault("end_snapshot_id", LongType, "0")),
    StructType(Seq(
      StructField("view_name", StringType, nullable = false))),
    row => {
      val t = tableOf(wh, row)
      require(!row.isNullAt(1), "view_name must not be null")
      val viewName = row.getUTF8String(1).toString
      val start = if (row.isNullAt(2)) 0L else row.getLong(2)
      val end = if (row.isNullAt(3) || row.getLong(3) == 0L) None
        else Some(row.getLong(3))
      val spark = org.apache.spark.sql.SparkSession.active
      // validate the range NOW (plan the delta frame once) so a bad
      // CALL refuses at the CALL, not at first SELECT
      val df = t.changesCdc(spark, start, end)
      df.createOrReplaceTempView(viewName)
      Seq(Seq[Any](UTF8String.fromString(viewName)))
    })

  private def rollbackToSnapshot(wh: String): UnboundProcedure = new Proc(
    "rollback_to_snapshot",
    "Roll the table back to snapshot_id as a NEW rollback commit (the " +
      "abandoned suffix stays time-travelable until expired). Returns " +
      "(previous current, new current).",
    Array(
      in("table", StringType),
      in("snapshot_id", LongType)),
    StructType(Seq(
      StructField("previous_snapshot_id", LongType, nullable = true),
      StructField("current_snapshot_id", LongType, nullable = false))),
    row => {
      val t = tableOf(wh, row)
      val prev = t.log.current.map(_.snapshotId)
      val snap = t.rollbackTo(row.getLong(1))
      Seq(Seq[Any](prev.map(Long.box).orNull, snap.snapshotId))
    })

  /** Iceberg's `set_current_snapshot`: point the table at ANY logged
    * snapshot — identical machinery to rollback (a new commit reusing
    * the target's manifest; history never rewritten), but the name
    * says what operators mean when the move is FORWARD (undoing a
    * rollback by jumping back onto the abandoned head). */
  private def setCurrentSnapshot(wh: String): UnboundProcedure = new Proc(
    "set_current_snapshot",
    "Point the table at snapshot_id (backward OR forward — e.g. undo a " +
      "rollback by re-selecting the abandoned head) as a NEW commit " +
      "reusing its manifest. Returns (previous current, new current).",
    Array(
      in("table", StringType),
      in("snapshot_id", LongType)),
    StructType(Seq(
      StructField("previous_snapshot_id", LongType, nullable = true),
      StructField("current_snapshot_id", LongType, nullable = false))),
    row => {
      val t = tableOf(wh, row)
      val prev = t.log.current.map(_.snapshotId)
      val snap = t.rollbackTo(row.getLong(1))
      Seq(Seq[Any](prev.map(Long.box).orNull, snap.snapshotId))
    })

  private def cherrypickSnapshot(wh: String): UnboundProcedure = new Proc(
    "cherrypick_snapshot",
    "Re-apply the data files an APPEND snapshot added onto the current " +
      "state as a new commit (the WAP recovery move: restore a good " +
      "batch a rollback discarded without re-running the write job; " +
      "row-id bands carry, so the rows keep their _row_id). Refuses " +
      "non-append snapshots, files already present, expired files, and " +
      "pending merge-on-read state. Returns (source, new current, files " +
      "re-applied).",
    Array(
      in("table", StringType),
      in("snapshot_id", LongType)),
    StructType(Seq(
      StructField("cherrypicked_snapshot_id", LongType, nullable = false),
      StructField("current_snapshot_id", LongType, nullable = false),
      StructField("added_files", LongType, nullable = false))),
    row => {
      val t = tableOf(wh, row)
      val before = t.log.current
        .map(s => Manifest.read(s"${t.dir}/${s.manifestList}").totalFiles)
        .getOrElse(0L)
      val snap = t.cherrypick(row.getLong(1))
      val after =
        Manifest.read(s"${t.dir}/${snap.manifestList}").totalFiles
      Seq(Seq[Any](row.getLong(1), snap.snapshotId, after - before))
    })

  /** Iceberg's `ancestors_of`: the parent chain of a snapshot (default
    * the current one), newest first — the lineage an operator reads
    * before deciding what a rollback/expire/cherry-pick touches. */
  private def ancestorsOf(wh: String): UnboundProcedure = new Proc(
    "ancestors_of",
    "The parent chain of snapshot_id (default: current), newest first: " +
      "(snapshot_id, committed_at, operation).",
    Array(
      in("table", StringType),
      inDefault("snapshot_id", LongType, "-1")),
    StructType(Seq(
      StructField("snapshot_id", LongType, nullable = false),
      StructField("committed_at", LongType, nullable = false),
      StructField("operation", StringType, nullable = false))),
    row => {
      val t = tableOf(wh, row)
      val lg = t.log
      val startId = row.getLong(1)
      val start =
        if (startId == -1L) lg.current
        else lg.byId(startId)
      val s0 = start.getOrElse(throw new IllegalArgumentException(
        s"no snapshot $startId in ${t.dir}"))
      val chain = Iterator.iterate(Option(s0))(
        _.flatMap(_.parentId).flatMap(lg.byId))
        .takeWhile(_.isDefined).flatten.toSeq
      chain.map(s => Seq[Any](s.snapshotId, s.committedAt,
        UTF8String.fromString(s.operation)))
    })

  /** Partition-spec EVOLUTION from SQL without the parser extension:
    * the whole future-writes spec as one comma-separated string
    * (identity columns + hidden transforms, [[PartitionField]] grammar);
    * '' = unpartitioned. Metadata-only — no existing byte rewrites,
    * reads group files by their own era. Extensions sessions can spell
    * single-field edits as `ALTER TABLE … ADD/DROP/REPLACE PARTITION
    * FIELD` ([[GraftSpecDdl]]). */
  private def setPartitionSpec(wh: String): UnboundProcedure = new Proc(
    "set_partition_spec",
    "Replace the table's partition spec for FUTURE writes (existing " +
      "files keep their layout; reads handle mixed eras). spec = " +
      "comma-separated identity columns / transforms, e.g. " +
      "'cat, bucket(16, id), days(ts)'; '' = unpartitioned. Returns " +
      "(previous_spec, new_spec).",
    Array(
      in("table", StringType),
      in("spec", StringType)),
    StructType(Seq(
      StructField("previous_spec", StringType, nullable = false),
      StructField("new_spec", StringType, nullable = false))),
    row => {
      val t = tableOf(wh, row)
      val prev = t.partitionColumns
      // split on commas OUTSIDE parentheses ('bucket(4, id)' is one entry)
      val spec = row.getUTF8String(1).toString
        .split(""",(?![^()]*\))""").map(_.trim).filter(_.nonEmpty).toSeq
      t.updatePartitionSpec(spec)
      Seq(Seq[Any](
        UTF8String.fromString(prev.mkString(", ")),
        UTF8String.fromString(spec.mkString(", "))))
    })
}
