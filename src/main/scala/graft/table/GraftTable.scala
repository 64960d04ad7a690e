package graft.table

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

/** A "graft table": a directory of immutable parquet data files plus a JSON
  * snapshot log — a Spark-native re-expression of the reference's
  * capabilities (snapshot-versioned tables, scan-time pushdown, min/max file
  * pruning, a `__snapshots` system table, a virtual `snapshot__id` column,
  * and time travel). See SURVEY.md §7.
  *
  * Layout:
  * {{{
  *   <dir>/metadata.json            schema + properties
  *   <dir>/snapshots.json           snapshot log (SnapshotLog)
  *   <dir>/manifests/snap-<id>.json manifest LIST: segment refs + totals
  *   <dir>/manifests/seg-….json     immutable file-list segments, shared
  *                                  by ref across snapshots (a commit
  *                                  writes O(batch) segment bytes)
  *   <dir>/data/part-<snap>-<token>-<n>.parquet
  * }}}
  *
  * Design stance for 100 TB: metadata is O(files), data access is always a
  * pruned file list served by a [[ManifestFileIndex]] (the manifest IS
  * the listing; nothing is re-listed or stat'd) — Spark's vectorized reader,
  * whole-stage codegen and FilePartition bin-packing do the heavy lifting
  * (the reference's `planTasks` bin-packing analog,
  * IcebergInputFormat.java:76-118, is Spark's `maxPartitionBytes` packing).
  * Reads never materialize data on the driver; only the snapshot log and
  * manifests (tiny JSON) are driver-side.
  *
  * Reference mapping: resolution = TableResolverUtil.java:59-91; snapshot
  * selection = IcebergInputFormat.java:81-84,100-107; virtual column =
  * SystemTableUtil.java:29-67; snapshots table =
  * iterables/SnapshotIterable.java:37-57.
  */
final class GraftTable private (
    val dir: String,
    val schema: StructType,
    val properties: Map[String, String],
    val partitionColumns: Seq[String] = Nil,
    val droppedColumns: Seq[String] = Nil,
    val renames: Seq[GraftTable.ColumnRename] = Nil,
    val widenings: Seq[GraftTable.ColumnWidening] = Nil,
    val defaults: Seq[GraftTable.ColumnDefault] = Nil,
    private val logName: String = GraftTable.MainLog) {

  import GraftTable._

  /** True when this handle commits into a TRANSACTION-staged log
    * ([[GraftTransaction]]): snapshots land in `snapshots.json.<txn>`
    * and become visible only at the transaction's atomic publish. The
    * transaction holds the table's commit claim for its whole
    * lifetime, so staged commits skip the per-snapshot markers. */
  private[table] def txnStaged: Boolean = logName != GraftTable.MainLog

  /** Rewrite `metadata.json` with the given deltas (atomic swap) and
    * return the updated handle — the single chokepoint for every schema/
    * property/spec mutation, so the rename/tombstone bookkeeping can
    * never be silently dropped by one writer site. */
  private def writeMeta(
      newSchema: StructType = schema,
      newProps: Map[String, String] = properties,
      newSpec: Seq[String] = partitionColumns,
      newDropped: Seq[String] = droppedColumns,
      newRenames: Seq[ColumnRename] = renames,
      newWidenings: Seq[ColumnWidening] = widenings,
      newDefaults: Seq[ColumnDefault] = defaults): GraftTable = {
    require(!txnStaged,
      s"schema/property/spec changes cannot be STAGED in a transaction " +
        s"($dir): metadata.json is shared with the published table — " +
        "commit them directly, outside the transaction")
    // malformed auto-compaction values refuse HERE, not inside a
    // running stream's commit path
    GraftTable.streamCompactEvery(newProps)
    GraftTable.streamCompactBytes(newProps)
    GraftTable.dmlIsolationOf(newProps): Unit
    val meta = Map(
      "format_version" -> 1L,
      "schema" -> newSchema.json,
      "partition_columns" -> newSpec,
      "properties" -> newProps,
      "dropped_columns" -> newDropped,
      "column_renames" -> newRenames.map(r =>
        Map("at" -> r.at, "from" -> r.from, "to" -> r.to, "seq" -> r.seq)),
      "column_widenings" -> newWidenings.map(w =>
        Map("at" -> w.at, "col" -> w.col,
          "from" -> w.from.json, "to" -> w.to.json, "seq" -> w.seq)),
      "column_defaults" -> newDefaults.map(d =>
        Map("at" -> d.at, "col" -> d.col, "sql" -> d.sql, "seq" -> d.seq)))
    graft.util.Json.writeFileAtomic(s"$dir/metadata.json",
      graft.util.Json.write(meta))
    new GraftTable(dir, newSchema, newProps, newSpec, newDropped,
      newRenames, newWidenings, newDefaults)
  }

  /** Whether any logical column of `f` lives under a different physical
    * name or type, or doesn't physically exist and must read its
    * DEFAULT (the file predates a rename/widening/add-with-default) —
    * the DSv2 raw-file-list surface refuses such files (it cannot
    * alias/cast/fill per era) and the extensions' SQL splice takes
    * over; compaction force-includes them to migrate. */
  private[table] def renameAffects(f: DataFileEntry): Boolean = {
    if (renames.isEmpty && widenings.isEmpty && defaults.isEmpty) return false
    val sid = fileSnapId(f.path)
    schema.fields.exists { fd =>
      val (p, t, d) = physicalFieldFull(fd.name, sid)
      p != fd.name || t != fd.dataType || d.isDefined
    }
  }

  /** The PHYSICAL (name, type) holding logical column `c` in a file
    * written at snapshot `snapId` — the rename + widening chains walked
    * newest→oldest together (both are metadata-only; files keep their
    * era's name and type). A widening recorded its column's logical name
    * AT WIDENING TIME, which is exactly what the name has been unwound
    * to when the walk reaches it. `None` snapIds (foreign-era fork/
    * publish files) predate every event in this table's log, same stance
    * as deferred-delete coverage. */
  /** Schema events sorted strictly newest-first — at DESC, then the
    * per-event sequence DESC (several evolutions can land between two
    * commits and share an at). Computed once per handle, not per
    * (file, column) in a scan's grouping pass. */
  private lazy val schemaEventsDesc: Seq[(Long, AnyRef)] =
    (renames.map(r => (r.at, r.seq, r: AnyRef)) ++
      widenings.map(w => (w.at, w.seq, w: AnyRef)) ++
      defaults.map(d => (d.at, d.seq, d: AnyRef)))
      .sortBy { case (at, seq, _) => (-at, -seq) }
      .map { case (at, _, e) => (at, e) }

  private def physicalField(c: String, snapId: Option[Long]): (String, DataType) = {
    val (p, t, _) = physicalFieldFull(c, snapId)
    (p, t)
  }

  /** The PHYSICAL (name, type) holding logical column `c` in a file
    * written at snapshot `snapId`, plus — when the file PREDATES the
    * column's add-with-default event — the default SQL literal its rows
    * read instead of the (nonexistent) physical values. The rename,
    * widening and default chains are walked newest→oldest together:
    * each event recorded its column's logical name AT EVENT TIME, which
    * is exactly what the name has been unwound to when the walk reaches
    * it. A matched default ends the walk — the column did not exist
    * before its add (resurrection guards enforce the name was never
    * reused), so no older event can apply. */
  private def physicalFieldFull(
      c: String, snapId: Option[Long]): (String, DataType, Option[String]) = {
    if (renames.isEmpty && widenings.isEmpty && defaults.isEmpty)
      return (c, schema(c).dataType, None)
    val s = snapId.getOrElse(Long.MinValue)
    var name = c
    var tpe = schema(c).dataType
    var default: Option[String] = None
    // plain while, no closure: this runs per (file, column) in a scan's
    // grouping pass — a non-local return from a foreach would pay a
    // control-flow exception per defaulted pre-add file×column
    val it = schemaEventsDesc.iterator
    while (it.hasNext && default.isEmpty) {
      it.next() match {
        case (at, r: ColumnRename) if s < at && r.to == name => name = r.from
        case (at, w: ColumnWidening) if s < at && w.col == name && w.to == tpe =>
          tpe = w.from
        case (at, d: ColumnDefault) if s < at && d.col == name =>
          // the column did not exist before its add (resurrection guards
          // enforce the name was never reused) — the walk ends here
          default = Some(d.sql)
        case _ => ()
      }
    }
    (name, tpe, default)
  }

  def log: SnapshotLog = {
    // a COMMITTED warehouse transaction that crashed mid-publish left a
    // `.txn-pending` pointer here: roll its staged log forward before
    // reading (all-or-nothing across the txn's tables — no reader may
    // see one table swapped and another not). Fast path: one stat call.
    if (!txnStaged) {
      GraftTransaction.healIfPending(dir)
      // same discipline for a crashed mid-swap CREATE OR REPLACE … AS
      // SELECT: finish its log rename before reading (one stat call)
      GraftTable.healReplace(dir)
    }
    SnapshotLog.read(s"$dir/$logName")
  }

  /** Virtual column name, overridable via table property — mirrors
    * `iceberg.hive.snapshot.virtual.column.name` (SystemTableUtil.java:51-67). */
  def virtualColumn: String =
    properties.getOrElse(PropVirtualColumnName, DefaultVirtualColumn)

  /** Whether `<name>__snapshots` resolves to the system table — mirrors
    * `iceberg.snapshots.table` opt-out (TableResolverUtil.java:93-100). */
  def snapshotsTableEnabled: Boolean =
    properties.getOrElse(PropSnapshotsTable, "true").toBoolean

  /** DEFERRED (merge-on-read) deletes pending on a snapshot: `(coveredSnap,
    * predicateSql)` pairs parsed from the `pending-deletes` summary entry.
    * A predicate applies only to data files written at snapshot ≤
    * `coveredSnap` — rows appended AFTER the delete are never affected
    * (the sequence-number scoping Iceberg's equality deletes use). */
  private[table] def parsePending(s: Snapshot): Seq[(Long, String)] =
    parsePendingFull(s).map(e => (e._1, e._2))

  /** [[parsePending]] plus each entry's commit-time exact dead-row count
    * (`None` for entries committed with `exactCount = false`). The count
    * is immutable once written: covered files never change, so the rows a
    * predicate kills are fixed at commit. */
  private[table] def parsePendingFull(
      s: Snapshot): Seq[(Long, String, Option[Long])] =
    s.summary.get(SummaryPendingDeletes) match {
      case None | Some("") | Some("[]") => Nil
      case Some(json) =>
        graft.util.Json.parse(json).asInstanceOf[Seq[Any]].map { e =>
          val m = e.asInstanceOf[Map[String, Any]]
          (m("snap").asInstanceOf[Long], m("pred").asInstanceOf[String],
            m.get("dead").collect { case d: Long => d })
        }
    }

  private def pendingJsonFull(
      entries: Seq[(Long, String, Option[Long])]): String =
    graft.util.Json.write(entries.map { case (sn, p, dead) =>
      val base = Map[String, Any]("snap" -> sn, "pred" -> p)
      dead.fold(base)(d => base + ("dead" -> d))
    })

  /** Pending deferred deletes of the CURRENT snapshot (empty when all
    * deletes are materialized). */
  def pendingDeletes: Seq[(Long, String)] =
    log.current.map(parsePending).getOrElse(Nil)

  /** Exact rows hidden by pending PREDICATE deletes at the current
    * snapshot — `Some` only when every entry carries its commit-time
    * count (the default). Each entry was counted against the rows visible
    * under its predecessors, so the sum is exact and `count(*)`/stats can
    * stay metadata-only while entries are pending. */
  def pendingDeletedCount: Option[Long] = {
    val es = log.current.map(parsePendingFull).getOrElse(Nil)
    if (es.forall(_._3.isDefined)) Some(es.flatMap(_._3).sum) else None
  }

  /** POSITIONAL merge-on-read deletes pending on a snapshot, parsed from
    * the `positional-deletes` summary entry (see
    * [[GraftTable.PositionalDeletes]]). */
  private[table] def parsePositional(s: Snapshot): Seq[PositionalDeletes] =
    s.summary.get(SummaryPositionalDeletes) match {
      case None | Some("") | Some("[]") => Nil
      case Some(json) => parsePositionalJson(json)
    }

  private def parsePositionalJson(json: String): Seq[PositionalDeletes] =
    graft.util.Json.parse(json).asInstanceOf[Seq[Any]].map { e =>
      val m = e.asInstanceOf[Map[String, Any]]
      PositionalDeletes(
        m("files").asInstanceOf[Seq[Any]].map(_.toString),
        m("targets").asInstanceOf[Map[String, Any]]
          .map { case (k, v) => k -> v.asInstanceOf[Long] },
        m.get("dvs").map(_.asInstanceOf[Map[String, Any]]
          .map { case (k, v) => k -> v.toString }).getOrElse(Map.empty))
    }

  private def positionalJson(entries: Seq[PositionalDeletes]): String =
    graft.util.Json.write(entries.map { e =>
      val base = Map[String, Any]("files" -> e.files,
        "targets" -> e.targets.map { case (k, v) => k -> (v: Any) })
      // "dvs" only when present — legacy (file,pos)-parquet entries keep
      // their exact historical JSON shape
      if (e.dvs.isEmpty) base else base + ("dvs" -> e.dvs)
    })

  /** Pending positional delete entries of the CURRENT snapshot. */
  def positionalDeletes: Seq[PositionalDeletes] =
    log.current.map(parsePositional).getOrElse(Nil)

  /** Rows hidden by pending positional deletes at the current snapshot —
    * exact by the disjointness + targets-⊆-manifest invariants, so
    * metadata `count(*)`/stats stay exact under positional deletes. */
  def positionalDeletedCount: Long = positionalDeletes.map(_.deletedRows).sum

  /** EQUALITY merge-on-read deletes pending on a snapshot, parsed from
    * the `equality-deletes` summary entry. */
  private[table] def parseEquality(s: Snapshot): Seq[EqualityDeletes] =
    s.summary.get(SummaryEqualityDeletes) match {
      case None | Some("") | Some("[]") => Nil
      case Some(json) =>
        graft.util.Json.parse(json).asInstanceOf[Seq[Any]].map { e =>
          val m = e.asInstanceOf[Map[String, Any]]
          EqualityDeletes(
            m("files").asInstanceOf[Seq[Any]].map(_.toString),
            m("cols").asInstanceOf[Seq[Any]].map(_.toString),
            m("snap").asInstanceOf[Long],
            m.get("dead").collect { case d: Long => d },
            m.get("covs").map(_.asInstanceOf[Seq[Any]]
              .map(_.asInstanceOf[Long])).getOrElse(Nil))
        }
    }

  private def equalityJson(entries: Seq[EqualityDeletes]): String =
    graft.util.Json.write(entries.map { e =>
      val base = Map[String, Any](
        "files" -> e.files, "cols" -> e.cols, "snap" -> e.covered)
      val withDead = e.dead.fold(base)(d => base + ("dead" -> d))
      if (e.coveredSnaps.isEmpty) withDead
      else withDead + ("covs" -> e.coveredSnaps)
    })

  /** Pending equality-delete entries of the CURRENT snapshot. */
  def equalityDeletes: Seq[EqualityDeletes] =
    log.current.map(parseEquality).getOrElse(Nil)

  /** Exact rows hidden by pending EQUALITY deletes at the current
    * snapshot — `Some` only when every entry carries its commit-time
    * count (see [[EqualityDeletes.dead]]). */
  def equalityDeletedCount: Option[Long] = {
    val es = equalityDeletes
    if (es.forall(_.dead.isDefined)) Some(es.flatMap(_.dead).sum) else None
  }

  /** Surviving equality entries after a COPY-ON-WRITE commit that
    * rewrote or dropped `touched` candidate files: an entry whose
    * coverage intersects the touched set degrades its dead count to
    * None — part of its victims just MATERIALIZED (equality-dead rows
    * are never copied into the rewrite), so the recorded count no
    * longer describes the remaining debt; degrade, never lie (the
    * [[compact]] discipline — count(*)/stats fall back to scans until
    * compaction clears the entries). Entries covering none of the
    * touched files keep their exact counts. The entries themselves are
    * KEPT even when their remaining coverage might be empty — checking
    * would parse the untouched manifest segments this planning
    * deliberately skips, and an entry covering nothing attaches to no
    * read group (harmless until compact() clears it). */
  private def degradeEqualityFor(
      eqPend: Seq[EqualityDeletes],
      touched: Seq[DataFileEntry]): Seq[EqualityDeletes] =
    eqPend.map { e =>
      if (touched.exists(f =>
          fileSnapId(f.path).getOrElse(Long.MinValue) <= e.covered))
        e.copy(dead = None)
      else e
    }

  /** [[degradeEqualityFor]]'s PREDICATE-form twin: surviving
    * predicate-deferred entries after a copy-on-write commit touched
    * `touched` files — an entry covering any of them degrades its dead
    * count to None (part of its victims just materialized with the
    * rewrite); untouched entries keep their exact counts, and entries
    * are never removed here for the same skip-the-untouched-segments
    * reason (a predicate re-applied to already-filtered survivors is
    * idempotent — `NOT p OR p IS NULL` keeps every kept row). */
  private def degradePendingFor(
      pend: Seq[(Long, String, Option[Long])],
      touched: Seq[DataFileEntry]): Seq[(Long, String, Option[Long])] =
    pend.map { case e @ (covered, sql, _) =>
      if (touched.exists(f =>
          fileSnapId(f.path).getOrElse(Long.MinValue) <= covered))
        (covered, sql, None)
      else e
    }

  /** Strip `gone` data-file paths from positional entries (the files were
    * dropped or rewritten — their deletions are materialized); entries
    * with no remaining targets disappear (their delete parquets stay on
    * disk until [[expireSnapshots]] reclaims them). */
  private def stripPositional(
      entries: Seq[PositionalDeletes],
      gone: Set[String]): Seq[PositionalDeletes] =
    entries
      .map { e =>
        // a removed target's per-file deletion vector leaves with it
        // (the file becomes unreferenced → expire/orphan reclaims it);
        // legacy shared parquets stay — their rows for gone files are
        // harmless (those files no longer exist to join against)
        val goneDvs = e.dvs.collect { case (p, dv) if gone(p) => dv }.toSet
        e.copy(
          targets = e.targets.filterNot { case (p, _) => gone(p) },
          dvs = e.dvs.filterNot { case (p, _) => gone(p) },
          files = e.files.filterNot(goneDvs))
      }
      .filter(_.targets.nonEmpty)

  // ------------------------------------------------------------------
  // named refs (tags)
  // ------------------------------------------------------------------

  private def refsPath = s"$dir/refs.json"

  /** Named snapshot TAGS (`refs.json`): stable names for snapshots —
    * "v1-training-set", "audited-2026-08" — usable anywhere a snapshot id
    * is (`readTag`, SQL `VERSION AS OF 'name'`). Tagged snapshots are
    * RETENTION ANCHORS: [[expireSnapshots]] will not expire them. */
  def refs: Map[String, Long] = refsRaw.map { case (k, v) => k -> refSnap(v) }

  /** Raw refs.json entries: legacy plain snapshot ids AND extended
    * `{snapshot, created_ms, max_ref_age_ms}` objects (per-ref
    * retention, Iceberg branch/tag retention parity) both stay
    * readable and round-trip unchanged through unrelated updates. */
  private def refsRaw: Map[String, Any] = {
    val p = Paths.get(refsPath)
    if (!Files.exists(p)) Map.empty
    else graft.util.Json.parseObject(Files.readString(p))
  }

  private def refSnap(v: Any): Long = v match {
    case l: Long => l
    case m: Map[_, _] =>
      m.asInstanceOf[Map[String, Any]]("snapshot").asInstanceOf[Long]
    case other => throw new IllegalStateException(s"malformed ref: $other")
  }

  /** Tags carrying a retention policy: name → (created_ms,
    * max_ref_age_ms). Legacy plain refs have no policy → never aged. */
  private def refAges: Map[String, (Long, Long)] = refsRaw.collect {
    case (k, m: Map[_, _]) =>
      val mm = m.asInstanceOf[Map[String, Any]]
      (mm.get("created_ms"), mm.get("max_ref_age_ms")) match {
        case (Some(c: Long), Some(a: Long)) => Some(k -> (c, a))
        case _ => None
      }
  }.flatten.toMap

  /** Tag `snapshotId` as `name` (overwrites an existing tag atomically).
    * `maxRefAgeMs` (Iceberg `max-ref-age-ms` parity) makes the tag
    * ITSELF expirable: once older than this, [[expireSnapshots]] drops
    * the tag first, so its snapshot stops being a retention anchor.
    * `createdAtMs` defaults to now (override for deterministic tests /
    * backfills). */
  def tag(name: String, snapshotId: Long, maxRefAgeMs: Option[Long] = None,
      createdAtMs: Option[Long] = None): Unit = {
    require(!txnStaged,
      s"tags write shared ref metadata and cannot be STAGED in a " +
        s"transaction ($dir) — tag after the transaction publishes")
    require(name.nonEmpty && !name.forall(_.isDigit),
      s"tag name '$name' must be non-empty and not purely numeric " +
        "(numeric strings resolve as snapshot ids)")
    withRefsLock {
      // existence check INSIDE the lock: expiration rewrites the log under
      // this same lock, so a tagger queued behind an expire re-reads the
      // pruned log here instead of anchoring a snapshot that just vanished
      require(log.byId(snapshotId).isDefined,
        s"no snapshot $snapshotId in $dir")
      val entry: Any = maxRefAgeMs match {
        case Some(age) => Map(
          "snapshot" -> snapshotId,
          "created_ms" -> createdAtMs.getOrElse(System.currentTimeMillis()),
          "max_ref_age_ms" -> age)
        case None => snapshotId
      }
      graft.util.Json.writeFileAtomic(refsPath,
        graft.util.Json.write(refsRaw + (name -> entry)))
    }
  }

  /** Remove a tag (the snapshot itself is untouched). */
  def dropTag(name: String): Unit = withRefsLock {
    graft.util.Json.writeFileAtomic(refsPath,
      graft.util.Json.write(refsRaw - name))
  }

  /** refs.json updates are read-modify-write; writeFileAtomic prevents
    * torn FILES but not lost UPDATES between concurrent taggers — and a
    * lost tag silently loses its expiration-anchor role. An O_EXCL lock
    * marker with bounded backoff serializes them. */
  private def withRefsLock[T](op: => T): T = {
    val lock = Paths.get(s"$refsPath.lock")
    var attempt = 0
    while (attempt < 50) {
      try {
        Files.createFile(lock)
        try return op
        finally Files.deleteIfExists(lock)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          Thread.sleep(2L << math.min(attempt, 6)); attempt += 1
      }
    }
    throw new IllegalStateException(
      s"could not acquire $lock after $attempt attempts (stale lock?)")
  }

  /** Read the snapshot a tag points at. */
  def readTag(spark: SparkSession, name: String): DataFrame =
    read(spark, Some(refs.getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' on $dir"))))

  // ------------------------------------------------------------------
  // branches (write–audit–publish)
  // ------------------------------------------------------------------

  private def branchesPath = s"$dir/branches.json"
  private def branchDir(name: String) = s"$dir/branches/$name"

  /** Registered branches: name → (fork snapshot id, published?). Fork
    * snapshots are retention anchors exactly like tags — expiration
    * stops at them, so a live branch's inherited files can never be
    * reclaimed out from under it. */
  def branches: Map[String, (Long, Boolean)] = branchesRaw.map { case (k, m) =>
    k -> (m("fork").asInstanceOf[Long],
      m.getOrElse("published", false).asInstanceOf[Boolean])
  }

  private def branchesRaw: Map[String, Map[String, Any]] = {
    val p = Paths.get(branchesPath)
    if (!Files.exists(p)) Map.empty
    else graft.util.Json.parseObject(Files.readString(p))
      .map { case (k, v) => k -> v.asInstanceOf[Map[String, Any]] }
  }

  /** Per-branch retention policy (Iceberg branch-retention parity):
    * name → (created_ms, max_ref_age_ms, min_snapshots_to_keep,
    * max_snapshot_age_ms); absent keys mean "no policy on that axis". */
  private[table] def branchRetention
      : Map[String, (Long, Option[Long], Option[Int], Option[Long])] =
    branchesRaw.flatMap { case (k, m) =>
      val created = m.get("created_ms").collect { case l: Long => l }
      val refAge = m.get("max_ref_age_ms").collect { case l: Long => l }
      val minKeep = m.get("min_snapshots_to_keep")
        .collect { case l: Long => l.toInt }
      val snapAge = m.get("max_snapshot_age_ms").collect { case l: Long => l }
      if (refAge.isEmpty && minKeep.isEmpty && snapAge.isEmpty) None
      else Some(k -> (created.getOrElse(Long.MaxValue), refAge, minKeep,
        snapAge))
    }

  /** Rewrite branches.json from the (fork, published) view, PRESERVING
    * every other key (retention policy) an entry already carries. */
  private def writeBranches(b: Map[String, (Long, Boolean)]): Unit = {
    require(!txnStaged,
      s"branch DDL writes shared ref metadata and cannot be STAGED in a " +
        s"transaction ($dir)")
    val full = branchesRaw
    graft.util.Json.writeFileAtomic(branchesPath,
      graft.util.Json.write(b.map { case (k, (f, p)) =>
        k -> (full.getOrElse(k, Map.empty[String, Any]) ++
          Map("fork" -> f, "published" -> p))
      }))
  }

  /** Fork a BRANCH off the current snapshot — the write-audit-publish
    * pattern (Iceberg's WAP / Delta's branch writes): candidate data is
    * committed to the branch, audited there with the full read surface
    * (the branch IS a [[GraftTable]] — scans, time travel, DML,
    * compaction all work), and only [[publishBranch]] makes it visible
    * to readers of this table. Abandoning is [[dropBranch]]: the parent
    * never saw anything.
    *
    * The fork is METADATA-ONLY at any scale: the branch's first snapshot
    * references the parent's live files through relative `../../` paths
    * (manifest paths are table-root-relative precisely so this works);
    * no data byte is copied. Branch-side commits write under the
    * branch's own `data/` dir, so parent and branch never contend.
    *
    * Refused while deferred deletes are pending (their file-name
    * scoping is meaningless across the fork — compact() first), exactly
    * like the other copy-on-write refusals. */
  def createBranch(name: String, committedAt: Option[Long] = None,
      maxRefAgeMs: Option[Long] = None,
      minSnapshotsToKeep: Option[Int] = None,
      maxSnapshotAgeMs: Option[Long] = None,
      createdAtMs: Option[Long] = None): GraftTable = {
    // one path segment, no traversal: "." / ".." would resolve the branch
    // dir onto (or above) the table root and corrupt it
    require(name.nonEmpty && name.forall(c =>
        c.isLetterOrDigit || c == '.' || c == '_' || c == '-') &&
        name != "." && name != ".." && !name.forall(_.isDigit),
      s"branch name '$name' must be a plain [A-Za-z0-9._-]+ segment, " +
        "not '.'/'..', and not purely numeric")
    require(pendingDeletes.isEmpty,
      s"cannot branch $dir with deferred deletes pending — compact() first")
    require(positionalDeletes.isEmpty,
      s"cannot branch $dir with positional deletes pending — the fork's " +
        "relative paths would break the entries' target addressing; " +
        "compact() first")
    require(equalityDeletes.isEmpty,
      s"cannot branch $dir with equality deletes pending — the fork's " +
        "snapshot-id scoping does not survive re-addressing; compact() first")
    // schema-evolution eras do not survive the fork either: branch-side
    // reads attribute `../../` entries to ONE (oldest) era, so a parent
    // with files spanning a rename/widening boundary would read silent
    // NULLs or crash on the branch — refuse until compact() migrates
    // every file to the current schema. Tombstones (dropped columns and
    // old-era physical names) DO carry: fork files still hold those
    // physical values, and a branch-side add/rename onto such a name
    // would resurrect them.
    log.current.foreach { c =>
      Manifest.read(s"$dir/${c.manifestList}").files.foreach(f =>
        require(!renameAffects(f),
          s"cannot branch $dir with pre-rename/pre-widening data files " +
            s"(${f.path}) — compact() first to migrate them to the " +
            "current schema"))
    }
    withRefsLock {
      require(!branches.contains(name) && !GraftTable.exists(branchDir(name)),
        s"branch '$name' already exists on $dir")
      val cur = log.current
      val bt = GraftTable.create(branchDir(name), schema, properties,
        partitionColumns)
        .writeMeta(newDropped =
          (droppedColumns ++ renames.map(_.from)).distinct)
      cur.foreach { c =>
        val m = Manifest.read(s"$dir/${c.manifestList}")
        val forked = Manifest(m.files.map(f => f.copy(path = s"../../${f.path}")))
        bt.commit(bt.log, 1L, forked, Nil, operation = "branch", committedAt,
          extraSummary = Map("fork-of" -> dir,
            "fork-snapshot-id" -> c.snapshotId.toString))
      }
      writeBranches(branches +
        (name -> (cur.map(_.snapshotId).getOrElse(0L), false)))
      // attach the retention policy (Iceberg per-branch retention):
      // written via the raw map so it survives the (fork, published)
      // rewrites publishBranch performs
      if (maxRefAgeMs.isDefined || minSnapshotsToKeep.isDefined ||
          maxSnapshotAgeMs.isDefined) {
        val full = branchesRaw
        val extra: Map[String, Any] =
          Map("created_ms" ->
            createdAtMs.getOrElse(System.currentTimeMillis())) ++
            maxRefAgeMs.map("max_ref_age_ms" -> _) ++
            minSnapshotsToKeep.map(v =>
              "min_snapshots_to_keep" -> v.toLong) ++
            maxSnapshotAgeMs.map("max_snapshot_age_ms" -> _)
        graft.util.Json.writeFileAtomic(branchesPath,
          graft.util.Json.write(full + (name -> (full(name) ++ extra))))
      }
      bt
    }
  }

  /** The branch as a live table handle (audit + write surface). */
  def branch(name: String): GraftTable = {
    require(branches.contains(name), s"no branch '$name' on $dir")
    GraftTable.load(branchDir(name))
  }

  /** Read a branch's current state (the audit read). */
  def readBranch(spark: SparkSession, name: String): DataFrame =
    branch(name).read(spark)

  /** PUBLISH: fast-forward this table to the branch head as one atomic
    * commit. Metadata-only at any scale — the publish snapshot's
    * manifest re-addresses the branch's entries from branch-relative to
    * parent-relative paths (`../../X` → `X`; branch-local `data/Y` →
    * `branches/<name>/data/Y`); no data file moves, so publishing a
    * 100 TB audit batch costs one manifest write. The branch's data dir
    * is owned by the parent afterwards ([[dropBranch]] then removes
    * only branch metadata).
    *
    * Fast-forward requires this table's head to still be the fork
    * snapshot — a parent that advanced since the fork fails loudly
    * (recreate the branch from the new head; implicit rebase would
    * silently drop the parent's commits). Schema or partition-spec
    * drift on the branch likewise refuses. */
  def publishBranch(name: String, committedAt: Option[Long] = None): Snapshot = {
    val (forkId, published) = branches.getOrElse(name,
      throw new IllegalArgumentException(s"no branch '$name' on $dir"))
    require(!published, s"branch '$name' already published on $dir")
    val bt = branch(name)
    require(bt.schema.json == schema.json &&
      bt.partitionColumns == partitionColumns,
      s"branch '$name' evolved its schema/partition spec — " +
        "fast-forward publish requires identical metadata")
    require(bt.pendingDeletes.isEmpty,
      s"branch '$name' has deferred deletes pending — fold them first " +
        "(rewriteDeleteFiles, or compact())")
    require(bt.positionalDeletes.isEmpty,
      s"branch '$name' has positional deletes pending — compact() it first")
    require(bt.equalityDeletes.isEmpty,
      s"branch '$name' has equality deletes pending — fold them first " +
        "(rewriteDeleteFiles, or compact())")
    val bcur = bt.log.current.getOrElse(
      throw new IllegalStateException(s"branch '$name' has no snapshot"))
    val lg = log
    require(lg.current.map(_.snapshotId).getOrElse(0L) == forkId,
      s"$dir advanced past fork snapshot $forkId since branch '$name' " +
        "was created — fast-forward is not possible; recreate the branch")
    val bm = Manifest.read(s"${bt.dir}/${bcur.manifestList}")
    val entries = bm.files.map { f =>
      if (f.path.startsWith("../../")) f.copy(path = f.path.drop(6))
      else f.copy(path = s"branches/$name/${f.path}")
    }
    // Era-soundness guard, mirroring createBranch: re-addressed
    // branch-LOCAL files (`branches/<name>/data/…`) resolve
    // fileSnapId = None, which physicalField attributes to the OLDEST
    // schema era — on a parent with rename/widening history the parent
    // would then request pre-rename physical names / pre-widening types
    // from files that actually hold the CURRENT era (silent NULLs, or a
    // parquet type mismatch). Fork-carried `../../X` entries re-address
    // back to `X` with parseable parent snap ids and publish fine; only
    // branch-local files on an evolved parent are refused.
    entries.foreach(f => require(!renameAffects(f),
      s"cannot publish branch '$name' onto $dir: the parent's " +
        s"rename/widening history would mis-attribute re-addressed entry " +
        s"${f.path} to the oldest schema era — branch WRITES on a " +
        "rename/widen-evolved parent cannot be published (fork-carried " +
        "entries publish fine when the parent's schema history predates " +
        "the fork); apply the branch's changes to the parent directly " +
        "instead"))
    val snap = commit(lg, lg.nextId, Manifest(entries), Nil,
      operation = "publish", committedAt,
      extraSummary = Map("branch" -> name,
        "branch-snapshot-id" -> bcur.snapshotId.toString))
    withRefsLock { writeBranches(branches + (name -> (forkId, true))) }
    snap
  }

  /** Drop a branch. Unpublished: everything under it (metadata AND its
    * never-published data files) is deleted — the parent never
    * referenced any of it. Published: only branch METADATA is removed;
    * the data dir now belongs to the parent's manifests and stays. */
  def dropBranch(name: String): Unit = withRefsLock {
    val (_, published) = branches.getOrElse(name,
      throw new IllegalArgumentException(s"no branch '$name' on $dir"))
    val root = Paths.get(branchDir(name))
    if (!published) GraftTable.deleteRecursively(root)
    else Seq("metadata.json", "snapshots.json", "branches.json", "refs.json")
      .foreach(f => Files.deleteIfExists(root.resolve(f)))
    if (published) GraftTable.deleteRecursively(root.resolve("manifests"))
    writeBranches(branches - name)
  }

  /** The snapshot that wrote a data file, parsed from its
    * `part-<snap>-<token>-<seq>` name — the scope key for deferred
    * deletes. Files OUTSIDE this table's own data dir — a branch's
    * fork-inherited `../../data/…` entries, or a parent's published
    * `branches/<name>/data/…` entries — carry snapshot ids from a
    * DIFFERENT table's sequence, so their names mean nothing here:
    * they resolve to None, which every consumer treats conservatively
    * (always covered by a deferred delete, force-included in the
    * compaction that materializes one). Correct in both directions:
    * foreign-era files always predate any delete committed in THIS
    * table's log. */
  private[table] def fileSnapId(path: String): Option[Long] = {
    if (path.startsWith("../") || path.startsWith("branches/") ||
        path.contains("/branches/")) return None
    val base = path.substring(path.lastIndexOf('/') + 1)
    if (!base.startsWith("part-")) return None
    val seg = base.drop(5).takeWhile(_ != '-')
    if (seg.nonEmpty && seg.forall(_.isDigit)) Some(seg.toLong) else None
  }

  /** Columns with per-file bloom filters ([[FileBloom]]): the
    * `graft.bloom.columns` property filtered to existing, bloom-capable,
    * non-partition columns — unknown names are ignored rather than
    * failing every future append. */
  def bloomColumns: Set[String] =
    properties.get(PropBloomColumns).toSet[String]
      .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
      .filter(c => schema.fieldNames.contains(c) &&
        // identity partition sources never reach the data files; transform
        // SOURCES do (the layout key is derived), so they stay bloom-able
        !partitionFields.exists(f => f.isIdentity && f.source == c) &&
        FileBloom.supported(schema(c).dataType))

  /** The partition spec parsed into fields — identity columns and hidden
    * transforms ([[PartitionField]]). */
  private[table] lazy val partitionFields: Seq[PartitionField] =
    PartitionField.parseSpec(partitionColumns, schema)

  /** Manifest pruning with transform awareness: the resolved predicate is
    * conjoined with its sound derived-directory-value implications
    * ([[PartitionField.augment]]) before the per-file min/max walk, so a
    * point lookup on a `bucket()`ed source reads 1/N of the files and a
    * time range on a `days()`ed source reads its slice. Files from other
    * partition-spec eras lack the derived stats and are kept
    * (conservative). */
  private[table] def pruneKeep(
      resolved: org.apache.spark.sql.catalyst.expressions.Expression)
      : DataFileEntry => Boolean = {
    // shredded-variant probes first (variant_get leaves → synthetic
    // stat-key attributes, see VariantPruning), then the transform
    // augmentation — both extend the schema the walk types against
    val (vPred, vFields) = VariantPruning.rewrite(resolved, schema)
    val aug = PartitionField.augment(vPred, partitionFields)
    val augSchema = StructType(
      PartitionField.augmentedSchema(schema, partitionFields).fields ++
        vFields)
    f => Pruning.mayMatchFile(aug, aliasLegacyStats(stripStaleBlooms(f)),
      augSchema)
  }

  /** Per-file proof that EVERY row satisfies `resolved` ([[countWhere]]'s
    * metadata discipline, exposed for the DSv2 surface): with pruning
    * dropping the proven-non-matching files, a filter whose every KEPT
    * file proves is fully served by file selection alone — the claim
    * behind metadata-only filtered aggregates. Any doubt answers false.
    * Curried: the proof augmentation is built once, the returned closure
    * runs per file (plan-time cost O(files), not O(files × rewrites)). */
  private[table] def provenAll(
      resolved: org.apache.spark.sql.catalyst.expressions.Expression)
      : DataFileEntry => Boolean = {
    val proof = PartitionField.proofAugment(resolved, partitionFields)
    val augSchema = PartitionField.augmentedSchema(schema, partitionFields)
    f => Pruning.mustMatchAll(proof, aliasLegacyStats(stripStaleBlooms(f)),
      augSchema)
  }

  /** Era-gated compatibility alias for derived-stat keys. Probes use the
    * PARAMETER-QUALIFIED [[PartitionField.statName]] (`tok_bucket_16`);
    * files written before qualification hold the synthesized stats under
    * the bare directory key (`tok_bucket`). On a table whose spec has
    * NEVER evolved ([[GraftTable.PropSpecEvolved]] unset) exactly one
    * parameterization can ever have written that key, so serving the
    * bare value under the qualified name is sound and keeps legacy
    * tables pruning. The moment the spec evolves the bare key is
    * ambiguous across moduli/widths and the alias shuts off — those
    * legacy files are conservatively kept instead (the exact unsound
    * cross-era skip the qualification exists to prevent). */
  private lazy val legacyStatAliases: Map[String, String] =
    if (properties.contains(GraftTable.PropSpecEvolved)) Map.empty
    else partitionFields.iterator
      .filter(f => f.statName != f.fieldName)
      .map(f => f.fieldName -> f.statName).toMap

  private def aliasLegacyStats(
      stats: Map[String, ColumnStats]): Map[String, ColumnStats] =
    if (legacyStatAliases.isEmpty) stats
    else stats ++ legacyStatAliases.collect {
      case (bare, q) if stats.contains(bare) && !stats.contains(q) =>
        q -> stats(bare)
    }

  private def aliasLegacyStats(f: DataFileEntry): DataFileEntry =
    if (legacyStatAliases.isEmpty) f else f.copy(stats = aliasLegacyStats(f.stats))

  /** Whole-SEGMENT may-match on the manifest-list envelope — the level
    * above [[pruneKeep]]: a segment whose merged min/max rule the
    * predicate out is skipped without being parsed (no blooms at this
    * level; a missing envelope keeps the segment — legacy lists and
    * schema-less writers stay correct, just unaccelerated). */
  private def segKeep(
      resolved: org.apache.spark.sql.catalyst.expressions.Expression)
      : ManifestSegment => Boolean = {
    val (vPred, vFields) = VariantPruning.rewrite(resolved, schema)
    val aug = PartitionField.augment(vPred, partitionFields)
    val augSchema = StructType(
      PartitionField.augmentedSchema(schema, partitionFields).fields ++
        vFields)
    seg => seg.envelope.forall(env =>
      Pruning.mayMatch(aug, aliasLegacyStats(env), augSchema))
  }

  /** Predicate-pruned file list with segment-envelope skipping — the
    * planning path every predicate-scoped read goes through. */
  private[table] def prunedFiles(
      manifest: Manifest,
      resolved: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[DataFileEntry] =
    manifest.prunedFiles(segKeep(resolved), pruneKeep(resolved))

  /** (candidate files, manifest of the rest) with segment-envelope
    * skipping — predicate-scoped DML parses and rewrites only the
    * segments its predicate may touch. */
  private[table] def partitionPruned(
      manifest: Manifest,
      resolved: org.apache.spark.sql.catalyst.expressions.Expression)
      : (Seq[DataFileEntry], Manifest) =
    manifest.partitionFiles(segKeep(resolved), pruneKeep(resolved))

  /** Drop bloom entries for columns TYPE-WIDENED after `f` was written:
    * parquet bloom hashing is type-sensitive, so probing an int-era
    * bloom with a long literal could false-negative — an unsound skip.
    * (Renamed columns are naturally safe: the bloom sits under the old
    * name and a new-name probe finds nothing — conservative keep. Footer
    * MIN/MAX stats stay consulted either way: the string-stored bounds
    * parse identically under the widened type.) */
  private def stripStaleBlooms(f: DataFileEntry): DataFileEntry =
    if (widenings.isEmpty || f.blooms.isEmpty) f
    else {
      val sid = fileSnapId(f.path).getOrElse(Long.MinValue)
      val stale = widenings.filter(w => sid < w.at).map(_.col).toSet
      if (stale.isEmpty) f
      else f.copy(blooms = f.blooms.filterNot { case (c, _) => stale(c) })
    }

  // ------------------------------------------------------------------
  // commits
  // ------------------------------------------------------------------

  /** Append `df` as a new snapshot (analog of
    * `table.newAppend().appendFile(f).commit()`, TestHelpers.java:55-103).
    *
    * `committedAt` is injectable for deterministic fixtures; commits are
    * sequential (single-writer fixture semantics, like the reference's
    * test-side writer — concurrent commit coordination is out of scope).
    */
  def append(
      df: DataFrame,
      committedAt: Option[Long] = None,
      extraSummary: Map[String, String] = Map.empty,
      mergeSchema: Boolean = false): Snapshot = {
    if (mergeSchema) {
      val widened = widenForSource(df.schema)
      if (widened ne this)
        return widened.append(df, committedAt, extraSummary)
    }
    val lg = log
    val snapId = lg.nextId
    val newFiles = writeDataFiles(df, snapId)
    val prevManifest = lg.current.map(s => Manifest.read(s"$dir/${s.manifestList}"))
      .getOrElse(Manifest.empty)
    commit(lg, snapId, prevManifest.append(newFiles), newFiles,
      operation = "append", committedAt,
      extraSummary = extraSummary ++ Map(
        "added-data-files" -> newFiles.size.toString,
        "added-records" -> newFiles.map(_.recordCount).sum.toString))
  }

  /** OPT-IN additive schema evolution on write (Delta `mergeSchema` /
    * Iceberg `merge-schema` analog), shared by [[append]] and [[merge]]:
    * source columns absent from the table schema are ADDED to the table
    * first — each through the [[addColumn]] metadata-only path, so the
    * evolution events land, pre-evolution files read the new column as
    * NULL, and every resurrection guard (dropped names, old-era physical
    * names, the virtual column) still refuses. Existing columns keep the
    * EXACT-type requirement — this never widens a type (the
    * `unionByName` trap stays refused); the default everywhere remains
    * exact-schema. Every DETERMINISTIC write precondition is validated
    * BEFORE the first addColumn commits metadata — a schema widened for
    * a write that then refuses would be permanent (dropColumn tombstones
    * the name forever), so missing/case-variant/type-mismatched source
    * columns refuse here with nothing evolved. Returns the widened
    * handle (`this` when nothing to add); the CALLER's handle still sees
    * the old schema — reload after an evolving write. */
  def widenForSource(source: StructType): GraftTable = {
    // case-insensitive NEW-column detection: a case-variant of an
    // existing column ('ID' vs 'id') is never "new" — adding it would
    // pollute the schema and break case-insensitive SQL resolution
    val extra = source.fields.filterNot(f =>
      schema.fieldNames.exists(_.equalsIgnoreCase(f.name)))
    if (extra.isEmpty) return this
    val missing = schema.fieldNames.filterNot(source.fieldNames.contains)
    require(missing.isEmpty,
      s"mergeSchema write is missing table column(s) " +
        s"${missing.mkString(", ")} of $dir (case-variant names do not " +
        "match; additive evolution never drops or renames)")
    schema.fields.foreach { tf =>
      source.fields.find(_.name == tf.name).foreach { sf =>
        require(sf.dataType == tf.dataType,
          s"column '${tf.name}' is ${sf.dataType.sql}, table expects " +
            s"${tf.dataType.sql} — cast the source; mergeSchema adds " +
            "columns, it never widens types")
      }
    }
    // pre-validate EVERY extra against addColumn's pure guards before the
    // first one commits metadata: extra #1's addColumn is permanent, so a
    // refusal on extra #2 (resurrection guard, virtual-column shadow,
    // duplicate source name) must fire with nothing evolved
    val dupes = extra.map(_.name).groupBy(_.toLowerCase)
      .collect { case (_, vs) if vs.size > 1 => vs.head }
    require(dupes.isEmpty,
      s"mergeSchema source repeats new column(s) ${dupes.mkString(", ")}")
    extra.foreach { f =>
      require(f.name != virtualColumn,
        s"column '${f.name}' would shadow the virtual snapshot column")
      require(!droppedColumns.contains(f.name),
        s"column '${f.name}' was dropped from $dir — existing files " +
          "still carry its physical values, so re-adding it would " +
          "resurrect them; pick a new name")
      require(!renames.exists(_.from == f.name),
        s"column '${f.name}' is an old-era physical name in $dir " +
          "(renamed away) — adding it would resurrect pre-rename " +
          "values; pick a new name")
    }
    extra.foldLeft(this)((t, f) => t.addColumn(f.name, f.dataType))
  }

  /** INSERT OVERWRITE TABLE semantics in ONE atomic commit: every
    * current data file leaves the manifest (metadata-only — the
    * truncation half reads no bytes) and `df`'s files replace them.
    * Pending merge-on-read state of every form clears with the files it
    * covered (entries only ever cover pre-overwrite files, all gone).
    * Time travel to pre-overwrite snapshots still sees the old rows;
    * expiration reclaims them. */
  def overwrite(
      df: DataFrame,
      committedAt: Option[Long] = None): Snapshot = {
    val lg = log
    val snapId = lg.nextId
    val newFiles = writeDataFiles(df, snapId)
    val prevFiles = lg.current
      .map(s => Manifest.read(s"$dir/${s.manifestList}").totalFiles)
      .getOrElse(0L)
    commit(lg, snapId, Manifest(newFiles), newFiles,
      operation = "overwrite", committedAt,
      extraSummary = Map(
        "dropped-data-files" -> prevFiles.toString,
        "added-data-files" -> newFiles.size.toString,
        "added-records" -> newFiles.map(_.recordCount).sum.toString,
        // explicit empty values beat the carried-summary inheritance:
        // no covered file survives, so no entry survives
        SummaryPendingDeletes -> "[]",
        SummaryPositionalDeletes -> "[]",
        SummaryEqualityDeletes -> "[]"))
  }

  /** Predicate-scoped OVERWRITE — atomic "replace this slice": rows
    * matching `predicate` leave (whole-file drops stay metadata-only via
    * the [[Pruning.mustMatchAll]] proof; genuinely partial files rewrite
    * keeping their non-matching rows) and `df`'s rows land, all in ONE
    * `"overwrite"` snapshot. The daily-batch idiom at 100 TB: replacing
    * a day/tenant/bucket slice of a partitioned table is a manifest edit
    * plus the new slice's write — no unrelated file is touched. Inserted
    * rows are NOT constrained to match the predicate (same as SQL's
    * `INSERT OVERWRITE … PARTITION` trust model — callers enforce
    * alignment with a [[GraftTable.PropCheckPrefix]] constraint if they
    * want it hard). MoR stance matches [[delete]]: refuses pending
    * predicate/equality entries, composes with positional. */
  def overwriteWhere(
      spark: SparkSession,
      predicate: Column,
      df: DataFrame,
      committedAt: Option[Long] = None): Snapshot = {
    val lg = log
    val current = lg.current.getOrElse(
      return overwrite(df, committedAt)) // empty table: plain first write
    val resolved = resolveAgainst(spark, schema,
      org.apache.spark.sql.classic.GraftBridge.expr(predicate))
    require(!resolved.references.exists(_.name.equalsIgnoreCase(virtualColumn)),
      s"overwrite predicate cannot reference the virtual column $virtualColumn")
    val manifest = Manifest.read(s"$dir/${current.manifestList}")
    val (candidates, untouchedM) = partitionPruned(manifest, resolved)
    val snapId = lg.nextId
    val proofPred = PartitionField.proofAugment(resolved, partitionFields)
    val augSchema = PartitionField.augmentedSchema(schema, partitionFields)
    val (dropped0, rewrites0) =
      candidates.partition(f => Pruning.mustMatchAll(proofPred, f, augSchema))
    // pending EQUALITY and PREDICATE-deferred entries: same composition
    // discipline as delete() — covered whole-file drops demote to
    // rewrites, survivors read fully visible, touched entries degrade
    // their dead counts
    val eqPend = parseEquality(current)
    val pendFull = parsePendingFull(current)
    val pend = pendFull.map(e => (e._1, e._2))
    val (dropped, rewrites) =
      if (eqPend.isEmpty && pend.isEmpty) (dropped0, rewrites0)
      else {
        val (coverable, freeDrop) = dropped0.partition { f =>
          val fsn = fileSnapId(f.path).getOrElse(Long.MinValue)
          eqPend.exists(e => fsn <= e.covered) ||
            pend.exists { case (covered, _) => fsn <= covered }
        }
        (freeDrop, coverable ++ rewrites0)
      }
    val posPend = parsePositional(current)
    val priorDeleted: Map[String, Long] =
      posPend.flatMap(_.targets).groupMapReduce(_._1)(_._2)(_ + _)
    val keptFiles =
      if (rewrites.isEmpty) Nil
      else writeDataFiles(
        readVisibleCarry(spark, pend, posPend, rewrites, eqPend)
          .filter(org.apache.spark.sql.functions.coalesce(
            !predicate, org.apache.spark.sql.functions.lit(true))),
        snapId).filter(_.recordCount > 0)
    val inserted = writeDataFiles(df, snapId)
    val removed =
      (if (eqPend.isEmpty && pend.isEmpty)
        candidates.map(f =>
          f.recordCount - priorDeleted.getOrElse(f.path, 0L)).sum
      else readVisible(spark, pend, posPend, candidates, eqPend).count()) -
      keptFiles.map(_.recordCount).sum
    val stillPositional =
      stripPositional(posPend, candidates.map(_.path).toSet)
    commit(lg, snapId,
      untouchedM.append(keptFiles ++ inserted),
      keptFiles ++ inserted,
      operation = "overwrite", committedAt,
      extraSummary = Map(
        "deleted-records" -> removed.toString,
        "dropped-data-files" -> dropped.size.toString,
        "rewritten-data-files" -> rewrites.size.toString,
        "added-data-files" -> inserted.size.toString,
        "added-records" -> inserted.map(_.recordCount).sum.toString,
        SummaryPendingDeletes ->
          pendingJsonFull(degradePendingFor(pendFull, candidates)),
        SummaryPositionalDeletes -> positionalJson(stillPositional),
        SummaryEqualityDeletes ->
          equalityJson(degradeEqualityFor(eqPend, candidates))))
  }

  /** DYNAMIC-partition OVERWRITE (Spark's
    * `partitionOverwriteMode=dynamic` / `df.writeTo(t)
    * .overwritePartitions()`; Iceberg's ReplacePartitions): replace
    * exactly the partitions the source writes into, leave every other
    * partition untouched — the daily-ETL default overwrite spelling.
    * One atomic `"overwrite"` snapshot: the source's files land, and
    * current files whose directory tuple matches a WRITTEN tuple leave
    * the manifest METADATA-ONLY (the tuple is exact per-file knowledge;
    * no stats proof needed). Files from other partition-spec eras
    * (pre-partitioning imports, pre-evolution layouts) that may hold
    * rows of a touched partition REWRITE keeping their other-partition
    * rows — row-correct under any era because the filter derives the
    * current transforms from the data columns themselves.
    *
    * The touched-partition set is discovered from the written files'
    * directory tuples — commit metadata that exists anyway — so the
    * source is scanned exactly once and nothing data-sized reaches the
    * driver; the set's size is the number of REPLACED partitions, the
    * quantity dynamic overwrite is bounded by at any corpus size.
    * Unpartitioned tables follow Spark/Iceberg: dynamic overwrite
    * degenerates to full-table replacement; an EMPTY source replaces
    * nothing (no snapshot committed). MoR stance matches
    * [[overwriteWhere]]: positional entries compose, covered drops
    * demote to rewrites, touched entries degrade their dead counts. */
  def overwritePartitionsDynamic(
      spark: SparkSession,
      df: DataFrame,
      committedAt: Option[Long] = None): Snapshot = {
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, EqualNullSafe => CEqNS, IsNull => CIsNull, Or => COr}
    if (partitionFields.isEmpty) return overwrite(df, committedAt)
    val lg = log
    val current = lg.current.getOrElse(
      return overwrite(df, committedAt)) // empty table: plain first write
    val snapId = lg.nextId
    val inserted = writeDataFiles(df, snapId)
    if (inserted.isEmpty) return current
    val touched: Set[Map[String, Option[String]]] =
      inserted.map(_.partition).toSet

    // tuple membership twice over: as a Catalyst predicate on the
    // synthesized per-file partition stats (segment/file pruning keeps
    // planning O(touched), untouched segments carry by ref) and as a
    // row filter re-deriving the current transforms from the data
    // columns (the other-era rewrite path)
    def extVal(enc: String, dt: DataType): Any = dt match {
      case BooleanType => enc.toBoolean
      case IntegerType => enc.toInt
      case LongType => enc.toLong
      case DateType => java.time.LocalDate.parse(enc)
      case _ => enc
    }
    def fieldMeta(f: PartitionField): (String, DataType) =
      if (f.isIdentity) (f.source, schema(f.source).dataType)
      else (f.statName, f.derivedType)
    val prunePred: org.apache.spark.sql.catalyst.expressions.Expression =
      touched.toSeq.map { t =>
        partitionFields.map { f =>
          val (attrName, dt) = fieldMeta(f)
          val attr = org.apache.spark.sql.catalyst.expressions
            .AttributeReference(attrName, dt, nullable = true)()
          t.getOrElse(f.fieldName, None) match {
            case None => CIsNull(attr)
            case Some(enc) => CEqNS(attr,
              org.apache.spark.sql.catalyst.expressions.Literal
                .create(extVal(enc, dt), dt))
          }
        }.reduce[org.apache.spark.sql.catalyst.expressions.Expression](
          CAnd(_, _))
      }.reduce[org.apache.spark.sql.catalyst.expressions.Expression](
        COr(_, _))
    val rowPred: Column = touched.toSeq.map { t =>
      partitionFields.map { f =>
        val c = if (f.isIdentity) org.apache.spark.sql.functions.col(f.source)
          else f.writeExpr
        val dt = fieldMeta(f)._2
        t.getOrElse(f.fieldName, None) match {
          case None => c.isNull
          case Some(enc) =>
            c <=> org.apache.spark.sql.functions.lit(extVal(enc, dt) match {
              case d: java.time.LocalDate => java.sql.Date.valueOf(d)
              case other => other
            })
        }
      }.reduce(_ && _)
    }.reduce(_ || _)

    val manifest = Manifest.read(s"$dir/${current.manifestList}")
    val (candidates, untouchedM) = partitionPruned(manifest, prunePred)
    // exact metadata-only drop: the file's OWN directory tuple is in
    // the touched set. When a NON-identity transform's spec has EVOLVED
    // the bare fieldName is ambiguous across parameterizations
    // (bucket(4) and bucket(8) both write `c_bucket=`) — degrade those
    // candidates to row-checked rewrites, the same conservatism as the
    // era-gated stat aliasing. Identity tuples are never ambiguous.
    val tupleExactOk = partitionFields.forall(_.isIdentity) ||
      !properties.contains(GraftTable.PropSpecEvolved)
    val (dropped0, rewrites0) = candidates.partition(f =>
      tupleExactOk && touched.contains(f.partition))
    // pending EQUALITY / PREDICATE-deferred composition — identical
    // discipline to overwriteWhere: covered whole-file drops demote to
    // rewrites, survivors read fully visible, touched entries degrade
    val eqPend = parseEquality(current)
    val pendFull = parsePendingFull(current)
    val pend = pendFull.map(e => (e._1, e._2))
    val (dropped, rewrites) =
      if (eqPend.isEmpty && pend.isEmpty) (dropped0, rewrites0)
      else {
        val (coverable, freeDrop) = dropped0.partition { f =>
          val fsn = fileSnapId(f.path).getOrElse(Long.MinValue)
          eqPend.exists(e => fsn <= e.covered) ||
            pend.exists { case (covered, _) => fsn <= covered }
        }
        (freeDrop, coverable ++ rewrites0)
      }
    val posPend = parsePositional(current)
    val priorDeleted: Map[String, Long] =
      posPend.flatMap(_.targets).groupMapReduce(_._1)(_._2)(_ + _)
    val keptFiles =
      if (rewrites.isEmpty) Nil
      else writeDataFiles(
        readVisibleCarry(spark, pend, posPend, rewrites, eqPend)
          .filter(!rowPred), // <=> / isNull keep the predicate total
        snapId).filter(_.recordCount > 0)
    val removed =
      (if (eqPend.isEmpty && pend.isEmpty)
        candidates.map(f =>
          f.recordCount - priorDeleted.getOrElse(f.path, 0L)).sum
      else readVisible(spark, pend, posPend, candidates, eqPend).count()) -
      keptFiles.map(_.recordCount).sum
    val stillPositional =
      stripPositional(posPend, candidates.map(_.path).toSet)
    commit(lg, snapId,
      untouchedM.append(keptFiles ++ inserted),
      keptFiles ++ inserted,
      operation = "overwrite", committedAt,
      extraSummary = Map(
        "replaced-partitions" -> touched.size.toString,
        "deleted-records" -> removed.toString,
        "dropped-data-files" -> dropped.size.toString,
        "rewritten-data-files" -> rewrites.size.toString,
        "added-data-files" -> inserted.size.toString,
        "added-records" -> inserted.map(_.recordCount).sum.toString,
        SummaryPendingDeletes ->
          pendingJsonFull(degradePendingFor(pendFull, candidates)),
        SummaryPositionalDeletes -> positionalJson(stillPositional),
        SummaryEqualityDeletes ->
          equalityJson(degradeEqualityFor(eqPend, candidates))))
  }

  /** [[append]] with optimistic-concurrency RETRY — the production
    * behavior for concurrent writers on one table: a committer that
    * loses the snapshot-id race (commit's O_EXCL claim or the log
    * re-check) cleans up, re-reads the advanced log, and re-attempts
    * with capped-exponential backoff, so N racing appenders all land as
    * N distinct snapshots instead of N−1 loud failures. Each retry
    * re-writes the data files (commit already deleted the loser's —
    * simple and always correct; a metadata-only retry that re-uses data
    * files is the optimization you pair with a real lock service).
    * A claim that never clears (crashed committer's stale marker) still
    * fails after `maxRetries` — retrying can't fix an abandoned marker. */
  def appendWithRetry(
      df: DataFrame,
      maxRetries: Int = 5,
      committedAt: Option[Long] = None): Snapshot =
    withCommitRetry(maxRetries) { append(df, committedAt) }

  /** Run any single-commit table operation with optimistic-concurrency
    * retry. Safe for every public op here (append / appendAvro / delete /
    * update / merge / compact / rollback / expire): each call re-reads
    * the snapshot log, so a retried operation recomputes against the
    * WINNING committer's state — copy-on-write DML rewrites the files
    * that exist after the conflict, not a stale view. */
  def withCommitRetry[T](maxRetries: Int = 5)(op: => T): T = {
    var last: java.util.ConcurrentModificationException = null
    for (attempt <- 0 to maxRetries) {
      try return op
      catch {
        case e: java.util.ConcurrentModificationException =>
          last = e
          Thread.sleep(2L << attempt)
      }
    }
    throw last
  }

  /** DML-statement conflict policy (`graft.dml.isolation`): under the
    * default `replan`, a statement that loses the commit race re-plans
    * IN FULL against the winning committer's state — the log is a
    * single serial chain, every retry re-reads it before planning, so
    * the outcome is serializable with this statement ordered LAST
    * (predicates apply to rows that exist after the conflict,
    * including the winner's). Under `strict` (Iceberg
    * `validateNoConflicting*` stance) the first conflict is rethrown
    * loudly instead: nothing silently re-executes against state the
    * caller never saw — the caller re-reads and decides. Appends keep
    * plain [[withCommitRetry]] (row adds commute; Iceberg's fastAppend
    * never conflict-checks either). */
  def withDmlRetry[T](maxRetries: Int = 5)(op: => T): T =
    if (GraftTable.dmlIsolationOf(properties) == "strict") {
      try op
      catch {
        case e: java.util.ConcurrentModificationException =>
          throw new java.util.ConcurrentModificationException(
            s"a concurrent commit conflicts with this statement under " +
              s"${GraftTable.PropDmlIsolation}=strict on $dir — re-read " +
              "and retry the statement, or set 'replan' for " +
              s"run-as-if-last semantics (${e.getMessage})")
      }
    } else withCommitRetry(maxRetries)(op)

  /** Append `df` as a new snapshot whose data files are AVRO containers
    * (written via [[graft.sources.AvroSource]]) — the mixed-format table
    * shape the reference dispatches on per file
    * (IcebergReaderFactory.java:48-75): later scans read parquet and avro
    * entries of the same table through their respective readers and union
    * them. Avro files carry exact record counts in the manifest (block
    * headers, no decode) but NO min/max stats — scans keep them under any
    * predicate (conservative, sound; mirrors the reference's Avro path
    * applying no residual filter at the reader, SURVEY §2.1 S5).
    * Unpartitioned tables only. */
  def appendAvro(df: DataFrame, committedAt: Option[Long] = None): Snapshot = {
    require(partitionColumns.isEmpty,
      s"appendAvro supports unpartitioned tables only ($dir is partitioned)")
    val mapped = graft.sources.AvroSource
      .toSparkType(graft.sources.AvroSource.toAvroSchema(schema))
      .asInstanceOf[StructType]
    val lossy = schema.fields.zip(mapped.fields)
      .filter { case (a, b) => a.dataType != b.dataType }
    require(lossy.isEmpty,
      s"schema does not round-trip through avro: ${lossy.map(_._1.name).mkString(", ")}")

    val lg = log
    val snapId = lg.nextId
    // same per-attempt token discipline as writeDataFiles
    val token = java.util.UUID.randomUUID().toString.take(8)
    val staging = s"$dir/.staging-$snapId-$token"
    graft.sources.AvroSource.write(
      df.select(schema.fieldNames.map(col): _*), staging)
    val dataDir = Paths.get(dir, "data")
    Files.createDirectories(dataDir)
    val staged = scala.util.Using.resource(Files.walk(Paths.get(staging))) {
      s => s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".avro"))
        .toSeq.sortBy(_.toString)
    }
    val conf = df.sparkSession.sessionState.newHadoopConf()
    var seq = 0
    val newFiles = staged.map { src =>
      val name = f"part-$snapId%05d-$token-$seq%05d.avro"
      seq += 1
      val dst = dataDir.resolve(name)
      Files.move(src, dst, StandardCopyOption.REPLACE_EXISTING)
      val rows = graft.sources.AvroSource.countRecords(dst.toString, conf)
      DataFileEntry(s"data/$name", rows, Files.size(dst), Map.empty)
    }
    deleteRecursively(Paths.get(staging))
    val prevManifest = lg.current.map(s => Manifest.read(s"$dir/${s.manifestList}"))
      .getOrElse(Manifest.empty)
    commit(lg, snapId, prevManifest.append(newFiles), newFiles,
      operation = "append", committedAt,
      extraSummary = Map(
        "added-data-files" -> newFiles.size.toString,
        "added-records" -> newFiles.map(_.recordCount).sum.toString,
        "data-format" -> "avro"))
  }

  /** Write `df` into the data layout as snapshot `snapId`'s files and
    * return their manifest entries (stats + partition values attached).
    * Shared by [[append]] and [[compact]]. */
  /** A defaulted column's CURRENT logical name: rename events after the
    * add (at/seq-ordered) moved it forward from the name recorded at
    * event time. */
  private[table] def defaultCurrentName(d: ColumnDefault): String = {
    var name = d.col
    renames.sortBy(r => (r.at, r.seq)).foreach { r =>
      if ((r.at > d.at || (r.at == d.at && r.seq > d.seq)) && r.from == name)
        name = r.to
    }
    name
  }

  /** Defaulted columns by their CURRENT name (with target type + SQL). */
  private[table] def writeDefaults: Seq[(String, DataType, String)] =
    defaults.map(d => (defaultCurrentName(d), d.sql))
      .collect { case (n, sql) if schema.fieldNames.contains(n) =>
        (n, schema(n).dataType, sql)
      }

  private def writeDataFiles(df0: DataFrame, snapId: Long): Seq[DataFileEntry] = {
    // WRITE DEFAULT (Iceberg v3 parity): a source simply LACKING a
    // defaulted column fills the stored literal at write time; present
    // columns keep the exact-name/exact-type requirements below
    val df = writeDefaults.foldLeft(df0) { case (d, (n, t, sql)) =>
      if (d.columns.exists(_.equalsIgnoreCase(n))) d
      else d.withColumn(n, org.apache.spark.sql.functions.expr(sql).cast(t))
    }
    // ROW-LINEAGE CARRY columns ride alongside the schema when a rewrite
    // supplies them (readVisibleCarry) — they persist physically and the
    // entry is marked; user inputs can never smuggle them in (the names
    // are reserved at create/addColumn)
    val lineageCols = df.columns
      .filter(c => c == LineageRidCol || c == LineageSeqCol).toSeq
    // validate the input against the TABLE schema before anything lands:
    // a misnamed column or widened type would commit files the table
    // schema cannot read back (the vectorized reader throws at scan time
    // — the table is then effectively bricked). Same stance as merge();
    // column ORDER is tolerated and normalized.
    require(df.columns.filterNot(lineageCols.contains).sorted.toSeq ==
        schema.fieldNames.sorted.toSeq,
      s"input columns [${df.columns.sorted.mkString(",")}] must match " +
        s"table schema [${schema.fieldNames.sorted.mkString(",")}] of $dir")
    val aligned = df.select(
      (schema.fieldNames ++ lineageCols).map(col): _*)
    // compare ignoring NULLABILITY: parquet round-trips surface nested
    // element/field types as nullable, so a repack (compact /
    // rewriteDeleteFiles) of a table created with containsNull=false
    // arrays would refuse the table's OWN rows. Spark writes every
    // parquet field optional regardless of the declared nullability, so
    // the physical files are identical either way — only TYPE widening
    // (the readback hazard this guard exists for) is refused.
    def stripNull(dt: org.apache.spark.sql.types.DataType)
        : org.apache.spark.sql.types.DataType = dt match {
      case org.apache.spark.sql.types.ArrayType(e, _) =>
        org.apache.spark.sql.types.ArrayType(stripNull(e), true)
      case org.apache.spark.sql.types.MapType(k, v, _) =>
        org.apache.spark.sql.types.MapType(stripNull(k), stripNull(v), true)
      case org.apache.spark.sql.types.StructType(fs) =>
        org.apache.spark.sql.types.StructType(fs.map(f =>
          f.copy(dataType = stripNull(f.dataType), nullable = true)))
      case other => other
    }
    aligned.schema.fields.zip(schema.fields).foreach { case (src, tgt) =>
      require(stripNull(src.dataType) == stripNull(tgt.dataType),
        s"column '${tgt.name}' is ${src.dataType.sql}, table expects " +
          s"${tgt.dataType.sql} (cast explicitly; writing a widened type " +
          "produces files the table schema cannot read back)")
    }
    writeAlignedDataFiles(aligned, snapId, hasLineage = lineageCols.nonEmpty)
  }

  /** WRITE CONSTRAINTS (Delta's CHECK/NOT NULL invariants): table
    * properties `graft.check.<name> = <sql predicate>` and
    * `graft.notnull.columns = a,b` are enforced on every data-file
    * write — append, copy-on-write DML rewrites, compaction — WITHOUT
    * an extra validation pass: the first schema column is routed
    * through a per-row guard that raises on the first violating row,
    * so the write job itself fails (distributed, single pass, nothing
    * committed — staging is discarded). SQL CHECK semantics: a NULL
    * predicate passes; only a strictly-false one violates. Constraints
    * added via properties() apply to FUTURE writes — existing files are
    * not re-validated (revalidate by compacting). */
  private def constraintGuard(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, raise_error, when}
    val checks: Seq[(String, Column)] =
      properties.toSeq.sortBy(_._1).collect {
        case (k, v) if k.startsWith(PropCheckPrefix) =>
          s"CHECK ${k.stripPrefix(PropCheckPrefix)} ($v)" -> expr(v)
      } ++
      properties.get(PropNotNullColumns).toSeq
        .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
        .filter(schema.fieldNames.contains)
        .map(c => s"NOT NULL $c" -> col(c).isNotNull)
    if (checks.isEmpty) return df
    val c0 = schema.fields.head
    val guarded = checks.foldLeft(col(c0.name)) { case (acc, (name, pred)) =>
      when(coalesce(pred, lit(true)), acc)
        .otherwise(raise_error(
          lit(s"graft constraint violated on $dir: $name")).cast(c0.dataType))
    }
    df.withColumn(c0.name, guarded)
  }

  private def writeAlignedDataFiles(
      dfIn: DataFrame, snapId: Long,
      hasLineage: Boolean = false): Seq[DataFileEntry] = {
    val df = constraintGuard(dfIn)
    // unique per-ATTEMPT token: two writers racing on the same provisional
    // snapshot id must not share a staging dir (mode=overwrite would
    // truncate each other mid-write) or part-file names (the commit
    // loser's cleanup would otherwise delete the winner's identically
    // named files). The token makes every attempt's paths disjoint; the
    // commit claim then serializes who publishes.
    val token = java.util.UUID.randomUUID().toString.take(8)
    val staging = s"$dir/.staging-$snapId-$token"
    // hash write distribution (`graft.write.distribution=hash`): cluster
    // rows by partition value before a partitioned write, so each table
    // partition is written by ONE task — without it every input partition
    // crosses every table partition and an append emits
    // O(tasks × partitions) small files (the classic small-file explosion
    // at cluster scale; Iceberg's write.distribution-mode=hash is the
    // same fix). Off by default: for FEW large partitions the clustering
    // collapses write parallelism to the partition count.
    // hidden-partitioning transforms: materialize each derived directory
    // key as a column for the write only — partitionBy lifts it into the
    // <field>=<value>/ path, so it never lands in the data file footers
    // and the source column stays a normal data column
    val withDerived = partitionFields.filterNot(_.isIdentity)
      .foldLeft(df)((d, f) => d.withColumn(f.fieldName, f.writeExpr))
    val distributed =
      if (partitionFields.nonEmpty &&
          properties.getOrElse(PropWriteDistribution, "none") == "hash")
        withDerived.repartition(partitionFields.map(f => col(f.fieldName)): _*)
      else withDerived
    // WRITE SORT ORDER (Iceberg's write sort-order analog): table
    // property `graft.write.sort = c1,c2` range-partitions + sorts every
    // data-file write on those columns, so files land RANGE-DISJOINT
    // with tight footer min/max — point/range predicates on the sort
    // prefix then prune to O(1) files without any post-hoc compaction.
    // Cost: one extra shuffle per write job — the standard price of a
    // declared sort order; leave unset for ingest-speed-first tables
    // (compact(sortBy/zorderBy) clusters after the fact instead).
    val sorted = GraftTable.writeSortColumns(properties, schema) match {
      case Nil => distributed
      case cols =>
        // explicit partition count (the session's configured shuffle
        // parallelism): an AQE-coalesced range exchange would fold small
        // writes back into one file and lose the disjointness this
        // property exists for
        val n = distributed.sparkSession.sessionState.conf.numShufflePartitions
        distributed.repartitionByRange(n, cols.map(col): _*)
          .sortWithinPartitions(cols.map(col): _*)
    }
    // data-file FORMAT (`write.format` table property): parquet keeps
    // the full stats/bloom/row-index surface; orc and avro trade footer
    // min/max pruning (entries carry exact record counts only —
    // conservative keeps, sound) and positional MoR for format
    // continuity of an imported estate. Reads dispatch per file, so a
    // format change mid-table just makes it mixed.
    val fmt = properties.getOrElse(GraftTable.PropWriteFormat, "parquet")
    require(Seq("parquet", "orc", "avro").contains(fmt),
      s"unsupported ${GraftTable.PropWriteFormat} '$fmt' on $dir " +
        "(parquet | orc | avro)")
    val ext = s".$fmt"
    if (fmt == "avro") {
      require(partitionFields.isEmpty,
        s"write.format=avro supports unpartitioned tables only " +
          s"($dir is partitioned)")
      val mapped = graft.sources.AvroSource
        .toSparkType(graft.sources.AvroSource.toAvroSchema(schema))
        .asInstanceOf[StructType]
      val lossy = schema.fields.zip(mapped.fields)
        .filter { case (a, b) => a.dataType != b.dataType }
      require(lossy.isEmpty, "schema does not round-trip through avro: " +
        lossy.map(_._1.name).mkString(", "))
      try graft.sources.AvroSource.write(sorted, staging)
      catch { case e: Throwable =>
        deleteRecursively(Paths.get(staging)); throw e
      }
    } else {
      val writer = sorted.write.mode("overwrite")
      if (partitionFields.nonEmpty)
        writer.partitionBy(partitionFields.map(_.fieldName): _*)
      // `bloom.columns`: have the parquet writer emit standard split-block
      // bloom filters for these columns (plain write options — they land in
      // the write job's hadoop conf); harvested into the manifest below
      val bloomCols = if (fmt == "parquet") bloomColumns else Nil
      bloomCols.foreach { c =>
        writer.option(s"parquet.bloom.filter.enabled#$c", "true")
        writer.option(s"parquet.bloom.filter.expected.ndv#$c",
          properties.getOrElse(PropBloomNdv, "10000"))
      }
      // generic writer-option passthrough: `graft.write.option.<key>` table
      // properties reach every data-file write (compression codec, parquet
      // block size, dictionary toggles — anything the writer takes)
      properties.foreach { case (k, v) =>
        if (k.startsWith(PropWriteOptionPrefix))
          writer.option(k.stripPrefix(PropWriteOptionPrefix), v)
      }
      // a failed write job (constraint violation, executor loss) must not
      // leave a half-written staging dir behind — nothing was committed.
      // Timestamps are written as TIMESTAMP_MICROS, not Spark's INT96
      // default: INT96 carries no usable parquet min/max, which blinds the
      // manifest's footer-stat pruning (and the all-match delete proof)
      // for every timestamp column. Session conf is the only lever the
      // parquet writer honors — set/restore around the job (a concurrent
      // writer seeing micros mid-flight only gets the better format).
      val tsKey = "spark.sql.parquet.outputTimestampType"
      val session = df.sparkSession
      val prevTs = session.conf.getOption(tsKey)
      session.conf.set(tsKey, "TIMESTAMP_MICROS")
      try { if (fmt == "orc") writer.orc(staging) else writer.parquet(staging) }
      catch { case e: Throwable =>
        deleteRecursively(Paths.get(staging)); throw e
      } finally prevTs match {
        case Some(v) => session.conf.set(tsKey, v)
        case None => session.conf.unset(tsKey)
      }
    }

    val dataDir = Paths.get(dir, "data")
    Files.createDirectories(dataDir)
    // walk recursively: a partitioned write nests files under
    // <col>=<value>/ directories (possibly multi-level), which the data
    // layout preserves so partition values stay readable from paths
    val stagingPath = Paths.get(staging)
    val staged = scala.util.Using.resource(Files.walk(stagingPath)) {
      s => s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(ext))
        .toSeq.sortBy(_.toString)
    }
    val conf = df.sparkSession.sessionState.newHadoopConf()
    var seq = 0
    val newFiles = staged.map { src =>
      val partDirs = stagingPath.relativize(src).iterator().asScala
        .map(_.toString).toSeq.dropRight(1) // <col>=<value> segments
      val partition: Map[String, Option[String]] = partDirs.map { seg =>
        val (c, raw) = seg.splitAt(seg.indexOf('='))
        c -> PartitionValues.decode(raw.drop(1))
      }.toMap
      val name = f"part-$snapId%05d-$token-$seq%05d$ext"
      seq += 1
      val dstDir = partDirs.foldLeft(dataDir)(_.resolve(_))
      Files.createDirectories(dstDir)
      val dst = dstDir.resolve(name)
      Files.move(src, dst, StandardCopyOption.REPLACE_EXISTING)
      val (rows, stats, blooms) = fmt match {
        case "parquet" =>
          val m = ParquetStats.forFile(dst.toString, conf, bloomColumns)
          (m.rowCount, m.stats, m.blooms)
        case "orc" => (GraftTable.orcRowCount(dst.toString, conf),
          Map.empty[String, ColumnStats], Map.empty[String, String])
        case _ => (graft.sources.AvroSource.countRecords(dst.toString, conf),
          Map.empty[String, ColumnStats], Map.empty[String, String])
      }
      // partition columns are absent from the file footers; synthesize
      // exact min=max=value stats so the same sound min/max pruning
      // machinery (Pruning/PruningPropertySpec) prunes partitions too
      val partStats = partition.map { case (c, v) =>
        // synthesized stats live under the PARAMETER-QUALIFIED statName
        // (id_bucket_8), never the bare directory key — so a later
        // re-parameterized era can never probe this era's values
        val pf = partitionFields.find(_.fieldName == c)
        val dt = pf.map(_.derivedType).getOrElse(schema(c).dataType)
        pf.map(_.statName).getOrElse(c) -> PartitionValues.stats(v, dt, rows)
      }
      val rel = (partDirs :+ name).mkString("/")
      // lineage-carry columns are physical but never schema: their
      // footer stats stay out of the manifest (pruning/envelopes only
      // consult schema columns; stray keys would just bloat segments)
      val cleanStats =
        if (!hasLineage) stats
        else stats -- Seq(LineageRidCol, LineageSeqCol)
      DataFileEntry(s"data/$rel", rows, Files.size(dst),
        cleanStats ++ partStats, partition, blooms,
        hasRowIds = hasLineage)
    }
    deleteRecursively(Paths.get(staging))
    newFiles
  }

  /** Claim snapshot `snapId`, write its manifest, and commit it to the
    * log — the shared tail of [[append]] and [[compact]]. `newFiles` are
    * the files THIS commit wrote (deleted again on a lost race). */
  private def commit(
      lg: SnapshotLog,
      snapId: Long,
      manifest: Manifest,
      newFiles: Seq[DataFileEntry],
      operation: String,
      committedAt: Option[Long],
      extraSummary: Map[String, String]): Snapshot = {
    // an RTAS-staged handle RESTARTS snapshot numbering (REPLACE has
    // DROP+CREATE history semantics), so its manifest-list names must
    // not collide with the published table's — qualify them with the
    // replace token. Transaction staging continues the published
    // numbering and keeps the plain names.
    val rtasTok = GraftTable.MainLog + ".rtas-"
    val manifestRel =
      if (logName.startsWith(rtasTok))
        f"manifests/snap-$snapId%05d-${logName.stripPrefix(rtasTok)}.json"
      else f"manifests/snap-$snapId%05d.json"
    // Concurrent-commit detection: claim this snapshot id via an O_EXCL
    // marker before touching the log. Two committers racing on the same
    // table dir would otherwise read-modify-write snapshots.json and
    // silently drop one commit (orphaning its data files); with the marker
    // the loser fails loudly instead.
    // Staged (transaction) commits skip the per-snapshot markers: the
    // transaction already holds this table's commit claim for its whole
    // lifetime, so no outside committer can interleave, and a marker at
    // the first staged id would collide with that very claim.
    val marker = Paths.get(dir, "manifests", f".commit-$snapId%05d")
    Files.createDirectories(marker.getParent)
    if (!txnStaged) {
      try Files.createFile(marker)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          newFiles.foreach(f => Files.deleteIfExists(Paths.get(dir, f.path)))
          throw new java.util.ConcurrentModificationException(
            s"snapshot $snapId already claimed by a concurrent committer on $dir")
      }
    }
    // Post-claim check BEFORE touching the manifest path: markers are
    // deleted after successful commits (see below), so a late claimer can
    // re-acquire snapId's marker — it must detect "the log already moved"
    // here, NOT after overwriting the winner's manifest file.
    val lg2 = log
    if (lg2.nextId != snapId) {
      newFiles.foreach(f => Files.deleteIfExists(Paths.get(dir, f.path)))
      if (!txnStaged) Files.deleteIfExists(marker)
      throw new java.util.ConcurrentModificationException(
        s"snapshot log advanced to ${lg2.nextId} during commit of $snapId on $dir")
    }
    // Positional anti-joins key on basename: writePositions proves
    // uniqueness against the manifest AT ENTRY CREATION, but a later
    // append could (with token-randomized names, astronomically unlikely)
    // reuse a pending target's basename and silently lose the wrong
    // file's rows — re-check every commit that adds files while entries
    // are pending.
    if (newFiles.nonEmpty) {
      val posJson = extraSummary.get(SummaryPositionalDeletes)
        .orElse(lg2.current.flatMap(_.summary.get(SummaryPositionalDeletes)))
        .filter(v => v.nonEmpty && v != "[]")
      val pendingBns = posJson.toSeq.flatMap(parsePositionalJson)
        .flatMap(_.targets.keys).map(baseName).toSet
      val clash = newFiles.map(f => baseName(f.path)).filter(pendingBns)
      if (clash.nonEmpty) {
        newFiles.foreach(f => Files.deleteIfExists(Paths.get(dir, f.path)))
        if (!txnStaged) Files.deleteIfExists(marker)
        throw new IllegalStateException(
          s"new data-file basename(s) ${clash.mkString(", ")} collide with " +
            s"pending positional-delete targets on $dir — retry the write " +
            "(fresh tokens) or compact() to materialize the entries first")
      }
    }
    // ROW LINEAGE (Iceberg v3 first-row-id): every NEW data file gets
    // its row-id band here — the single chokepoint all write paths
    // funnel through (streaming-sink epochs and add_files imports
    // included: their entries land in this commit's fresh segment).
    // Bands assign sequentially from the parent's `next-row-id`
    // watermark in fresh-segment entry order (stable: staged file names
    // sort, callers append deterministically); a file's rows read
    // `firstRowId + position` unless a materialized lineage column
    // overrides (rewrites carrying prior ids). Any band-less
    // fresh-segment entry is safely bandable: carried entries always
    // retain their band through the manifest JSON, so band-less means
    // either a genuinely new file or a pre-lineage file getting its
    // upgrade band (NULL → id, never id → different id; older
    // snapshots' manifests are immutable and still read NULL).
    val ridBase = lg2.current
      .flatMap(_.summary.get(SummaryNextRowId)).map(_.toLong).getOrElse(0L)
    var ridCursor = ridBase
    val manifestAssigned = manifest.mapFresh { e =>
      if (e.firstRowId.isDefined) e
      else {
        val fid = ridCursor
        ridCursor += e.recordCount
        e.copy(firstRowId = Some(fid))
      }
    }
    // write fresh segments + the manifest list; O(batch) bytes — carried
    // segments are shared by ref with ancestor snapshots. The augmented
    // schema types the segment envelopes (derived partition-key stats
    // included), so later predicate-scoped planning can skip whole
    // segments from the list alone.
    val createdSegs = manifestAssigned.write(s"$dir/$manifestRel",
      Some(PartitionField.augmentedSchema(schema, partitionFields)))

    // carried-summary inheritance (pending-deletes, stream cursors): an
    // explicit entry in extraSummary wins (deferred delete adds, compact
    // clears/reduces, rollback adopts the target's, a stream batch
    // advances its sink's cursor); otherwise the new snapshot carries its
    // parent's value forward — so the CURRENT snapshot always holds the
    // full state and expiring ancestors loses nothing. Empty values
    // ("[]"/"{}") normalize to key-absent.
    def carried(key: String): Option[String] =
      (extraSummary.get(key) match {
        case Some(v) => Some(v)
        case None => lg.current.flatMap(_.summary.get(key))
      }).filter(v => v.nonEmpty && v != "[]" && v != "{}")
    val carriedKeys = Seq(SummaryPendingDeletes, SummaryPositionalDeletes,
      SummaryEqualityDeletes, SummaryStreamCursors)
    val snap = Snapshot(
      snapshotId = snapId,
      parentId = lg2.current.map(_.snapshotId),
      committedAt = committedAt.getOrElse(System.currentTimeMillis()),
      operation = operation,
      manifestList = manifestRel,
      summary = (extraSummary -- carriedKeys - SummaryNextRowId) ++
        carriedKeys.flatMap(k => carried(k).map(k -> _)).toMap ++ Map(
        // totals from the manifest LIST's per-segment metadata — an
        // append commit never parses the carried segments' entries
        "total-data-files" -> manifest.totalFiles.toString,
        "total-records" -> manifest.totalRecords.toString,
        // the row-id watermark is MONOTONE: ids are never reused, even
        // across rollbacks (the rolled-back head's watermark carries)
        SummaryNextRowId -> ridCursor.toString))
    // append to the RE-READ log: a concurrent expireSnapshots may have
    // removed a prefix since `lg` was captured — writing the stale list
    // would resurrect expired snapshots whose files are already deleted
    try SnapshotLog(lg2.snapshots :+ snap).write(s"$dir/$logName")
    catch { case e: Throwable =>
      // unpublished commit: reclaim everything this call created (the
      // data files, the fresh segments, the manifest list, the claim)
      newFiles.foreach(f => Files.deleteIfExists(Paths.get(dir, f.path)))
      createdSegs.foreach(r => Files.deleteIfExists(Paths.get(dir, r)))
      Files.deleteIfExists(Paths.get(dir, manifestRel))
      if (!txnStaged) Files.deleteIfExists(marker)
      throw e
    }
    // claim served its purpose (the log now holds snapId, so no racer can
    // pass the nextId re-check) — delete it rather than accumulate one
    // zero-byte marker per commit forever
    if (!txnStaged) Files.deleteIfExists(marker)
    snap
  }

  /** ADMIN: remove commit-claim markers older than `olderThanMillis` ms.
    * A committer that died between claiming and writing the log leaves a
    * marker that blocks every future commit at that snapshot id (retry
    * cannot fix an abandoned claim); this is the recovery entry point.
    * Only call when no writer is live — an age threshold well above the
    * longest legitimate commit keeps it safe to automate. */
  def clearStaleClaims(olderThanMillis: Long): Seq[String] = {
    val dirP = Paths.get(dir, "manifests")
    if (!Files.exists(dirP)) return Nil
    val cutoff = System.currentTimeMillis() - olderThanMillis
    scala.util.Using.resource(Files.list(dirP)) { st =>
      st.iterator().asScala
        .filter(_.getFileName.toString.startsWith(".commit-"))
        .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
        .toSeq
    }.map { p => Files.deleteIfExists(p); p.getFileName.toString }
  }

  /** Compact small files: rewrite every data file under
    * `smallerThanBytes` into bin-packed replacements and commit the result
    * as a `"replace"` snapshot. Rows are bit-identical — only the file
    * layout changes — so [[changes]]/change feeds skip replace snapshots
    * and never re-emit rewritten rows.
    *
    * The 100 TB design point: only files BELOW the threshold are read and
    * rewritten (I/O is O(small files), not O(table)); large files are
    * carried into the new manifest untouched. Partitioned tables rewrite
    * through the same partitioned writer, so files never mix partitions.
    * Returns None (no commit) when fewer than two files qualify. */
  /** The files a compaction of `current` would rewrite: everything under
    * the size threshold, plus — regardless of size — files covered by a
    * PENDING deferred delete of any form (compact() is the
    * materialization step; a pending delete whose covered files all sit
    * above the threshold would otherwise never clear) and pre-rename/
    * pre-widening era files (compaction is also the schema-era migration
    * step — branching and the raw DSv2 path require a fully-migrated
    * table). Shared by [[compact]] and [[compactPartial]]'s group
    * planner, in manifest order. */
  private def compactCandidates(
      current: Snapshot,
      manifest: Manifest,
      smallerThanBytes: Long): Seq[DataFileEntry] = {
    val forced = compactForced(current)
    manifest.files.filter(f =>
      f.fileSizeBytes < smallerThanBytes || forced(f))
  }

  /** Whether a compaction pass MUST rewrite `f` regardless of size:
    * pending merge-on-read coverage to materialize, or a pre-rename/
    * pre-widening era to migrate. */
  private def compactForced(current: Snapshot): DataFileEntry => Boolean = {
    val pend = parsePending(current)
    val eqPend = parseEquality(current)
    val posTargets: Set[String] =
      parsePositional(current).flatMap(_.targets.keys).toSet
    f =>
      posTargets.contains(f.path) || pend.exists {
        case (covered, _) => fileSnapId(f.path).forall(_ <= covered) } ||
      eqPend.exists(e => fileSnapId(f.path).forall(_ <= e.covered)) ||
      renameAffects(f)
  }

  def compact(
      spark: SparkSession,
      smallerThanBytes: Long,
      committedAt: Option[Long] = None,
      sortBy: Seq[String] = Nil,
      targetFileBytes: Option[Long] = None,
      zorderBy: Seq[String] = Nil,
      onlyPaths: Option[Set[String]] = None,
      where: Option[Column] = None): Option[Snapshot] = {
    val lg = log
    val current = lg.current.getOrElse(return None)
    val manifest = Manifest.read(s"$dir/${current.manifestList}")
    val pend = parsePending(current)
    val posPend = parsePositional(current)
    val eqPend = parseEquality(current)
    val small0 = compactCandidates(current, manifest, smallerThanBytes)
    // `where` scopes a maintenance pass to one slice of a huge table —
    // the manifest prune keeps only files that MAY hold matching rows
    // (partition values, footer stats, transforms), so compacting
    // yesterday's partition never plans today's files. Conservative-
    // keep pruning can only WIDEN the slice (extra files compact too —
    // harmless); rows are never filtered, only whole files scoped.
    val scoped = where match {
      case None => small0
      case Some(w) =>
        val resolved = resolveAgainst(spark, schema,
          org.apache.spark.sql.classic.GraftBridge.expr(w))
        val keep = prunedFiles(manifest, resolved).map(_.path).toSet
        small0.filter(f => keep(f.path))
    }
    // onlyPaths restricts the rewrite to one planned FILE GROUP (the
    // compactPartial per-group commit); everything else — including
    // other groups' candidates — carries over untouched
    val small = onlyPaths.map(ps => scoped.filter(f => ps(f.path)))
      .getOrElse(scoped)
    val smallSet = small.map(_.path).toSet
    val big = manifest.files.filterNot(f => smallSet(f.path))
    // a single qualifying file is not worth repacking — UNLESS deferred
    // deletes are pending or a schema-era migration is due: then the
    // rewrite IS the materialization step (without this, a one-file
    // table could never clear its pending set / old eras, and
    // copy-on-write DML / branching would stay blocked forever).
    // An explicit onlyPaths group was PLANNED by compactPartial —
    // rewrite it as mandated even when it holds one file
    if (small.isEmpty ||
        (onlyPaths.isEmpty && small.size < 2 && pend.isEmpty &&
          posPend.isEmpty && eqPend.isEmpty &&
          !small.exists(renameAffects))) return None
    require(sortBy.isEmpty || zorderBy.isEmpty,
      "sortBy and zorderBy are mutually exclusive")
    (sortBy ++ zorderBy).foreach(c => require(schema.fieldNames.contains(c),
      s"sort column '$c' not in schema"))

    val snapId = lg.nextId
    val totalBytes = small.map(_.fileSizeBytes).sum
    val perFile = math.max(1L, targetFileBytes.getOrElse(smallerThanBytes))
    val targetParts = math.max(1L, totalBytes / perFile).toInt
    // rewriting MATERIALIZES any deferred deletes covering the rewritten
    // files (their rows are filtered during the repack); predicates stay
    // pending only while an untouched file they cover remains
    // lineage carry: a compaction is a pure repack — every row keeps its
    // _row_id AND its last-updated snapshot (readVisibleCarry)
    val packed = readVisibleCarry(spark, parsePending(current),
      parsePositional(current), small, parseEquality(current))
    // clustered rewrite (Iceberg sort-order analog): range-partition +
    // sort so each output file covers a DISJOINT range of the cluster key.
    // sortBy clusters lexicographically (tight min/max on the FIRST
    // column); zorderBy interleaves the columns' bits (ZOrderKey) so
    // EVERY participating column gets locality and stays prunable.
    // Unclustered compaction is a pure repack (no shuffle).
    val clusterKey: Seq[Column] =
      if (zorderBy.nonEmpty) {
        // bounds pass: one tiny agg over the repack input so the key can
        // RANGE-NORMALIZE each dimension — raw top-bit interleaving
        // degenerates to a constant key on realistic ranges (INT columns,
        // modest LONG ids) and the clustering would silently no-op
        import org.apache.spark.sql.functions.{max => fmax, min => fmin}
        val aggs = zorderBy.flatMap(c =>
          Seq(fmin(col(c).cast("long")), fmax(col(c).cast("long"))))
        val row = packed.agg(aggs.head, aggs.tail: _*).head()
        val ranges = zorderBy.indices.map { i =>
          if (row.isNullAt(2 * i)) (0L, 0L) // all-null dim: constant plane
          else (row.getLong(2 * i), row.getLong(2 * i + 1))
        }
        Seq(graft.functions.ZOrderKey
          .zorder_key_ranged(ranges, zorderBy.map(col): _*))
      } else sortBy.map(col)
    val df =
      if (clusterKey.isEmpty) packed.coalesce(targetParts)
      else packed
        .repartitionByRange(targetParts, clusterKey: _*)
        .sortWithinPartitions(clusterKey: _*)
    val newFiles = writeDataFiles(df, snapId)
    // every covered file was force-included above, so this is empty unless
    // a predicate's coverage check itself is conservative (kept for safety).
    // A conservatively-surviving entry drops its commit-time dead count:
    // part of its victims may just have been materialized by the rewrite,
    // so the recorded count is no longer trustworthy — degrade, never lie.
    val stillPending = parsePendingFull(current)
      .filter { case (covered, _, _) =>
        big.exists(f => fileSnapId(f.path).forall(_ <= covered))
      }.map { case (covered, p, _) => (covered, p, None: Option[Long]) }
    // positional entries lose their rewritten targets (those deletions
    // are now physical); by force-inclusion the strip empties every
    // entry — kept general for the same safety reason as stillPending
    val stillPositional = stripPositional(posPend, small.map(_.path).toSet)
    val stillEquality = eqPend.filter(e =>
      big.exists(f => fileSnapId(f.path).forall(_ <= e.covered)))
      .map(_.copy(dead = None))
    Some(commit(lg, snapId,
      manifest.retainPaths(big.map(_.path).toSet).append(newFiles), newFiles,
      operation = "replace", committedAt,
      extraSummary = Map(
        "rewritten-data-files" -> small.size.toString,
        "added-data-files" -> newFiles.size.toString,
        "rewritten-bytes" -> totalBytes.toString,
        SummaryPendingDeletes -> pendingJsonFull(stillPending),
        SummaryPositionalDeletes -> positionalJson(stillPositional),
        SummaryEqualityDeletes -> equalityJson(stillEquality))))
  }

  /** PARTIAL-PROGRESS compaction (the Iceberg `rewrite_data_files`
    * `partial-progress` + `max-file-group-size-bytes` analog): the
    * candidate set is planned ONCE against the current snapshot, greedily
    * bin-packed in manifest order into groups of at most
    * `maxFileGroupBytes` input bytes, and each group is rewritten and
    * committed INDEPENDENTLY — one retry-wrapped `"replace"` snapshot per
    * group, each replanned against the then-current log so concurrent
    * writers compose. The 100 TB point: one all-candidates rewrite is a
    * giant conflict window and an all-or-nothing job; per-group commits
    * bound both — a failure loses ONE group's work and every completed
    * group stays committed (rows are never lost: a failed group's files
    * simply remain in the manifest). Groups that fail do not stop later
    * groups; if any failed, the error is rethrown AFTER the sweep with
    * the committed/total counts (partial progress is still on disk).
    * Returns the committed replace snapshots in commit order. */
  def compactPartial(
      spark: SparkSession,
      smallerThanBytes: Long,
      maxFileGroupBytes: Long,
      committedAt: Option[Long] = None,
      sortBy: Seq[String] = Nil,
      targetFileBytes: Option[Long] = None,
      zorderBy: Seq[String] = Nil,
      where: Option[Column] = None): Seq[Snapshot] = {
    require(maxFileGroupBytes > 0, "maxFileGroupBytes must be positive")
    val current = log.current.getOrElse(return Nil)
    val manifest = Manifest.read(s"$dir/${current.manifestList}")
    val all = compactCandidates(current, manifest, smallerThanBytes)
    val candidates = where match {
      case None => all
      case Some(w) =>
        val resolved = resolveAgainst(spark, schema,
          org.apache.spark.sql.classic.GraftBridge.expr(w))
        val keep = prunedFiles(manifest, resolved).map(_.path).toSet
        all.filter(f => keep(f.path))
    }
    if (candidates.size < 2) // single group, single commit: delegate
      return compact(spark, smallerThanBytes, committedAt, sortBy,
        targetFileBytes, zorderBy, where = where).toSeq
    // greedy bin-pack in manifest order; a file larger than the cap
    // (force-included MoR/era candidates) forms its own group
    val packed = candidates.foldLeft(List.empty[(Long, List[DataFileEntry])]) {
      case (acc, f) => acc match {
        case (bytes, g) :: rest if bytes + f.fileSizeBytes <= maxFileGroupBytes =>
          (bytes + f.fileSizeBytes, f :: g) :: rest
        case _ => (f.fileSizeBytes, f :: Nil) :: acc
      }
    }.reverse.map(_._2.reverse)
    // a single-file group with no materialization obligation buys
    // nothing from a repack — and without this skip, a steady-state
    // table under MaxValue-threshold maintenance would re-compact its
    // files forever (a maintenance pass must reach a FIXPOINT)
    val forced = compactForced(current)
    val groups = packed.filter(g => g.size > 1 || g.exists(forced))
    if (groups.isEmpty) return Nil
    if (groups.size == 1)
      return compact(spark, smallerThanBytes, committedAt, sortBy,
        targetFileBytes, zorderBy, where = where).toSeq
    var failures = List.empty[(Int, Throwable)]
    val committed = groups.zipWithIndex.flatMap { case (g, i) =>
      try withCommitRetry() {
        // reload: each group's rewrite replans against the winner of any
        // concurrent commit (including the previous group's replace)
        GraftTable.load(dir).compact(spark, smallerThanBytes, committedAt,
          sortBy, targetFileBytes, zorderBy,
          onlyPaths = Some(g.map(_.path).toSet))
      } catch {
        case scala.util.control.NonFatal(e) =>
          failures ::= (i, e); None
      }
    }
    if (failures.nonEmpty) {
      val fs = failures.reverse
      throw new IllegalStateException(
        s"compactPartial committed ${committed.size}/${groups.size} file " +
          s"groups of $dir; failed group(s): " +
          fs.map { case (i, e) =>
            s"#$i (${String.valueOf(e.getMessage).linesIterator
              .take(1).mkString.take(200)})" }.mkString("; ") +
          " — their files remain unrewritten; completed groups stay " +
          "committed", fs.head._2)
    }
    committed
  }

  /** ADMIN: re-shard the current snapshot's manifest into segments of
    * ~`targetFiles` entries each (Iceberg's `rewrite_manifests`): after a
    * long small-commit history this bounds per-scan segment-read count
    * without touching a data byte. The automatic coalescing on commit
    * ([[Manifest.coalesceSmall]]) keeps lists loosely bounded; this is
    * the explicit, tighter form for maintenance windows. Commits a
    * `"replace"` snapshot — the file set is bit-identical, so change
    * feeds skip it. No-op (None) when the manifest is already at most
    * this coarse. */
  def rewriteManifests(
      targetFiles: Int = Manifest.coalesceSmallFiles,
      committedAt: Option[Long] = None): Option[Snapshot] = {
    require(targetFiles > 0, "targetFiles must be positive")
    val lg = log
    val current = lg.current.getOrElse(return None)
    val manifest = Manifest.read(s"$dir/${current.manifestList}")
    val grouped = manifest.files.grouped(targetFiles)
      .map(g => ManifestSegment.fresh(g)).toVector
    if (manifest.segments.size <= grouped.size) return None
    Some(commit(lg, lg.nextId, new Manifest(grouped), Nil,
      operation = "replace", committedAt,
      extraSummary = Map(
        "rewritten-manifest-segments" ->
          s"${manifest.segments.size}->${grouped.size}")))
  }

  /** ANALYZE — per-column NDV (number-of-distinct-values) statistics for
    * the cost-based optimizer (Iceberg's `ANALYZE TABLE` / puffin-sketch
    * analog): one distributed pass sketches every requested column with
    * a mergeable DataSketches HLL (`hll_sketch_agg`, KB-sized driver
    * state per column at any SF) and stores the sketch + its estimate in
    * table properties, where [[GraftV2Table]]'s scan statistics pick the
    * NDVs up for join-reorder/broadcast decisions.
    *
    * INCREMENTAL by construction: a re-analyze after appends sketches
    * only the files committed since the last analyzed snapshot and
    * UNIONS the batch sketch with the stored one — O(batch) I/O for the
    * nightly-append shape, never a full-corpus rescan. Values are
    * sketched as their string form (HLL input typing; injective for
    * atomic types). The stored NDV is an UPPER bound of the current
    * table's (deletes/rewrites never shrink a union) — the safe
    * direction for CBO, which only needs the magnitude. */
  def analyze(
      spark: SparkSession,
      columns: Seq[String] = Nil): GraftTable = {
    import org.apache.spark.sql.functions.{hll_sketch_agg, hll_sketch_estimate, hll_union, lit}
    val current = log.current.getOrElse(return this)
    val cols =
      if (columns.nonEmpty) columns
      else schema.fields.collect {
        // scalar columns only: complex types have no meaningful single
        // NDV, and binary→string casts are lossy
        case f if !f.dataType.isInstanceOf[StructType] &&
            !f.dataType.isInstanceOf[ArrayType] &&
            !f.dataType.isInstanceOf[MapType] &&
            f.dataType != BinaryType =>
          f.name
      }.toSeq
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"unknown column '$c'"))
    val manifest = Manifest.read(s"$dir/${current.manifestList}")
    val b64 = java.util.Base64.getEncoder
    val d64 = java.util.Base64.getDecoder
    // the sketch AND its coverage gate are PER COLUMN: a global gate
    // would let analyzing a SUBSET advance the watermark past files
    // other columns never sketched (silent permanent undercount). A
    // column's incremental pass covers files newer than ITS recorded
    // snapshot; no sketch, or a sketch without a recorded snapshot
    // (legacy) ⇒ the whole file list (union stays an upper bound).
    val prior: Map[String, Array[Byte]] = cols.flatMap(c =>
      properties.get(s"$PropStatsSketchPrefix$c")
        .map(s => c -> d64.decode(s))).toMap
    val upToByCol: Map[String, Option[Long]] = cols.map(c =>
      c -> properties.get(s"$PropStatsSnapPrefix$c")
        .flatMap(_.toLongOption).filter(_ => prior.contains(c))).toMap
    def sketch(files: Seq[DataFileEntry], over: Seq[String])
        : Map[String, Array[Byte]] =
      if (files.isEmpty || over.isEmpty) Map.empty
      else {
        val df = readFiles(spark, files)
        val aggs = over.map(c => hll_sketch_agg(col(c).cast("string")).as(c))
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        over.zipWithIndex.collect {
          case (c, i) if !row.isNullAt(i) => c -> row.getAs[Array[Byte]](i)
        }.toMap
      }
    // one scan pass per DISTINCT watermark (typically one or two)
    val batch: Map[String, Array[Byte]] =
      cols.groupBy(upToByCol).flatMap { case (upTo, cs) =>
        val files = upTo match {
          case Some(u) => manifest.files.filter(f =>
            fileSnapId(f.path).forall(_ > u))
          case None => manifest.files
        }
        sketch(files, cs)
      }
    // ONE driver-local job for every merge + estimate (each is a
    // KB-sized sketch op — per-column jobs would be pure launch
    // overhead on a wide table)
    val mergedByCol: Seq[(String, Column, Column)] = cols.flatMap { c =>
      val m: Option[Column] = (prior.get(c), batch.get(c)) match {
        case (Some(p), Some(b)) => Some(hll_union(lit(p), lit(b)))
        case (_, Some(b)) => Some(lit(b))
        case (Some(p), None) => Some(lit(p))
        case (None, None) => None
      }
      m.map(col => (c, col, hll_sketch_estimate(col)))
    }
    val updates: Map[String, String] =
      if (mergedByCol.isEmpty) Map.empty
      else {
        val exprs = mergedByCol.flatMap { case (_, m, e) => Seq(m, e) }
        val row = spark.range(1).select(exprs: _*).head()
        mergedByCol.zipWithIndex.flatMap { case ((c, _, _), i) =>
          Seq(
            s"$PropStatsSketchPrefix$c" ->
              b64.encodeToString(row.getAs[Array[Byte]](2 * i)),
            s"$PropStatsNdvPrefix$c" -> row.getLong(2 * i + 1).toString)
        }.toMap
      }
    updateProperties(updates ++
      cols.map(c => s"$PropStatsSnapPrefix$c" ->
        current.snapshotId.toString),
      // pre-per-column tables carried one global watermark — dead now
      removals = Set("graft.stats.analyzed-snapshot"))
  }

  /** Analyzed per-column NDV estimates ([[analyze]]), by column name. */
  def columnNdv: Map[String, Long] = properties.collect {
    case (k, v) if k.startsWith(PropStatsNdvPrefix) &&
        v.trim.forall(_.isDigit) =>
      k.stripPrefix(PropStatsNdvPrefix) -> v.trim.toLong
  }

  /** Copy-on-write DELETE: rewrite only the files that MAY contain
    * matching rows (manifest pruning picks the candidates), keeping the
    * non-matching rows; untouched files carry over. Commits a `"delete"`
    * snapshot — time travel to earlier snapshots still sees the deleted
    * rows; [[changes]] skips delete snapshots (no retraction rows in an
    * append-only feed). I/O is O(candidate files), not O(table): a
    * predicate on a clustered/partitioned key touches only its slice.
    * Returns None when no file can match (nothing to do, no commit). */
  def delete(
      spark: SparkSession,
      predicate: Column,
      committedAt: Option[Long] = None): Option[Snapshot] = {
    val lg = log
    val current = lg.current.getOrElse(return None)
    val resolved = resolveAgainst(spark, schema,
      org.apache.spark.sql.classic.GraftBridge.expr(predicate))
    require(!resolved.references.exists(_.name.equalsIgnoreCase(virtualColumn)),
      s"delete predicate cannot reference the virtual column $virtualColumn")
    val manifest = Manifest.read(s"$dir/${current.manifestList}")
    val (candidates, untouchedM) = partitionPruned(manifest, resolved)
    if (candidates.isEmpty) return None

    val snapId = lg.nextId
    // METADATA-ONLY DROP fast path: a candidate file whose stats PROVE
    // every row matches the predicate (Pruning.mustMatchAll — same
    // augmented predicate/schema the keep-side pruning walks, so
    // identity partition values and transform-derived keys both prove)
    // is removed from the manifest without reading a byte. Deleting a
    // whole day/tenant/bucket slice at 100 TB is then a manifest edit;
    // only genuinely partial files pay the rewrite.
    // proofAugment weaves strict derived-key bounds into each conjunct
    // (row-wise equivalent), so a days()/truncate() slice proves from its
    // partition stats even when footer stats can't carry the proof
    val proofPred = PartitionField.proofAugment(resolved, partitionFields)
    val augSchema = PartitionField.augmentedSchema(schema, partitionFields)
    val (dropped0, rewrites0) =
      candidates.partition(f => Pruning.mustMatchAll(proofPred, f, augSchema))
    // pending EQUALITY and PREDICATE-deferred entries compose:
    // survivors are read through the full visible-row reader (a row
    // another form already hides is never copied — the rewrite
    // MATERIALIZES the tombstones/filters for its files), and a
    // whole-file drop of a COVERED file demotes to a rewrite (same
    // scoped demotion as deletePositional — dropping it would break the
    // entries' count bookkeeping). Touched entries degrade their dead
    // counts (degradeEqualityFor / degradePendingFor).
    val eqPend = parseEquality(current)
    val pendFull = parsePendingFull(current)
    val pend = pendFull.map(e => (e._1, e._2))
    val (dropped, rewrites) =
      if (eqPend.isEmpty && pend.isEmpty) (dropped0, rewrites0)
      else {
        val (coverable, freeDrop) = dropped0.partition { f =>
          val fsn = fileSnapId(f.path).getOrElse(Long.MinValue)
          eqPend.exists(e => fsn <= e.covered) ||
            pend.exists { case (covered, _) => fsn <= covered }
        }
        (freeDrop, coverable ++ rewrites0)
      }
    // SQL DELETE removes only rows where the predicate is TRUE; a NULL
    // predicate (e.g. over a column added by addColumn, NULL for old rows)
    // must KEEP the row — plain !predicate maps NULL→NULL and filter drops
    // it, silently deleting rows the predicate never matched.
    // Pending POSITIONAL deletes compose: the rewrite reads candidates
    // through the visible-row reader (their dead positions stay dead),
    // and rewritten/dropped files leave the positional entries — their
    // deletions are materialized by this commit.
    val posPend = parsePositional(current)
    val priorDeleted: Map[String, Long] =
      posPend.flatMap(_.targets).groupMapReduce(_._1)(_._2)(_ + _)
    val newFiles =
      if (rewrites.isEmpty) Nil
      else writeDataFiles(
        readVisibleCarry(spark, pend, posPend, rewrites, eqPend)
          .filter(org.apache.spark.sql.functions.coalesce(
            !predicate, org.apache.spark.sql.functions.lit(true))),
        snapId).filter(_.recordCount > 0) // drop empty rewrite outputs
    // visible rows removed: candidates' SURVIVOR counts minus what the
    // rewrite kept (rows already positionally dead don't count twice);
    // under pending equality/predicate entries the per-file split of
    // their dead rows is unknown — one count job over the candidates'
    // visible rows keeps the summary honest (only paid while entries
    // pend)
    val removed =
      (if (eqPend.isEmpty && pend.isEmpty)
        candidates.map(f =>
          f.recordCount - priorDeleted.getOrElse(f.path, 0L)).sum
      else readVisible(spark, pend, posPend, candidates, eqPend).count()) -
      newFiles.map(_.recordCount).sum
    val stillPositional =
      stripPositional(posPend, candidates.map(_.path).toSet)
    Some(commit(lg, snapId,
      untouchedM.append(newFiles),
      newFiles,
      operation = "delete", committedAt,
      extraSummary = Map(
        "deleted-records" -> removed.toString,
        "dropped-data-files" -> dropped.size.toString,
        "rewritten-data-files" -> rewrites.size.toString,
        SummaryPendingDeletes ->
          pendingJsonFull(degradePendingFor(pendFull, candidates)),
        SummaryPositionalDeletes -> positionalJson(stillPositional),
        SummaryEqualityDeletes ->
          equalityJson(degradeEqualityFor(eqPend, candidates)))))
  }

  /** Copy-on-write DELETE BY KEYS (the SQL
    * `DELETE FROM t WHERE k IN (SELECT …)` shape — a dedup or
    * decontamination job's loser set applied to the table): candidate
    * files are pruned by the key DataFrame's first-key bounds (two
    * driver scalars, like [[merge]]/[[deletePositionalByKeys]]), their
    * visible rows anti-joined against the distinct key tuples, and the
    * survivors rewritten in one atomic `"delete"` commit; files outside
    * the key range — and whole segments, via the manifest-list envelope
    * — carry over by ref. Null key tuples match nothing (SQL IN
    * semantics: `k IN (…)` is never TRUE for a null `k` or null list
    * row). Pending merge-on-read state of every form composes exactly
    * as in [[delete]]. The positional sibling
    * ([[deletePositionalByKeys]]) writes O(victims) instead of
    * rewriting candidate files — this form is the rewrite-now spelling
    * SQL DELETE defaults to on copy-on-write tables. Returns None when
    * no file can hold a matching key. */
  def deleteByKeys(
      spark: SparkSession,
      keys: DataFrame,
      keyCols: Seq[String],
      committedAt: Option[Long] = None): Option[Snapshot] = {
    import org.apache.spark.sql.functions.{max => fmax, min => fmin}
    require(keyCols.nonEmpty, "at least one key column required")
    keyCols.foreach(c => require(schema.fieldNames.contains(c),
      s"unknown key column '$c'"))
    keyCols.foreach(c => require(keys.columns.contains(c),
      s"keys DataFrame lacks column '$c'"))
    val lg = log
    val current = lg.current.getOrElse(return None)
    val manifest = Manifest.read(s"$dir/${current.manifestList}")
    val k0 = keyCols.head
    val bounds = keys.agg(fmin(col(k0)), fmax(col(k0))).head()
    if (bounds.isNullAt(0)) return None // no non-null keys: nothing matches
    val rangePred = resolveAgainst(spark, schema,
      org.apache.spark.sql.classic.GraftBridge.expr(
        col(k0) >= lit(bounds.get(0)) && col(k0) <= lit(bounds.get(1))))
    val (candidates, untouchedM) = partitionPruned(manifest, rangePred)
    if (candidates.isEmpty) return None
    val snapId = lg.nextId
    val posPend = parsePositional(current)
    val eqPend = parseEquality(current)
    val pendFull = parsePendingFull(current)
    val pend = pendFull.map(e => (e._1, e._2))
    val priorDeleted: Map[String, Long] =
      posPend.flatMap(_.targets).groupMapReduce(_._1)(_._2)(_ + _)
    val P = GraftTable.MergeSrcPrefix
    val keySel = keys
      .select(keyCols.map(c => col(c).cast(schema(c).dataType).as(P + c)): _*)
      .distinct()
    val carried = readVisibleCarry(spark, pend, posPend, candidates, eqPend)
    val survivors = carried
      .join(keySel,
        keyCols.map(c => col(c) === col(P + c)).reduce(_ && _), "left_anti")
      .select(carried.columns.map(col): _*) // schema + any lineage carry
    val newFiles = writeDataFiles(survivors, snapId)
      .filter(_.recordCount > 0)
    val removed =
      (if (eqPend.isEmpty && pend.isEmpty)
        candidates.map(f =>
          f.recordCount - priorDeleted.getOrElse(f.path, 0L)).sum
      else readVisible(spark, pend, posPend, candidates, eqPend).count()) -
      newFiles.map(_.recordCount).sum
    val stillPositional =
      stripPositional(posPend, candidates.map(_.path).toSet)
    Some(commit(lg, snapId,
      untouchedM.append(newFiles),
      newFiles,
      operation = "delete", committedAt,
      extraSummary = Map(
        "deleted-records" -> removed.toString,
        "rewritten-data-files" -> candidates.size.toString,
        SummaryPendingDeletes ->
          pendingJsonFull(degradePendingFor(pendFull, candidates)),
        SummaryPositionalDeletes -> positionalJson(stillPositional),
        SummaryEqualityDeletes ->
          equalityJson(degradeEqualityFor(eqPend, candidates)))))
  }

  /** Predicate COUNT with metadata acceleration — the other consumer of
    * the [[Pruning.mustMatchAll]] proof: files provably ALL-matching
    * contribute their manifest record counts, files that cannot match
    * contribute zero, and only the uncertain remainder is scanned. A
    * partition-aligned count at 100 TB (rows per day/tenant/bucket) is
    * then metadata-only, like the unconditional `count(*)`. Counts rows
    * where the predicate is TRUE (SQL semantics — NULL rows don't
    * count). Refuses while deferred deletes are pending (their residual
    * filters would falsify the manifest counts). */
  def countWhere(
      spark: SparkSession,
      predicate: Column,
      snapshotId: Option[Long] = None): Long = {
    val s = resolveSnapshot(snapshotId).getOrElse(return 0L)
    val resolved = resolveAgainst(spark, schema,
      org.apache.spark.sql.classic.GraftBridge.expr(predicate))
    require(!resolved.references.exists(_.name.equalsIgnoreCase(virtualColumn)),
      s"countWhere predicate cannot reference $virtualColumn")
    val manifest = Manifest.read(s"$dir/${s.manifestList}")
    val candidates = prunedFiles(manifest, resolved)
    val proofPred = PartitionField.proofAugment(resolved, partitionFields)
    val augSchema = PartitionField.augmentedSchema(schema, partitionFields)
    val eqPend = parseEquality(s)
    val pend = parsePending(s)
    // positional deletes keep the metadata path EXACT: a proved file
    // contributes its survivors (all of which match), and the scanned
    // remainder reads through the visible-row reader. EQUALITY and
    // PREDICATE-deferred entries make per-file metadata counts
    // unknowable (their dead rows' split across files isn't recorded) —
    // files any entry may cover DEMOTE to the scan side; files beyond
    // every entry's reach keep the fast path
    val (proved, toScan) = candidates.partition { f =>
      val fsn = fileSnapId(f.path).getOrElse(Long.MinValue)
      Pruning.mustMatchAll(proofPred, f, augSchema) &&
        !eqPend.exists(e => fsn <= e.covered) &&
        !pend.exists { case (covered, _) => fsn <= covered }
    }
    val posPend = parsePositional(s)
    val priorDeleted: Map[String, Long] =
      posPend.flatMap(_.targets).groupMapReduce(_._1)(_._2)(_ + _)
    val metadataCount = proved.map(f =>
      f.recordCount - priorDeleted.getOrElse(f.path, 0L)).sum
    val scanned =
      if (toScan.isEmpty) 0L
      else readVisible(spark, pend, posPend, toScan, eqPend)
        .filter(predicate).count()
    metadataCount + scanned
  }

  /** DEFERRED (merge-on-read) DELETE: commit the PREDICATE, not a
    * rewrite. The commit is metadata-only — O(1) I/O regardless of how
    * many files hold matching rows — and every subsequent read applies
    * the predicate as a residual filter, scoped to the files that existed
    * at delete time (rows appended later are never affected; the
    * sequence-scoping discipline of Iceberg v2 equality deletes). This is
    * the 100 TB trade against copy-on-write [[delete]]: commit cost moves
    * from O(matching files) rewrite to O(1), read cost gains one codegen'd
    * filter until [[compact]] materializes the deletes and clears them.
    *
    * Interactions:
    *  - COMPOSES with pending positional and equality entries (the full
    *    Iceberg-v2-style MoR matrix): the dead count runs over rows
    *    visible under every pending form, so the forms' dead sets stay
    *    disjoint and count(*)/stats add exactly while they stack;
    *  - copy-on-write [[delete]]/[[update]]/[[merge]] compose too:
    *    rewrites read survivors through the visible-row reader (a
    *    predicate-dead row is never resurrected — the rewrite
    *    materializes the filter for its files), covered whole-file
    *    drops demote to rewrites, and touched entries degrade their
    *    dead counts to None ([[degradePendingFor]] — degrade, never
    *    lie);
    *  - [[changes]]/change feeds already document removals as
    *    out-of-scope (additive feeds); [[changesCdc]] emits the exact
    *    per-entry retractions;
    *  - the plain DSv2 catalog surface refuses pending-delete tables
    *    (it delegates raw file lists to the parquet source);
    *    GraftExtensions sessions splice the visible-rows plan.
    *
    * Returns None on an empty table. */
  def deleteDeferred(
      spark: SparkSession,
      predicate: Column,
      committedAt: Option[Long] = None,
      exactCount: Boolean = true): Option[Snapshot] = {
    val lg = log
    val current = lg.current.getOrElse(return None)
    val resolved = resolveAgainst(spark, schema,
      org.apache.spark.sql.classic.GraftBridge.expr(predicate))
    require(!resolved.references.exists(_.name.equalsIgnoreCase(virtualColumn)),
      s"delete predicate cannot reference the virtual column $virtualColumn")
    // the stored form must survive a SQL round-trip (it is re-parsed at
    // every read); foreachup guard: re-resolve and fail loudly now, not
    // at first scan
    val sql = resolved.sql
    resolveAgainst(spark, schema,
      org.apache.spark.sql.classic.GraftBridge.expr(
        org.apache.spark.sql.functions.expr(sql)))
    val manifest = Manifest.read(s"$dir/${current.manifestList}")
    manifest.files.foreach(f => require(fileSnapId(f.path).isDefined,
      s"cannot scope a deferred delete: data file ${f.path} is from a " +
        "branch era (fork/publish) whose snapshot ids belong to another " +
        "table's sequence — compact() first to re-own the files"))
    // same short-circuit as copy-on-write delete(): when stats/blooms
    // prove NO file can hold a matching row, don't commit — a pending
    // predicate taxes every later read and blocks CoW DML until a
    // compaction, a real cost for a provable no-op
    val candidates = prunedFiles(manifest, resolved)
    if (candidates.isEmpty) return None
    // exact dead-row count (default): ONE bounds-pruned count job over
    // the candidate files, prior pending entries applied, so
    // `count(*)`/stats stay metadata-only while the entry pends. Covered
    // files are immutable, so the count recorded at commit never drifts.
    // `exactCount = false` keeps the pure metadata-only O(1) commit;
    // counts then degrade to scans until compaction.
    // COMPOSES with pending positional and equality entries: the dead
    // count runs over rows visible under EVERY pending form, so a row
    // another form already hides is never counted twice and
    // count(*)/stats stay exact by addition while the forms stack
    val prior = parsePendingFull(current)
    val dead: Option[Long] =
      if (!exactCount) None
      else Some(readVisible(spark, prior.map(e => (e._1, e._2)),
        parsePositional(current), candidates, parseEquality(current))
        .filter(predicate).count())
    if (dead.contains(0L)) return None // provably nothing to delete
    val snapId = lg.nextId
    val pend = prior :+ ((current.snapshotId, sql, dead))
    Some(commit(lg, snapId, manifest, Nil,
      operation = "delete", committedAt,
      extraSummary = Map(
        "deferred" -> "true",
        SummaryPendingDeletes -> pendingJsonFull(pend))))
  }

  /** EQUALITY merge-on-read DELETE (Iceberg v2 equality-delete files):
    * the victim KEY TUPLES are written as a small parquet under
    * `deletes/` and the commit is done — O(keys) I/O, no candidate scan,
    * no position computation: the cheapest delete commit there is, the
    * shape for high-frequency key retractions (GDPR erasure queues, CDC
    * tombstones) at 100 TB. Every read anti-joins the covered files
    * against the key file until [[compact]] materializes; like the
    * predicate-deferred form the entry is SCOPED to files written at
    * snapshot ≤ commit time, so re-inserting a deleted key later works.
    * Stacked commits CONSOLIDATE ([[consolidateEqKeys]]): each commit
    * folds its keys with every prior same-key-column entry into ONE key
    * parquet (rows tagged per-commit for exact scoping), so read cost is
    * one anti-join per key-column set however deep the debt.
    *
    * Trade-offs versus the siblings: [[deletePositionalByKeys]] pays a
    * candidate scan at delete time and buys back join-free reads for
    * untouched files and exact counts; this form's commit pays only the
    * key write plus (by default) one bounds-pruned count job, and taxes
    * every covered-file read. Null key tuples match nothing (SQL join
    * semantics). The default `exactCount = true` records the entry's
    * exact dead-row count so `count(*)`/stats stay metadata-exact while
    * pending; `exactCount = false` restores the pure O(keys) commit and
    * degrades counts to the scan fallback.
    * COMPOSES with pending positional AND predicate-deferred entries
    * (the full MoR matrix): the dead count is taken against rows
    * visible under every other pending form, so the forms' dead sets
    * stay disjoint and counts add exactly. Refused on branch-era files
    * and by branching / raw DSv2 while pending.
    * Returns None for an empty key set. */
  def deleteEquality(
      spark: SparkSession,
      keys: DataFrame,
      keyCols: Seq[String],
      committedAt: Option[Long] = None,
      exactCount: Boolean = true): Option[Snapshot] = {
    val lg = log
    val current = lg.current.getOrElse(return None)
    require(keyCols.nonEmpty, "at least one key column required")
    keyCols.foreach(c => require(schema.fieldNames.contains(c),
      s"unknown key column '$c'"))
    keyCols.foreach(c => require(keys.columns.contains(c),
      s"keys DataFrame lacks column '$c'"))
    keyCols.foreach { c =>
      val kt = keys.schema(c).dataType
      require(kt == schema(c).dataType,
        s"key column '$c' is ${kt.sql}, table expects " +
          s"${schema(c).dataType.sql} (cast explicitly — the key file is " +
          "read back under the table schema)")
    }
    val manifest = Manifest.read(s"$dir/${current.manifestList}")
    manifest.files.foreach(f => require(fileSnapId(f.path).isDefined,
      s"cannot scope an equality delete: data file ${f.path} is from a " +
        "branch era whose snapshot ids belong to another table's " +
        "sequence — compact() first to re-own the files"))
    val snapId = lg.nextId
    val token = java.util.UUID.randomUUID().toString.take(8)
    val newStaging = s"$dir/.staging-eq-$snapId-$token"
    try keys.select(keyCols.map(col): _*).distinct()
      .write.mode("overwrite").parquet(newStaging)
    catch { case e: Throwable =>
      GraftTable.deleteRecursively(Paths.get(newStaging)); throw e
    }
    val keySchema = StructType(keyCols.map(c => schema(c)).toArray)
    val newKeys = spark.read.schema(keySchema).parquet(newStaging)
    val nKeys = newKeys.count()
    if (nKeys == 0L) {
      GraftTable.deleteRecursively(Paths.get(newStaging))
      return None
    }
    val prior = parseEquality(current)
    // dead of the NEW keys ONLY (consolidation must not re-count prior
    // entries' victims — their dead counts carry into the merged entry)
    val deadNew =
      try equalityDeadCount(spark, exactCount, manifest, newKeys,
        keyCols, prior, parsePositional(current), parsePending(current))
      catch { case e: Throwable =>
        GraftTable.deleteRecursively(Paths.get(newStaging)); throw e
      }
    val (rels, covsAll, samePrior, otherPrior) =
      try consolidateEqKeys(spark, newStaging, keyCols, keySchema, prior,
        current.snapshotId, snapId, token)
      finally GraftTable.deleteRecursively(Paths.get(newStaging))
    val dead =
      if (deadNew.isDefined && samePrior.forall(_.dead.isDefined))
        Some(deadNew.get + samePrior.flatMap(_.dead).sum)
      else None
    val entries = otherPrior :+
      EqualityDeletes(rels, keyCols, current.snapshotId, dead, covsAll)
    try Some(commit(lg, snapId, manifest, Nil,
      operation = "delete", committedAt,
      extraSummary = Map(
        "equality" -> "true",
        "equality-key-rows" -> nKeys.toString,
        SummaryEqualityDeletes -> equalityJson(entries))))
    catch { case e: Throwable =>
      rels.foreach(r => Files.deleteIfExists(Paths.get(dir, r)))
      throw e
    }
  }

  /** COMMIT-TIME CONSOLIDATION of equality-delete keys (the deletion-
    * vector discipline applied to the equality side): the freshly staged
    * key tuples (at `newStaging`, keyCols under table types) merge with
    * every PRIOR entry of the same key-column set into ONE key parquet,
    * each row tagged with the snapshot its commit covered
    * ([[GraftTable.EqCovCol]] — per-row scoping, so folding never widens
    * an old commit's reach to newer files). Reads then pay ONE anti-join
    * per key-column set regardless of stacking depth; legacy untagged
    * entries fold with their wholesale covered snapshot as the constant
    * tag. O(total pending keys) I/O per commit — key relations are
    * metadata-class, never data-class. Prior entries' files stay on disk
    * for the ancestor snapshots that reference them (expire reclaims).
    * Returns (published rels, consolidated covering snapshots,
    * same-cols prior entries, other-cols prior entries). */
  private def consolidateEqKeys(
      spark: SparkSession,
      newStaging: String,
      keyCols: Seq[String],
      keySchema: StructType,
      prior: Seq[EqualityDeletes],
      coveredAt: Long,
      snapId: Long,
      token: String)
      : (Seq[String], Seq[Long], Seq[EqualityDeletes], Seq[EqualityDeletes]) = {
    val (samePrior, otherPrior) = prior.partition(_.cols == keyCols)
    val newTagged = spark.read.schema(keySchema).parquet(newStaging)
      .withColumn(GraftTable.EqCovCol, lit(coveredAt))
    val merged = samePrior.map(e => readEqKeysTagged(spark, e))
      .foldLeft(newTagged)(_ unionByName _)
    val staging = s"$dir/.staging-eqc-$snapId-$token"
    try merged.write.mode("overwrite").parquet(staging)
    catch { case e: Throwable =>
      GraftTable.deleteRecursively(Paths.get(staging)); throw e
    }
    Files.createDirectories(Paths.get(dir, "deletes"))
    val staged = scala.util.Using.resource(Files.list(Paths.get(staging))) {
      s => s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.toString)
    }
    val rels = staged.zipWithIndex.map { case (src, i) =>
      val rel = f"deletes/eq-$snapId%05d-$token-$i%05d.parquet"
      Files.move(src, Paths.get(dir, rel), StandardCopyOption.REPLACE_EXISTING)
      rel
    }
    GraftTable.deleteRecursively(Paths.get(staging))
    val covs = (samePrior.flatMap(_.covs) :+ coveredAt).distinct.sorted
    (rels, covs, samePrior, otherPrior)
  }

  /** MERGE-ON-READ UPSERT by key — the O(source) merge: ONE commit pairs
    * an equality-delete entry (the source's key tuples, superseding every
    * older copy) with the appended source rows. Nothing else is read or
    * written — where copy-on-write [[merge]] rewrites every candidate
    * file, this writes exactly the batch, which is the continuous
    * CDC-ingest shape at 100 TB (upsert streams land as appends + key
    * tombstones; compaction amortizes the read-side anti-join away).
    *
    * Semantics match [[merge]]: source rows replace same-key rows, new
    * keys append, duplicate keys WITHIN the source all insert, null-key
    * source rows append without replacing anything. The entry is scoped
    * to pre-commit files, so the source's own rows are never hidden.
    * Stacks freely on prior equality entries AND on pending positional
    * and predicate-deferred entries (the CDC-mirror + curation-job
    * composition); refused on branch-era files. */
  /** Exact victim count of a NEW equality entry: rows of the covered
    * manifest visible under the `prior` entries whose key tuple appears
    * in the new entry's key files. Candidates are bounds-pruned on the
    * first key column (one tiny agg over the key files — metadata-class
    * driver state), so the count job reads O(candidate files), never the
    * table. `exact = false` skips the job entirely (dead = None; stats
    * degrade to the scan fallback until compaction). */
  private def equalityDeadCount(
      spark: SparkSession,
      exact: Boolean,
      manifest: Manifest,
      keySel: DataFrame,
      keyCols: Seq[String],
      prior: Seq[EqualityDeletes],
      posPend: Seq[PositionalDeletes],
      pend: Seq[(Long, String)] = Nil): Option[Long] = {
    import org.apache.spark.sql.functions.{max => fmax, min => fmin}
    if (!exact) return None
    val k0 = keyCols.head
    val b = keySel.agg(fmin(col(k0)), fmax(col(k0))).head()
    if (b.isNullAt(0)) return Some(0L) // all-null keys match nothing
    val rangePred = resolveAgainst(spark, schema,
      org.apache.spark.sql.classic.GraftBridge.expr(
        col(k0) >= lit(b.get(0)) && col(k0) <= lit(b.get(1))))
    val candidates = prunedFiles(manifest, rangePred)
    if (candidates.isEmpty) return Some(0L)
    // count against rows visible under PRIOR entries of every pending
    // form (deletion vectors and predicate-deferred filters included):
    // an already-dead row is never a new entry's victim, so the
    // per-form dead sets stay disjoint and count(*)/stats remain exact
    // by addition while forms stack
    Some(readVisible(spark, pend, posPend, candidates, prior)
      .join(keySel, keyCols.toSeq, "left_semi").count())
  }

  def mergeEquality(
      spark: SparkSession,
      source: DataFrame,
      keyCols: Seq[String],
      committedAt: Option[Long] = None,
      exactCount: Boolean = true,
      deleteKeys: Option[DataFrame] = None,
      cursor: Option[(String, Long)] = None): Option[Snapshot] = {
    val lg = log
    val current = lg.current.getOrElse(
      throw new IllegalArgumentException(
        s"$dir has no snapshot — append() the initial data first"))
    // exactly-once streaming upserts: a (sinkId, batchId) cursor rides
    // THE SAME commit as the tombstone+append, so a foreachBatch replay
    // after a crash can skip the whole batch (the appendStreamBatch
    // discipline, atomic with the MoR upsert instead of a second commit)
    cursor.foreach { case (sinkId, _) =>
      require(sinkId.nonEmpty, "sinkId must be non-empty") }
    if (cursor.exists { case (sinkId, batchId) =>
        streamCursors.get(sinkId).exists(_ >= batchId) })
      return None
    require(keyCols.nonEmpty, "at least one key column required")
    keyCols.foreach(c => require(schema.fieldNames.contains(c),
      s"unknown key column '$c'"))
    require(source.columns.sorted.toSeq == schema.fieldNames.sorted.toSeq,
      s"source columns [${source.columns.sorted.mkString(",")}] must match " +
        s"table schema [${schema.fieldNames.sorted.mkString(",")}] of $dir")
    val manifest = Manifest.read(s"$dir/${current.manifestList}")
    manifest.files.foreach(f => require(fileSnapId(f.path).isDefined,
      s"cannot scope a merge-on-read upsert: data file ${f.path} is from " +
        "a branch era — compact() first to re-own the files"))
    deleteKeys.foreach(dk => keyCols.foreach(c =>
      require(dk.columns.contains(c), s"deleteKeys lacks key column '$c'")))
    val snapId = lg.nextId
    val newFiles = writeDataFiles(source, snapId).filter(_.recordCount > 0)
    if (newFiles.isEmpty && deleteKeys.isEmpty)
      return None // empty source: no upsert, no entry
    // key file: the distinct non-null-free key tuples of the source's
    // upsert rows plus (conditional MERGE with DELETE actions) the
    // explicit extra victim keys — one tombstone entry covers both
    val keyTuples = {
      val srcKeys = source.select(keyCols.map(col): _*)
      deleteKeys match {
        case Some(dk) => srcKeys.unionByName(
          dk.select(keyCols.map(c => col(c).cast(schema(c).dataType).as(c)): _*))
        case None => srcKeys
      }
    }
    val token = java.util.UUID.randomUUID().toString.take(8)
    val newStaging = s"$dir/.staging-eq-$snapId-$token"
    try keyTuples.distinct()
      .write.mode("overwrite").parquet(newStaging)
    catch { case e: Throwable =>
      newFiles.foreach(f => Files.deleteIfExists(Paths.get(dir, f.path)))
      GraftTable.deleteRecursively(Paths.get(newStaging)); throw e
    }
    val keySchema = StructType(keyCols.map(c => schema(c)).toArray)
    val newKeys = spark.read.schema(keySchema).parquet(newStaging)
    // a conditional merge can reduce to no upserts AND no victims —
    // don't commit an entry whose empty tombstone would tax every read
    // (the count is parquet-footer metadata, not a scan)
    if (newFiles.isEmpty && newKeys.count() == 0L) {
      GraftTable.deleteRecursively(Paths.get(newStaging))
      return None
    }
    val prior = parseEquality(current)
    // counted over the PRE-merge manifest (the tombstone covers files ≤
    // current.snapshotId, so the freshly-written source files are never
    // its victims), NEW keys only — prior entries' dead counts carry
    val deadNew =
      try equalityDeadCount(spark, exactCount, manifest, newKeys, keyCols,
        prior, parsePositional(current), parsePending(current))
      catch { case e: Throwable =>
        newFiles.foreach(f => Files.deleteIfExists(Paths.get(dir, f.path)))
        GraftTable.deleteRecursively(Paths.get(newStaging)); throw e
      }
    val (rels, covsAll, samePrior, otherPrior) =
      try consolidateEqKeys(spark, newStaging, keyCols, keySchema, prior,
        current.snapshotId, snapId, token)
      catch { case e: Throwable =>
        newFiles.foreach(f => Files.deleteIfExists(Paths.get(dir, f.path)))
        throw e
      }
      finally GraftTable.deleteRecursively(Paths.get(newStaging))
    val dead =
      if (deadNew.isDefined && samePrior.forall(_.dead.isDefined))
        Some(deadNew.get + samePrior.flatMap(_.dead).sum)
      else None
    val entries = otherPrior :+
      EqualityDeletes(rels, keyCols, current.snapshotId, dead, covsAll)
    val cursorSummary = cursor.map { case (sinkId, batchId) =>
      SummaryStreamCursors -> cursorsJson(streamCursors + (sinkId -> batchId))
    }.toMap
    try Some(commit(lg, snapId, manifest.append(newFiles), newFiles,
      operation = "merge", committedAt,
      extraSummary = Map(
        "equality" -> "true",
        "merge-key" -> keyCols.mkString(","),
        SummaryEqualityDeletes -> equalityJson(entries)) ++ cursorSummary))
    catch { case e: Throwable =>
      rels.foreach(r => Files.deleteIfExists(Paths.get(dir, r)))
      // commit() deletes newFiles on its detected race paths only; a
      // non-race failure (manifest write I/O error after the claim)
      // would otherwise leak them until removeOrphanFiles
      newFiles.foreach(f => Files.deleteIfExists(Paths.get(dir, f.path)))
      throw e
    }
  }

  /** POSITIONAL merge-on-read DELETE (Iceberg v2 position-delete files):
    * record WHICH physical rows die — `(data file, row position)` pairs
    * written as small parquet delete files under `deletes/` — instead of
    * rewriting data files (copy-on-write [[delete]]) or re-evaluating a
    * predicate on every read ([[deleteDeferred]]). Reads anti-join only
    * the targeted files against the delete relation; untouched files keep
    * their plain scans. The 100 TB shape this exists for: a curation job
    * identifies a few million victim rows across a petabyte table — the
    * commit writes megabytes of positions, no data file is copied, and
    * the table stays exactly countable (per-target deleted-row counts
    * ride in the summary).
    *
    * Semantics and invariants:
    *  - rows where `predicate` is TRUE die; NULL keeps the row (SQL
    *    DELETE, same as [[delete]]);
    *  - files whose stats PROVE every visible row matches are dropped
    *    from the manifest with no position I/O (the [[delete]] fast
    *    path);
    *  - stored positions are DISJOINT across stacked entries (new
    *    positions are anti-joined against prior delete files), and
    *    targets always ⊆ the live manifest — so deleted-row counts are
    *    exact by addition;
    *  - time travel to earlier snapshots sees the rows again (the entry
    *    lives in THIS snapshot's summary);
    *  - [[compact]] materializes positions into rewritten files; the
    *    delete parquets are reclaimed by [[expireSnapshots]];
    *  - COMPOSES with pending equality and predicate-deferred entries
    *    (victims are rows visible under them, so the forms' dead sets
    *    stay disjoint and counts add exactly; the whole-file drop fast
    *    path demotes to a vector rewrite while they pend); avro targets
    *    are refused (no parquet row index to address).
    *
    * Returns None when no file can match or no row matches. */
  def deletePositional(
      spark: SparkSession,
      predicate: Column,
      committedAt: Option[Long] = None): Option[Snapshot] = {
    import org.apache.spark.sql.functions.coalesce
    val lg = log
    val current = lg.current.getOrElse(return None)
    val resolved = resolveAgainst(spark, schema,
      org.apache.spark.sql.classic.GraftBridge.expr(predicate))
    require(!resolved.references.exists(_.name.equalsIgnoreCase(virtualColumn)),
      s"delete predicate cannot reference the virtual column $virtualColumn")
    val manifest = Manifest.read(s"$dir/${current.manifestList}")
    val (candidates, untouchedM) = partitionPruned(manifest, resolved)
    if (candidates.isEmpty) return None
    // ORC/avro candidates carry no parquet row index, so positions
    // cannot address their rows — the SAME predicate-addressed curation
    // lands as a PREDICATE-DEFERRED entry instead (identical
    // visible-row semantics, exact counts by default). One statement,
    // both estates: a mixed candidate set routes whole (mirrors
    // deletePositionalByKeys' equality route)
    if (candidates.exists(f => !f.path.endsWith(".parquet")))
      return deleteDeferred(spark, predicate, committedAt)
    // the same metadata-only whole-file drop proof as copy-on-write
    // delete(): still sound here — "all rows match" implies "all
    // VISIBLE rows match"
    val proofPred = PartitionField.proofAugment(resolved, partitionFields)
    val augSchema = PartitionField.augmentedSchema(schema, partitionFields)
    val (dropped0, partial0) =
      candidates.partition(f => Pruning.mustMatchAll(proofPred, f, augSchema))
    // under pending EQUALITY or PREDICATE-deferred entries a whole-file
    // drop of a COVERED file demotes to a vector rewrite: dropping a
    // file whose rows are partly dead under another form would
    // double-count them ("deleted-records" counts raw recordCount minus
    // DV debt only) and leave the other entries' dead counts describing
    // vanished files — DV-ing the visible victims instead keeps every
    // count exact by disjointness. Files NO entry can reach (written
    // after every covered snapshot) keep the metadata-only drop:
    // demoting them would trade an O(1) manifest edit for an
    // O(file rows) scan+vector, and would wrongly refuse
    // provably-droppable non-parquet files.
    val eqPend0 = parseEquality(current)
    val pend0 = parsePending(current)
    val (dropped, partial) =
      if (eqPend0.isEmpty && pend0.isEmpty) (dropped0, partial0)
      else {
        val (coverable, freeDrop) = dropped0.partition { f =>
          val fsn = fileSnapId(f.path).getOrElse(Long.MinValue)
          eqPend0.exists(e => fsn <= e.covered) ||
            pend0.exists { case (covered, _) => fsn <= covered }
        }
        (freeDrop, coverable ++ partial0)
      }
    positionalCore(spark, lg, current, manifest, untouchedM, dropped, partial,
      raw => raw.filter(coalesce(predicate, lit(false))), committedAt)
  }

  /** [[deletePositional]] addressed by KEYS instead of a predicate — the
    * curation-pipeline entry point: a dedup/decontamination job emits the
    * victim keys as a DataFrame (millions of ids — far past any literal
    * IN list), and this deletes exactly those rows without rewriting a
    * file. Candidate files are pruned by the FIRST key column's bounds
    * (one tiny aggregate; two scalars of driver state), the position scan
    * is a semi-join of the candidates against the distinct keys, and
    * everything else — disjoint stacking, exact counts, compaction,
    * expiration — is shared with the predicate form. Null key rows match
    * nothing (SQL join semantics). */
  def deletePositionalByKeys(
      spark: SparkSession,
      keys: DataFrame,
      keyCols: Seq[String],
      committedAt: Option[Long] = None): Option[Snapshot] = {
    import org.apache.spark.sql.functions.{max => fmax, min => fmin}
    require(keyCols.nonEmpty, "at least one key column required")
    keyCols.foreach(c => require(schema.fieldNames.contains(c),
      s"unknown key column '$c'"))
    keyCols.foreach(c => require(keys.columns.contains(c),
      s"keys DataFrame lacks column '$c'"))
    keyCols.foreach { c =>
      val kt = keys.schema(c).dataType
      require(kt == schema(c).dataType,
        s"key column '$c' is ${kt.sql}, table expects " +
          s"${schema(c).dataType.sql} (cast explicitly — a coerced key " +
          "silently changes the bounds prune and the position semi-join)")
    }
    val lg = log
    val current = lg.current.getOrElse(return None)
    val manifest = Manifest.read(s"$dir/${current.manifestList}")
    val k0 = keyCols.head
    val bounds = keys.agg(fmin(col(k0)), fmax(col(k0))).head()
    if (bounds.isNullAt(0)) return None // no non-null keys: nothing matches
    val rangePred = resolveAgainst(spark, schema,
      org.apache.spark.sql.classic.GraftBridge.expr(
        col(k0) >= lit(bounds.get(0)) && col(k0) <= lit(bounds.get(1))))
    val (candidates, untouchedM) = partitionPruned(manifest, rangePred)
    if (candidates.isEmpty) return None
    // ORC/avro estates carry no parquet row index, so positions cannot
    // address their rows — the SAME key-addressed curation lands as an
    // EQUALITY entry instead (identical visible-row semantics: the
    // covered-snapshot scope kills exactly the rows visible now, and
    // future appends are unaffected under either form). One statement,
    // both estates: a mixed parquet+ORC candidate set routes whole to
    // the equality form so a single entry covers it.
    if (candidates.exists(f => !f.path.endsWith(".parquet")))
      return deleteEquality(spark, keys, keyCols, committedAt)
    val keySel = keys.select(keyCols.map(col): _*).distinct()
    positionalCore(spark, lg, current, manifest, untouchedM,
      dropped = Nil, partial = candidates,
      raw => raw.join(keySel, keyCols, "left_semi"), committedAt)
  }

  /** [[deletePositional]] addressed by explicit `(file, position)`
    * pairs — the `_file`/`_pos` metadata-column curation flow
    * ([[GraftV2Table.metadataColumns]]): a SQL job SELECTs victim rows'
    * `_file`/`_pos` through the DSv2 catalog and hands them here to land
    * as a merge-on-read positional entry, no file rewritten. `victims`
    * needs columns `_file` (any path form — only the BASENAME identifies
    * a file, same as the read-path anti-join) and `_pos` (castable to
    * long). Candidate files are exactly the named ones (driver state =
    * the distinct basenames, O(named files) — metadata-class); the
    * position scan semi-joins those files' provenance rows against the
    * pairs, so a pair pointing at an already-deleted or nonexistent
    * position is simply ignored (the entry stays disjoint and exact). */
  def deletePositionalAt(
      spark: SparkSession,
      victims: DataFrame,
      committedAt: Option[Long] = None): Option[Snapshot] = {
    import org.apache.spark.sql.functions.substring_index
    Seq("_file", "_pos").foreach(c => require(victims.columns.contains(c),
      s"victims DataFrame lacks column '$c'"))
    val lg = log
    val current = lg.current.getOrElse(return None)
    val pairs = victims
      .select(substring_index(col("_file"), "/", -1).as(MetaFileCol),
        col("_pos").cast(LongType).as(MetaPosCol))
      .distinct()
    val names = pairs.select(MetaFileCol).distinct()
      .collect().map(_.getString(0)).toSet
    if (names.isEmpty) return None
    val manifest = Manifest.read(s"$dir/${current.manifestList}")
    val (partial, untouched) =
      manifest.files.partition(f => names(baseName(f.path)))
    if (partial.isEmpty) return None
    val untouchedM = manifest.retainPaths(untouched.map(_.path).toSet)
    positionalCore(spark, lg, current, manifest, untouchedM,
      dropped = Nil, partial = partial,
      raw => raw.join(pairs, Seq(MetaFileCol, MetaPosCol), "left_semi"),
      committedAt)
  }

  /** Shared tail of the positional-delete entry points: compute victim
    * positions over `partial` (already-deleted positions excluded, so
    * entries stay disjoint), stage + land the delete parquets, and commit
    * `untouched ++ partial` with the adjusted entry list ("dropped" files
    * leave the manifest and are stripped from prior entries). */
  private def positionalCore(
      spark: SparkSession,
      lg: SnapshotLog,
      current: Snapshot,
      manifest: Manifest,
      untouchedM: Manifest,
      dropped: Seq[DataFileEntry],
      partial: Seq[DataFileEntry],
      selectVictims: DataFrame => DataFrame,
      committedAt: Option[Long]): Option[Snapshot] = {
    val prior = parsePositional(current)
    val priorDeleted: Map[String, Long] =
      prior.flatMap(_.targets).groupMapReduce(_._1)(_._2)(_ + _)
    val snapId = lg.nextId
    val droppedPaths = dropped.map(_.path).toSet
    // drop-adjusted prior state FIRST: a dropped target's vector must
    // not be merged into the consolidated entry
    val adjusted = stripPositional(prior, droppedPaths)
    val (entries, newRels, newlyDead) =
      writeDeletionVectors(spark, manifest, partial, selectVictims,
        adjusted, snapId, parseEquality(current), parsePending(current))
    if (newRels.isEmpty && dropped.isEmpty) return None
    val removed = dropped.map(f =>
      f.recordCount - priorDeleted.getOrElse(f.path, 0L)).sum + newlyDead
    try Some(commit(lg, snapId,
      untouchedM.append(partial), Nil,
      operation = "delete", committedAt,
      extraSummary = Map(
        "positional" -> "true",
        "deleted-records" -> removed.toString,
        "dropped-data-files" -> dropped.size.toString,
        "position-delete-files" -> newRels.size.toString,
        SummaryPositionalDeletes -> positionalJson(entries))))
    catch { case e: Throwable =>
      newRels.foreach(r => Files.deleteIfExists(Paths.get(dir, r)))
      throw e
    }
  }

  /** Write the DELETION VECTORS for one positional commit and build the
    * CONSOLIDATED entry. New victims of `partial` (selected by
    * `selectVictims` over raw provenance rows, already-dead positions
    * excluded) are merged with each affected file's prior vector into
    * ONE `deletes/dv-…` blob per data file; prior vectors of unaffected
    * files CARRY by reference (no rewrite); any legacy (file,pos)
    * parquet entries are converted in the same pass. The result is a
    * SINGLE entry with at most one delete artifact per data file,
    * whatever the stacking history — the read side then filters
    * in-reader ([[DvContains]]) instead of anti-joining a union that
    * grows with debt depth, and per-target counts stay exact (the
    * vector IS the distinct position set).
    *
    * Returns (entries, newly-written rel paths, newly-dead row count);
    * entries echo the adjusted prior state when nothing matched. */
  private def writeDeletionVectors(
      spark: SparkSession,
      manifest: Manifest,
      partial: Seq[DataFileEntry],
      selectVictims: DataFrame => DataFrame,
      prior: Seq[PositionalDeletes],
      snapId: Long,
      eqEntries: Seq[EqualityDeletes] = Nil,
      pend: Seq[(Long, String)] = Nil)
      : (Seq[PositionalDeletes], Seq[String], Long) = {
    import org.apache.spark.sql.functions.substring_index
    require(partial.forall(_.path.endsWith(".parquet")),
      s"positional DML cannot target non-parquet data files in $dir " +
        "(no parquet row index) — key-addressed curation works on any " +
        "format via deletePositionalByKeys (auto-routes to the equality " +
        "form) or deleteEquality/deleteByKeys; otherwise use the " +
        "copy-on-write form or compact() first")
    if (partial.isEmpty) return (prior, Nil, 0L)
    // the read path keys on basenames — they must identify files
    // uniquely across the whole manifest this entry will live in
    val bns = manifest.files.map(f => baseName(f.path))
    require(bns.distinct.size == bns.size,
      s"duplicate data-file basenames in the manifest of $dir — " +
        "positional deletes would be ambiguous")
    val bnToPath: Map[String, String] =
      manifest.files.map(f => baseName(f.path) -> f.path).toMap
    val dvByTarget: Map[String, String] = prior.flatMap(_.dvs).toMap
    require(dvByTarget.size == prior.map(_.dvs.size).sum,
      s"conflicting deletion-vector entries in $dir")
    val legacyFiles = prior.filter(_.dvs.isEmpty).flatMap(_.files).distinct
    val legacyTargets: Set[String] =
      prior.filter(_.dvs.isEmpty).flatMap(_.targets.keys).toSet

    // victims come from rows VISIBLE under pending equality AND
    // predicate-deferred entries: a row another form already hides is
    // never re-recorded in a vector, so the per-form dead sets stay
    // disjoint (counts add exactly) and CDC never emits a second delete
    // for a retracted row. Scoping matches the read path: an entry
    // covers files written at snapshot ≤ its covered id (every file is
    // attributable here — the deferred forms require it and refuse
    // branch-era files).
    val raw = pendEqGroups(spark, pend, eqEntries, partial, meta = true)
      .reduce(_ unionByName _)
    var victims = selectVictims(raw)
      .select(col(MetaFileCol), col(MetaPosCol).cast(LongType).as(MetaPosCol))
    // disjointness/exactness: never re-record an already-dead row.
    // Vector-recorded priors drop with an in-reader filter; legacy
    // parquet priors with the historical anti-join.
    if (dvByTarget.nonEmpty) {
      val idx = DvIndex(dvByTarget.map { case (t, rel) =>
        baseName(t) -> Paths.get(dir, rel).normalize().toString })
      val b = org.apache.spark.sql.classic.GraftBridge
      victims = victims.filter(!b.column(DvContains(
        b.expr(col(MetaFileCol)), b.expr(col(MetaPosCol)), idx)))
    }
    if (legacyFiles.nonEmpty) {
      val priorDf = spark.read.schema(DeleteFileSchema)
        .parquet(legacyFiles
          .map(p => Paths.get(dir, p).normalize().toString): _*)
        .select(substring_index(col("file"), "/", -1).as(MetaFileCol),
          col("pos").cast(LongType).as(MetaPosCol))
      victims = victims.join(priorDf, Seq(MetaFileCol, MetaPosCol), "left_anti")
    }

    // AFFECTED bns (bounded driver state, ≤ |partial|): these files'
    // vectors rewrite; everything else carries
    val affectedBns: Set[String] = victims.select(MetaFileCol).distinct()
      .collect().map(_.getString(0)).toSet
    // nothing matched: no commit (legacy conversion only ever
    // piggybacks on a real delete)
    if (affectedBns.isEmpty) return (prior, Nil, 0L)
    // rewrite set = affected ∪ every legacy target (converted now, so
    // the table is single-entry/one-artifact-per-file from here on)
    val rewriteBns: Set[String] = affectedBns ++ legacyTargets.map(baseName)

    // prior positions feeding the merge: affected files' vectors +
    // ALL legacy positions (their targets all convert)
    val priorDvIn: DataFrame = {
      val m = dvByTarget.collect {
        case (t, rel) if rewriteBns(baseName(t)) =>
          baseName(t) -> Paths.get(dir, rel).normalize().toString
      }
      dvRelation(spark, m)
    }
    val legacyIn: DataFrame =
      if (legacyFiles.isEmpty) dvRelation(spark, Map.empty)
      else {
        // restrict to LIVE legacy targets: shared legacy parquets may
        // still hold rows for files stripped long ago — converting
        // those would fabricate vectors for ghosts
        val liveBns = spark.createDataFrame(
          spark.sparkContext.parallelize(
            legacyTargets.toSeq.sorted.map(t => Row(baseName(t))), 1),
          StructType(Seq(StructField(MetaFileCol, StringType,
            nullable = false))))
        spark.read.schema(DeleteFileSchema)
          .parquet(legacyFiles
            .map(p => Paths.get(dir, p).normalize().toString): _*)
          .select(substring_index(col("file"), "/", -1).as(MetaFileCol),
            col("pos").cast(LongType).as(MetaPosCol))
          .join(liveBns, Seq(MetaFileCol), "left_semi")
      }

    val (counts, newByBn) = writeVectorBlobs(spark,
      victims.union(priorDvIn).union(legacyIn), rewriteBns.size, snapId)

    // consolidated single entry: carried (unaffected dv targets, by
    // reference) + rewritten (merged vectors, exact distinct counts)
    val carriedDvs = dvByTarget.filterNot { case (t, _) =>
      rewriteBns(baseName(t)) }
    val carriedTargets = prior.flatMap(_.targets).toMap
      .filter { case (t, _) => carriedDvs.contains(t) }
    val newTargets: Map[String, Long] = counts.map { case (bn, n) =>
      bnToPath.getOrElse(bn, throw new IllegalStateException(
        s"deletion vector for unknown data file $bn in $dir")) -> n
    }
    val newDvs: Map[String, String] = newByBn.map { case (bn, rel) =>
      bnToPath(bn) -> rel }
    val priorTotal = prior.flatMap(_.targets.values).sum
    val entry = PositionalDeletes(
      files = (carriedDvs.values ++ newDvs.values).toSeq.sorted,
      targets = carriedTargets ++ newTargets,
      dvs = carriedDvs ++ newDvs)
    val newlyDead = entry.deletedRows - priorTotal
    (Seq(entry), newByBn.values.toSeq.sorted, newlyDead)
  }

  /** Stream (basename, position) pairs into one canonical
    * `deletes/dv-…bin` blob per basename: one partition per rewritten
    * file (capped by parallelism), rows sorted so each vector streams
    * out in O(1) task memory, equal consecutive positions collapsed
    * (inputs are disjoint by the entry invariants — the dedupe is
    * belt-and-braces so a resurrected overlap can never double-count).
    * Returns (per-bn distinct-position counts, bn → published rel). */
  private def writeVectorBlobs(
      spark: SparkSession,
      pairs: DataFrame,
      nFiles: Int,
      snapId: Long): (Map[String, Long], Map[String, String]) = {
    val token = java.util.UUID.randomUUID().toString.take(8)
    val staging = s"$dir/.staging-dv-$snapId-$token"
    Files.createDirectories(Paths.get(staging))
    val stagingCaptured = staging
    import spark.implicits._
    val nParts = math.max(1, math.min(nFiles,
      spark.sparkContext.defaultParallelism))
    val counts: Map[String, Long] =
      try pairs
        .select(col(MetaFileCol).as("_1"), col(MetaPosCol).as("_2"))
        .as[(String, Long)]
        .repartition(nParts, col("_1"))
        .sortWithinPartitions("_1", "_2")
        .mapPartitions { rows =>
          val it = rows.buffered
          val acc = scala.collection.mutable.ArrayBuffer[(String, Long)]()
          while (it.hasNext) {
            val bn = it.head._1
            var last = Long.MinValue
            val posIter = new Iterator[Long] {
              private def skipDups(): Unit =
                while (it.hasNext && it.head._1 == bn && it.head._2 == last)
                  it.next(): Unit
              override def hasNext: Boolean = {
                skipDups(); it.hasNext && it.head._1 == bn
              }
              override def next(): Long = { last = it.next()._2; last }
            }
            val n = DeletionVector.write(s"$stagingCaptured/$bn.bin", posIter)
            acc += ((bn, n))
          }
          acc.iterator
        }
        .collect().toMap
      catch { case e: Throwable =>
        GraftTable.deleteRecursively(Paths.get(staging)); throw e
      }

    // publish: one canonical dv file per rewritten data file
    Files.createDirectories(Paths.get(dir, "deletes"))
    val staged = scala.util.Using.resource(Files.list(Paths.get(staging))) {
      s => s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".bin"))
        .toSeq.sortBy(_.toString)
    }
    val newByBn: Map[String, String] = staged.zipWithIndex.map {
      case (src, i) =>
        val bn = src.getFileName.toString.stripSuffix(".bin")
        val rel = f"deletes/dv-$snapId%05d-$token-$i%05d.bin"
        Files.move(src, Paths.get(dir, rel), StandardCopyOption.REPLACE_EXISTING)
        bn -> rel
    }.toMap
    GraftTable.deleteRecursively(Paths.get(staging))
    (counts, newByBn)
  }

  /** Fold the pending POSITIONAL-delete state into its canonical form —
    * ONE consolidated entry, one deletion vector per affected data file
    * — WITHOUT touching any data file (Iceberg's
    * `rewrite_position_delete_files` procedure, rebuilt for this
    * representation). What it clears: legacy (file,pos)-parquet entries
    * (their read path anti-joins a union that reopens every delete
    * parquet per scan) convert to in-reader deletion vectors, ghost
    * rows those shared parquets still hold for long-stripped targets
    * drop, and a stacked entry list collapses to one. Already-canonical
    * state (a single all-vector entry) is a no-op — returns None,
    * nothing committed. Contrast [[compact]]: that clears DV debt by
    * REWRITING the data files; this folds the delete artifacts alone —
    * the cheap maintenance when data files are large and healthy.
    * Per-target counts stay exact (each vector IS its distinct position
    * set; the per-entry dead sets were disjoint at creation, and the
    * blob writer collapses any resurrected overlap). Superseded
    * artifacts (legacy parquets, replaced vectors) leave the entry's
    * `files` — ancestor snapshots still reference them, expiration
    * reclaims them. */
  /** DELETE-DEBT fold for the EQUALITY and PREDICATE-deferred forms —
    * the surgical sibling of [[compact]]: materialize every pending
    * equality/predicate entry by rewriting ONLY the files those entries
    * COVER (visible rows land physically, dead rows drop, lineage
    * carries), leaving every other data file untouched. O(covered
    * data), not O(table) — on a 100 TB estate whose curation deletes
    * touch one era, the fold rewrites that era alone where a full
    * `compact()` would repack the world. After the fold `__deletes`
    * drains of both forms, read plans lose their residual
    * filters/anti-joins, and the operations that refuse pending
    * equality state (branch publish, CDC seeds) proceed. A covered
    * file's positional debt materializes with it (its positions change);
    * uncovered files keep their deletion vectors — fold those with
    * [[rewritePositionDeletes]] (metadata-only) instead.
    *
    * Entries whose covered files are ALL gone already (rewritten by
    * earlier DML) drain in one metadata-only commit. Returns None when
    * no equality/predicate entry pends. Commits as a `"replace"`
    * snapshot: visible rows are preserved exactly, so the CDC feed nets
    * it to nothing and additive streams pass over it, same as
    * compaction. */
  def rewriteDeleteFiles(
      spark: SparkSession,
      committedAt: Option[Long] = None): Option[Snapshot] = {
    val lg = log
    val current = lg.current.getOrElse(return None)
    val pend = parsePending(current)
    val eqPend = parseEquality(current)
    if (pend.isEmpty && eqPend.isEmpty) return None
    val manifest = Manifest.read(s"$dir/${current.manifestList}")
    val covered = manifest.files.filter(f =>
      pend.exists { case (c, _) => fileSnapId(f.path).forall(_ <= c) } ||
        eqPend.exists(e => fileSnapId(f.path).forall(_ <= e.covered)))
    if (covered.isEmpty) {
      // every covered file is gone (earlier DML rewrote them): the
      // entries are dead weight — drain them metadata-only (positional
      // entries carry forward untouched via the summary defaults)
      return Some(commit(lg, lg.nextId, manifest, Nil,
        operation = "replace", committedAt,
        extraSummary = Map(
          "rewritten-data-files" -> "0",
          "added-data-files" -> "0",
          SummaryPendingDeletes -> "[]",
          SummaryEqualityDeletes -> "[]")))
    }
    // compact's forced set = covered ∪ positional targets ∪ rename
    // eras; onlyPaths narrows it to exactly the covered files, and the
    // explicit-group arm mandates the rewrite even for one file
    compact(spark, smallerThanBytes = 0L, committedAt,
      targetFileBytes = Some(128L * 1024 * 1024),
      onlyPaths = Some(covered.map(_.path).toSet))
  }

  /** Threshold-gated [[rewriteDeleteFiles]] — the [[GraftCdcMirror]]
    * `compactEvery` discipline for MATERIALIZED-INDEX maintenance (ANN
    * cells, posting lists): every read of the table pays the
    * pending-equality anti-join, so a read-dominated index folds the
    * debt once its stacking depth (folded tombstone commits per entry,
    * the mirror's metric) reaches `every` — one row-preserving
    * `"replace"` commit, after which probe plans lose the anti-join
    * entirely and readers/streams are undisturbed. Amortized cost is
    * O(covered files)/`every` per delete window; `every <= 0` disables
    * the fold. Callers pick the policy: an ANN/posting index is probed
    * orders of magnitude more often than it is refreshed, so indexes
    * default to 1 (each delete window immediately buys back
    * anti-join-free probes); hot-delete write-heavy pipelines raise it
    * (the mirror uses 64).
    *
    * The stacking metric counts EQUALITY-delete depth only: the rewrite
    * it triggers drains predicate-pending deletes too, but a table
    * carrying only predicate debt never reaches the threshold (today's
    * callers — ANN/posting indexes — only ever create equality debt;
    * widen the metric if a predicate-debt caller appears). */
  def foldDeleteDebt(
      spark: SparkSession,
      every: Int,
      committedAt: Option[Long] = None): Option[Snapshot] = {
    if (every <= 0) return None
    val depth = equalityDeletes.map(_.covs.size).sum
    if (depth >= every) rewriteDeleteFiles(spark, committedAt) else None
  }

  def rewritePositionDeletes(
      spark: SparkSession,
      committedAt: Option[Long] = None): Option[Snapshot] = {
    import org.apache.spark.sql.functions.substring_index
    val lg = log
    val current = lg.current.getOrElse(return None)
    val prior = parsePositional(current)
    if (prior.isEmpty) return None
    val legacy = prior.filter(_.dvs.isEmpty)
    if (legacy.isEmpty && prior.size == 1) return None
    val manifest = Manifest.read(s"$dir/${current.manifestList}")
    val pathSet: Set[String] = manifest.files.map(_.path).toSet
    val dvByTarget: Map[String, String] = prior.flatMap(_.dvs).toMap
    require(dvByTarget.size == prior.map(_.dvs.size).sum,
      s"conflicting deletion-vector entries in $dir")
    val targetCounts: Map[String, Long] =
      prior.flatMap(_.targets).groupMapReduce(_._1)(_._2)(_ + _)
    // targets ⊆ manifest is maintained by every strip site; a violation
    // means corrupted state — refuse rather than silently dropping debt
    val gone = targetCounts.keySet.filterNot(pathSet)
    require(gone.isEmpty,
      s"positional-delete targets missing from the manifest of $dir: " +
        gone.mkString(", "))
    val snapId = lg.nextId
    val legacyTargets: Set[String] = legacy.flatMap(_.targets.keys).toSet
    val rewriteBns: Set[String] = legacyTargets.map(baseName)
    val bnToPath: Map[String, String] =
      manifest.files.map(f => baseName(f.path) -> f.path).toMap

    val (entry, newRels): (PositionalDeletes, Seq[String]) =
      if (rewriteBns.isEmpty) {
        // a stacked all-vector history: pure map merge, no new blobs
        (PositionalDeletes(
          files = dvByTarget.values.toSeq.sorted,
          targets = targetCounts,
          dvs = dvByTarget), Nil)
      } else {
        // distributed conversion: legacy rows for LIVE targets, merged
        // with any existing vector of the same file (a rollback can
        // resurrect such overlap; the blob writer dedupes)
        val legacyFiles = legacy.flatMap(_.files).distinct
        val liveBns = spark.createDataFrame(
          spark.sparkContext.parallelize(
            rewriteBns.toSeq.sorted.map(bn => Row(bn)), 1),
          StructType(Seq(StructField(MetaFileCol, StringType,
            nullable = false))))
        val legacyIn = spark.read.schema(DeleteFileSchema)
          .parquet(legacyFiles
            .map(p => Paths.get(dir, p).normalize().toString): _*)
          .select(substring_index(col("file"), "/", -1).as(MetaFileCol),
            col("pos").cast(LongType).as(MetaPosCol))
          .join(liveBns, Seq(MetaFileCol), "left_semi")
        val overlapDvs = dvByTarget.collect {
          case (t, rel) if rewriteBns(baseName(t)) =>
            baseName(t) -> Paths.get(dir, rel).normalize().toString
        }
        val (counts, newByBn) = writeVectorBlobs(spark,
          legacyIn.union(dvRelation(spark, overlapDvs)),
          rewriteBns.size, snapId)
        val carriedDvs = dvByTarget.filterNot { case (t, _) =>
          rewriteBns(baseName(t)) }
        val newTargets: Map[String, Long] = counts.map { case (bn, n) =>
          bnToPath.getOrElse(bn, throw new IllegalStateException(
            s"deletion vector for unknown data file $bn in $dir")) -> n
        }
        val newDvs: Map[String, String] = newByBn.map { case (bn, rel) =>
          bnToPath(bn) -> rel }
        (PositionalDeletes(
          files = (carriedDvs.values ++ newDvs.values).toSeq.sorted,
          targets = targetCounts.filter { case (t, _) =>
            carriedDvs.contains(t) } ++ newTargets,
          dvs = carriedDvs ++ newDvs), newByBn.values.toSeq.sorted)
      }
    try Some(commit(lg, snapId, manifest, Nil,
      operation = "rewrite-position-deletes", committedAt,
      extraSummary = Map(
        "position-delete-files" -> newRels.size.toString,
        SummaryPositionalDeletes -> positionalJson(Seq(entry)))))
    catch { case e: Throwable =>
      newRels.foreach(r => Files.deleteIfExists(Paths.get(dir, r)))
      throw e
    }
  }

  /** A set of deletion vectors as a (basename, position) relation —
    * distributed (one task per vector file), for the commit-time merge
    * and the CDC retraction delta. */
  private def dvRelation(
      spark: SparkSession, byBn: Map[String, String]): DataFrame = {
    val sch = StructType(Seq(
      StructField(MetaFileCol, StringType, nullable = false),
      StructField(MetaPosCol, LongType, nullable = false)))
    if (byBn.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sch)
    val seq = byBn.toSeq
    val rdd = spark.sparkContext
      .parallelize(seq, math.min(seq.size,
        math.max(1, spark.sparkContext.defaultParallelism)))
      .flatMap { case (bn, path) =>
        DeletionVector.read(path).iterator.map(pos => Row(bn, pos))
      }
    spark.createDataFrame(rdd, sch)
  }

  /** POSITIONAL merge-on-read UPDATE — the MoR DML triad's third leg:
    * matching rows are superseded by (a) a position-delete entry killing
    * their old copies and (b) freshly written data files carrying their
    * new values, ONE atomic commit, and the candidate files' NON-matching
    * rows are never rewritten. Copy-on-write [[update]] rewrites whole
    * candidate files (right when most of their rows change); this form
    * writes O(matching rows) — the 100 TB shape for sparse updates
    * (fix a per-row label on 0.1% of a petabyte table without copying
    * the other 99.9%).
    *
    * Semantics match [[update]]: every assignment is evaluated against
    * the OLD row in one projection; a NULL predicate row is untouched;
    * partition source columns refuse. Stacks freely on every pending
    * merge-on-read form (victims are VISIBLE rows only — a row another
    * form hides is neither vectored nor rewritten). Returns None
    * when nothing matches. */
  def updatePositional(
      spark: SparkSession,
      predicate: Column,
      assignments: Map[String, Column],
      committedAt: Option[Long] = None): Option[Snapshot] = {
    import org.apache.spark.sql.functions.coalesce
    val lg = log
    val current = lg.current.getOrElse(return None)
    require(assignments.nonEmpty, "update requires at least one assignment")
    assignments.keys.foreach(c => require(schema.fieldNames.contains(c),
      s"unknown update column '$c'"))
    require(assignments.keys.forall(c => !partitionFields.exists(_.source == c)),
      "updating a partition source column is not supported (it would move " +
        "rows across partition directories)")
    val resolved = resolveAgainst(spark, schema,
      org.apache.spark.sql.classic.GraftBridge.expr(predicate))
    require(!resolved.references.exists(_.name.equalsIgnoreCase(virtualColumn)),
      s"update predicate cannot reference the virtual column $virtualColumn")
    val manifest = Manifest.read(s"$dir/${current.manifestList}")
    val candidates = prunedFiles(manifest, resolved)
    if (candidates.isEmpty) return None
    val prior = parsePositional(current)
    val eqPend = parseEquality(current)
    val pend = parsePending(current)
    val snapId = lg.nextId
    val (entries, newRels, newlyDead) =
      writeDeletionVectors(spark, manifest, candidates,
        raw => raw.filter(coalesce(predicate, lit(false))), prior, snapId,
        eqPend, pend)
    if (newRels.isEmpty) return None // no visible row matched: no commit
    // new values for exactly the superseded rows — assignments all read
    // the OLD row (one projection; predicate is TRUE on every victim).
    // Equality and predicate-deferred entries apply too: a row another
    // form already hides must not be resurrected as an updated copy
    // (its position was excluded from the vectors above for the same
    // reason)
    // lineage: a positional UPDATE is the same logical row superseded in
    // place — the new copy inherits the victim's _row_id; _gf_seq NULL
    // makes the read side stamp this commit's snapshot
    val newRows = readVisibleCarry(spark, pend, prior, candidates, eqPend)
      .filter(coalesce(predicate, lit(false)))
      .select(schema.fieldNames.map { c =>
        assignments.get(c).map(_.as(c)).getOrElse(col(c))
      } ++ (if (!lineageOn) Nil
            else Seq(col(LineageRidCol),
              lit(null).cast(LongType).as(LineageSeqCol))): _*)
    val newFiles =
      try writeDataFiles(newRows, snapId)
      catch { case e: Throwable =>
        newRels.foreach(r => Files.deleteIfExists(Paths.get(dir, r)))
        throw e
      }
    try Some(commit(lg, snapId, manifest.append(newFiles), newFiles,
      operation = "update", committedAt,
      extraSummary = Map(
        "positional" -> "true",
        "updated-rows" -> newlyDead.toString,
        "position-delete-files" -> newRels.size.toString,
        "updated-columns" -> assignments.keys.toSeq.sorted.mkString(","),
        SummaryPositionalDeletes -> positionalJson(entries))))
    catch { case e: Throwable =>
      newRels.foreach(r => Files.deleteIfExists(Paths.get(dir, r)))
      // see mergeEquality: non-race commit failures must not leak the
      // rewritten data files
      newFiles.foreach(f => Files.deleteIfExists(Paths.get(dir, f.path)))
      throw e
    }
  }

  /** Read `files` of snapshot `s` with its pending deferred deletes
    * applied — the single read chokepoint for merge-on-read semantics.
    * Files are grouped by WHICH predicates cover them (by file snapshot
    * id), each group filtered by its conjunction; groups union. A NULL
    * predicate keeps the row (same survivor expression as copy-on-write
    * [[delete]]). */
  private def readWithDeletes(
      spark: SparkSession,
      s: Snapshot,
      files: Seq[DataFileEntry]): DataFrame =
    readVisible(spark, parsePending(s), parsePositional(s), files,
      parseEquality(s))

  /** The single VISIBLE-ROW reader: `files` minus every merge-on-read
    * delete form. Predicate-deferred and EQUALITY deletes group files by
    * which entries cover them (by file snapshot id) — each group gets
    * the covering predicates as filters and the covering key files as
    * anti-joins (null keys never match, SQL semantics); positional
    * deletes apply as ONE left-anti join on `(file basename, row
    * position)` — only to the files some entry actually targets, so
    * untouched files keep their plain codegen'd scan with zero join
    * overhead. The positional anti-join key embeds the file identity,
    * so a single global delete relation is correct without per-file
    * filtering; at scale the delete relations are O(deleted rows/keys)
    * and AQE broadcasts them when small. */
  private def readVisible(
      spark: SparkSession,
      pend: Seq[(Long, String)],
      posEntries: Seq[PositionalDeletes],
      files: Seq[DataFileEntry],
      eqEntries: Seq[EqualityDeletes] = Nil,
      lineage: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not, substring_index}
    val outSchema =
      if (!lineage) schema
      else StructType(schema.fields ++ Seq(
        StructField(RowIdCol, LongType, nullable = true),
        StructField(LastUpdatedCol, LongType, nullable = true)))
    if (files.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], outSchema)
    val targeted: Set[String] = posEntries.flatMap(_.targets.keys).toSet
    val (withDel, clean) = files.partition(f => targeted.contains(f.path))
    def pendGroups(fs: Seq[DataFileEntry], meta: Boolean): Seq[DataFrame] =
      pendEqGroups(spark, pend, eqEntries, fs, meta, lineage)
    val delBranches =
      if (withDel.isEmpty) Nil
      else {
        // both forms key on basenames: within one read they must
        // identify files uniquely (they do — write tokens randomize
        // names — but soundness is asserted, not assumed)
        val bns = files.map(f => baseName(f.path))
        require(bns.distinct.size == bns.size,
          s"duplicate data-file basenames in one scan of $dir — " +
            "positional-delete key would be ambiguous")
        // DELETION-VECTOR entries filter IN-READER: a codegen'd boolean
        // per row (binary search of the file's lazily-loaded vector —
        // [[DvContains]]), no join in the plan and no delete relation
        // re-read per query; tasks load only the vectors of the files
        // they scan. Legacy (file,pos)-parquet entries keep the
        // historical anti-join until the next positional commit
        // consolidates them.
        val dvByBn: Map[String, String] = posEntries.flatMap(_.dvs).map {
          case (t, rel) =>
            baseName(t) -> Paths.get(dir, rel).normalize().toString
        }.toMap
        val legacyEntries = posEntries.filter(_.dvs.isEmpty)
        val base = pendGroups(withDel, meta = true)
        val withDv =
          if (dvByBn.isEmpty) base
          else {
            val b = org.apache.spark.sql.classic.GraftBridge
            val idx = DvIndex(dvByBn)
            base.map(_.filter(!b.column(DvContains(
              b.expr(col(MetaFileCol)), b.expr(col(MetaPosCol)), idx))))
          }
        if (legacyEntries.isEmpty) withDv
        else {
          val delPaths = legacyEntries.flatMap(_.files).distinct
            .map(p => Paths.get(dir, p).normalize().toString)
          val deletes = spark.read.schema(DeleteFileSchema)
            .parquet(delPaths: _*)
            .select(substring_index(col("file"), "/", -1).as(MetaFileCol),
              col("pos").as(MetaPosCol))
          withDv.map(_.join(deletes, Seq(MetaFileCol, MetaPosCol), "left_anti"))
        }
      }
    (pendGroups(clean, meta = false) ++ delBranches)
      .map(_.select(outSchema.fieldNames.map(col): _*))
      .reduce(_ union _)
  }

  /** `fs` read with the covering PREDICATE-deferred filters and
    * EQUALITY anti-joins applied (positional entries excluded) — the
    * grouping shared by [[readVisible]] and the positional-delete
    * victim scan. Files group by WHICH entries cover them (by file
    * snapshot id); each group gets its covering predicates as residual
    * filters and its covering key sets as anti-joins. Equality entries
    * scope PER ROW (consolidated key files carry each row's covering
    * snapshot): a group's anti-join relation is the entry's keys
    * restricted to covering snapshots ≥ the group's file snapshot —
    * still ONE anti-join per (group, key-column set), whatever the
    * stacking depth. */
  private def pendEqGroups(
      spark: SparkSession,
      pend: Seq[(Long, String)],
      eqEntries: Seq[EqualityDeletes],
      fs: Seq[DataFileEntry],
      meta: Boolean,
      lineage: Boolean = false): Seq[DataFrame] = {
    import org.apache.spark.sql.functions.{coalesce, expr, not}
    if (fs.isEmpty) Nil
    else if (pend.isEmpty && eqEntries.isEmpty)
      Seq(readFiles(spark, fs, meta, lineage))
    else {
      val groups = fs.groupBy { f =>
        val fsn = fileSnapId(f.path).getOrElse(Long.MinValue) // unattributable: assume oldest (over-filtering is impossible — the deferred forms refuse such tables; this path exists for robustness only)
        (pend.filter { case (covered, _) => fsn <= covered }.map(_._2),
          eqEntries.map(e => e.covs.filter(_ >= fsn)))
      }
      groups.toSeq.sortBy(_._2.head.path).map { case ((preds, covSets), gfs) =>
        val base = preds.foldLeft(readFiles(spark, gfs, meta, lineage))((d, p) =>
          d.filter(coalesce(not(expr(p)), lit(true))))
        eqEntries.zip(covSets).filter(_._2.nonEmpty).foldLeft(base) {
          case (d, (e, covs)) =>
            d.join(eqKeysScoped(spark, e, covs), e.cols, "left_anti")
        }
      }
    }
  }

  private def baseName(relPath: String): String =
    relPath.substring(relPath.lastIndexOf('/') + 1)

  /** An equality-delete entry's key relation, read under the TABLE
    * schema's column types (parquet projection drops the consolidated
    * per-row covering-snapshot column when present). */
  private def readEqKeys(spark: SparkSession, e: EqualityDeletes): DataFrame =
    spark.read
      .schema(StructType(e.cols.map(c => schema(c)).toArray))
      .parquet(e.files.map(p => Paths.get(dir, p).normalize().toString): _*)

  /** The entry's key relation WITH each row's covering snapshot:
    * consolidated entries carry it as a physical column; legacy
    * single-commit entries get their wholesale [[EqualityDeletes.covered]]
    * as a constant (so consolidation commits can fold them in). */
  private def readEqKeysTagged(
      spark: SparkSession, e: EqualityDeletes): DataFrame =
    if (e.coveredSnaps.nonEmpty)
      spark.read
        .schema(StructType((e.cols.map(c => schema(c)) :+
          StructField(GraftTable.EqCovCol, LongType, nullable = false))
          .toArray))
        .parquet(e.files.map(p => Paths.get(dir, p).normalize().toString): _*)
    else readEqKeys(spark, e).withColumn(GraftTable.EqCovCol, lit(e.covered))

  /** The key tuples of `e` applicable to a file group whose applicable
    * covering snapshots are `covs` (⊆ `e.covs`, nonempty): all-applicable
    * reads skip the filter entirely — the common case for files older
    * than every folded commit — so one consolidated entry costs ONE
    * anti-join per group regardless of stacking depth. */
  private def eqKeysScoped(
      spark: SparkSession, e: EqualityDeletes, covs: Seq[Long]): DataFrame =
    if (e.coveredSnaps.isEmpty || covs.size == e.coveredSnaps.size)
      readEqKeys(spark, e)
    else readEqKeysTagged(spark, e)
      .filter(col(GraftTable.EqCovCol).isin(covs: _*))
      .select(e.cols.map(col): _*)

  /** Copy-on-write UPDATE: set `assignments` on rows matching
    * `predicate`. Same candidate-file discipline as [[delete]] — only
    * files whose stats MAY match are rewritten (matching rows get the new
    * values, the rest are copied verbatim); untouched files carry over.
    * Commits an `"update"` snapshot; I/O is O(candidate files). */
  def update(
      spark: SparkSession,
      predicate: Column,
      assignments: Map[String, Column],
      committedAt: Option[Long] = None): Option[Snapshot] = {
    import org.apache.spark.sql.functions.when
    val lg = log
    val current = lg.current.getOrElse(return None)
    require(assignments.nonEmpty, "update requires at least one assignment")
    assignments.keys.foreach(c => require(schema.fieldNames.contains(c),
      s"unknown update column '$c'"))
    require(assignments.keys.forall(c => !partitionFields.exists(_.source == c)),
      "updating a partition source column is not supported (it would move " +
        "rows across partition directories)")
    val resolved = resolveAgainst(spark, schema,
      org.apache.spark.sql.classic.GraftBridge.expr(predicate))
    require(!resolved.references.exists(_.name.equalsIgnoreCase(virtualColumn)),
      s"update predicate cannot reference the virtual column $virtualColumn")
    val manifest = Manifest.read(s"$dir/${current.manifestList}")
    val (candidates, untouchedM) = partitionPruned(manifest, resolved)
    if (candidates.isEmpty) return None

    val snapId = lg.nextId
    // pending POSITIONAL, EQUALITY and PREDICATE-deferred deletes
    // compose exactly as in delete(): the rewrite reads visible rows
    // only (a row another form hides is never resurrected — its
    // tombstone/filter materializes with the rewrite), and rewritten
    // files leave the positional entries
    val posPend = parsePositional(current)
    val eqPend = parseEquality(current)
    val pendFull = parsePendingFull(current)
    val pend = pendFull.map(e => (e._1, e._2))
    val src = readVisibleCarry(spark, pend, posPend, candidates, eqPend)
    // ONE projection computing every assignment from the OLD row (SQL
    // UPDATE semantics): chained withColumn would let later assignments
    // observe earlier ones' new values — wrong, and Map-order-dependent.
    // Lineage carry: every row keeps its _gf_rid; a MATCHED (modified)
    // row's _gf_seq goes NULL so the read-side inheritance stamps it
    // with THIS commit's snapshot, unmatched rows keep their old one
    val carryCols: Seq[Column] =
      if (!lineageOn) Nil
      else Seq(col(LineageRidCol),
        when(predicate <=> lit(true), lit(null).cast(LongType))
          .otherwise(col(LineageSeqCol)).as(LineageSeqCol))
    val rewritten = src.select(schema.fieldNames.map { c =>
      assignments.get(c) match {
        case Some(v) => when(predicate, v).otherwise(col(c)).as(c)
        case None => col(c)
      }
    } ++ carryCols: _*)
    val newFiles = writeDataFiles(rewritten, snapId)
    val stillPositional =
      stripPositional(posPend, candidates.map(_.path).toSet)
    Some(commit(lg, snapId,
      untouchedM.append(newFiles),
      newFiles,
      operation = "update", committedAt,
      extraSummary = Map(
        "rewritten-data-files" -> candidates.size.toString,
        "updated-columns" -> assignments.keys.toSeq.sorted.mkString(","),
        SummaryPendingDeletes ->
          pendingJsonFull(degradePendingFor(pendFull, candidates)),
        SummaryPositionalDeletes -> positionalJson(stillPositional),
        SummaryEqualityDeletes ->
          equalityJson(degradeEqualityFor(eqPend, candidates)))))
  }

  /** MERGE (upsert) by key, one atomic commit: rows of `source` replace
    * same-key rows; new keys append. Candidate files are pruned by the
    * source's key RANGE (two scalars on the driver — metadata-class
    * state), then matched rows are dropped with an anti-join and the
    * survivors are rewritten together with the source. Files outside the
    * key range carry over untouched — a merge of a narrow key slice
    * touches only that slice's files. Commits a `"merge"` snapshot.
    * Source rows are taken as-is: duplicate keys WITHIN the source are
    * all inserted (dedupe the source first if that is not intended), and
    * null-key source rows append without replacing anything (SQL null
    * never equals a stored key). */
  def merge(
      spark: SparkSession,
      source: DataFrame,
      keyCol: String,
      committedAt: Option[Long] = None,
      mergeSchema: Boolean = false): Snapshot = {
    import org.apache.spark.sql.functions.{max => fmax, min => fmin}
    if (mergeSchema) {
      // EVERY deterministic refusal this merge could hit is checked
      // BEFORE widenForSource commits addColumn metadata (which is
      // permanent — dropColumn only tombstones): the merge key against
      // the WOULD-BE widened field set. A merge that would refuse must
      // refuse with nothing evolved.
      val widenedNames = schema.fieldNames ++
        source.schema.fieldNames.filterNot(n =>
          schema.fieldNames.exists(_.equalsIgnoreCase(n)))
      require(widenedNames.contains(keyCol), s"unknown merge key '$keyCol'")
      val widened = widenForSource(source.schema)
      if (widened ne this)
        // the widened schema appends the new columns in source order; the
        // reorder keeps the strict column-order contract satisfied
        return widened.merge(spark,
          source.select(widened.schema.fieldNames.map(col): _*),
          keyCol, committedAt)
    }
    require(schema.fieldNames.contains(keyCol), s"unknown merge key '$keyCol'")
    require(source.columns.toSeq == schema.fieldNames.toSeq,
      s"source columns ${source.columns.mkString(",")} must match table " +
        s"schema ${schema.fieldNames.mkString(",")}")
    source.schema.fields.zip(schema.fields).foreach { case (s, t) =>
      require(s.dataType == t.dataType,
        s"source column '${s.name}' is ${s.dataType.sql}, table expects " +
          s"${t.dataType.sql} (cast the source; an implicit union widening " +
          "would write files the table schema cannot read back)")
    }
    val lg = log
    val snapId = lg.nextId
    val manifest = lg.current
      .map(s => Manifest.read(s"$dir/${s.manifestList}"))
      .getOrElse(Manifest.empty)

    val bounds = source.agg(fmin(col(keyCol)), fmax(col(keyCol))).head()
    val (candidates, untouchedM) =
      if (bounds.isNullAt(0)) (Seq.empty[DataFileEntry], manifest)
      else {
        val pred = resolveAgainst(spark, schema,
          org.apache.spark.sql.classic.GraftBridge.expr(
            col(keyCol) >= lit(bounds.get(0)) && col(keyCol) <= lit(bounds.get(1))))
        partitionPruned(manifest, pred)
      }

    // no forced broadcast: delta batches are usually tiny (AQE broadcasts
    // them), but a huge backfill source must be allowed to shuffle-join.
    // Pending POSITIONAL, EQUALITY and PREDICATE-deferred deletes
    // compose as in delete()/update().
    val posPend = lg.current.map(parsePositional).getOrElse(Nil)
    val eqPend = lg.current.map(parseEquality).getOrElse(Nil)
    val pendFull = lg.current.map(parsePendingFull).getOrElse(Nil)
    val pend = pendFull.map(e => (e._1, e._2))
    val survivors =
      if (candidates.isEmpty) source
      else {
        val carried = readVisibleCarry(spark, pend, posPend, candidates, eqPend)
        val kept = carried
          .join(source.select(col(keyCol).as("__mk")).distinct(),
            col(keyCol) === col("__mk"), "left_anti")
          .select(carried.columns.map(col): _*)
        if (!lineageOn) kept.unionByName(source)
        else {
          // lineage: a MATCHED key's source row is the old row's new
          // VERSION — it inherits the old _row_id (min over duplicate
          // old copies: deterministic; an upsert table shouldn't hold
          // dup keys anyway) with a NULL _gf_seq (inherits this commit's
          // snapshot); fresh keys get NULL rid → a fresh band id
          val oldIds = carried
            .groupBy(col(keyCol).as("__mk"))
            .agg(org.apache.spark.sql.functions.min(col(LineageRidCol))
              .as("__orid"))
          val srcCarry = source
            .join(oldIds, col(keyCol) === col("__mk"), "left_outer")
            .select(schema.fieldNames.map(col) ++ Seq(
              col("__orid").as(LineageRidCol),
              lit(null).cast(LongType).as(LineageSeqCol)): _*)
          kept.unionByName(srcCarry)
        }
      }
    val newFiles = writeDataFiles(survivors, snapId)
      .filter(_.recordCount > 0)
    val stillPositional =
      stripPositional(posPend, candidates.map(_.path).toSet)
    commit(lg, snapId,
      untouchedM.append(newFiles),
      newFiles,
      operation = "merge", committedAt,
      extraSummary = Map(
        "rewritten-data-files" -> candidates.size.toString,
        "merge-key" -> keyCol,
        SummaryPendingDeletes ->
          pendingJsonFull(degradePendingFor(pendFull, candidates)),
        SummaryPositionalDeletes -> positionalJson(stillPositional),
        SummaryEqualityDeletes ->
          equalityJson(degradeEqualityFor(eqPend, candidates))))
  }

  /** General conditional MERGE, copy-on-write: the full
    * `WHEN MATCHED [AND p] THEN UPDATE SET …/DELETE …
    *  WHEN NOT MATCHED [AND p] THEN INSERT …
    *  [WHEN NOT MATCHED BY SOURCE [AND p] THEN UPDATE/DELETE]`
    * action surface over composite keys, one atomic commit — the
    * CDC-apply idiom ([[merge]] handles only the canonical whole-row
    * upsert). SQL MERGE semantics: per row, actions are tried in listed
    * order and the FIRST whose condition holds applies (a NULL condition
    * does not hold); a matched/by-source row matching no action is kept
    * unchanged, a source row matching no insert action is skipped.
    * Conditions and update values see the whole joined row — target
    * columns bare, source columns under [[GraftTable.MergeSrcPrefix]]
    * (see [[MergeMatchedAction]]); all of one action's assignments
    * evaluate against the OLD joined row in one projection.
    *
    * Scale shape: candidate files are pruned by the source key ranges
    * (per-key min/max — driver scalars), read once through the
    * visible-row reader, LEFT-joined to the source (no forced broadcast;
    * AQE broadcasts small deltas) and rewritten; files outside the key
    * range carry over by reference. `WHEN NOT MATCHED BY SOURCE` must
    * see every target row, so its presence widens the candidate set to
    * the whole table — the inherently global sync-to-source shape.
    * A target row matching more than one source row is refused (SQL
    * MERGE cardinality), checked as one aggregate over the source's key
    * tuples. Pending merge-on-read state of every form composes as in
    * [[merge]]. Returns None
    * when the merge provably touches nothing. */
  def mergeActions(
      spark: SparkSession,
      source: DataFrame,
      keyPairs: Seq[(String, String)],
      matched: Seq[MergeMatchedAction],
      notMatched: Seq[MergeInsert],
      notMatchedBySource: Seq[MergeMatchedAction] = Nil,
      committedAt: Option[Long] = None): Option[Snapshot] = {
    import org.apache.spark.sql.functions.{count_distinct, sum => fsum, when, max => fmax, min => fmin}
    require(keyPairs.nonEmpty, "at least one merge key pair required")
    keyPairs.foreach { case (tk, sk) =>
      require(schema.fieldNames.contains(tk), s"unknown merge key '$tk'")
      require(source.columns.contains(sk), s"source lacks key column '$sk'")
    }
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, "MERGE requires at least one action")
    val P = GraftTable.MergeSrcPrefix
    require(!schema.fieldNames.exists(_.startsWith(P)),
      s"table columns may not start with the reserved prefix $P")
    val lg = log
    val snapId = lg.nextId
    val manifest = lg.current
      .map(s => Manifest.read(s"$dir/${s.manifestList}"))
      .getOrElse(Manifest.empty)
    val srcKeyCols = keyPairs.map(_._2)

    // does any action MODIFY existing rows? An insert-only merge never
    // rewrites a candidate file (and never joins target rows to the
    // source — which would duplicate them under duplicate source keys,
    // a legal insert-only source)
    val rowModifying = matched.nonEmpty || notMatchedBySource.nonEmpty

    // SQL MERGE cardinality: a target row matching more than one source
    // row would make the applied action (or the rewrite join itself)
    // nondeterministic — refused whenever the rewrite join runs.
    // Checked as "non-null key tuples are distinct" with ONE aggregate
    // over the source (null-key rows never match, SQL equality).
    if (rowModifying) {
      val keysNotNull = srcKeyCols.map(col(_).isNotNull).reduce(_ && _)
      val a = source.agg(
        fsum(when(keysNotNull, 1L).otherwise(0L)),
        count_distinct(col(srcKeyCols.head), srcKeyCols.tail.map(col): _*))
        .head()
      require(a.isNullAt(0) || a.getLong(0) == a.getLong(1),
        "MERGE source has duplicate key tuples — a target row would " +
          "match more than one source row (dedupe the source first)")
    }

    // candidate files by source key ranges; by-source actions must see
    // EVERY target row, so their presence touches the whole table
    val (candidates, untouchedM) =
      if (notMatchedBySource.nonEmpty) (manifest.files, Manifest.empty)
      else {
        val aggs = keyPairs.flatMap { case (_, sk) =>
          Seq(fmin(col(sk)), fmax(col(sk))) }
        val b = source.agg(aggs.head, aggs.tail: _*).head()
        val pred = keyPairs.zipWithIndex.map { case ((tk, _), i) =>
          // an all-null source key makes the equality unsatisfiable
          if (b.isNullAt(2 * i)) lit(false)
          else col(tk) >= lit(b.get(2 * i)) && col(tk) <= lit(b.get(2 * i + 1))
        }.reduce(_ && _)
        val resolved = resolveAgainst(spark, schema,
          org.apache.spark.sql.classic.GraftBridge.expr(pred))
        partitionPruned(manifest, resolved)
      }

    val posPend = lg.current.map(parsePositional).getOrElse(Nil)
    val eqPendMerge = lg.current.map(parseEquality).getOrElse(Nil)
    val pendFullMerge = lg.current.map(parsePendingFull).getOrElse(Nil)
    val pendMerge = pendFullMerge.map(e => (e._1, e._2))
    val srcP = source.select(source.columns.map(c => col(c).as(P + c)) :+
      lit(true).as(P + "__matched"): _*)

    // first-applicable-action chains, shared by drop flag and values so
    // every row resolves to exactly one action (or none)
    def chainDrop(actions: Seq[MergeMatchedAction]): Column =
      actions.foldRight(lit(false)) { (a, els) =>
        when(a.condition.getOrElse(lit(true)),
          lit(a.isInstanceOf[MergeDelete])).otherwise(els)
      }
    def chainVal(actions: Seq[MergeMatchedAction], c: String): Column =
      actions.foldRight(col(c)) { (a, els) =>
        val v = a match {
          case MergeUpdate(_, as) => as.getOrElse(c, col(c))
          case _: MergeDelete => col(c) // row is dropped; value unused
        }
        when(a.condition.getOrElse(lit(true)), v).otherwise(els)
      }

    val rewrittenOpt: Option[DataFrame] =
      if (candidates.isEmpty || !rowModifying) None
      else {
        val tgt = readVisibleCarry(spark, pendMerge, posPend, candidates,
          eqPendMerge)
        val joinCond = keyPairs.map { case (tk, sk) =>
          tgt(tk) === srcP(P + sk) }.reduce(_ && _)
        val joined = tgt.join(srcP, joinCond, "left_outer")
        val isM = col(P + "__matched").isNotNull
        val drop =
          when(isM, chainDrop(matched)).otherwise(chainDrop(notMatchedBySource))
        // lineage: every rewritten row keeps its _row_id; a row whose
        // FIRST-APPLICABLE action was an UPDATE is modified — its
        // _gf_seq goes NULL (inherits this commit's snapshot), kept-
        // unchanged rows keep their old one
        def chainMod(actions: Seq[MergeMatchedAction]): Column =
          actions.foldRight(lit(false)) { (a, els) =>
            when(a.condition.getOrElse(lit(true)),
              lit(a.isInstanceOf[MergeUpdate])).otherwise(els)
          }
        val carryCols: Seq[Column] =
          if (!lineageOn) Nil
          else {
            val modified = when(isM, chainMod(matched))
              .otherwise(chainMod(notMatchedBySource))
            Seq(col(LineageRidCol),
              when(modified, lit(null).cast(LongType))
                .otherwise(col(LineageSeqCol)).as(LineageSeqCol))
          }
        val vals = schema.fields.toSeq.map { f =>
          when(isM, chainVal(matched, f.name))
            .otherwise(chainVal(notMatchedBySource, f.name))
            .cast(f.dataType).as(f.name)
        }
        Some(joined.filter(!drop).select(vals ++ carryCols: _*))
      }

    val insertsOpt: Option[DataFrame] =
      if (notMatched.isEmpty) None
      else {
        val unmatched =
          if (candidates.isEmpty) srcP
          else {
            // every possibly-matching target key lives in a candidate
            // file (pruning is conservative over the source key range),
            // so the anti-join against candidate keys is exact
            val tgtKeys = readVisible(spark, pendMerge, posPend, candidates,
                eqPendMerge)
              .select(keyPairs.map { case (tk, _) =>
                col(tk).as(P + "__t_" + tk) }: _*)
              .distinct()
            srcP.join(tgtKeys,
              keyPairs.map { case (tk, sk) =>
                col(P + sk) === col(P + "__t_" + tk) }.reduce(_ && _),
              "left_anti")
          }
        val applies = notMatched.foldRight(lit(false)) { (a, els) =>
          when(a.condition.getOrElse(lit(true)), lit(true)).otherwise(els) }
        val vals = schema.fields.toSeq.map { f =>
          notMatched.foldRight(lit(null).cast(f.dataType): Column) { (a, els) =>
            when(a.condition.getOrElse(lit(true)),
              a.values.getOrElse(f.name, lit(null)).cast(f.dataType))
              .otherwise(els)
          }.cast(f.dataType).as(f.name)
        }
        // lineage: inserted rows get NULL carry cells (fresh band id +
        // this commit's snapshot), matching the rewritten side's shape
        val insCarry: Seq[Column] =
          if (!lineageOn || !rowModifying || candidates.isEmpty) Nil
          else Seq(lit(null).cast(LongType).as(LineageRidCol),
            lit(null).cast(LongType).as(LineageSeqCol))
        Some(unmatched.filter(applies).select(vals ++ insCarry: _*))
      }

    val out = (rewrittenOpt, insertsOpt) match {
      case (Some(r), Some(i)) => Some(r.unionByName(i))
      case (r, i) => r.orElse(i)
    }
    val newFiles = out
      .map(df => writeDataFiles(df, snapId).filter(_.recordCount > 0))
      .getOrElse(Nil)
    if (!rowModifying) {
      // insert-only: every existing file (candidates included) stays in
      // place with its positional entries intact; only the inserted
      // files append
      if (newFiles.isEmpty) return None // no row inserted: no commit
      return Some(commit(lg, snapId, manifest.append(newFiles), newFiles,
        operation = "merge", committedAt,
        extraSummary = Map(
          "rewritten-data-files" -> "0",
          "merge-key" -> keyPairs.map(_._1).mkString(","),
          SummaryPositionalDeletes -> positionalJson(posPend))))
    }
    if (candidates.isEmpty && newFiles.isEmpty) return None // provable no-op
    val stillPositional =
      stripPositional(posPend, candidates.map(_.path).toSet)
    Some(commit(lg, snapId,
      untouchedM.append(newFiles),
      newFiles,
      operation = "merge", committedAt,
      extraSummary = Map(
        "rewritten-data-files" -> candidates.size.toString,
        "merge-key" -> keyPairs.map(_._1).mkString(","),
        SummaryPendingDeletes ->
          pendingJsonFull(degradePendingFor(pendFullMerge, candidates)),
        SummaryPositionalDeletes -> positionalJson(stillPositional),
        SummaryEqualityDeletes ->
          equalityJson(degradeEqualityFor(eqPendMerge, candidates)))))
  }

  /** Conditional MERGE, merge-on-read: the CDC-apply action surface
    * (`WHEN MATCHED AND p THEN DELETE`, conditional whole-row updates,
    * conditional inserts) committed as ONE equality-tombstone entry plus
    * the upsert rows' data files — no data file is rewritten
    * ([[mergeEquality]] generalized beyond the unconditional upsert).
    * Conditions and values must reference SOURCE columns only (bare
    * names), and every update must assign the whole row: outcomes that
    * depend on target VALUES need the copy-on-write [[mergeActions]].
    * Matched-ness still matters when conditions differ between the
    * matched and not-matched chains, so each source row is flagged by
    * one semi-join against the candidate files' KEY columns (pruned by
    * source key range, column-pruned — a key-slice read, not a rewrite).
    * Then per row, first-applicable-action: update → upsert (tombstone
    * key + new row), delete → tombstone only, insert → new row, none →
    * no-op. One atomic commit via [[mergeEquality]]; same scoping,
    * counting and refusal discipline. */
  def mergeEqualityConditional(
      spark: SparkSession,
      source: DataFrame,
      keyPairs: Seq[(String, String)],
      matched: Seq[MergeMatchedAction],
      notMatched: Seq[MergeInsert],
      committedAt: Option[Long] = None,
      exactCount: Boolean = true): Option[Snapshot] = {
    import org.apache.spark.sql.functions.{count_distinct, sum => fsum, when, max => fmax, min => fmin}
    require(keyPairs.nonEmpty, "at least one merge key pair required")
    keyPairs.foreach { case (tk, sk) =>
      require(schema.fieldNames.contains(tk), s"unknown merge key '$tk'")
      require(source.columns.contains(sk), s"source lacks key column '$sk'")
    }
    val lg = log
    val current = lg.current.getOrElse(
      throw new IllegalArgumentException(
        s"$dir has no snapshot — append() the initial data first"))
    val srcKeyCols = keyPairs.map(_._2)
    if (matched.nonEmpty) {
      val keysNotNull = srcKeyCols.map(col(_).isNotNull).reduce(_ && _)
      val a = source.agg(
        fsum(when(keysNotNull, 1L).otherwise(0L)),
        count_distinct(col(srcKeyCols.head), srcKeyCols.tail.map(col): _*))
        .head()
      require(a.isNullAt(0) || a.getLong(0) == a.getLong(1),
        "MERGE source has duplicate key tuples — a target row would " +
          "match more than one source row (dedupe the source first)")
    }
    // matched flag: semi-join against candidate files' key tuples,
    // candidates pruned by the source key ranges
    val manifest = Manifest.read(s"$dir/${current.manifestList}")
    val aggs = keyPairs.flatMap { case (_, sk) =>
      Seq(fmin(col(sk)), fmax(col(sk))) }
    val b = source.agg(aggs.head, aggs.tail: _*).head()
    val rangePred = keyPairs.zipWithIndex.map { case ((tk, _), i) =>
      if (b.isNullAt(2 * i)) lit(false)
      else col(tk) >= lit(b.get(2 * i)) && col(tk) <= lit(b.get(2 * i + 1))
    }.reduce(_ && _)
    val resolved = resolveAgainst(spark, schema,
      org.apache.spark.sql.classic.GraftBridge.expr(rangePred))
    val candidates = prunedFiles(manifest, resolved)
    val M = GraftTable.MergeSrcPrefix + "__matched"
    val flagged =
      if (candidates.isEmpty) source.withColumn(M, lit(false))
      else {
        val eq = parseEquality(current)
        val tgtKeys = readVisible(spark, parsePending(current),
            parsePositional(current), candidates, eq)
          .select(keyPairs.map { case (tk, _) =>
            col(tk).as(GraftTable.MergeSrcPrefix + tk) }: _*)
          .distinct()
        val cond = keyPairs.map { case (tk, sk) =>
          col(sk) === col(GraftTable.MergeSrcPrefix + tk) }.reduce(_ && _)
        source.join(tgtKeys, cond, "left_outer")
          .withColumn(M,
            col(GraftTable.MergeSrcPrefix + keyPairs.head._1).isNotNull)
          .drop(keyPairs.map(p => GraftTable.MergeSrcPrefix + p._1): _*)
      }
    // per-row outcome: 'U' upsert, 'D' tombstone, 'I' insert, 'N' no-op
    def kindChain(actions: Seq[(Option[Column], String)]): Column =
      actions.foldRight(lit("N"): Column) { case ((c, k), els) =>
        when(c.getOrElse(lit(true)), lit(k)).otherwise(els) }
    val matchedKinds = matched.map {
      case MergeUpdate(c, _) => (c, "U")
      case MergeDelete(c) => (c, "D")
    }
    val insertKinds = notMatched.map(a => (a.condition, "I"))
    val kind = when(col(M), kindChain(matchedKinds))
      .otherwise(kindChain(insertKinds))
    val classified = flagged.withColumn(M, kind)
    def project(df: DataFrame, actions: Seq[(Option[Column], Map[String, Column])]): DataFrame =
      df.select(schema.fields.toSeq.map { f =>
        actions.foldRight(lit(null).cast(f.dataType): Column) { case ((c, vs), els) =>
          when(c.getOrElse(lit(true)),
            vs.getOrElse(f.name, lit(null)).cast(f.dataType)).otherwise(els)
        }.cast(f.dataType).as(f.name)
      }: _*)
    val upserts = project(classified.filter(col(M) === "U"),
        matched.collect { case MergeUpdate(c, as) => (c, as) })
      .unionByName(project(classified.filter(col(M) === "I"),
        notMatched.map(a => (a.condition, a.values))))
    val delKeys = classified.filter(col(M) === "D")
      .select(keyPairs.map { case (tk, sk) =>
        col(sk).cast(schema(tk).dataType).as(tk) }: _*)
    mergeEquality(spark, upserts, keyPairs.map(_._1), committedAt,
      exactCount, deleteKeys = Some(delKeys))
  }

  /** Roll the table back to an earlier snapshot by committing a NEW
    * `"rollback"` snapshot that reuses its manifest — history is never
    * rewritten (the bad snapshots stay queryable for forensics), the
    * current state just points at the old file set again. */
  def rollbackTo(snapshotId: Long, committedAt: Option[Long] = None): Snapshot = {
    val lg = log
    val target = lg.byId(snapshotId).getOrElse(
      throw new IllegalArgumentException(s"no snapshot $snapshotId in $dir"))
    // ROW-ID STABILITY across rollback: the target's manifest may hold
    // band-less entries (pre-lineage snapshots) that the rolled-back
    // head had since banded — without adoption a later rewrite would
    // re-band those files from the watermark and the same physical rows
    // would read DIFFERENT _row_id values than the discarded history
    // served (unique, but not stable). Adopt the head's assignments for
    // files common to both manifests; files only the target knows either
    // ride an adoption-rewritten segment and take their upgrade band at
    // this commit, or stay band-less until their next rewrite (ids never
    // reused either way — the next-row-id watermark is carried, monotone).
    val manifest0 = Manifest.read(s"$dir/${target.manifestList}")
    val headBands: Map[String, Long] = lg.current.toSeq
      .flatMap(h => Manifest.read(s"$dir/${h.manifestList}").files)
      .flatMap(f => f.firstRowId.map(f.path -> _)).toMap
    val manifest = manifest0.adoptBands(headBands)
    commit(lg, lg.nextId, manifest, Nil,
      operation = "rollback", committedAt,
      extraSummary = Map(
        "rolled-back-to" -> snapshotId.toString,
        // adopt the TARGET's carried state (commit would otherwise
        // inherit the rolled-back head's): pending deferred deletes AND
        // stream cursors — so a replay of a rolled-back stream batch
        // re-ingests instead of being dropped as a re-delivery
        SummaryPendingDeletes -> pendingJsonFull(parsePendingFull(target)),
        SummaryPositionalDeletes -> positionalJson(parsePositional(target)),
        SummaryEqualityDeletes -> equalityJson(parseEquality(target)),
        SummaryStreamCursors -> target.summary
          .getOrElse(SummaryStreamCursors, "{}")))
  }

  /** CHERRY-PICK an append snapshot onto the current state (Iceberg's
    * `cherrypick_snapshot`): commits a NEW snapshot whose manifest is
    * the current one plus exactly the data files `snapshotId` ADDED —
    * the write–audit–publish recovery move (re-apply a good batch a
    * rollback discarded) without replaying the write job. History is
    * never rewritten; the picked snapshot stays queryable. Restrictions
    * keep the accounting exact:
    *   - only `append` snapshots (a delete/update/replace cherry-pick
    *     would need conflict-aware replay — re-run the DML instead);
    *   - none of the added files may be in the current manifest
    *     (already applied);
    *   - every added file must still exist (not reclaimed by expire);
    *   - refused while merge-on-read state pends: covered-snapshot
    *     scoping keys on a file's OWN committing snapshot id (embedded
    *     in its name), so a re-added file would retroactively fall
    *     under entries that never saw its rows and their exact dead
    *     counts would silently drift — compact() first.
    * Row-id bands CARRY with the entries (commit's mapFresh never
    * re-bands), so re-applied rows serve the same `_row_id`s they had
    * before the rollback — stable, and the monotone next-row-id
    * watermark guarantees no collision with ids handed out since. */
  def cherrypick(
      snapshotId: Long, committedAt: Option[Long] = None): Snapshot = {
    val lg = log
    val target = lg.byId(snapshotId).getOrElse(
      throw new IllegalArgumentException(s"no snapshot $snapshotId in $dir"))
    val current = lg.current.getOrElse(
      throw new IllegalStateException(s"empty table $dir"))
    require(target.operation == "append",
      s"cherrypick supports append snapshots only; $snapshotId is " +
        s"'${target.operation}' — re-run the original statement instead")
    require(parsePendingFull(current).isEmpty &&
      parsePositional(current).isEmpty && parseEquality(current).isEmpty,
      s"cherrypick refused while merge-on-read deletes pend on $dir — " +
        "compact() to materialize them first")
    val parentPaths: Set[String] = target.parentId match {
      case Some(pid) =>
        val p = lg.byId(pid).getOrElse(throw new IllegalStateException(
          s"snapshot $snapshotId's parent $pid expired — cannot compute " +
            s"the files it added"))
        Manifest.read(s"$dir/${p.manifestList}").files.map(_.path).toSet
      case None => Set.empty
    }
    val added = Manifest.read(s"$dir/${target.manifestList}").files
      .filterNot(f => parentPaths(f.path))
    require(added.nonEmpty, s"snapshot $snapshotId added no data files")
    val cur = Manifest.read(s"$dir/${current.manifestList}")
    val curPaths = cur.files.map(_.path).toSet
    val dup = added.filter(f => curPaths(f.path))
    require(dup.isEmpty,
      s"cherrypick of $snapshotId refused: ${dup.size} of its file(s) " +
        s"are already in the current manifest (e.g. ${dup.head.path})")
    val missing = added.filterNot(f => Files.exists(Paths.get(dir, f.path)))
    require(missing.isEmpty,
      s"cherrypick of $snapshotId refused: ${missing.size} added " +
        s"file(s) no longer exist (expired) — e.g. ${missing.head.path}")
    commit(lg, lg.nextId, cur.append(added), Nil,
      operation = "cherrypick", committedAt,
      extraSummary = Map("cherrypicked-from" -> snapshotId.toString))
  }

  /** Expire snapshots committed before `olderThanMillis` (the current
    * snapshot is always kept): their log entries and manifests are
    * removed, and data files no longer referenced by ANY surviving
    * manifest are physically deleted — how space is actually reclaimed
    * after compaction/delete rewrites. Time travel to an expired snapshot
    * fails loudly afterwards. Returns the expired snapshot ids. */
  def expireSnapshots(olderThanMillis: Long): Seq[Long] =
    expireSnapshots(olderThanMillis, retainLast = 1)

  /** [[expireSnapshots]] with a RETAIN-LAST floor (Iceberg's
    * `retainLast` / Delta's version-count retention): at least the
    * newest `retainLast` snapshots survive regardless of age — the
    * guard that keeps an aggressive age policy from collapsing a
    * table's recent history (and its rollback window) after a burst of
    * commits. The current snapshot always survives (`retainLast` is
    * clamped to ≥ 1); tags and live-branch forks stay anchors. */
  def expireSnapshots(olderThanMillis: Long, retainLast: Int): Seq[Long] = {
    require(!txnStaged,
      s"expireSnapshots rewrites the PUBLISHED log — not available on a " +
        s"transaction-staged handle ($dir)")
    // serialize against committers via the same claim a commit for the
    // NEXT id would take: a writer mid-commit makes this throw (retry via
    // withCommitRetry); holding it, no commit can interleave between our
    // log read and rewrite. Without this, expire's read-modify-write
    // could drop a commit that landed in between.
    val lg0 = log
    val claimId = lg0.nextId
    val marker = Paths.get(dir, "manifests", f".commit-$claimId%05d")
    Files.createDirectories(marker.getParent)
    try Files.createFile(marker)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"a writer holds the commit claim on $dir; retry expiration")
    }
    try {
      // Re-validate AFTER acquiring the marker: a commit can complete
      // (consuming claimId and deleting its own marker) between the log
      // read above and our createFile — our marker then guards an
      // already-consumed id, a fresh committer claims the NEXT id, and
      // the two read-modify-writes of snapshots.json interleave freely
      // (losing that commit or resurrecting an expired prefix). A claim
      // is only a claim if the id is still the next one.
      if (log.nextId != claimId)
        throw new java.util.ConcurrentModificationException(
          s"a commit landed while acquiring the expire claim on $dir; " +
            "retry expiration")
      expireUnderClaim(olderThanMillis, math.max(1, retainLast))
    } finally Files.deleteIfExists(marker)
  }

  private def expireUnderClaim(
      olderThanMillis: Long, retainLast: Int): Seq[Long] = {
    // PER-REF RETENTION pre-pass (Iceberg `max-ref-age-ms` parity):
    // tags and branch refs carrying an age policy are dropped FIRST —
    // once a ref ages out it stops being a retention anchor, and the
    // ordinary prefix cut below can reclaim its snapshots. Each drop
    // takes the refs lock itself, so this runs before the cut's own
    // lock scope (the commit claim is already held — no committer can
    // interleave).
    val now = System.currentTimeMillis()
    refAges.foreach { case (name, (created, maxAge)) =>
      if (now - created > maxAge) dropTag(name)
    }
    branchRetention.foreach { case (name, (created, refAge, _, _)) =>
      if (created != Long.MaxValue && refAge.exists(a => now - created > a) &&
          branches.contains(name))
        dropBranch(name) // unpublished: candidate data dies with the ref
    }
    // PER-BRANCH SNAPSHOT RETENTION (`min-snapshots-to-keep` /
    // `max-snapshot-age-ms`): each surviving live branch's own chain
    // expires under ITS policy — the branch keeps its floor even when
    // the table-level policy is more aggressive, and ages out faster
    // when its policy is tighter. Published branches are skipped (their
    // chain already fast-forwarded into the parent at publish).
    branchRetention.foreach { case (name, (_, _, minKeep, snapAge)) =>
      if ((minKeep.isDefined || snapAge.isDefined) &&
          branches.get(name).exists(!_._2)) {
        branch(name).expireSnapshots(
          snapAge.map(now - _).getOrElse(olderThanMillis),
          math.max(1, minKeep.getOrElse(1)))
      }
    }
    // The refs read, prefix cut, and log rewrite happen UNDER the refs
    // lock: a tag() committed between a bare refs read and the rewrite
    // would lose its retention-anchor role and see its snapshot expired
    // anyway (readTag then fails loudly later). Holding the lock, taggers
    // queue behind the rewrite and then see the pruned log.
    val cut: Option[(Seq[Snapshot], Seq[Snapshot])] = withRefsLock {
      val lg = log
      lg.current.flatMap { current =>
        // Expire only a CONTIGUOUS PREFIX of the chain: with caller-supplied
        // (possibly non-monotone) timestamps, a bare committedAt partition
        // could expire a mid-chain snapshot, leaving a survivor whose parent
        // is gone — changes() would then find no parent diff and re-emit the
        // next commit's whole carried-over file set as new rows. A prefix cut
        // keeps every surviving snapshot's lineage intact by construction.
        // tags AND live-branch fork snapshots are retention anchors; the
        // prefix cut stops at either (keeps the surviving chain's lineage
        // contiguous, and keeps every file a branch inherited alive)
        val tagged = refs.values.toSet ++
          branches.collect { case (_, (fork, false)) => fork }
        // the retain-last floor caps the expirable prefix length
        val maxExpirable = math.max(0, lg.snapshots.size - retainLast)
        val expired = lg.snapshots.take(maxExpirable).takeWhile(s =>
          s.committedAt < olderThanMillis &&
            s.snapshotId != current.snapshotId &&
            !tagged.contains(s.snapshotId))
        val kept = lg.snapshots.drop(expired.size)
        if (expired.isEmpty) None
        else {
          SnapshotLog(kept).write(s"$dir/snapshots.json")
          Some((expired, kept))
        }
      }
    }
    cut match {
      case None => Nil
      case Some((expired, kept)) =>
        // physical deletes need no lock: the pruned log is already durable,
        // so nothing can resurrect references to the dead files
        val live: Set[String] = kept
          .flatMap(s =>
            Manifest.read(s"$dir/${s.manifestList}").files.map(_.path))
          .toSet
        val dead = expired
          .flatMap(s =>
            Manifest.read(s"$dir/${s.manifestList}").files.map(_.path))
          .distinct.filterNot(live)
          // fork-inherited `../…` entries point into the PARENT table —
          // a branch never owns those bytes and must not reclaim them
          .filterNot(_.startsWith("../"))
        dead.foreach(p => Files.deleteIfExists(Paths.get(dir, p)))
        // positional delete parquets are referenced from snapshot
        // SUMMARIES, not manifests — reclaim the ones no surviving
        // snapshot's entries mention (compaction/DML strip entries but
        // keep the parquets so older snapshots stay readable)
        val liveDel: Set[String] =
          kept.flatMap(s => parsePositional(s).flatMap(_.files) ++
            parseEquality(s).flatMap(_.files)).toSet
        expired.flatMap(s => parsePositional(s).flatMap(_.files) ++
            parseEquality(s).flatMap(_.files))
          .distinct.filterNot(liveDel).filterNot(_.startsWith("../"))
          .foreach(p => Files.deleteIfExists(Paths.get(dir, p)))
        // manifest SEGMENTS are shared by ref across snapshots — reclaim
        // only the ones no surviving manifest list mentions, then the
        // expired lists themselves
        val liveSegs: Set[String] = kept
          .flatMap(s => Manifest.segmentRefsOf(s"$dir/${s.manifestList}"))
          .toSet
        expired
          .flatMap(s => Manifest.segmentRefsOf(s"$dir/${s.manifestList}"))
          .distinct.filterNot(liveSegs)
          .foreach(r => Files.deleteIfExists(Paths.get(dir, r)))
        expired.foreach(s =>
          Files.deleteIfExists(Paths.get(dir, s.manifestList)))
        expired.map(_.snapshotId)
    }
  }

  /** ADMIN: reclaim ORPHAN files — bytes under this table's `data/` and
    * `deletes/` that NO snapshot in the log references (Iceberg's
    * `remove_orphan_files`). Orphans come from hard-crashed writers:
    * the commit-race loser cleans up after itself, but a writer killed
    * between staging/moving files and committing leaves bytes no
    * manifest (and therefore no [[expireSnapshots]] run) will ever
    * reclaim. Also removes abandoned `.staging-*` dirs.
    *
    * `olderThanMillis` is an AGE guard (like [[clearStaleClaims]]):
    * only files/dirs whose mtime is older survive-proofed against a
    * LIVE writer whose staged work simply hasn't committed yet — pick
    * an age well above the longest legitimate write.
    *
    * Branch safety: a live branch's fork-era files are referenced by
    * the fork snapshot in THIS table's log (fork snapshots are
    * retention anchors, so expiration cannot drop them while the
    * branch lives), and a branch's own files live under `branches/…`,
    * outside the walked roots — neither can be reclaimed here. */
  def removeOrphanFiles(olderThanMillis: Long): Seq[String] = {
    require(!txnStaged,
      s"removeOrphanFiles is not available on a transaction-staged handle ($dir)")
    def stagedTxnLogs: Seq[String] =
      scala.util.Using.resource(Files.list(Paths.get(dir))) { st =>
        st.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith(GraftTable.MainLog + ".txn-")).toSeq
      }
    // an OPEN warehouse transaction's staged commits reference data and
    // segment files the published log does not know yet — sweeping now
    // would delete them out from under the transaction. Refuse until the
    // txn publishes, rolls back, or is recovered (recoverTransactions).
    require(!Files.exists(Paths.get(dir, GraftTransaction.PendingFile)) &&
      stagedTxnLogs.isEmpty,
      s"a warehouse transaction is in flight on $dir — publish, roll " +
        "back, or recover it (GraftTransaction.recover) before sweeping " +
        "orphans")
    // same for a REPLACE mid-publish: its pointer marks staged state a
    // sweep must not reclaim (a dead pre-commit replace clears its own
    // pointer; a committed one heals on the log read above)
    require(!Files.exists(Paths.get(dir, GraftTable.ReplacePendingFile)),
      s"a table REPLACE is in flight on $dir — let it finish (or read " +
        "the table once to heal a crashed one) before sweeping orphans")
    val cutoff = System.currentTimeMillis() - olderThanMillis
    val lg = log
    val referenced: Set[String] = (lg.snapshots.flatMap { s =>
      Manifest.read(s"$dir/${s.manifestList}").files.map(f =>
        Paths.get(dir, f.path).normalize().toString)
    } ++ lg.snapshots.flatMap(s => parsePositional(s).flatMap(_.files) ++
        parseEquality(s).flatMap(_.files))
      .map(p => Paths.get(dir, p).normalize().toString)).toSet
    def walk(root: java.nio.file.Path): Seq[java.nio.file.Path] =
      if (!Files.exists(root)) Nil
      else scala.util.Using.resource(Files.walk(root)) { st =>
        st.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      }
    val orphans = (walk(Paths.get(dir, "data")) ++ walk(Paths.get(dir, "deletes")))
      .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
      .filterNot(p => referenced.contains(p.normalize().toString))
    orphans.foreach(Files.deleteIfExists(_))
    // segment files a hard-crashed committer wrote but never published
    // in a manifest list (the race loser and the log-write failure path
    // clean up after themselves; a kill -9 between the two does not)
    val refSegs: Set[String] = lg.snapshots
      .flatMap(s => Manifest.segmentRefsOf(s"$dir/${s.manifestList}"))
      .map(r => Paths.get(dir, r).normalize().toString).toSet
    val orphanSegs = walk(Paths.get(dir, "manifests"))
      .filter(p => p.getFileName.toString.startsWith("seg-"))
      .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
      .filterNot(p => refSegs.contains(p.normalize().toString))
    orphanSegs.foreach(Files.deleteIfExists(_))
    // manifest LISTS no snapshot references — the pre-replace history a
    // REPLACE discarded (expire removes entries + lists together, so
    // only a whole-log swap can strand these)
    val refLists: Set[String] = lg.snapshots
      .map(s => Paths.get(dir, s.manifestList).normalize().toString).toSet
    val orphanLists = walk(Paths.get(dir, "manifests"))
      .filter(p => p.getFileName.toString.startsWith("snap-"))
      .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
      .filterNot(p => refLists.contains(p.normalize().toString))
    orphanLists.foreach(Files.deleteIfExists(_))
    val staged = scala.util.Using.resource(Files.list(Paths.get(dir))) { st =>
      st.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          // data-write staging dirs AND the staged files of a replace
          // that died before writing its pointer (pointer-present
          // replaces were refused above)
          n.startsWith(".staging") || n.contains(".rtas-")
        }
        .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
        .toSeq
    }
    staged.foreach(GraftTable.deleteRecursively)
    (orphans ++ orphanSegs ++ orphanLists ++ staged)
      .map(p => Paths.get(dir).relativize(p).toString)
  }

  /** Schema evolution: add a nullable column (the add-column slice of
    * Iceberg's schema evolution; the reference reads its schema from table
    * metadata, never from data — `table.schema()`, IcebergSerDe.java:52 —
    * which is exactly what makes this safe: existing parquet files simply
    * lack the field and scan as NULL, because every read applies the
    * TABLE schema, not the file schemas. No data rewrite at any scale;
    * manifests keep their stats (a file with no stats for the new column
    * is never pruned by predicates on it — conservative by construction).
    * Returns the evolved table handle; the on-disk metadata is updated
    * atomically. */
  def addColumn(name: String, dataType: DataType): GraftTable =
    addColumn(name, dataType, defaultSql = None)

  /** [[addColumn]] with an optional DEFAULT (Iceberg v3 initial/write
    * default parity): `defaultSql` is a constant-foldable SQL literal
    * (e.g. `"'unknown'"`, `"0"`, `"DATE'2026-01-01'"`). Rows in files
    * written BEFORE this event read the default instead of NULL — a
    * per-era projection, so values physically written after the add
    * (NULL included) are untouched; and a write source LACKING the
    * column fills it at write time (the write default). Metadata-only
    * like every evolution here; `compact()` materializes the default
    * physically and retires the era. Pre-default files refuse the raw
    * DSv2 file-list scan exactly like pre-rename ones (the extensions'
    * SQL splice and every library read serve them). */
  def addColumn(
      name: String, dataType: DataType,
      defaultSql: Option[String]): GraftTable = {
    require(!schema.fieldNames.contains(name),
      s"column '$name' already exists in $dir")
    require(name != virtualColumn,
      s"column '$name' would shadow the virtual snapshot column")
    GraftTable.requireNotReserved(name, dir)
    // name-based (field-id-free) evolution's one hard rule: a name whose
    // PHYSICAL values still sit in existing files can never come back —
    // re-adding would resurrect those values instead of reading NULL
    require(!droppedColumns.contains(name),
      s"column '$name' was dropped from $dir — existing files still " +
        "carry its physical values, so re-adding it would resurrect " +
        "them; pick a new name")
    require(!renames.exists(_.from == name),
      s"column '$name' is an old-era physical name in $dir (renamed " +
        "away) — adding it would resurrect pre-rename values; pick a " +
        "new name")
    val newDefaults = defaultSql match {
      case None => defaults
      case Some(sql) =>
        GraftTable.validateDefault(name, dataType, sql)
        defaults :+ ColumnDefault(log.nextId, name, sql,
          seq = renames.size.toLong + widenings.size + defaults.size)
    }
    writeMeta(
      newSchema = StructType(
        schema.fields :+ StructField(name, dataType, nullable = true)),
      newDefaults = newDefaults)
  }

  /** Record WRITE defaults for EXISTING columns at table-creation time
    * (`CREATE TABLE (c INT DEFAULT 5)`): no file predates the table, so
    * only the write-side fill ever applies — the read-side era fill is
    * vacuous by construction. */
  private[table] def withCreateDefaults(
      ds: Seq[(String, String)]): GraftTable =
    if (ds.isEmpty) this
    else {
      ds.foreach { case (c, sql) =>
        require(schema.fieldNames.contains(c), s"unknown column '$c'")
        GraftTable.validateDefault(c, schema(c).dataType, sql)
      }
      writeMeta(newDefaults = defaults ++ ds.zipWithIndex.map {
        case ((c, sql), i) => ColumnDefault(log.nextId, c, sql,
          seq = renames.size.toLong + widenings.size + defaults.size + i)
      })
    }

  /** Schema evolution: DROP a column — metadata-only, like [[addColumn]]
    * (Iceberg drops are metadata edits too; the vectorized reader simply
    * stops projecting the physical column). The name is tombstoned along
    * with its whole old-era physical alias chain, so [[addColumn]] can
    * refuse the resurrection case. Refused for partition sources (the
    * layout is name-addressed) and while predicate/equality merge-on-read
    * entries pend (their stored SQL/cols are name-addressed). */
  def dropColumn(name: String): GraftTable = {
    require(schema.fieldNames.contains(name), s"unknown column '$name'")
    require(schema.fields.length > 1, s"cannot drop the last column of $dir")
    require(!partitionFields.exists(_.source == name),
      s"column '$name' is a partition source of $dir — evolve the " +
        "partition spec first")
    require(pendingDeletes.isEmpty && equalityDeletes.isEmpty,
      s"$dir has merge-on-read entries pending — their predicates/keys " +
        "are name-addressed; compact() before dropping columns")
    // property references would brick every later write (writeDataFiles'
    // sort/notnull/bloom requires, constraintGuard's expr resolution)
    Seq(PropNotNullColumns, PropBloomColumns, PropWriteSort).foreach { k =>
      require(!properties.get(k).exists(
          _.split(',').map(_.trim).contains(name)),
        s"table property $k references '$name' — update it first")
    }
    require(!properties.exists { case (k, v) =>
        k.startsWith(PropCheckPrefix) &&
          v.matches(s".*\\b${java.util.regex.Pattern.quote(name)}\\b.*")
      },
      s"a ${PropCheckPrefix}* constraint references '$name' — update it first")
    // tombstone every physical name that ever held this column
    val aliases = (name +: renames.sortBy(r => (-r.at, -r.seq))
      .scanLeft(name) { (cur, r) => if (r.to == cur) r.from else cur
    }).distinct
    writeMeta(
      newSchema = StructType(schema.fields.filterNot(_.name == name)),
      // the dropped column's ANALYZE stats leave with it
      newProps = properties -- Seq(s"$PropStatsNdvPrefix$name",
        s"$PropStatsSketchPrefix$name", s"$PropStatsSnapPrefix$name"),
      newDropped = (droppedColumns ++ aliases).distinct,
      // its default event leaves too (the era walk would otherwise
      // match a ghost name if the alias were ever legal again)
      newDefaults = defaults.filterNot(d => aliases.contains(d.col)))
  }

  /** Schema evolution: RENAME a column — metadata-only. Files keep their
    * era's physical name; reads map it back per file (name-based analog
    * of Iceberg's field-id indirection, [[physicalName]]). Old manifest
    * entries keep stats/blooms under the old name, which only COSTS
    * pruning precision on pre-rename files (absent stats keep the file —
    * conservative), never correctness; `compact()` rewrites under the
    * new name and restores precision. Refusals keep the name-addressed
    * surfaces sound: partition sources, pending predicate/equality
    * entries, properties referencing the column, foreign-era (fork/
    * publish) files whose snapshot attribution is unknowable, and names
    * whose resurrection [[addColumn]] would otherwise allow. Single-
    * writer semantics like every schema change: a write racing the
    * rename can land files of the old era tagged with a new-era id. */
  def renameColumn(from: String, to: String): GraftTable = {
    require(schema.fieldNames.contains(from), s"unknown column '$from'")
    require(!schema.fieldNames.contains(to),
      s"column '$to' already exists in $dir")
    require(to != virtualColumn,
      s"column '$to' would shadow the virtual snapshot column")
    GraftTable.requireNotReserved(to, dir)
    require(!droppedColumns.contains(to),
      s"column '$to' was dropped from $dir — old files still carry its " +
        "physical values; pick a new name")
    require(!renames.exists(_.from == to),
      s"column '$to' is an old-era physical name in $dir; pick a new name")
    require(!partitionFields.exists(_.source == from),
      s"column '$from' is a partition source of $dir — the directory " +
        "layout and spec are name-addressed")
    require(pendingDeletes.isEmpty && equalityDeletes.isEmpty,
      s"$dir has merge-on-read entries pending — their predicates/keys " +
        "are name-addressed; compact() before renaming")
    Seq(PropNotNullColumns, PropBloomColumns, PropWriteSort).foreach { k =>
      require(!properties.get(k).exists(
          _.split(',').map(_.trim).contains(from)),
        s"table property $k references '$from' — update it first")
    }
    require(!properties.exists { case (k, v) =>
        k.startsWith(PropCheckPrefix) &&
          v.matches(s".*\\b${java.util.regex.Pattern.quote(from)}\\b.*")
      },
      s"a ${PropCheckPrefix}* constraint references '$from' — update it first")
    log.current.foreach { s =>
      Manifest.read(s"$dir/${s.manifestList}").files.foreach(f =>
        require(fileSnapId(f.path).isDefined,
          s"cannot scope a rename: data file ${f.path} is from a branch " +
            "era whose snapshot attribution belongs to another table — " +
            "compact() first to re-own the files"))
    }
    // ANALYZE stats migrate with the column (the sketch is over VALUES,
    // which a rename does not change) — left behind under the old name
    // they would be orphaned AND a later re-analyze of the new name
    // would silently cover only post-rename files
    val statKeys = Seq(PropStatsNdvPrefix, PropStatsSketchPrefix,
      PropStatsSnapPrefix)
    val migrated = properties ++ statKeys.flatMap(pfx =>
      properties.get(s"$pfx$from").map(v => s"$pfx$to" -> v)) --
      statKeys.map(pfx => s"$pfx$from")
    writeMeta(
      newSchema = StructType(schema.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f)),
      newProps = migrated,
      newRenames = renames :+ ColumnRename(log.nextId, from, to,
        seq = renames.size.toLong + widenings.size + defaults.size))
  }

  /** Schema evolution: losslessly WIDEN a column's type (Iceberg's type
    * promotion — int→long, float→double, the small-int chain, decimal
    * precision). Metadata-only: files keep their era's physical type;
    * reads cast up per era ([[physicalField]]). Old-era footer stats
    * still prune (string-stored bounds parse under either type), but
    * old-era BLOOMS are type-hashed and get stripped from pruning for
    * affected files ([[pruneKeep]]) — skipping on them would be unsound.
    * Refused for partition sources (transform derivation — bucket
    * hashing — is type-sensitive) and while name-addressed merge-on-read
    * entries pend. */
  def widenColumn(name: String, to: DataType): GraftTable = {
    require(schema.fieldNames.contains(name), s"unknown column '$name'")
    val from = schema(name).dataType
    require(losslessWidening(from, to),
      s"${from.sql} → ${to.sql} is not a lossless widening " +
        "(supported: byte/short/int→long chain, float→double, decimal " +
        "precision growth at fixed scale)")
    require(!partitionFields.exists(_.source == name),
      s"column '$name' is a partition source of $dir — transform " +
        "derivation is type-sensitive; evolve the spec first")
    require(pendingDeletes.isEmpty && equalityDeletes.isEmpty,
      s"$dir has merge-on-read entries pending — their predicates/key " +
        "files are typed; compact() before widening")
    log.current.foreach { s =>
      Manifest.read(s"$dir/${s.manifestList}").files.foreach(f =>
        require(fileSnapId(f.path).isDefined,
          s"cannot scope a widening: data file ${f.path} is from a " +
            "branch era — compact() first to re-own the files"))
    }
    writeMeta(
      newSchema = StructType(schema.fields.map(f =>
        if (f.name == name) f.copy(dataType = to) else f)),
      newWidenings = widenings :+ ColumnWidening(log.nextId, name, from, to,
        seq = renames.size.toLong + widenings.size + defaults.size))
  }

  /** Update table properties (set `updates`, drop `removals`) — the knobs
    * behind blooms (`graft.bloom.columns`), writer options
    * (`graft.write.option.*`), write distribution, and the virtual-column
    * rename all live here; this is the API (and SQL `ALTER TABLE … SET /
    * UNSET TBLPROPERTIES`) path to change them after create. Metadata is
    * swapped atomically; data files are untouched. */
  def updateProperties(
      updates: Map[String, String],
      removals: Set[String] = Set.empty): GraftTable =
    writeMeta(newProps = properties -- removals ++ updates)

  /** Partition-spec EVOLUTION (Iceberg's signature table feature): change
    * the partition layout for FUTURE writes without rewriting a single
    * existing byte. Existing data files keep the layout they were written
    * with — each file's own partition values live in its manifest entry,
    * the read path groups files by their own spec ([[readFiles]]), and
    * manifest pruning stays per-file (partition values synthesize stats
    * for directory-key columns; footer min/max covers the same column in
    * the other era) — so predicates on either era's partition column skip
    * files across the whole table. At 100 TB this is the difference
    * between a metadata-only layout change and a full-table rewrite when
    * query patterns shift (e.g. daily → hourly partitioning).
    * `compact()` rewrites through the current spec, so it doubles as the
    * optional lazy migration path. Empty `newSpec` evolves to
    * unpartitioned. Returns the updated handle; on-disk metadata is
    * swapped atomically. */
  def updatePartitionSpec(newSpec: Seq[String]): GraftTable = {
    // validates identity columns AND hidden transforms against the schema
    PartitionField.parseSpec(newSpec, schema)
    // permanent marker: spec ERAS may now mix in the manifests. Readers
    // that need a uniform layout (the raw DSv2 surface) key their
    // mixed-era check on it, so never-evolved tables pay ZERO extra
    // planning I/O for the check
    writeMeta(newSpec = newSpec,
      newProps = properties + (GraftTable.PropSpecEvolved -> "true"))
  }

  // ------------------------------------------------------------------
  // reads
  // ------------------------------------------------------------------

  /** Read a pruned file list with the table schema, dispatching the
    * reader PER FILE FORMAT — the IcebergReaderFactory behavior
    * (IcebergReaderFactory.java:48-75 switches on each data file's
    * format): parquet files ride the vectorized built-in source, `.avro`
    * files ride [[graft.sources.AvroSource]].
    *
    * Files are additionally grouped by THEIR OWN partition spec (the
    * manifest records each file's partition values, so the spec is the
    * key set): after [[updatePartitionSpec]] a table legitimately mixes
    * layouts, and a partitioned group reads with `basePath` so Spark
    * recovers that group's partition-column values from its
    * `<col>=<value>/` directories (typed by the table schema, never
    * inferred) — a column that is a directory key in one era sits in the
    * file footers of the other, so recovery must be per group, not
    * per table. Every branch is projected to exactly `schema` in order,
    * so the union is positional (no unionByName widening). */
  private def readFiles(spark: SparkSession, files: Seq[DataFileEntry]): DataFrame =
    readFiles(spark, files, withMeta = false)

  /** [[readFiles]] with optional per-row PROVENANCE columns for the
    * positional-delete machinery: `__gf_file` (the source file's
    * basename — unique within a table by the write token discipline,
    * enforced where it matters) and `__gf_pos` (the row's physical
    * position, parquet's `_metadata.row_index`). Avro files carry NULL
    * provenance: they can never be positional-delete targets (refused at
    * write time), and NULL join keys pass a left-anti join untouched. */
  private def readFiles(
      spark: SparkSession,
      files: Seq[DataFileEntry],
      withMeta: Boolean): DataFrame =
    readFiles(spark, files, withMeta, withLineage = false)

  /** [[readFiles]] with optional ROW LINEAGE output columns (`_row_id`,
    * `_last_updated_snapshot_id`): a row's id is the file's materialized
    * `_gf_rid` cell when present (rewrites carrying prior ids), else
    * `firstRowId + row position` (the Iceberg v3 inheritance rule);
    * the last-updated id is the materialized `_gf_seq` cell, else the
    * file's committing snapshot. Files without an assigned band
    * (committed pre-lineage) read NULL — never a fabricated id. The
    * per-file constants ship as ONE reference object per scan
    * ([[LineageIndex]]), codegen'd lookups per row. ORC/avro files have
    * no row index: their rows read only the materialized cells (NULL
    * otherwise). */
  private def readFiles(
      spark: SparkSession,
      files: Seq[DataFileEntry],
      withMeta: Boolean,
      withLineage: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.coalesce
    val b = org.apache.spark.sql.classic.GraftBridge
    def lineageFields: Seq[StructField] = Seq(
      StructField(LineageRidCol, LongType, nullable = true),
      StructField(LineageSeqCol, LongType, nullable = true))
    // A manifest can address files under SEVERAL data roots: this table's
    // own `data/`, a branch fork's `../../data/`, a published branch's
    // `branches/<name>/data/`. Normalize each path (the `..` segments must
    // not reach Spark's file index) and key the grouping by (spec, root):
    // `basePath`-driven partition-value recovery requires every path in a
    // read to sit under ONE root.
    def dataRoot(relPath: String): String = {
      val segs = relPath.split('/')
      val i = segs.lastIndexWhere(_ == "data")
      require(i >= 0, s"manifest path without a data/ segment: $relPath")
      Paths.get(dir, segs.take(i + 1).mkString("/")).normalize().toString
    }
    // files additionally group by their ERA's physical column names,
    // types and pending DEFAULT fills (metadata-only renames/widenings
    // leave each file holding its era's name/type; a file predating an
    // add-with-default lacks the column entirely and its rows read the
    // stored literal — [[physicalFieldFull]])
    def mapping(f: DataFileEntry): Seq[(String, DataType, Option[String])] = {
      val sid = fileSnapId(f.path)
      schema.fieldNames.toSeq.map(c => physicalFieldFull(c, sid))
    }
    val bySpec =
      files.groupBy(f => (f.partition.keySet, dataRoot(f.path), mapping(f)))
    bySpec.toSeq.sortBy { case ((cols, root, m), _) =>
      (cols.toSeq.sorted.mkString(","), root,
        m.map(x => x._1 + x._3.getOrElse("")).mkString(",")) }
      .map { case ((specCols, root, phys), fs) =>
        val avroPaths = fs.collect { case f if f.path.endsWith(".avro") =>
          Paths.get(dir, f.path).normalize().toString }
        val orcFiles = fs.filter(_.path.endsWith(".orc"))
        val parqFiles = fs.filterNot(f =>
          f.path.endsWith(".avro") || f.path.endsWith(".orc"))
        // a column this group's files PREDATE (add-with-default era) is
        // left out of the read schema entirely — its physical values
        // don't exist — and its projection is the stored literal
        val physSchema = StructType(schema.fields.zip(phys).collect {
          case (f, (p, t, None)) => f.copy(name = p, dataType = t)
        })
        // physical → logical projection (identity when no event applies);
        // widened columns cast losslessly up to the logical type;
        // defaulted-absent columns fill the literal
        val base = phys.zip(schema.fields).map {
          case ((_, _, Some(dsql)), lf) =>
            org.apache.spark.sql.functions.expr(dsql)
              .cast(lf.dataType).as(lf.name)
          case ((p, t, None), lf) =>
            val c0 = col(p)
            (if (t == lf.dataType) c0 else c0.cast(lf.dataType)).as(lf.name)
        }
        val readSchema =
          if (!withLineage) physSchema
          else StructType(physSchema.fields ++ lineageFields)
        def metaCols(real: Boolean): Seq[Column] =
          if (!withMeta) Nil
          else if (real) Seq(
            org.apache.spark.sql.functions
              .substring_index(col("_metadata.file_path"), "/", -1)
              .as(MetaFileCol),
            col("_metadata.row_index").as(MetaPosCol))
          else Seq(
            lit(null).cast(StringType).as(MetaFileCol),
            lit(null).cast(LongType).as(MetaPosCol))
        // per-GROUP lineage constants: each scan branch ships ONLY its
        // own files' (basename → band/snapshot) map as the reference
        // object — a full-table lineage read over a million files never
        // serializes one table-wide map into every task
        def lineageCols(real: Boolean): Seq[Column] =
          if (!withLineage) Nil
          else if (real) {
            val ridIdx = new LineageIndex(
              fs.flatMap(f => f.firstRowId.map(baseName(f.path) -> _)).toMap)
            val seqIdx = new LineageIndex(
              fs.flatMap(f => fileSnapId(f.path).map(baseName(f.path) -> _))
                .toMap)
            val bn = org.apache.spark.sql.functions
              .substring_index(col("_metadata.file_path"), "/", -1)
            Seq(
              coalesce(col(LineageRidCol),
                b.column(LineageLookup(b.expr(bn), ridIdx)) +
                  col("_metadata.row_index")).as(RowIdCol),
              coalesce(col(LineageSeqCol),
                b.column(LineageLookup(b.expr(bn), seqIdx)))
                .as(LastUpdatedCol))
          } else Seq( // no row index: materialized cells only
            col(LineageRidCol).as(RowIdCol),
            col(LineageSeqCol).as(LastUpdatedCol))
        // basePath recovery is needed only for IDENTITY directory keys
        // (the value exists nowhere else); transform-derived keys
        // (bucket/days/truncate fields, never in the schema) keep their
        // source column in the footers, and leaf files without basePath
        // skip directory discovery entirely
        val opts: Map[String, String] =
          if (specCols.exists(physSchema.fieldNames.contains))
            Map("basePath" -> root)
          else Map.empty
        // late-filter pruning: a group whose files hold every column
        // under its logical name and type reads the table's own column
        // names, so filters Catalyst pushes into the scan after this
        // DataFrame was built (`read().filter(k)`) drive the same
        // manifest walk `scan(filter)` runs up front. Renamed, widened
        // and defaulted eras would see physical names/types the table's
        // stats do not speak — their groups never prune this way.
        val logicalNames =
          phys.zip(schema.fields).forall { case ((p, t, d), lf) =>
            p == lf.name && t == lf.dataType && d.isEmpty }
        def index(group: Seq[DataFileEntry]): ManifestFileIndex = {
          val statuses = group.map(f => ManifestFileIndex.status(dir, f))
          new ManifestFileIndex(spark, statuses, opts, Some(readSchema),
            if (logicalNames) lateKeep(group, statuses)
            else ManifestFileIndex.keepAll)
        }
        val branches = Seq(
          Option.when(parqFiles.nonEmpty) {
            val df = ManifestFileIndex.read(spark, index(parqFiles),
              readSchema, new ParquetFileFormat)
            df.select(base ++ metaCols(real = true) ++
              lineageCols(real = true): _*)
          },
          Option.when(orcFiles.nonEmpty) {
            // built-in vectorized ORC source; identity directory keys
            // recover exactly like the parquet branch. No parquet row
            // index exists here — positional MoR refuses ORC targets, so
            // the meta columns are never consumed (null placeholders
            // keep the union positional)
            val df = ManifestFileIndex.read(spark, index(orcFiles),
              readSchema, new OrcFileFormat)
            df.select(base ++ metaCols(real = false) ++
              lineageCols(real = false): _*)
          },
          Option.when(avroPaths.nonEmpty) {
            // era schema as the TARGET: post-evolution columns absent
            // from the avro writer schema null-fill (parquet-branch
            // parity)
            val df = graft.sources.AvroSource.readFiles(spark, avroPaths,
              targetSchema = Some(readSchema))
            df.select(base ++ metaCols(real = false) ++
              lineageCols(real = false): _*)
          }).flatten
        branches.reduce(_ union _)
      }.reduce(_ union _)
  }

  /** [[ManifestFileIndex]] `keep` for a group of files read under the
    * table's logical column names: the data filters Spark pushed into the
    * scan that reference only table columns (not `_metadata`, not the
    * lineage carry cells) run through [[pruneKeep]], matched back to
    * their entries by qualified path. */
  private def lateKeep(
      files: Seq[DataFileEntry],
      statuses: Seq[org.apache.hadoop.fs.FileStatus])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.hadoop.fs.FileStatus => Boolean = { filters =>
    val names = schema.fieldNames.toSet
    filters
      .filter(e => e.deterministic && e.references.forall(a => names(a.name)))
      .reduceOption(org.apache.spark.sql.catalyst.expressions.And) match {
      case None => _ => true
      case Some(p) =>
        val k = pruneKeep(p)
        val byPath = statuses.map(_.getPath).zip(files).toMap
        st => byPath.get(st.getPath).forall(k)
    }
  }

  /** Schema as read (user schema + virtual snapshot column, like
    * IcebergSerDe.java:60-62). */
  def readSchema: StructType =
    StructType(schema.fields :+ StructField(virtualColumn, LongType, nullable = true))

  /** Resolve the snapshot to scan: explicit id or current
    * (IcebergInputFormat.java:81-84,100-107). */
  private def resolveSnapshot(snapshotId: Option[Long]): Option[Snapshot] = {
    val lg = log
    snapshotId match {
      case Some(id) => Some(lg.byId(id).getOrElse(
        throw new IllegalArgumentException(s"no snapshot $id in $dir")))
      case None => lg.current
    }
  }

  /** Full-table read at a snapshot (empty-table scan S11: a table with no
    * snapshots yields an empty DataFrame with the right schema).
    *
    * Building the DataFrame lists and stats no data file: the scan reads
    * the manifest's files through a [[ManifestFileIndex]]. A filter
    * applied LATER (`read(spark).filter(k)`, or a SQL `WHERE` over it)
    * still prunes files: Spark pushes it into the scan at physical
    * planning and the index runs the same manifest walk
    * (`pruneKeep`) that `scan(spark, Some(k))` runs up front. */
  def read(spark: SparkSession, snapshotId: Option[Long] = None): DataFrame =
    scan(spark, filter = None, projection = Nil, snapshotId = snapshotId)

  /** Visible rows WITH ROW LINEAGE (Iceberg v3 row-provenance parity):
    * the table columns plus `_row_id` (stable row identity — the file's
    * materialized lineage cell when a rewrite carried it, else
    * `firstRowId + row position` by the v3 inheritance rule) and
    * `_last_updated_snapshot_id` (the snapshot that last wrote the row's
    * values). Files committed before the table had lineage read NULLs
    * (the pre-upgrade stance) until a rewrite assigns them. Every
    * merge-on-read delete form applies — lineage rides the same
    * visible-row reader as [[read]]. With `graft.row-lineage = true`,
    * copy-on-write rewrites/compaction/positional updates PRESERVE ids
    * (materialized carry); without it a rewrite re-bands its rows. */
  def readLineage(
      spark: SparkSession, snapshotId: Option[Long] = None): DataFrame = {
    val s = resolveSnapshot(snapshotId).getOrElse(
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(schema.fields ++ Seq(
          StructField(RowIdCol, LongType, nullable = true),
          StructField(LastUpdatedCol, LongType, nullable = true)))))
    val manifest = Manifest.read(s"$dir/${s.manifestList}")
    readVisible(spark, parsePending(s), parsePositional(s), manifest.files,
      parseEquality(s), lineage = true)
  }

  /** Whether rewrites carry row lineage ([[GraftTable.PropRowLineage]]). */
  private[table] def lineageOn: Boolean =
    properties.getOrElse(PropRowLineage, "false").toBoolean

  /** Survivor reader for REWRITES: with [[lineageOn]], visible rows come
    * with their prior lineage renamed to the physical carry columns
    * (`_gf_rid`/`_gf_seq`) so [[writeDataFiles]] persists them and the
    * rewritten rows keep their identity; otherwise a plain visible read
    * (the rewrite re-bands). Callers that MODIFY rows overwrite
    * `_gf_seq` for the changed ones. */
  private def readVisibleCarry(
      spark: SparkSession,
      pend: Seq[(Long, String)],
      posEntries: Seq[PositionalDeletes],
      files: Seq[DataFileEntry],
      eqEntries: Seq[EqualityDeletes]): DataFrame = {
    if (!lineageOn) readVisible(spark, pend, posEntries, files, eqEntries)
    else readVisible(spark, pend, posEntries, files, eqEntries,
        lineage = true)
      .withColumnRenamed(RowIdCol, LineageRidCol)
      .withColumnRenamed(LastUpdatedCol, LineageSeqCol)
  }

  /** Scan with optional pushed filter and projection — the programmatic API
    * (reference analog §3.3). Honors a `snapshot__id = <lit>` conjunct as
    * time travel (P16/V3: IcebergFilterFactory.java:134-136 +
    * IcebergInputFormat.java:284-299 — first match wins; the leaf is
    * neutralized for data pruning but the scan is pinned to that snapshot).
    *
    * The filter is used twice, like the reference's pushed+residual pair:
    * (1) manifest min/max pruning picks the file list; (2) Spark re-applies
    * the full predicate post-scan (and pushes it into parquet row-group
    * pruning for free).
    */
  def scan(
      spark: SparkSession,
      filter: Option[Column],
      projection: Seq[String] = Nil,
      snapshotId: Option[Long] = None): DataFrame = {

    // Spark 4: Column holds an *unresolved* expression tree (`===` is an
    // UnresolvedFunction, not EqualTo), so resolve it against the read
    // schema first — otherwise time-travel extraction and manifest pruning
    // silently match nothing.
    def expr(c: Column) = resolveAgainst(spark, readSchema,
      org.apache.spark.sql.classic.GraftBridge.expr(c))
    val fromFilter: Option[Long] =
      filter.flatMap(f => TimeTravel.extractSnapshotId(expr(f), virtualColumn))
    val snap = resolveSnapshot(snapshotId.orElse(fromFilter))

    val base = snap match {
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], readSchema)
      case Some(s) =>
        val manifest = Manifest.read(s"$dir/${s.manifestList}")
        val kept = filter match {
          case Some(f) =>
            val pred = TimeTravel.neutralize(expr(f), virtualColumn)
            prunedFiles(manifest, pred)
          case None => manifest.files
        }
        val df =
          if (kept.isEmpty)
            spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
          else
            readWithDeletes(spark, s, kept)
        df.withColumn(virtualColumn, lit(s.snapshotId))
    }
    val filtered = filter match {
      case Some(f) => base.filter(f) // residual net (always correct)
      case None => base
    }
    if (projection.nonEmpty) filtered.select(projection.map(col): _*) else filtered
  }

  /** The scan as an analyzed LOGICAL PLAN (no residual filter) — the
    * building block [[ResolveGraftScan]] splices under the query's own
    * Filter at optimization time. `prunePredicate` is an already-resolved
    * Catalyst predicate used only for manifest min/max file pruning.
    */
  private[table] def scanPlanFor(
      spark: SparkSession,
      snapshotId: Option[Long],
      prunePredicate: Option[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val snap = resolveSnapshot(snapshotId)
    val df = snap match {
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], readSchema)
      case Some(s) =>
        val manifest = Manifest.read(s"$dir/${s.manifestList}")
        val kept = prunePredicate match {
          case Some(p) => prunedFiles(manifest, p)
          case None => manifest.files
        }
        val base =
          if (kept.isEmpty)
            spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
          else
            readWithDeletes(spark, s, kept)
        base.withColumn(virtualColumn, lit(s.snapshotId))
    }
    org.apache.spark.sql.classic.GraftBridge.analyzedPlan(df)
  }

  /** Latest snapshot committed at or before `timestampMillis` — as-of-time
    * travel (the id-based V3 surface keyed by commit time instead; commit
    * times are monotone because commits are sequential). */
  def snapshotAsOfTime(timestampMillis: Long): Option[Snapshot] =
    log.snapshots.filter(_.committedAt <= timestampMillis).lastOption

  /** Read the table as of a wall-clock time; empty before the first
    * commit. Like [[read]], a later `.filter(k)` prunes the pinned
    * snapshot's files at physical planning. */
  def readAsOf(spark: SparkSession, timestampMillis: Long): DataFrame =
    snapshotAsOfTime(timestampMillis) match {
      case Some(s) => read(spark, Some(s.snapshotId))
      case None =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], readSchema)
    }

  /** Incremental read: rows ADDED or given NEW VALUES strictly after
    * `fromSnapshotId`, up to `toSnapshotId` (default: current) — the
    * change-feed primitive that lets a downstream pipeline reprocess only
    * new data per snapshot. Per snapshot kind:
    *
    *  - `"append"`: the files the commit added, by manifest path diff —
    *    O(new files) I/O, no row comparison needed;
    *  - `"update"` / `"merge"`: the commit rewrites candidate files, so
    *    added files mix changed rows with carried-over ones — the diff is
    *    row-level, `addedFiles EXCEPT ALL removedFiles` (multiset), which
    *    is exactly the new/updated row values. One shuffle whose size is
    *    O(rewritten data) — proportional to the change, not the table;
    *  - `"replace"` (compaction) is bit-identical and `"delete"` /
    *    `"rollback"` add no row values, so they contribute nothing (row
    *    REMOVALS are out of scope for an additive feed — use
    *    [[changesCdc]] for the retraction-carrying form).
    *
    * A chain snapshot whose parent has been expired makes the diff
    * uncomputable — that throws (loudly) rather than silently re-emitting
    * the parent's whole file set as changes. Rows carry the virtual
    * snapshot column valued at the TO snapshot.
    */
  def changes(
      spark: SparkSession,
      fromSnapshotId: Long,
      toSnapshotId: Option[Long] = None): DataFrame = {
    val lg = log
    val from = lg.byId(fromSnapshotId).getOrElse(
      throw new IllegalArgumentException(s"no snapshot $fromSnapshotId in $dir"))
    val to = toSnapshotId match {
      case Some(id) => lg.byId(id).getOrElse(
        throw new IllegalArgumentException(s"no snapshot $id in $dir"))
      case None => lg.current.get
    }
    require(to.snapshotId >= from.snapshotId,
      s"to=${to.snapshotId} precedes from=${from.snapshotId}")
    val chain = lg.snapshots
      .filter(s => s.snapshotId > from.snapshotId && s.snapshotId <= to.snapshotId)

    def files(s: Snapshot): Seq[DataFileEntry] =
      Manifest.read(s"$dir/${s.manifestList}").files
    def parentFiles(s: Snapshot): Seq[DataFileEntry] = s.parentId match {
      case None => Nil
      case Some(pid) => lg.byId(pid) match {
        case Some(p) => files(p)
        case None => throw new IllegalStateException(
          s"snapshot ${s.snapshotId}'s parent $pid is missing from the log " +
            s"of $dir (expired?) — its incremental diff cannot be computed")
      }
    }

    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    def readOrEmpty(fs: Seq[DataFileEntry]): DataFrame =
      if (fs.isEmpty) empty else readFiles(spark, fs)

    // files appended across the chain (path diff; cheap, no row compare)
    val appended = chain.filter(_.operation == "append").flatMap { s =>
      val parentPaths = parentFiles(s).map(_.path).toSet
      files(s).filterNot(f => parentPaths.contains(f.path))
    }
    // row-level diffs for rewriting commits (update/merge, and branch
    // publish — its manifest may both add branch-written files and drop
    // fork files the branch's own DML rewrote). Removed files are read
    // as VISIBLE AT THE PARENT (its pending merge-on-read deletes
    // applied): a positionally-dead row was never part of the readable
    // state, and subtracting it raw could cancel a legitimately
    // re-inserted identical row from the added side.
    val rewriteDiffs = chain
      .filter(s => s.operation == "update" || s.operation == "merge" ||
        s.operation == "publish" || s.operation == "overwrite")
      .map { s =>
        val p = lg.byId(s.parentId.getOrElse(-1L)).getOrElse(
          throw new IllegalStateException(
            s"snapshot ${s.snapshotId}'s parent is missing from the log " +
              s"of $dir (expired?) — its incremental diff cannot be computed"))
        val pf = files(p)
        val parentPaths = pf.map(_.path).toSet
        val curPaths = files(s).map(_.path).toSet
        val added = files(s).filterNot(f => parentPaths.contains(f.path))
        val removed = pf.filterNot(f => curPaths.contains(f.path))
        val removedVisible =
          if (removed.isEmpty) empty
          else readVisible(spark, parsePending(p), parsePositional(p), removed,
            parseEquality(p))
        readOrEmpty(added).exceptAll(removedVisible)
      }
    val base = (readOrEmpty(appended) +: rewriteDiffs).reduce(_ union _)
    base.withColumn(virtualColumn, lit(to.snapshotId))
  }

  /** NET-CHANGE CDC read: per-snapshot row-level deltas as
    * (`_change_type` ∈ insert|delete) rows — the retraction feed
    * [[changes]] deliberately scopes out. Semantics are NET per commit:
    * applying each snapshot's deletes then inserts (multiset) to the
    * `from` state reproduces the `to` state exactly (spec-verified over
    * mixed op chains). Per-op cost stays O(changed data):
    *
    *  - `append`: added files → inserts (no row compare);
    *  - `update`/`merge`: multiset file diffs — added∖removed → inserts,
    *    removed∖added → deletes (O(rewritten));
    *  - copy-on-write `delete`: same diffs (inserts empty by
    *    construction);
    *  - DEFERRED delete: the predicate evaluated over its covered files'
    *    SURVIVORS (parent's pending applied first) → deletes — O(covered
    *    files), nothing rewritten so no file diff exists;
    *  - `replace` (compaction): logically net-zero — bit-identical
    *    repack, and any deferred deletes it materializes were already
    *    emitted by their own delete snapshot;
    *  - `rollback` in the chain THROWS (its delta is an arbitrary
    *    state diff, not an incremental one — re-seed downstream instead).
    *
    * Rows carry the virtual snapshot column valued at their OWN commit
    * (per-snapshot attribution), unlike [[changes]]'s to-valued column.
    * `fromSnapshotId = 0` means "before the first snapshot" — the FULL
    * changelog from table creation, first commit's inserts included
    * (the batch `__changes` default; folding it from empty reproduces
    * the `to` state).
    */
  def changesCdc(
      spark: SparkSession,
      fromSnapshotId: Long,
      toSnapshotId: Option[Long] = None,
      lineage: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.expr
    // ROW-LINEAGE-CARRYING changelog (Iceberg v3 changelog identity):
    // every delta row additionally carries `_row_id` and
    // `_last_updated_snapshot_id`, so consumers key updates on stable
    // row identity instead of whole-row equality — a CoW UPDATE nets to
    // (same _row_id, old seq) delete + (same _row_id, new seq) insert,
    // never an unrelated retract+insert pair. Requires the table to
    // CARRY lineage through rewrites (graft.row-lineage=true): without
    // the carry a rewrite re-bands unchanged rows, and the multiset
    // diff would emit every rewritten file's rows as churn.
    require(!lineage || lineageOn,
      s"changesCdc(lineage = true) requires ${GraftTable.PropRowLineage}" +
        s" = true on $dir — without the rewrite carry, row ids are not " +
        "stable across DML and the changelog would emit whole-file churn")
    val lg = log
    // fromSnapshotId = 0 means "before the first snapshot": the full
    // changelog from table creation (the batch `__changes` default) —
    // every snapshot's delta including the first commit's inserts
    val from: Option[Snapshot] =
      if (fromSnapshotId == 0L) None
      else Some(lg.byId(fromSnapshotId).getOrElse(
        throw new IllegalArgumentException(
          s"no snapshot $fromSnapshotId in $dir")))
    // a zero-snapshot table's full changelog is EMPTY, not an error —
    // the batch `__changes` surface reaches here before any commit
    if (lg.current.isEmpty) {
      require(fromSnapshotId == 0L && toSnapshotId.isEmpty,
        s"no snapshot ${toSnapshotId.getOrElse(fromSnapshotId)} in $dir")
      val base = schema.fields :+
        StructField("_change_type", StringType, nullable = true) :+
        StructField(virtualColumn, LongType, nullable = true)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row],
        StructType(if (!lineage) base else base :+
          StructField(RowIdCol, LongType, nullable = true) :+
          StructField(LastUpdatedCol, LongType, nullable = true)))
    }
    val to = toSnapshotId match {
      case Some(id) => lg.byId(id).getOrElse(
        throw new IllegalArgumentException(s"no snapshot $id in $dir"))
      case None => lg.current.get
    }
    require(from.forall(f => to.snapshotId >= f.snapshotId),
      s"to=${to.snapshotId} precedes from=${from.map(_.snapshotId).get}")
    val chain = lg.snapshots
      .filter(s => s.snapshotId > fromSnapshotId && s.snapshotId <= to.snapshotId)
    chain.find(_.operation == "rollback").foreach { s =>
      throw new IllegalStateException(
        s"snapshot ${s.snapshotId} is a rollback — its delta is a state " +
          s"reset, not an incremental change; re-seed CDC consumers of $dir")
    }

    def files(s: Snapshot): Seq[DataFileEntry] =
      Manifest.read(s"$dir/${s.manifestList}").files
    def parent(s: Snapshot): Snapshot = s.parentId.flatMap(lg.byId).getOrElse(
      throw new IllegalStateException(
        s"snapshot ${s.snapshotId}'s parent is missing from the log of " +
          s"$dir (expired?) — its incremental diff cannot be computed"))
    // with lineage, every branch reads (schema, _row_id, _seq) in this
    // order — readFiles(withLineage) and readVisible(lineage) agree, so
    // the multiset diffs stay positional
    val rowSchema =
      if (!lineage) schema
      else StructType(schema.fields ++ Seq(
        StructField(RowIdCol, LongType, nullable = true),
        StructField(LastUpdatedCol, LongType, nullable = true)))
    val rowCols: Seq[String] =
      if (!lineage) schema.fieldNames.toSeq
      else schema.fieldNames.toSeq ++ Seq(RowIdCol, LastUpdatedCol)
    val empty =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], rowSchema)
    def readOrEmpty(fs: Seq[DataFileEntry]): DataFrame =
      if (fs.isEmpty) empty
      else readFiles(spark, fs, withMeta = false, withLineage = lineage)
    def readVisibleL(
        pend: Seq[(Long, String)],
        posEntries: Seq[PositionalDeletes],
        fs: Seq[DataFileEntry],
        eqEntries: Seq[EqualityDeletes]): DataFrame =
      readVisible(spark, pend, posEntries, fs, eqEntries, lineage = lineage)
    def tag(df: DataFrame, tpe: String, s: Snapshot): DataFrame =
      df.withColumn("_change_type", lit(tpe))
        .withColumn(virtualColumn, lit(s.snapshotId))

    val deltas: Seq[DataFrame] = chain.flatMap { s =>
      val deferred = s.summary.get("deferred").contains("true")
      s.operation match {
        case "append" =>
          // the FIRST snapshot has no parent by construction (a from=0
          // full-changelog read includes it): its whole file set is the
          // insert delta. A parent that EXISTED but expired still throws.
          val parentPaths = s.parentId match {
            case None => Set.empty[String]
            case Some(_) => files(parent(s)).map(_.path).toSet
          }
          val added = files(s).filterNot(f => parentPaths.contains(f.path))
          Seq(tag(readOrEmpty(added), "insert", s))
        case "replace" => Nil
        case "delete" if deferred =>
          val p = parent(s)
          val parentPend = parsePending(p)
          val entries = parsePending(s).drop(parentPend.size)
          entries.map { case (covered, predSql) =>
            val coveredFiles = files(s).filter(f =>
              fileSnapId(f.path).forall(_ <= covered))
            // survivors under the parent's WHOLE pending state (all
            // three forms): a row a positional vector or equality
            // tombstone already hides was retracted by ITS commit —
            // emitting it again here would double-retract
            val survivors = readVisibleL(parentPend,
              parsePositional(p), coveredFiles, parseEquality(p))
            // rows DELETED are those where the predicate is TRUE (NULL
            // keeps the row — same semantics as the read path)
            tag(survivors.filter(expr(predSql) <=> true), "delete", s)
          }
        // EQUALITY delete / merge-on-read upsert: deletes = each new key
        // entry's matches among its covered files' visible-at-parent
        // survivors (the semi-join mirror of the read path's anti-join)
        // — O(covered data) per entry, nothing rewritten; inserts = the
        // commit's appended files (the upsert's superseding rows; empty
        // for a pure delete)
        case "delete" | "merge"
            if s.summary.get("equality").contains("true") =>
          val p = parent(s)
          val parentEq = parseEquality(p)
          val parentPaths = files(p).map(_.path).toSet
          val addedFs = files(s).filterNot(f => parentPaths.contains(f.path))
          val inserts =
            if (addedFs.isEmpty) Nil
            else Seq(tag(readOrEmpty(addedFs), "insert", s))
          // the commit's NEW tombstone: a consolidation commit rewrites
          // its key-column set's file, so "new" = any entry whose file
          // set is not carried verbatim from the parent; its fresh keys
          // are the rows tagged with the parent snapshot (this commit's
          // covered scope). Legacy single-commit entries ARE their
          // fresh keys (their covered equals the parent snapshot).
          val parentEqFiles = parentEq.flatMap(_.files).toSet
          val newEntries = parseEquality(s)
            .filterNot(e => e.files.forall(parentEqFiles.contains))
          newEntries.map { e =>
            val newKeys =
              if (e.coveredSnaps.nonEmpty)
                readEqKeysTagged(spark, e)
                  .filter(col(GraftTable.EqCovCol) === p.snapshotId)
                  .select(e.cols.map(col): _*)
              else readEqKeys(spark, e)
            val covered = files(s).filter(f =>
              fileSnapId(f.path).forall(_ <= p.snapshotId))
            val survivors = readVisibleL(parsePending(p),
              parsePositional(p), covered, parentEq)
            tag(survivors.join(newKeys, e.cols, "left_semi"),
              "delete", s)
          } ++ inserts
        // POSITIONAL delete/update: deletes = whole-file drops' visible
        // survivors + the new entries' exact rows (target files
        // semi-joined against their delete parquets); inserts = the
        // commit's freshly added files (an update's superseding values;
        // empty for a pure delete). Disjointness of stacked entries
        // guarantees retracted rows were visible at the parent — each is
        // retracted exactly once.
        case "delete" | "update"
            if s.summary.get("positional").contains("true") =>
          import org.apache.spark.sql.functions.substring_index
          val p = parent(s)
          val pPos = parsePositional(p)
          val pf = files(p)
          val parentPaths = pf.map(_.path).toSet
          val curPaths = files(s).map(_.path).toSet
          val droppedFs = pf.filterNot(f => curPaths.contains(f.path))
          val addedFs = files(s).filterNot(f => parentPaths.contains(f.path))
          // dropped whole files can only be ones no predicate/equality
          // entry covers (covered drops demote to rewrites) — the
          // parent's full state is still applied for robustness
          val droppedDel =
            if (droppedFs.isEmpty) Nil
            else Seq(tag(readVisibleL(parsePending(p), pPos,
              droppedFs, parseEquality(p)), "delete", s))
          val inserts =
            if (addedFs.isEmpty) Nil
            else Seq(tag(readOrEmpty(addedFs), "insert", s))
          val parentEntryFiles = pPos.flatMap(_.files).toSet
          val newEntries = parsePositional(s)
            .filterNot(e => e.files.forall(parentEntryFiles.contains))
          val posDel = newEntries.map { e =>
            if (e.dvs.nonEmpty) {
              // CONSOLIDATED deletion-vector entry: the commit's delta
              // is (this snapshot's vectors) − (the parent's positions)
              // for the REWRITTEN targets only — a carried vector file
              // also appears in the parent entry, so it is excluded by
              // path identity; prior positions inside a rewritten
              // vector are anti-joined away (legacy parquet priors
              // included, for the conversion commit)
              val changed = e.dvs.filterNot { case (_, rel) =>
                parentEntryFiles.contains(rel) }
              val curPos = dvRelation(spark, changed.map { case (t, rel) =>
                baseName(t) -> Paths.get(dir, rel).normalize().toString })
              val changedBns = changed.keySet.map(baseName)
              val parentDvPos = dvRelation(spark,
                pPos.flatMap(_.dvs).collect {
                  case (t, rel) if changedBns(baseName(t)) =>
                    baseName(t) -> Paths.get(dir, rel).normalize().toString
                }.toMap)
              val parentLegacy = pPos.filter(_.dvs.isEmpty)
                .flatMap(_.files).distinct
              val parentPos =
                if (parentLegacy.isEmpty) parentDvPos
                else parentDvPos.unionByName(
                  spark.read.schema(DeleteFileSchema)
                    .parquet(parentLegacy
                      .map(p => Paths.get(dir, p).normalize().toString): _*)
                    .select(substring_index(col("file"), "/", -1)
                      .as(MetaFileCol),
                      col("pos").cast(LongType).as(MetaPosCol)))
              val newPos = curPos
                .join(parentPos, Seq(MetaFileCol, MetaPosCol), "left_anti")
              val targets = files(s).filter(f => changed.contains(f.path))
              tag(readFiles(spark, targets, withMeta = true,
                  withLineage = lineage)
                .join(newPos, Seq(MetaFileCol, MetaPosCol), "left_semi")
                .select(rowCols.map(col): _*), "delete", s)
            } else {
              val targets = files(s).filter(f => e.targets.contains(f.path))
              val delPaths = e.files
                .map(rp => Paths.get(dir, rp).normalize().toString)
              val delDf = spark.read.schema(DeleteFileSchema)
                .parquet(delPaths: _*)
                .select(substring_index(col("file"), "/", -1).as(MetaFileCol),
                  col("pos").as(MetaPosCol))
              tag(readFiles(spark, targets, withMeta = true,
                  withLineage = lineage)
                .join(delDf, Seq(MetaFileCol, MetaPosCol), "left_semi")
                .select(rowCols.map(col): _*), "delete", s)
            }
          }
          droppedDel ++ posDel ++ inserts
        // publish = the branch's accumulated changes landing as one
        // commit: the multiset file diff nets them exactly. Removed
        // files read VISIBLE AT THE PARENT (pending merge-on-read
        // deletes applied) — their dead rows were never inserted
        // downstream and must not be retracted.
        case "delete" | "update" | "merge" | "publish" | "overwrite" =>
          val p = parent(s)
          val pf = files(p)
          val parentPaths = pf.map(_.path).toSet
          val curPaths = files(s).map(_.path).toSet
          val added = files(s).filterNot(f => parentPaths.contains(f.path))
          val removed = pf.filterNot(f => curPaths.contains(f.path))
          val removedVisible =
            if (removed.isEmpty) empty
            else readVisibleL(parsePending(p), parsePositional(p),
              removed, parseEquality(p))
          Seq(
            tag(readOrEmpty(added).exceptAll(removedVisible), "insert", s),
            tag(removedVisible.exceptAll(readOrEmpty(added)), "delete", s))
        case _ => Nil
      }
    }
    val unioned =
      if (deltas.isEmpty) tag(empty, "insert", to).filter(lit(false))
      else deltas.reduce(_ union _)
    // canonical public order: (schema, _change_type, vc[, _row_id, _seq])
    if (!lineage) unioned
    else unioned.select((schema.fieldNames.toSeq ++
      Seq("_change_type", virtualColumn, RowIdCol, LastUpdatedCol))
      .map(col): _*)
  }

  /** The data files whose RAW parquet scan equals the VISIBLE rows at
    * snapshot `snapshotId` — `Some(files)` only when nothing stands
    * between the bytes on disk and the table's row semantics: no
    * merge-on-read delete form pending at that snapshot, no file
    * predating a column rename/widening (a fixed-schema reader would
    * mis-read it), and every file parquet. Sorted by path, so callers
    * may slice the list for paced emission (the CDC stream's seed batch
    * serves the table's own files through this — a 100 TB seed is then
    * a read of the data, never a second copy of it). `None` = take the
    * materializing read path instead. By default "raw" means a LEAF-file
    * scan with no path recovery, so files from an identity-partitioned
    * spec era are disqualifying too — their partition column's value
    * lives only in the directory name. `identityViaPathRecovery = true`
    * relaxes that for callers whose scan recovers identity values with
    * a `basePath` (the DSv2 catalog discipline): identity-era files then
    * qualify exactly when recovery is sound — the CURRENT spec is
    * identity, every file sits under this table's own data root (no
    * fork/publish `../`/`branches/` entries), and every file carries the
    * same spec era's keys (mixed depths break directory discovery).
    * Throws when the snapshot is gone from the log (expired mid-stream —
    * refuse loudly, never skip). */
  def rawVisibleFiles(
      snapshotId: Long,
      identityViaPathRecovery: Boolean = false): Option[Seq[DataFileEntry]] = {
    val s = log.byId(snapshotId).getOrElse(throw new IllegalStateException(
      s"no snapshot $snapshotId in $dir (expired?) — re-seed the consumer"))
    if (parsePending(s).nonEmpty || parsePositional(s).nonEmpty ||
        parseEquality(s).nonEmpty) return None
    rawFilesCore(s, identityViaPathRecovery)
  }

  /** The file-layout half of raw-seed eligibility: parquet-only,
    * rename-era-free, identity layouts only via path recovery. */
  private def rawFilesCore(
      s: Snapshot,
      identityViaPathRecovery: Boolean): Option[Seq[DataFileEntry]] = {
    val fs = Manifest.read(s"$dir/${s.manifestList}").files
      .sortBy(_.path)
    def identityOk: Boolean = {
      val anyIdentityFile = fs.exists(
        _.partition.keySet.exists(schema.fieldNames.contains))
      if (!anyIdentityFile) true
      else if (!identityViaPathRecovery) false
      else {
        val expected = partitionFields.map(_.fieldName).toSet
        partitionFields.exists(_.isIdentity) &&
          fs.forall(f => !f.path.startsWith("../") &&
            !f.path.startsWith("branches/") &&
            f.partition.keySet == expected)
      }
    }
    if (fs.forall(f => f.path.endsWith(".parquet") && !renameAffects(f)) &&
        identityOk)
      Some(fs)
    else None
  }

  /** CDC seed plan for `snapshotId`: the raw data files PLUS the
    * per-file deletion vectors (basename → absolute path) a seed reader
    * needs to serve exactly the VISIBLE rows straight from those files.
    * Extends [[rawVisibleFiles]] eligibility to POSITIONAL-pending
    * snapshots whose entries are fully vector-backed (the consolidated
    * form every positional commit writes) — the zero-copy seed then
    * filters dead positions in place instead of materializing a
    * full-state spill. Predicate/equality-pending snapshots and legacy
    * parquet-entry positional state still return None (materialize).
    * Like the base eligibility, this is a pure function of the
    * immutable snapshot — replays decide identically. */
  /** The snapshot that committed `path` (parsed from the canonical
    * `part-<snapId>-` name; None for foreign/branch-era files) — the
    * public face of the attribution rule every lineage read uses, for
    * out-of-package scan planners (the CDC seed's per-file
    * `_last_updated_snapshot_id` constant). */
  def fileCommitSnapshot(path: String): Option[Long] = fileSnapId(path)

  def rawSeedState(
      snapshotId: Long,
      identityViaPathRecovery: Boolean = false)
      : Option[(Seq[DataFileEntry], Map[String, String])] = {
    val s = log.byId(snapshotId).getOrElse(throw new IllegalStateException(
      s"no snapshot $snapshotId in $dir (expired?) — re-seed the consumer"))
    if (parsePending(s).nonEmpty || parseEquality(s).nonEmpty) return None
    val pos = parsePositional(s)
    if (pos.exists(e => e.dvs.keySet != e.targets.keySet)) return None
    rawFilesCore(s, identityViaPathRecovery).map { fs =>
      val dvByBn = pos.flatMap(_.dvs).map { case (t, rel) =>
        baseName(t) -> Paths.get(dir, rel).normalize().toString
      }.toMap
      (fs, dvByBn)
    }
  }

  /** Epoch cursors of every streaming sink writing to this table, from
    * the CURRENT snapshot's carried `stream-cursors` summary (sinkId →
    * last committed batch id). The map is inherited into every child
    * commit, so it survives interleaved non-stream commits AND snapshot
    * expiration; rollback adopts the TARGET's map, so replaying a rolled-
    * back batch re-ingests instead of being dropped as a re-delivery. */
  def streamCursors: Map[String, Long] = cursorsOf(log)

  private def cursorsOf(lg: SnapshotLog): Map[String, Long] =
    lg.current.flatMap(_.summary.get(SummaryStreamCursors)) match {
      case None => Map.empty
      case Some(json) => graft.util.Json.parseObject(json)
        .map { case (k, v) => k -> v.asInstanceOf[Long] }
    }

  private def cursorsJson(m: Map[String, Long]): String =
    graft.util.Json.write(m.map { case (k, v) => k -> (v: Any) })

  /** Commit one STREAMING micro-batch as an append snapshot, idempotently
    * PER SINK: `sinkId` names the producing query (use its checkpoint
    * identity — batch ids are only unique within one checkpoint), and a
    * re-delivered (sinkId, batchId) — foreachBatch is at-least-once on
    * restart — is SKIPPED when that sink's cursor is already ≥ it,
    * upgrading the contract to exactly-once snapshot commits. Distinct
    * sinks interleave freely. Returns None for skipped re-deliveries.
    * Concurrent writers compose via [[withCommitRetry]] (the cursor
    * re-check happens inside the retried op, against the winner's log). */
  def appendStreamBatch(
      df: DataFrame,
      sinkId: String,
      batchId: Long,
      committedAt: Option[Long] = None): Option[Snapshot] = {
    val out = withCommitRetry() {
      require(sinkId.nonEmpty, "sinkId must be non-empty")
      val cursors = streamCursors
      if (cursors.get(sinkId).exists(_ >= batchId)) None
      else Some(append(df, committedAt, extraSummary = Map(
        SummaryStreamCursors -> cursorsJson(cursors + (sinkId -> batchId)))))
    }
    if (out.isDefined)
      maybeStreamCompact(df.sparkSession, batchId, committedAt)
    out
  }

  /** Opt-in SMALL-FILE auto-compaction for streaming sinks: with
    * `graft.stream.compact-every-epochs = N` set, every Nth committed
    * epoch is followed by a `compact()` of files smaller than
    * `graft.stream.compact.smaller-than-bytes` (default 32 MiB) — the
    * row-preserving `replace` the snapshot-incremental and CDC streams
    * already skip, so tails survive it. This is the operational lever a
    * continuous ingest needs at 100 TB: one small file per epoch per
    * partition compounds into a read-killing file count unless something
    * folds it, and bounding the debt by EPOCH COUNT is an O(1) decision
    * per commit (no manifest scan to count candidates). Replayed epochs
    * commit nothing and therefore never re-compact. Off by default. */
  private[table] def maybeStreamCompact(
      spark: SparkSession,
      epoch: Long,
      committedAt: Option[Long] = None): Unit = {
    // epoch 0 trivially satisfies epoch % n == 0 — the very first
    // committed batch has at most one file, nothing worth folding
    val every = GraftTable.streamCompactEvery(properties)
    every.filter(n => epoch > 0 && epoch % n == 0).foreach { _ =>
      val thr = GraftTable.streamCompactBytes(properties)
      // retry-wrapped like every other streaming commit path: a benign
      // race with a concurrent writer must never fail the stream (the
      // retried compact recomputes against the winner's log)
      withCommitRetry() {
        GraftTable.load(dir).compact(spark, smallerThanBytes = thr,
          committedAt = committedAt): Unit
      }
    }
  }

  /** Commit files ALREADY WRITTEN by streaming executor tasks as one
    * append snapshot, idempotently per (sinkId, batchId) — the driver
    * half of the DSv2 streaming sink (`writeStream.toTable`), whose
    * [[org.apache.spark.sql.classic.GraftStreamingWrite]] tasks wrote
    * parquet directly under `data/` with temporary names.
    *
    * Inside the (retried) commit attempt each file is RENAMED to the
    * canonical `part-<snapId>-<token>-<seq>.parquet` form: the snapshot
    * id in the name is what attributes the file to its schema ERA
    * (physicalField) and scopes deferred-delete coverage — a
    * non-canonical name would resolve to the OLDEST era and be treated
    * as covered by any pending predicate delete. Footer stats and
    * manifest blooms are harvested driver-side (per-file metadata
    * reads, no data scan).
    *
    * A re-delivered (sinkId, batchId) — streaming epochs replay on
    * restart — DELETES the duplicate files and commits nothing
    * (exactly-once snapshots, the [[appendStreamBatch]] contract).
    * Partitioned epochs arrive under the batch `<field>=<value>/`
    * layout; partition values and synthesized stats derive from the
    * path segments exactly as in a batch write. Write constraints are
    * enforced per row INSIDE the writer tasks (see `GraftV2Table` /
    * `GraftStreamingWrite` — the batch constraintGuard's semantics). */
  def commitStreamFiles(
      relPaths: Seq[String],
      sinkId: String,
      batchId: Long,
      committedAt: Option[Long] = None): Option[Snapshot] = {
    require(sinkId.nonEmpty, "sinkId must be non-empty")
    if (relPaths.isEmpty) return None
    var current: Seq[java.nio.file.Path] =
      relPaths.map(r => Paths.get(dir, r))
    // each footer is read once, by the first attempt that commits (a
    // retry only renames the same bytes), with the session's conf
    lazy val metas = {
      val conf = SparkSession.active.sessionState.newHadoopConf()
      current.map(p => ParquetStats.forFile(p.toString, conf, bloomColumns))
    }
    // commit() is handed newFiles = Nil: its failure paths DELETE the
    // files it is given, but these files hold the only copy of the
    // epoch's rows — a lost commit race must retry with the files
    // intact, not re-run a write job (there is none to re-run). The
    // commit-loss cleanup commit() would have done is taken over here:
    // any terminal failure deletes the staged/renamed files.
    try withCommitRetry() {
      // ONE log read per attempt: the cursors and the commit's base come
      // from the same log (commit() re-reads it once more, post-claim)
      val lg = log
      val cursors = cursorsOf(lg)
      if (cursors.get(sinkId).exists(_ >= batchId)) {
        current.foreach(Files.deleteIfExists)
        None
      } else {
        val snapId = lg.nextId
        val token = java.util.UUID.randomUUID().toString.take(8)
        val entries = current.zip(metas).zipWithIndex.map {
          case ((src, meta), i) =>
            // partitioned epochs keep the batch layout: the writer task
            // placed the file under its <field>=<value>/ segments; derive
            // the partition values and synthesized stats from the path
            // exactly as the batch write does
            val segs = Paths.get(dir, "data").relativize(src)
              .iterator().asScala.map(_.toString).toSeq.dropRight(1)
            val partition: Map[String, Option[String]] = segs.map { seg =>
              val (c, raw) = seg.splitAt(seg.indexOf('='))
              c -> PartitionValues.decode(raw.drop(1))
            }.toMap
            val name = f"part-$snapId%05d-$token-$i%05d.parquet"
            val dst = src.getParent.resolve(name)
            Files.move(src, dst, StandardCopyOption.REPLACE_EXISTING)
            val partStats = partition.map { case (c, v) =>
              val pf = partitionFields.find(_.fieldName == c)
              val dt = pf.map(_.derivedType).getOrElse(schema(c).dataType)
              pf.map(_.statName).getOrElse(c) ->
                PartitionValues.stats(v, dt, meta.rowCount)
            }
            DataFileEntry((Seq("data") ++ segs :+ name).mkString("/"),
              meta.rowCount, Files.size(dst), meta.stats ++ partStats,
              partition, meta.blooms)
        }
        // a lost commit race retries with a NEW snapshot id — the next
        // attempt must move from THIS attempt's canonical names
        current = entries.map(e => Paths.get(dir, e.path))
        // mirror commit()'s pending-positional basename guard (it only
        // runs there when newFiles is non-empty)
        val pendingBns = lg.current.toSeq.flatMap(parsePositional)
          .flatMap(_.targets.keys).map(baseName).toSet
        val clash = entries.map(e => baseName(e.path)).filter(pendingBns)
        require(clash.isEmpty,
          s"new data-file basename(s) ${clash.mkString(", ")} collide " +
            s"with pending positional-delete targets on $dir")
        val prevManifest = lg.current
          .map(s => Manifest.read(s"$dir/${s.manifestList}"))
          .getOrElse(Manifest.empty)
        Some(commit(lg, snapId, prevManifest.append(entries), Nil,
          operation = "append", committedAt,
          extraSummary = Map(
            "added-data-files" -> entries.size.toString,
            "added-records" -> entries.map(_.recordCount).sum.toString,
            SummaryStreamCursors ->
              cursorsJson(cursors + (sinkId -> batchId)))))
      }
    } catch { case e: Throwable =>
      current.foreach(Files.deleteIfExists)
      throw e
    }
  }

  /** FILE-LEVEL IMPORT (migration onboarding): land existing parquet
    * files' rows in this table under canonical names — one append
    * snapshot, footer stats + blooms harvested, NO row rewrite and NO
    * Spark job. Staging HARD-LINKS when the filesystem allows (O(file
    * count) metadata — the actual 100 TB onboarding cost on a
    * same-filesystem deployment; never a driver-side byte path) and
    * falls back to a copy across devices; sources stay untouched either
    * way, and a failed import leaves nothing. Linked imports share the
    * source's blocks, so the usual immutable-parquet discipline must
    * hold for the SOURCE too (the same trust model as Iceberg's
    * reference-in-place `add_files`, strictly safer: deleting the
    * source later cannot hurt the table).
    *
    * Staging happens ONCE; a lost commit race RENAMES the staged files
    * to the retry's canonical names instead of re-staging — no
    * duplicate bytes, no orphaned first-attempt files.
    *
    * Refusals (loud, before anything lands):
    *  - a file whose FOOTER schema differs from the table schema (name
    *    set + types — the same bricked-table guard as [[append]]; reads
    *    are by name, so column order may differ; identity-partitioned
    *    tables expect the partition columns ABSENT from footers and
    *    present as `<col>=<value>` directories under `sourceRoot`,
    *    exactly the Hive layout `partitionBy` writes);
    *  - TRANSFORM-partitioned tables (a foreign layout's bucket/days
    *    values claim a derivation this table cannot verify — importing
    *    them would silently mis-prune; append() re-derives instead);
    *  - identity-partitioned tables without a `sourceRoot`, or files
    *    whose directory keys don't match the spec;
    *  - constraint-bearing tables (imported rows bypass the write-time
    *    guard; nothing is scanned here, so nothing could enforce them).
    */
  def importFiles(
      spark: SparkSession,
      absPaths: Seq[String],
      committedAt: Option[Long] = None,
      sourceRoot: Option[String] = None): Snapshot = {
    require(absPaths.nonEmpty, "importFiles needs at least one file")
    val identitySpec = partitionFields.nonEmpty &&
      partitionFields.forall(_.isIdentity)
    require(partitionFields.isEmpty || identitySpec,
      s"$dir has a transform partition layout — a foreign dataset's " +
        "derived values cannot be verified; append() re-derives instead")
    require(!identitySpec || sourceRoot.isDefined,
      s"$dir is identity-partitioned — importFiles needs the sourceRoot " +
        "whose <col>=<value> directories carry the partition values")
    require(!properties.contains(PropNotNullColumns) &&
      !properties.keys.exists(_.startsWith(PropCheckPrefix)),
      s"$dir declares write constraints — file-level import cannot " +
        "enforce them; append() the rows instead")
    absPaths.foreach(p => require(p.endsWith(".parquet"),
      s"importFiles takes parquet files, got $p"))
    // identity layouts: partition values ride the Hive directory
    // segments relative to sourceRoot, exactly like a batch write's
    val expectedKeys = partitionFields.map(_.fieldName)
    def partitionOf(p: String): Map[String, Option[String]] =
      if (!identitySpec) Map.empty
      else {
        val root = Paths.get(sourceRoot.get).normalize()
        val rel = root.relativize(Paths.get(p).normalize())
        val segs = rel.iterator().asScala.map(_.toString).toSeq.dropRight(1)
        val kv = segs.flatMap { seg =>
          val eq = seg.indexOf('=')
          if (eq <= 0) None
          else Some(seg.take(eq) -> PartitionValues.decode(seg.drop(eq + 1)))
        }.toMap
        require(kv.keySet == expectedKeys.toSet,
          s"$p carries partition keys [${kv.keySet.mkString(",")}], the " +
            s"table spec needs [${expectedKeys.mkString(",")}]")
        kv
      }
    val expectedFooter =
      schema.fieldNames.filterNot(expectedKeys.contains).sorted.toSeq
    // per-file footer schema check (strict — no union/merge leniency),
    // on the footer's own schema conversion (no Spark job per file). It
    // is the ONE footer read per file: its stats and blooms ride into
    // every commit attempt, which only renames the same bytes.
    val conf = spark.sessionState.newHadoopConf()
    val metas = absPaths.map { p =>
      partitionOf(p): Unit
      val meta = ParquetStats.forFile(p, conf, bloomColumns)
      val fs = org.apache.spark.sql.classic.GraftBridge
        .parquetFooterSchema(spark, p, meta.fileMetaData)
      require(fs.fieldNames.sorted.toSeq == expectedFooter,
        s"$p columns [${fs.fieldNames.sorted.mkString(",")}] must match " +
          s"table schema [${expectedFooter.mkString(",")}]" +
          (if (identitySpec) " (identity partition columns live in the " +
            "directories, not the footers)" else ""))
      fs.fields.foreach { f =>
        require(schema(f.name).dataType == f.dataType,
          s"$p column '${f.name}' is ${f.dataType.sql}, table expects " +
            s"${schema(f.name).dataType.sql} — rewrite via append()")
      }
      meta
    }
    var current: Seq[(java.nio.file.Path, Map[String, Option[String]])] = Nil
    try {
      val stage = java.util.UUID.randomUUID().toString.take(8)
      Files.createDirectories(Paths.get(dir, "data"))
      current = absPaths.zipWithIndex.map { case (src, i) =>
        val part = partitionOf(src)
        // canonical directory segments in SPEC order (a foreign layout
        // may nest keys differently), Hive-escaped like the batch write
        val segs = partitionFields.map { f =>
          val v = part(f.fieldName)
          val rendered = v match {
            case None => PartitionValues.NullMarker
            case Some(x) => org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils.escapePathName(x)
          }
          s"${f.fieldName}=$rendered"
        }
        val dstDir = segs.foldLeft(Paths.get(dir, "data"))(_.resolve(_))
        Files.createDirectories(dstDir)
        val dst = dstDir.resolve(f".import-$stage-$i%05d.parquet")
        try Files.createLink(dst, Paths.get(src))
        catch {
          case _: UnsupportedOperationException |
              _: java.nio.file.FileSystemException =>
            Files.move(
              Files.copy(Paths.get(src),
                Paths.get(dst.toString + ".tmp"),
                StandardCopyOption.REPLACE_EXISTING),
              dst, StandardCopyOption.REPLACE_EXISTING)
        }
        (dst, part)
      }
      withCommitRetry() {
        val lg = log
        val snapId = lg.nextId
        val token = java.util.UUID.randomUUID().toString.take(8)
        val entries = current.zip(metas).zipWithIndex.map {
          case (((src, part), meta), i) =>
            val name = f"part-$snapId%05d-$token-$i%05d.parquet"
            val dst = src.getParent.resolve(name)
            Files.move(src, dst, StandardCopyOption.REPLACE_EXISTING)
            val partStats = part.map { case (c, v) =>
              c -> PartitionValues.stats(v, schema(c).dataType, meta.rowCount)
            }
            val rel = Paths.get(dir).relativize(dst).iterator().asScala
              .map(_.toString).mkString("/")
            DataFileEntry(rel, meta.rowCount, Files.size(dst),
              meta.stats ++ partStats, part, meta.blooms)
        }
        // a lost race retries with a NEW snapshot id — the next attempt
        // must move from THIS attempt's canonical names
        current = entries.map(e =>
          (Paths.get(dir, e.path), e.partition))
        // mirror commit()'s pending-positional basename guard (it only
        // runs there when newFiles is non-empty; these files hold the
        // only staged copy, so commit is handed Nil and cleanup stays
        // with this method's catch)
        val pendingBns = lg.current.toSeq.flatMap(parsePositional)
          .flatMap(_.targets.keys).map(baseName).toSet
        val clash = entries.map(e => baseName(e.path)).filter(pendingBns)
        require(clash.isEmpty,
          s"imported basename(s) ${clash.mkString(", ")} collide with " +
            s"pending positional-delete targets on $dir")
        val prevManifest = lg.current
          .map(s => Manifest.read(s"$dir/${s.manifestList}"))
          .getOrElse(Manifest.empty)
        commit(lg, snapId, prevManifest.append(entries), Nil,
          operation = "append", committedAt,
          extraSummary = Map(
            "added-data-files" -> entries.size.toString,
            "added-records" -> entries.map(_.recordCount).sum.toString,
            "imported" -> "true"))
      }
    } catch { case e: Throwable =>
      current.foreach { case (p, _) => Files.deleteIfExists(p) }
      throw e
    }
  }

  /** Structured-Streaming WRITE into this table: every micro-batch lands
    * as one append snapshot via [[appendStreamBatch]]. ALWAYS set a
    * checkpointLocation and derive `sinkId` from it — without a
    * checkpoint, a restarted query re-reads the source with batch ids
    * restarting at 0 and the cursor check would drop everything up to
    * the old epoch:
    * {{{
    * table.writeStreamInto(stream, sinkId = "ingest-v1")
    *   .option("checkpointLocation", ckptDir).start()
    * }}} */
  def writeStreamInto(
      df: DataFrame,
      sinkId: String): org.apache.spark.sql.streaming.DataStreamWriter[Row] =
    df.writeStream.outputMode("append").foreachBatch {
      (batch: org.apache.spark.sql.Dataset[Row], id: Long) =>
        appendStreamBatch(batch.toDF(), sinkId, id): Unit
    }

  /** Structured-Streaming read of an append-only graft table: Spark's
    * parquet file-stream source over the data layout, with the schema from
    * table metadata (never inferred). Every committed file is emitted
    * exactly once per checkpoint — the streaming analog of the reference's
    * snapshot incrementality, riding the battle-tested file source rather
    * than a bespoke one.
    *
    * Restrictions (enforced, not documented-away): compacted tables are
    * rejected — a path-based source would re-emit rows rewritten by a
    * `"replace"` snapshot (use [[GraftChangeFeed]] for compaction-safe
    * incremental reads). Partitioned tables are rejected — partition
    * values live in directory names the flat file glob cannot type. The
    * virtual snapshot column is absent (a file-level source has no
    * snapshot context). */
  def readStream(spark: SparkSession): DataFrame = {
    require(log.snapshots.forall(_.operation == "append"),
      s"readStream requires an append-only history; $dir has replace " +
        "snapshots (compaction) — use GraftChangeFeed instead")
    require(log.current.forall(s =>
        Manifest.read(s"$dir/${s.manifestList}").files
          .forall(_.path.endsWith(".parquet"))),
      s"readStream rides the parquet file-stream source; $dir holds " +
        "avro data files (appendAvro) — use GraftChangeFeed instead")
    require(partitionColumns.isEmpty,
      s"readStream does not support partitioned tables (yet): $dir")
    Files.createDirectories(Paths.get(dir, "data"))
    spark.readStream.schema(schema).parquet(s"$dir/data")
  }

  /** Manifest entries of snapshot `s` as a DISTRIBUTED RDD: the driver
    * ships O(segments) refs; each task parses its own segment shard and
    * emits its entries. At ~1 M files the driver never materializes the
    * file list — this is what keeps the `__files`/`__partitions`
    * metadata tables queryable (and parallel) at any table size.
    * Unreferenced segments (fresh, or legacy v1 inline manifests) are
    * already parsed driver-side and ship as a small sliced RDD. */
  private def entriesRdd(
      spark: SparkSession, s: Snapshot): org.apache.spark.rdd.RDD[DataFileEntry] = {
    val m = Manifest.read(s"$dir/${s.manifestList}")
    val (refSegs, inline) = m.segments.partition(_.ref.isDefined)
    val refs = refSegs.flatMap(_.ref)
    val td = dir
    val refRdd =
      if (refs.isEmpty) spark.sparkContext.emptyRDD[DataFileEntry]
      else spark.sparkContext
        .parallelize(refs, math.min(refs.size,
          math.max(1, spark.sparkContext.defaultParallelism)))
        .flatMap(rel => Manifest.readSegmentFiles(s"$td/$rel"))
    val inlineEntries = inline.flatMap(_.files)
    if (inlineEntries.isEmpty) refRdd
    else refRdd.union(spark.sparkContext.parallelize(inlineEntries,
      math.min(inlineEntries.size,
        math.max(1, spark.sparkContext.defaultParallelism))))
  }

  /** The `__all_files` metadata table (Iceberg `all_files`/
    * `all_data_files` analog): every data file referenced by ANY live
    * snapshot — the audit view of what expiration would or would not
    * reclaim. One row per distinct file with its entry metadata plus the
    * count and id range of the snapshots referencing it. DISTRIBUTED and
    * dedup-aware: the two-level manifest shares segment shards BY REF
    * across snapshots, so the driver maps each DISTINCT segment to the
    * snapshot ids whose lists carry it (O(snapshots × refs) strings),
    * executor tasks parse each segment ONCE and every file row inherits
    * its segment's referencing set — a 500-commit million-file history
    * costs one parse per distinct shard, not per (snapshot × shard).
    * Table-global (like `__refs`/`__history`): refuses VERSION AS OF. */
  def allFilesTable(spark: SparkSession): DataFrame = {
    val lg = log
    val td = dir
    // distinct segment ref -> referencing snapshot ids; inline entries
    // (small, driver-held) keyed per snapshot directly
    val bySeg = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
    val inline = scala.collection.mutable.ArrayBuffer
      .empty[(DataFileEntry, Long)]
    lg.snapshots.foreach { s =>
      val m = Manifest.read(s"$dir/${s.manifestList}")
      m.segments.foreach { seg =>
        seg.ref match {
          case Some(r) =>
            bySeg.getOrElseUpdate(r,
              scala.collection.mutable.ArrayBuffer.empty) += s.snapshotId
          case None => seg.files.foreach(f => inline += ((f, s.snapshotId)))
        }
      }
    }
    // referencing-snapshot lists resolve AFTER the reduce through a
    // broadcast table keyed by segment index — shuffling the id list on
    // every file row would carry O(files × referencing snapshots) longs
    // (a 500-commit million-file history ≈ GBs of ids) where the index
    // sets are O(files × segments-per-file) ints
    val segSeq = bySeg.toSeq
    val idTable: Array[Array[Long]] =
      (segSeq.map(_._2.distinct.sorted.toArray) ++
        inline.map { case (_, id) => Array(id) }).toArray
    val bc = spark.sparkContext.broadcast(idTable)
    val refRdd =
      if (segSeq.isEmpty)
        spark.sparkContext.emptyRDD[(DataFileEntry, Set[Int])]
      else spark.sparkContext
        .parallelize(segSeq.zipWithIndex.map { case ((r, _), i) => (r, i) },
          math.min(segSeq.size,
            math.max(1, spark.sparkContext.defaultParallelism)))
        .flatMap { case (rel, i) =>
          Manifest.readSegmentFiles(s"$td/$rel").map(f => (f, Set(i)))
        }
    val inlineRdd =
      if (inline.isEmpty)
        spark.sparkContext.emptyRDD[(DataFileEntry, Set[Int])]
      else spark.sparkContext.parallelize(
        inline.toSeq.zipWithIndex.map { case ((f, _), j) =>
          (f, Set(segSeq.size + j)) },
        math.min(inline.size,
          math.max(1, spark.sparkContext.defaultParallelism)))
    val rows = refRdd.union(inlineRdd)
      .map { case (f, idxs) => (f.path, (f, idxs)) }
      // deterministic entry choice: entries for one path are identical
      // today, but nothing enforces it — order the tie-break explicitly
      // so the view can never flip between runs
      .reduceByKey { (x, y) =>
        val keep =
          if (x._1 == y._1) x._1
          else Seq(x._1, y._1).minBy(e =>
            (e.recordCount, e.fileSizeBytes, e.partition.toString))
        (keep, x._2 ++ y._2)
      }
      .map { case (_, (f, idxs)) =>
        val ids = idxs.toSeq.flatMap(i => bc.value(i)).distinct
        Row(f.path, f.recordCount, f.fileSizeBytes,
          f.partition.map { case (k, v) => k -> v.orNull },
          ids.size.toLong, ids.min, ids.max)
      }
    spark.createDataFrame(rows, AllFilesSchema)
  }

  /** Upper-bound row count for [[allFilesTable]] without a segment
    * parse: distinct segment fileCounts + inline entries across all
    * snapshots. A file retained into a fresh segment counts once per
    * holding segment — an UPPER bound, the safe direction for the
    * V1Scan's broadcast sizing (the current-snapshot totals the other
    * file-granular views use would UNDERCOUNT this all-snapshots view). */
  private[table] def allFilesRowHint: Long = {
    val seen = scala.collection.mutable.Set.empty[String]
    var n = 0L
    log.snapshots.foreach { s =>
      Manifest.read(s"$dir/${s.manifestList}").segments.foreach { seg =>
        seg.ref match {
          case Some(r) => if (seen.add(r)) n += seg.fileCount
          case None => n += seg.files.size
        }
      }
    }
    n
  }

  /** The files metadata table (Iceberg's `files` analog, a sibling of the
    * reference's `__snapshots` surface): one row per data file in the
    * scanned snapshot, with record counts, sizes and partition values —
    * the operational "what does this table hold" view that drives
    * compaction decisions and skew diagnosis. Metadata-only (manifest
    * read — no data I/O), and DISTRIBUTED: segment shards parse in
    * executor tasks ([[entriesRdd]]), so the view stays usable — and SQL
    * over it parallel — at a million files. */
  def filesTable(spark: SparkSession, snapshotId: Option[Long] = None): DataFrame = {
    val rdd = resolveSnapshot(snapshotId) match {
      case None => spark.sparkContext.emptyRDD[Row]
      case Some(s) => entriesRdd(spark, s).map(f =>
        Row(f.path, f.recordCount, f.fileSizeBytes,
          f.partition.map { case (k, v) => k -> v.orNull },
          f.stats.collect { case (c, st) if st.min.isDefined =>
            c -> st.min.get },
          f.stats.collect { case (c, st) if st.max.isDefined =>
            c -> st.max.get },
          f.stats.collect { case (c, st) if st.nullCount.isDefined =>
            c -> st.nullCount.get },
          f.firstRowId.map(Long.box).orNull,
          f.hasRowIds))
    }
    spark.createDataFrame(rdd, FilesSchema)
  }

  /** The segments metadata table: one row per manifest segment of the
    * scanned snapshot — shared-by-ref metadata observability for the
    * two-level manifest layer (how many shards, how big, how much of the
    * list a [[rewriteManifests]] would fold). Metadata-only: totals come
    * from the manifest LIST, no segment is parsed; rows are O(segments)
    * (bounded by the coalescing policy) but still ship sliced so SQL
    * over the view runs parallel. */
  def segmentsTable(spark: SparkSession, snapshotId: Option[Long] = None): DataFrame = {
    val rows = resolveSnapshot(snapshotId).toSeq.flatMap { s =>
      Manifest.read(s"$dir/${s.manifestList}").segments.map { seg =>
        Row(seg.ref.getOrElse(""), seg.fileCount, seg.recordCount,
          seg.sizeBytes)
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, math.min(rows.size,
        spark.sparkContext.defaultParallelism))), SegmentsSchema)
  }

  /** The partitions metadata table (Iceberg's `partitions` analog): one
    * row per partition of the scanned snapshot with file/record/byte
    * totals — the layout-health view (skew, small-file pressure,
    * compaction targeting) that is pure manifest aggregation:
    * metadata-only, no data I/O at any scale, and DISTRIBUTED — segment
    * shards parse in executor tasks and aggregate with a map-side
    * combine ([[entriesRdd]] + reduceByKey), never a driver-side file
    * list. An unpartitioned table yields one row with an empty partition
    * map; rows are ordered by the partition values' canonical string
    * form so the output is deterministic. */
  def partitionsTable(spark: SparkSession, snapshotId: Option[Long] = None): DataFrame = {
    val rdd = resolveSnapshot(snapshotId) match {
      case None => spark.sparkContext.emptyRDD[Row]
      case Some(s) => entriesRdd(spark, s)
        .map(f => (f.partition.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> v.orNull },
          (1L, f.recordCount, f.fileSizeBytes)))
        // map-side combine does the distributed work; the combined rows
        // are O(partitions) — one output slice sorts them locally (an
        // RDD sortBy would launch an eager range-sampling job at
        // DataFrame CONSTRUCTION, i.e. on every loadTable)
        .reduceByKey((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3), 1)
        .mapPartitions(it => it.toSeq
          .sortBy(_._1.map { case (k, v) => s"$k=$v" }.mkString(","))
          .iterator)
        .map { case (part, (nFiles, nRecords, nBytes)) =>
          Row(part.toMap, nFiles, nRecords, nBytes)
        }
    }
    spark.createDataFrame(rdd, PartitionsSchema)
  }

  /** The `deletes` metadata table: one row per PENDING merge-on-read
    * delete entry at the scanned snapshot — the MoR-debt view an
    * operator reads before scheduling compaction ("how many entries tax
    * reads, how many rows are dead, which key columns"). Metadata-only:
    * everything comes from the snapshot summary.
    *  - predicate entries: `detail` = the stored predicate SQL;
    *  - positional entries: `deleted_rows` exact, `n_files` = delete
    *    parquets, `detail` = target-file count;
    *  - equality entries: `detail` = the key columns. */
  def deletesTable(spark: SparkSession, snapshotId: Option[Long] = None): DataFrame = {
    val rows = resolveSnapshot(snapshotId).toSeq.flatMap { s =>
      parsePending(s).map { case (covered, predSql) =>
        Row("predicate", predSql, Long.box(covered), 0L, null)
      } ++
      parsePositional(s).map { e =>
        Row("positional", s"targets=${e.targets.size}", null,
          e.files.size.toLong, Long.box(e.deletedRows))
      } ++
      parseEquality(s).map { e =>
        Row("equality", e.cols.mkString(","), Long.box(e.covered),
          e.files.size.toLong, null)
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), DeletesSchema)
  }

  /** The refs metadata table (Iceberg `refs` analog): every named ref —
    * tags and branches — as rows. Branch rows carry the FORK snapshot
    * (the retention anchor while the branch is live) and whether the
    * branch has been published. Metadata-only. */
  def refsTable(spark: SparkSession): DataFrame = {
    val rows =
      refs.toSeq.sortBy(_._1).map { case (n, id) => Row(n, "tag", id) } ++
      branches.toSeq.sortBy(_._1).map { case (n, (fork, pub)) =>
        Row(n, if (pub) "branch-published" else "branch", fork)
      }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), RefsSchema)
  }

  /** The `__history` system table (Iceberg `history` parity): one row
    * per log entry with `is_current_ancestor` computed over the
    * EFFECTIVE state lineage — a `"rollback"` commit's state-parent is
    * the snapshot it rolled back to (its `rolled-back-to` summary), not
    * its physical parent, so snapshots rolled PAST are correctly not
    * ancestors of the current state while the rollback commit and its
    * target are. O(commits) driver rows, like `__snapshots`; expired
    * targets simply truncate the walk (their rows are gone anyway). */
  def historyTable(spark: SparkSession): DataFrame = {
    val lg = log
    val byId = lg.snapshots.map(s => s.snapshotId -> s).toMap
    val ancestors = scala.collection.mutable.Set.empty[Long]
    var cur = lg.current
    while (cur.isDefined) {
      val s = cur.get
      if (!ancestors.add(s.snapshotId)) cur = None // defensive cycle guard
      else {
        val parent =
          if (s.operation == "rollback")
            s.summary.get("rolled-back-to").flatMap(_.toLongOption)
          else s.parentId
        cur = parent.flatMap(byId.get)
      }
    }
    val rows = lg.snapshots.map { s =>
      Row(s.committedAt, s.snapshotId, s.parentId.map(Long.box).orNull,
        ancestors.contains(s.snapshotId))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), HistorySchema)
  }

  /** The `__snapshots` system table (V1/S7). Tiny metadata → a local
    * DataFrame is correct at any scale (the data it describes is big; the
    * log is not). Schema mirrors SnapshotIterable.createSnapshotRecord. */
  def snapshots(spark: SparkSession): DataFrame = {
    val rows = log.snapshots.map { s =>
      Row(s.committedAt, s.snapshotId, s.parentId.map(Long.box).orNull,
        s.operation, s"$dir/${s.manifestList}", s.summary)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), SnapshotsSchema)
  }
}

object GraftTable {

  /** Resolve a raw (possibly unresolved) predicate against `schema` using
    * the session analyzer, then constant-fold so literal casts collapse —
    * yields the EqualTo/And/Literal shapes TimeTravel and Pruning match on.
    * Falls back to the raw expression on any analysis error (consumers are
    * conservative on unknown shapes, so this only costs pruning, never
    * correctness).
    */
  private[graft] def resolveAgainst(
      spark: SparkSession,
      schema: StructType,
      raw: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    import org.apache.spark.sql.catalyst.types.DataTypeUtils
    if (raw.resolved) return raw
    try {
      val plan = Filter(raw, LocalRelation(DataTypeUtils.toAttributes(schema)))
      val analyzed = spark.sessionState.analyzer.execute(plan)
      val folded =
        org.apache.spark.sql.catalyst.optimizer.ConstantFolding(analyzed)
      folded.collectFirst { case Filter(c, _) => c }.getOrElse(raw)
    } catch { case _: Exception => raw }
  }

  /** Parsed + validated `graft.write.sort` column list (Nil when unset)
    * — the ONE parser behind both the batch write job's range-sort and
    * the streaming Write's declared distribution/ordering, so the two
    * paths can never drift on the property's format. */
  private[table] def writeSortColumns(
      props: Map[String, String],
      schema: StructType): Seq[String] =
    props.get(PropWriteSort) match {
      case Some(spec) if spec.trim.nonEmpty =>
        val cols = spec.split(',').map(_.trim).filter(_.nonEmpty).toSeq
        cols.foreach(c => require(schema.fieldNames.contains(c),
          s"unknown ${PropWriteSort} column '$c'"))
        cols
      case _ => Nil
    }

  val DefaultVirtualColumn = "snapshot__id"
  val PropVirtualColumnName = "graft.snapshot.virtual.column.name"

  /** DML conflict policy: `replan` (default — a losing statement
    * re-plans in full against the winner's state, serializable
    * run-as-if-last) or `strict` (first conflict fails loudly; the
    * caller re-reads and decides — Iceberg validateNoConflicting*
    * stance). Consumed by [[GraftTable.withDmlRetry]]. */
  val PropDmlIsolation = "graft.dml.isolation"

  private[table] def dmlIsolationOf(props: Map[String, String]): String =
    props.getOrElse(PropDmlIsolation, "replan") match {
      case v @ ("replan" | "strict") => v
      case other => throw new IllegalArgumentException(
        s"$PropDmlIsolation must be 'replan' or 'strict', got '$other'")
    }

  val PropCheckPrefix = "graft.check."
  val PropNotNullColumns = "graft.notnull.columns"
  val PropSnapshotsTable = "graft.snapshots.table"
  val PropBloomColumns = "graft.bloom.columns"
  val PropWriteDistribution = "graft.write.distribution"
  val PropWriteSort = "graft.write.sort"
  val PropWriteOptionPrefix = "graft.write.option."

  /** Data-file format for every write path (append / CoW DML rewrites /
    * compaction): `parquet` (default), `orc`, or `avro` — the Iceberg
    * `write.format.default` analog, so an imported ORC/Avro estate stays
    * in its format under DML. Reads dispatch per FILE (mixed-format
    * tables are first-class); non-parquet files carry exact record
    * counts but no footer min/max stats (scans keep them under any
    * predicate — conservative, sound), no blooms, and no parquet row
    * index (positional MoR refuses their files loudly; avro additionally
    * requires unpartitioned layouts). */
  val PropWriteFormat = "write.format"
  /** Opt-in ROW LINEAGE carry (Iceberg v3 row-lineage parity):
    * `graft.row-lineage = true` makes every REWRITE (CoW DML,
    * compaction, positional update) persist the rewritten rows' prior
    * `_row_id`/`_last_updated_snapshot_id` as materialized lineage
    * columns, so ids stay STABLE across rewrites. Band assignment at
    * commit is always on (metadata-only, free); without the property a
    * rewrite re-assigns fresh ids (reads stay correct, identity is just
    * not preserved across maintenance). */
  val PropRowLineage = "graft.row-lineage"
  /** Column-name prefix under which [[GraftTable.mergeActions]] exposes
    * SOURCE columns to action conditions/values over the joined row
    * (target columns keep their bare names). */
  val MergeSrcPrefix = "__graft_src__"

  /** Internal marker set by [[GraftTable.updatePartitionSpec]]: the
    * table's manifests MAY mix partition-spec eras. */
  val PropSpecEvolved = "graft.internal.spec.evolved"

  /** Streaming-sink auto-compaction (opt-in): compact small files after
    * every Nth committed epoch / below this size (default 32 MiB). */
  val PropStreamCompactEvery = "graft.stream.compact-every-epochs"
  val PropStreamCompactBytes = "graft.stream.compact.smaller-than-bytes"

  /** Parse + validate the auto-compaction properties. Called from the
    * metadata-write chokepoints ([[GraftTable.create]] / `writeMeta`) so
    * a malformed value refuses at PROPERTY-SET time with a clear
    * message — never as a NumberFormatException that fails a running
    * stream at its next committed epoch. The per-epoch trigger reuses
    * the same parse (covers hand-edited metadata.json). */
  private[table] def streamCompactEvery(props: Map[String, String]): Option[Int] =
    props.get(PropStreamCompactEvery).map { v =>
      val n = v.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"$PropStreamCompactEvery must be a positive epoch count, got '$v'"))
      require(n > 0,
        s"$PropStreamCompactEvery must be positive, got '$v'")
      n
    }

  private[table] def streamCompactBytes(props: Map[String, String]): Long =
    props.get(PropStreamCompactBytes).map { v =>
      val n = v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$PropStreamCompactBytes must be a positive byte count, got '$v'"))
      require(n > 0,
        s"$PropStreamCompactBytes must be positive, got '$v'")
      n
    }.getOrElse(32L * 1024 * 1024)

  /** ANALYZE-maintained NDV statistics ([[GraftTable.analyze]]): the
    * estimate served to CBO, the mergeable HLL sketch behind it, and
    * PER COLUMN the snapshot it was analyzed up to (incremental
    * re-analyze sketches only later files — per column, so analyzing a
    * subset never poisons another column's coverage). */
  val PropStatsNdvPrefix = "graft.stats.ndv."
  val PropStatsSketchPrefix = "graft.stats.sketch."
  val PropStatsSnapPrefix = "graft.stats.snapshot."

  val SummaryPendingDeletes = "pending-deletes"
  val SummaryPositionalDeletes = "positional-deletes"
  val SummaryEqualityDeletes = "equality-deletes"
  /** Row-lineage watermark: the next unassigned row id (Iceberg v3
    * `next-row-id`). Written by every commit; monotone forever. */
  val SummaryNextRowId = "next-row-id"
  /** Physical lineage-carry columns a REWRITE persists so prior row ids
    * survive the file rewrite (NULL cells inherit `firstRowId` + pos). */
  val LineageRidCol = "_gf_rid"
  val LineageSeqCol = "_gf_seq"
  /** Lineage OUTPUT columns ([[GraftTable.readLineage]] /
    * `_row_id`-style metadata): Iceberg v3 row-provenance names. */
  val RowIdCol = "_row_id"
  val LastUpdatedCol = "_last_updated_snapshot_id"
  val SummaryStreamCursors = "stream-cursors"

  /** One EQUALITY merge-on-read delete commit's bookkeeping (Iceberg v2
    * equality-delete files): `files` are parquet key files under
    * `deletes/` holding the victim key tuples in columns `cols`; the
    * entry applies to data files written at snapshot ≤ `covered` (the
    * predicate-deferred scoping — rows appended later are untouched).
    * Commit cost is O(keys) plus, by default, one bounds-pruned
    * candidate-scan count job that records `dead` — the entry's exact
    * victim count (counted against rows visible under its predecessor
    * entries, so summing entries is exact and `count(*)`/stats stay
    * metadata-only while entries pend). `exactCount = false` skips the
    * scan for the pure-O(keys) commit; `dead = None` then degrades
    * counts to the pre-count behavior (scan fallback). Reads pay a key
    * anti-join on covered files until compaction materializes. */
  final case class EqualityDeletes(
      files: Seq[String], cols: Seq[String], covered: Long,
      dead: Option[Long] = None, coveredSnaps: Seq[Long] = Nil) {
    /** Per-row covering snapshots present in this entry's key files:
      * CONSOLIDATED entries (one parquet per key-column set, each key
      * row tagged with the snapshot its commit covered — the DV
      * discipline applied to the equality side, so read cost stops
      * growing with stacking depth) list every folded commit's covered
      * snapshot; legacy single-commit entries scope wholesale by
      * [[covered]]. `covered` is always the max — the entry's scope
      * ceiling, so whole-entry applicability checks stay exact. */
    def covs: Seq[Long] =
      if (coveredSnaps.nonEmpty) coveredSnaps else Seq(covered)
  }

  /** One POSITIONAL merge-on-read delete commit's bookkeeping: the
    * parquet delete files it wrote (`deletes/del-…`, rows of
    * `(file, pos)` — the manifest-relative target path and the row's
    * physical position in it) and, per target data file, how many of its
    * rows the entry deletes. Targets pin EXACT files, so — unlike the
    * predicate-deferred form — no snapshot-id scoping is needed and
    * later appends are untouched by construction. The per-target counts
    * keep `count(*)`/stats exact without reading a byte: entries are
    * maintained so stored positions are DISJOINT across entries (the
    * write path anti-joins new positions against prior delete files)
    * and targets always ⊆ the live manifest (DML/compaction strip
    * rewritten or dropped files). */
  final case class PositionalDeletes(
      files: Seq[String],
      targets: Map[String, Long],
      dvs: Map[String, String] = Map.empty) {
    def deletedRows: Long = targets.values.sum
  }

  /** One column rename era: files written at snapshot < `at` hold the
    * column under `from`; files at ≥ `at` under `to` (the name-based
    * analog of Iceberg's field-id indirection — [[GraftTable.renameColumn]]). */
  final case class ColumnRename(
      at: Long, from: String, to: String, seq: Long = 0L)

  /** One add-column-with-DEFAULT era (Iceberg v3 `initial-default`
    * parity): files written at snapshot < `at` predate the column
    * entirely — reads fill the stored SQL literal instead of NULL
    * (values physically written after the add, NULL included, are
    * untouched: the fill is per-ERA projection, never a coalesce over
    * live data). `col` is the column's logical name AT ADD TIME; `seq`
    * orders events sharing an `at` exactly like renames/widenings. The
    * same literal is the WRITE default: an append/merge source lacking
    * the column fills it at write time. */
  final case class ColumnDefault(
      at: Long, col: String, sql: String, seq: Long = 0L)

  /** One lossless type-widening era (Iceberg's type promotion): files
    * written at snapshot < `at` hold `col` (its logical name AT widening
    * time) under physical type `from`; reads cast to `to`. `seq` orders
    * events that share an `at` (several metadata-only evolutions between
    * two commits): the newest→oldest walk must unwind the LATER event
    * first or chained renames/widenings in one commit window resolve to
    * the wrong era (caught by SchemaEvolutionPropertySpec). */
  final case class ColumnWidening(
      at: Long, col: String, from: DataType, to: DataType, seq: Long = 0L)

  /** A stored column default must be a CONSTANT of the column's type
    * and survive a SQL round-trip (it is re-planned at every read of a
    * pre-add file and every defaulted write) — fail loudly at
    * declaration, not at first scan. */
  private[table] def validateDefault(
      name: String, dataType: DataType, sql: String): Unit = {
    val e = org.apache.spark.sql.classic.GraftBridge.expr(
      org.apache.spark.sql.functions.expr(sql).cast(dataType))
    require(e.resolved && e.foldable,
      s"default for '$name' must be a constant literal, got: $sql")
    e.eval(null): Unit // evaluates or throws (ANSI cast errors surface here)
  }

  /** Lossless promotions (the Iceberg set plus the small-int chain). */
  private[table] def losslessWidening(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision >= f.precision
      case _ => false
    }

  /** On-disk schema of a positional delete file. */
  val DeleteFileSchema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  /** Internal provenance column names (never visible to readers). */
  private[table] val MetaFileCol = "__gf_file"
  private[table] val MetaPosCol = "__gf_pos"

  /** Per-row covering-snapshot column inside CONSOLIDATED equality-delete
    * key files (never visible to readers). */
  private[table] val EqCovCol = "__eq_covered"

  /** Column names the engine reserves: the DSv2 metadata columns — a
    * data column named `_file`/`_pos` would be silently shadow-routed to
    * the provenance scan ([[GraftFileposScan]]) — and the internal
    * provenance/scoping columns the merge-on-read machinery appends.
    * Checked at every schema-introducing path (create / addColumn /
    * renameColumn; mergeSchema rides addColumn). */
  private[table] val ReservedColumns = Seq("_file", "_pos",
    MetaFileCol, MetaPosCol, EqCovCol,
    LineageRidCol, LineageSeqCol, RowIdCol, LastUpdatedCol)

  /** Exact row count of an ORC data file from its reader metadata (no
    * decode) — the manifest-exactness source for `write.format=orc`
    * entries, like parquet footers / avro block headers elsewhere. */
  private[table] def orcRowCount(
      path: String, conf: org.apache.hadoop.conf.Configuration): Long = {
    val reader = org.apache.orc.OrcFile.createReader(
      new org.apache.hadoop.fs.Path(path),
      org.apache.orc.OrcFile.readerOptions(conf))
    try reader.getNumberOfRows
    finally reader.close()
  }

  private[table] def requireNotReserved(name: String, dir: String): Unit = {
    require(!ReservedColumns.exists(_.equalsIgnoreCase(name)),
      s"column name '$name' is reserved by the engine in $dir " +
        s"(reserved: ${ReservedColumns.mkString(", ")})")
    require(!name.startsWith(VariantPruning.KeyPrefix),
      s"column name '$name' uses the reserved '${VariantPruning.KeyPrefix}'" +
        s" prefix (shredded-variant manifest stat keys) in $dir")
  }
  val PropBloomNdv = "graft.bloom.ndv"
  val SnapshotsSuffix = "__snapshots"
  val FilesSuffix = "__files"
  val PartitionsSuffix = "__partitions"
  val RefsSuffix = "__refs"
  val HistorySuffix = "__history"
  val AllFilesSuffix = "__all_files"
  val DeletesSuffix = "__deletes"
  val SegmentsSuffix = "__segments"

  /** Deletes system-table schema (pending merge-on-read entries). */
  val DeletesSchema: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("detail", StringType, nullable = false),
    StructField("covered_snapshot", LongType, nullable = true),
    StructField("n_files", LongType, nullable = false),
    StructField("deleted_rows", LongType, nullable = true)))

  /** Files metadata-table schema (see [[GraftTable.filesTable]]). */
  val AllFilesSchema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("record_count", LongType, nullable = false),
    StructField("file_size_bytes", LongType, nullable = false),
    StructField("partition", MapType(StringType, StringType), nullable = true),
    StructField("ref_snapshot_count", LongType, nullable = false),
    StructField("first_snapshot_id", LongType, nullable = false),
    StructField("last_snapshot_id", LongType, nullable = false)))

  val FilesSchema: StructType = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("record_count", LongType, nullable = false),
    StructField("file_size_bytes", LongType, nullable = false),
    StructField("partition", MapType(StringType, StringType), nullable = true),
    // readable per-column metrics (Iceberg's readable_metrics analog):
    // the manifest's footer-derived bounds/null counts, as strings in
    // the stats' canonical form — the skew/pruning-power view an
    // operator reads before clustering decisions
    StructField("min_values", MapType(StringType, StringType), nullable = true),
    StructField("max_values", MapType(StringType, StringType), nullable = true),
    StructField("null_counts", MapType(StringType, LongType), nullable = true),
    // ROW LINEAGE observability: the file's id band and whether it
    // carries materialized lineage columns (a rewrite preserving ids)
    StructField("first_row_id", LongType, nullable = true),
    StructField("has_row_ids", BooleanType, nullable = false)))

  /** Segments metadata-table schema (two-level manifest observability). */
  val SegmentsSchema: StructType = StructType(Seq(
    StructField("segment_path", StringType, nullable = false),
    StructField("file_count", LongType, nullable = false),
    StructField("record_count", LongType, nullable = false),
    StructField("size_bytes", LongType, nullable = false)))

  /** Refs system-table schema (tags + branches). */
  val RefsSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("type", StringType, nullable = false),
    StructField("snapshot_id", LongType, nullable = false)))

  /** Partitions system-table schema (Iceberg `partitions` analog). */
  val PartitionsSchema: StructType = StructType(Seq(
    StructField("partition", MapType(StringType, StringType), nullable = false),
    StructField("file_count", LongType, nullable = false),
    StructField("record_count", LongType, nullable = false),
    StructField("total_bytes", LongType, nullable = false)))

  /** Snapshots system-table schema (FIXTURES.md F4 /
    * SnapshotIterable.java:48-57). */
  val HistorySchema: StructType = StructType(Seq(
    StructField("made_current_at", LongType, nullable = false),
    StructField("snapshot_id", LongType, nullable = false),
    StructField("parent_id", LongType, nullable = true),
    StructField("is_current_ancestor", BooleanType, nullable = false)))

  val SnapshotsSchema: StructType = StructType(Seq(
    StructField("committed_at", LongType, nullable = false),
    StructField("snapshot_id", LongType, nullable = false),
    StructField("parent_id", LongType, nullable = true),
    StructField("operation", StringType, nullable = false),
    StructField("manifest_list", StringType, nullable = false),
    StructField("summary", MapType(StringType, StringType), nullable = true)))

  def create(
      dir: String,
      schema: StructType,
      properties: Map[String, String] = Map.empty,
      partitionBy: Seq[String] = Nil): GraftTable = {
    val p = Paths.get(dir)
    require(!Files.exists(p.resolve("metadata.json")), s"table exists: $dir")
    // validates identity columns AND hidden transforms
    // (bucket/days/truncate) against the schema
    PartitionField.parseSpec(partitionBy, schema)
    schema.fieldNames.foreach(requireNotReserved(_, dir))
    streamCompactEvery(properties)
    streamCompactBytes(properties)
    dmlIsolationOf(properties): Unit
    Files.createDirectories(p)
    val meta = Map(
      "format_version" -> 1L,
      "schema" -> schema.json,
      "partition_columns" -> partitionBy,
      "properties" -> properties)
    Files.writeString(p.resolve("metadata.json"), graft.util.Json.write(meta))
    SnapshotLog.empty.write(s"$dir/snapshots.json")
    new GraftTable(dir, schema, properties, partitionBy)
  }

  /** Canonical snapshot-log file name; any other name marks the handle
    * as transaction-staged (see [[GraftTransaction]]). */
  private[table] val MainLog = "snapshots.json"

  def load(dir: String): GraftTable = loadWithLog(dir, MainLog)

  /** A handle whose commits land in `logName` instead of the published
    * log — the transaction-staging loader. Callers must hold the
    * table's commit claim for the staged log's lifetime. */
  private[table] def loadWithLog(dir: String, logName: String): GraftTable = {
    // a committed-but-unswept REPLACE must finish before metadata.json
    // is parsed — the staged metadata may already sit at the published
    // name while the log rename is still owed
    if (logName == MainLog) healReplace(dir)
    val metaPath = Paths.get(dir, "metadata.json")
    require(Files.exists(metaPath), s"not a graft table (no metadata.json): $dir")
    val meta = graft.util.Json.parseObject(Files.readString(metaPath))
    val schema = DataType.fromJson(meta("schema").asInstanceOf[String])
      .asInstanceOf[StructType]
    val props = meta.getOrElse("properties", Map.empty[String, Any])
      .asInstanceOf[Map[String, Any]].map { case (k, v) => k -> v.toString }
    val partitionBy = meta.getOrElse("partition_columns", Seq.empty[Any])
      .asInstanceOf[Seq[Any]].map(_.toString)
    val dropped = meta.getOrElse("dropped_columns", Seq.empty[Any])
      .asInstanceOf[Seq[Any]].map(_.toString)
    val renames = meta.getOrElse("column_renames", Seq.empty[Any])
      .asInstanceOf[Seq[Any]].map { r =>
        val m = r.asInstanceOf[Map[String, Any]]
        ColumnRename(m("at").asInstanceOf[Long],
          m("from").asInstanceOf[String], m("to").asInstanceOf[String],
          m.get("seq").collect { case l: Long => l }.getOrElse(0L))
      }
    val widenings = meta.getOrElse("column_widenings", Seq.empty[Any])
      .asInstanceOf[Seq[Any]].map { w =>
        val m = w.asInstanceOf[Map[String, Any]]
        ColumnWidening(m("at").asInstanceOf[Long],
          m("col").asInstanceOf[String],
          DataType.fromJson(m("from").asInstanceOf[String]),
          DataType.fromJson(m("to").asInstanceOf[String]),
          m.get("seq").collect { case l: Long => l }.getOrElse(0L))
      }
    val defaults = meta.getOrElse("column_defaults", Seq.empty[Any])
      .asInstanceOf[Seq[Any]].map { d =>
        val m = d.asInstanceOf[Map[String, Any]]
        ColumnDefault(m("at").asInstanceOf[Long],
          m("col").asInstanceOf[String], m("sql").asInstanceOf[String],
          m.get("seq").collect { case l: Long => l }.getOrElse(0L))
      }
    new GraftTable(dir, schema, props, partitionBy, dropped, renames,
      widenings, defaults, logName)
  }

  def exists(dir: String): Boolean =
    Files.exists(Paths.get(dir, "metadata.json"))

  /** Pointer a publishing [[replaceAtomic]] leaves while swapping the
    * two table files; readers route the swap decision through it. */
  private[table] val ReplacePendingFile = ".rtas-pending"

  /** Test hook: crash injection at named RTAS publish steps. */
  private[table] var replaceCrashAt: String => Unit = _ => ()

  /** ATOMIC table replacement (`CREATE OR REPLACE TABLE … AS SELECT`):
    * swap the table at `dir` — schema, partitioning, properties AND
    * content — for `df`, such that a reader at any instant (and after a
    * crash at any step) sees either the complete OLD table or the
    * complete NEW one, never a mixture and never a missing table. This
    * is what Spark's own `ReplaceTableAsSelectExec` cannot give a
    * non-atomic catalog (it DROPS first, then writes — a failed write
    * loses the table).
    *
    * Protocol (the [[GraftTransaction]] discipline on one table's two
    * metadata files):
    *  1. take the commit claim for the published log's next id and HOLD
    *     it — concurrent committers fail loudly for the duration;
    *  2. stage `metadata.json.rtas-<token>` (the new schema/spec/props)
    *     and an empty `snapshots.json.rtas-<token>`, then append `df`
    *     through a staged handle — data files land under `data/`
    *     invisibly (the standing not-in-the-log-doesn't-exist
    *     invariant; the write token keeps names collision-free);
    *  3. write the `.rtas-pending` pointer (staged names + claim);
    *  4. THE atomicity point: rename the staged metadata over
    *     `metadata.json`. Once the staged name is gone the replace IS
    *     committed — every reader ([[healReplace]], one stat call when
    *     the pointer is absent) finishes the log rename before parsing;
    *  5. rename the staged log over `snapshots.json`, sweep pointer +
    *     claim.
    *
    * The OLD history is discarded (REPLACE has DROP+CREATE semantics,
    * made atomic): prior data/segment files become unreferenced and
    * `removeOrphanFiles` reclaims them. A replace that dies before
    * step 4 leaves the old table fully readable; its claim clears via
    * `clearStaleClaims` and its staging via the orphan sweep. */
  def replaceAtomic(
      dir: String,
      df: DataFrame,
      properties: Map[String, String] = Map.empty,
      partitionBy: Seq[String] = Nil,
      committedAt: Option[Long] = None): GraftTable = {
    val old = load(dir) // heals any pending txn/replace first
    val crashAt = replaceCrashAt
    val nextId = old.log.nextId
    val claimRel = f"manifests/.commit-$nextId%05d"
    val claim = Paths.get(dir, claimRel)
    Files.createDirectories(claim.getParent)
    try Files.createFile(claim)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new java.util.ConcurrentModificationException(
          s"cannot REPLACE $dir: a committer (or transaction) holds its " +
            "commit claim")
    }
    var published = false
    try {
      if (old.log.nextId != nextId)
        throw new java.util.ConcurrentModificationException(
          s"a commit landed on $dir while starting its REPLACE")
      val schema = StructType(df.schema.fields.map(_.copy(
        metadata = org.apache.spark.sql.types.Metadata.empty)))
      PartitionField.parseSpec(partitionBy, schema)
      schema.fieldNames.foreach(requireNotReserved(_, dir))
      val token = java.util.UUID.randomUUID().toString.take(8)
      val stagedMetaName = s"metadata.json.rtas-$token"
      val stagedLogName = s"$MainLog.rtas-$token"
      graft.util.Json.writeFileAtomic(
        Paths.get(dir, stagedMetaName).toString,
        graft.util.Json.write(Map(
          "format_version" -> 1L,
          "schema" -> schema.json,
          "partition_columns" -> partitionBy,
          "properties" -> properties)))
      SnapshotLog.empty.write(s"$dir/$stagedLogName")
      val staged = new GraftTable(dir, schema, properties, partitionBy,
        logName = stagedLogName)
      staged.append(df, committedAt)
      crashAt("staged")
      graft.util.Json.writeFileAtomic(
        Paths.get(dir, ReplacePendingFile).toString,
        graft.util.Json.write(Map(
          "meta" -> stagedMetaName, "log" -> stagedLogName,
          "claim" -> claimRel)))
      crashAt("pointer")
      // THE atomicity point — a concurrent orphan sweep that reclaimed
      // the staged metadata makes this throw: loud, nothing published
      Files.move(Paths.get(dir, stagedMetaName),
        Paths.get(dir, "metadata.json"),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      published = true
      crashAt("meta-swapped")
      try Files.move(Paths.get(dir, stagedLogName),
        Paths.get(dir, MainLog),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.NoSuchFileException => () } // healed
      crashAt("log-swapped")
      Files.deleteIfExists(Paths.get(dir, ReplacePendingFile))
    } finally {
      // pre-publish failures keep the old table intact: drop the
      // pointer so readers never roll a dead stage forward by mistake
      // (the staged names survive as age-gated orphans)
      if (!published) Files.deleteIfExists(Paths.get(dir, ReplacePendingFile))
      Files.deleteIfExists(claim)
    }
    load(dir)
  }

  /** Reader-side roll-forward for [[replaceAtomic]]: a pointer whose
    * staged METADATA name is gone marks a replace past its atomicity
    * point — finish the log rename before anything parses the table
    * (idempotent; racers tolerate each other). A pointer whose staged
    * metadata still exists is inert: the publisher is in flight or died
    * pre-commit, and the old table stays authoritative. */
  private[table] def healReplace(dir: String): Unit = {
    val ptr = Paths.get(dir, ReplacePendingFile)
    if (!Files.exists(ptr)) return
    val meta =
      try graft.util.Json.parseObject(Files.readString(ptr))
      catch { case _: Exception => return } // torn/foreign: ignore
    val stagedMeta = meta.get("meta").map(_.toString).getOrElse(return)
    val stagedLog = meta.get("log").map(_.toString).getOrElse(return)
    if (!Files.exists(Paths.get(dir, stagedMeta))) {
      try Files.move(Paths.get(dir, stagedLog), Paths.get(dir, MainLog),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.NoSuchFileException => () }
      meta.get("claim").map(_.toString)
        .foreach(c => Files.deleteIfExists(Paths.get(dir, c)))
      Files.deleteIfExists(ptr)
    }
  }

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }
}
