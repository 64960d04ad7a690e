package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One metadata table: `<name><suffix>` resolves to metadata about the
  * base table `<name>`.
  *
  * @param snapshotScoped whether it reads one snapshot and so honors
  *   VERSION AS OF / TIMESTAMP AS OF; a table-global one spans the log
  * @param distributed whether its DSv2 scan keeps the builder's
  *   distributed lineage (V1Scan) instead of a driver-local row set
  * @param build the view at a snapshot id (None: current; table-global
  *   entries only ever get None)
  * @param rowHint upper-bound row count sizing a distributed scan for
  *   broadcast decisions, priced only when a scan is built
  * @param enabled whether the base table serves it */
final case class MetadataTable(
    suffix: String,
    snapshotScoped: Boolean,
    distributed: Boolean,
    build: (GraftTable, SparkSession, Option[Long]) => DataFrame,
    rowHint: (GraftTable, Option[Long]) => Option[Long] = (_, _) => None,
    enabled: GraftTable => Boolean = _ => true)

/** The metadata-table family, declared once: the reference's
  * `__snapshots` naming (TableResolverUtil.java:72-85) extended to
  * Iceberg's metadata tables. Both catalogs ([[GraftCatalog]] and
  * [[GraftSparkCatalog]]) resolve suffixed names through [[split]]; a
  * new metadata table is one entry in [[all]]. */
object MetadataTables {

  /** Manifest-list file total of the scanned snapshot (no segment
    * parse) — an upper bound on a current-snapshot file view's rows
    * (`__partitions` rows ≤ files), the safe direction for sizing. */
  private def listTotal(t: GraftTable, snapshotId: Option[Long]): Option[Long] =
    snapshotId.flatMap(id => t.log.byId(id)).orElse(t.log.current)
      .map(s => Manifest.read(s"${t.dir}/${s.manifestList}").totalFiles)

  /** `__snapshots` is the one entry a table can switch off
    * (`graft.snapshots.table=false`, the reference's opt-out). */
  val Snapshots: MetadataTable = MetadataTable("__snapshots",
    snapshotScoped = false, distributed = false, (t, s, _) => t.snapshots(s),
    enabled = _.snapshotsTableEnabled)

  val all: Seq[MetadataTable] = Seq(
    Snapshots,
    MetadataTable("__files", snapshotScoped = true, distributed = true,
      (t, s, v) => t.filesTable(s, v), listTotal),
    MetadataTable("__segments", snapshotScoped = true, distributed = false,
      (t, s, v) => t.segmentsTable(s, v)),
    MetadataTable("__partitions", snapshotScoped = true, distributed = true,
      (t, s, v) => t.partitionsTable(s, v), listTotal),
    MetadataTable("__deletes", snapshotScoped = true, distributed = false,
      (t, s, v) => t.deletesTable(s, v)),
    MetadataTable("__refs", snapshotScoped = false, distributed = false,
      (t, s, _) => t.refsTable(s)),
    MetadataTable("__history", snapshotScoped = false, distributed = false,
      (t, s, _) => t.historyTable(s)),
    // spans ALL snapshots: the current list's totals would UNDERCOUNT
    // (the unsafe direction for broadcast sizing)
    MetadataTable("__all_files", snapshotScoped = false, distributed = true,
      (t, s, _) => t.allFilesTable(s), (t, _) => Some(t.allFilesRowHint)))

  /** Split `name` into the entry its suffix names and the base name —
    * only when the name is longer than the suffix. No suffix ends
    * another, so at most one entry matches. */
  def split(name: String): Option[(MetadataTable, String)] =
    all.collectFirst {
      case m if name.length > m.suffix.length && name.endsWith(m.suffix) =>
        (m, name.dropRight(m.suffix.length))
    }
}
