package org.apache.spark.sql.classic

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.expressions.aggregate.Aggregation
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownRequiredColumns, SupportsPushDownVariantExtractions, VariantExtraction}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 scan builder that applies MANIFEST-LEVEL file pruning before
  * delegating to Spark's parquet source. Spark hands this builder the
  * resolved Catalyst data filters (the `SupportsPushDownCatalystFilters`
  * path every `FileScanBuilder` rides); `prune` maps them to the kept
  * file list (manifest entries as `FileStatus`es — nothing is listed or
  * stat'd) — min/max stats, manifest blooms, AND the hidden-partition
  * transform conjuncts, the same `GraftTable.pruneKeep` the library scan
  * path uses — so a DSv2 `WHERE id = 7` on a bucketed table plans 1/N of
  * the files instead of all of them. Everything stays residual at this
  * level (the full filter re-applies post-scan; `pushedFilters` reports
  * none) while the delegate builder gets the same filters re-pushed for
  * parquet row-group skipping and the required-column pruning forwarded.
  *
  * Plain (non-key-grouped) scans come out wrapped in
  * [[GraftRuntimeFilterScan]], which re-runs the same manifest walk when
  * Spark's dynamic partition pruning delivers the join keys at execution
  * time — the star-join case where the selective filter lives on the
  * other side of the join and static pushdown alone cannot prune.
  *
  * Lives in this package because the delegate family and the Catalyst
  * pushdown interface are package-private to org.apache.spark.sql.
  */
final class GraftPruningScanBuilder(
    spark: org.apache.spark.sql.SparkSession,
    tableName: String,
    schema: StructType,
    options: java.util.Map[String, String],
    allFiles: => Seq[FileStatus], // by-name: a filtered scan never assembles it
    prune: Seq[Expression] => Seq[FileStatus],
    keyGrouped: Option[(
        Array[org.apache.spark.sql.connector.expressions.Expression],
        String => Option[Int])] = None,
    aggPush: (Aggregation, Seq[Expression]) => Option[Scan] = (_, _) => None,
    microBatch: Option[(Seq[FileStatus] => Scan, String) => MicroBatchStream] = None,
    claimFilters: Seq[Expression] => Seq[Expression] = _ => Nil,
    metadataColScan: Option[(StructType, Seq[FileStatus]) => Scan] = None,
    scanStats: Seq[Expression] => Option[
      org.apache.spark.sql.connector.read.Statistics] = _ => None)
  extends ScanBuilder
  with SupportsPushDownCatalystFilters
  with SupportsPushDownRequiredColumns
  with SupportsPushDownAggregates
  with SupportsPushDownVariantExtractions {

  private var pushed: Seq[Expression] = Nil
  private var residual: Seq[Expression] = Nil
  private var required: StructType = schema
  private var aggScan: Option[Scan] = None
  private var variantEx: Array[VariantExtraction] = Array.empty

  /** VARIANT-EXTRACTION pushdown (Spark 4's shredded-variant fast path):
    * accepting lets Catalyst rewrite `variant_get(v, path, T)` into a
    * struct-field read of the scan, and the parquet delegate (this
    * surface is parquet-only — `assemble` refuses mixed formats) then
    * reads ONLY the requested shredded `typed_value` subcolumns instead
    * of reassembling the whole variant binary per row.
    * Spark's rewrite rule only runs on BATCH DataSourceV2Relations, so
    * the streaming surfaces (whose seed/spill machinery maps columns by
    * name against the declared schema) never see an extraction;
    * [[GraftRuntimeFilterScan]] still guards the combination loudly.
    * KNOWN UPSTREAM EDGE: Spark's rewrite rebuilds the relation output
    * from the DATA schema and silently DROPS requested metadata-column
    * attributes (`_row_id`/`_file`/…) — a query combining a metadata
    * column with `variant_get` would then fail binding with an
    * INTERNAL_ERROR. [[GraftVariantMetadataRepair]] (injected per
    * session by the catalog) recognizes the truncated scan relation and
    * swaps in the metadata-column scan, serving the extraction
    * interpreted on that path only. Manual escape hatches remain:
    * `SET spark.sql.variant.pushVariantIntoScan = false` (the rule's
    * own gate) or the per-read option `variant-pushdown=false` honored
    * here. */
  override def pushVariantExtractions(
      ex: Array[VariantExtraction]): Array[Boolean] = {
    val optedOut = Option(options.get("variant-pushdown"))
      .exists(_.trim.equalsIgnoreCase("false"))
    if (optedOut) return Array.fill(ex.length)(false)
    variantEx = ex
    Array.fill(ex.length)(true)
  }

  /** COUNT/MIN/MAX — group-less, or GROUP BY partition-aligned
    * expressions — answered exactly from manifest metadata
    * ([[graft.table.AggregatePushdown]]) collapse to a local scan of
    * one row per group. Spark only offers the aggregation here when
    * every filter was fully pushed — which happens exactly when every
    * conjunct was CLAIMED below (file selection alone serves it), so the
    * kept entries hold precisely the matching rows and manifest totals
    * stay exact. The residual guard makes that precondition local. */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    attemptAgg(agg).isDefined

  override def pushAggregation(agg: Aggregation): Boolean = {
    aggScan = attemptAgg(agg)
    aggScan.isDefined
  }

  private def attemptAgg(agg: Aggregation): Option[Scan] =
    if (residual.nonEmpty) None else aggPush(agg, pushed)

  /** A conjunct comes back NON-residual only when `claimFilters` PROVES
    * file selection fully serves it (every kept file all-matches —
    * [[graft.table.GraftTable.provenAll]] over the same pruning walk
    * that picks the file list). Everything else stays residual and
    * Spark re-applies it post-scan — correctness never depends on the
    * pruning. */
  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    pushed = filters
    val claimed = claimFilters(filters).toSet
    residual = filters.filterNot(claimed)
    residual
  }

  override def pushedFilters()
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = aggScan.getOrElse(buildFileScan())

  private def buildFileScan(): Scan = {
    // `_file`/`_pos` metadata columns (SupportsMetadataColumns on the
    // owning table): the delegate parquet FileTable cannot serve them,
    // so the owner supplies a dedicated scan (V1 relation projecting
    // `_metadata.file_path`/`row_index`) over the SAME pruned file
    // list. Residual filters still re-apply post-scan (nothing is
    // claimed into the delegate here).
    // ONLY when the name is not a declared column of THIS builder's
    // schema: the CDC `__changes` relation serves `_row_id`/`_seq` as
    // ordinary schema columns (lineage tables), not metadata columns
    if (required.fieldNames.exists(n => (n == "_file" || n == "_pos" ||
        n == graft.table.GraftTable.RowIdCol ||
        n == graft.table.GraftTable.LastUpdatedCol) &&
        !schema.fieldNames.contains(n))) {
      val mk = metadataColScan.getOrElse(throw new IllegalStateException(
        s"$tableName scan requires metadata columns it does not serve"))
      return mk(required, if (pushed.isEmpty) allFiles else prune(pushed))
    }
    // rebuildable delegate: the runtime-filter wrapper re-invokes this
    // with a narrower file list when a DPP predicate lands, re-applying
    // the SAME pushed filters / required columns to the new scan.
    // ONLY the residual filters reach the parquet source: a CLAIMED
    // filter's column may be pruned out of the read schema (nothing
    // re-applies it post-scan), and parquet record filtering on an
    // unread column silently drops every row; its row-group skipping
    // would be a no-op anyway — every kept file all-matches by the
    // claim proof.
    def mkDelegate(files: Seq[FileStatus]): Scan = {
      val index = new graft.table.ManifestFileIndex(
        spark, files, options.asScala.toMap, Some(schema))
      val b = GraftBridge
        .parquetTable(spark, tableName, index, schema)
        .newScanBuilder(new CaseInsensitiveStringMap(options))
      b match {
        case f: SupportsPushDownCatalystFilters => f.pushFilters(residual)
        case _ => ()
      }
      // accepted variant extractions forward BEFORE column pruning (the
      // required schema already speaks the rewritten struct shape)
      if (variantEx.nonEmpty) b match {
        case v: SupportsPushDownVariantExtractions =>
          v.pushVariantExtractions(variantEx): Unit
        case _ => ()
      }
      b match {
        case c: SupportsPushDownRequiredColumns => c.pruneColumns(required)
        case _ => ()
      }
      b.build()
    }
    val files = if (pushed.isEmpty) allFiles else prune(pushed)
    keyGrouped match {
      // a pruned-to-empty scan keeps the plain shape (a zero-partition
      // KeyGroupedPartitioning has nothing to report). Key-grouped scans
      // never take the runtime-filter wrapper: their partitions must
      // stay bucket-aligned with the join's other side.
      case Some((keys, bucketOf)) if files.nonEmpty =>
        new GraftKeyGroupedScan(mkDelegate(files), keys, bucketOf)
      case Some(_) => mkDelegate(files)
      case None =>
        new GraftRuntimeFilterScan(mkDelegate, files, pushed, prune, schema,
          microBatch.map(mk => (ckpt: String) => mk(mkDelegate, ckpt)),
          variantPushed = variantEx.nonEmpty,
          // same pruned file list, metadata-column-capable scan — the
          // repair path for the upstream rewrite dropping metadata attrs
          metadataRepair = metadataColScan.map(mk =>
            (req: StructType) => mk(req, files)),
          // manifest-exact statistics for the statically-kept file set
          // (rowCount + NDV colStats) — CBO-grade where the delegate
          // only guesses from bytes
          graftStats = () => scanStats(pushed))
    }
  }
}
