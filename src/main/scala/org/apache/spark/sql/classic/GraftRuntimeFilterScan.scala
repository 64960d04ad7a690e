package org.apache.spark.sql.classic

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, In, Literal}
import org.apache.spark.sql.connector.expressions.{FieldReference, LiteralValue, NamedReference, Expression => V2Expression}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, Scan, Statistics, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.types.{AtomicType, StructType}

/** Runtime (dynamic-partition-pruning) file skipping for graft DSv2
  * scans.
  *
  * Static pushdown already prunes the manifest file list against the
  * query's own WHERE clause ([[GraftPruningScanBuilder]]). But the
  * selective predicate of a star join usually lives on the DIMENSION
  * side — the fact scan's own filter list is empty, and at 100 TB that
  * reads the whole fact table just to drop most of it in the join.
  * Spark's dynamic partition pruning closes the gap for sources that
  * implement [[SupportsRuntimeV2Filtering]]: at execution time the
  * dimension side's join keys arrive as an `IN (…)` predicate, and the
  * scan gets a chance to re-plan before any fact file is opened.
  *
  * This wrapper implements that hook with the SAME manifest walk the
  * static path uses (footer min/max stats, manifest blooms, hidden
  * partition transforms — `GraftTable.pruneKeep` via the `prune`
  * closure): the runtime `IN` list conjoins with the statically pushed
  * filters, the kept file list shrinks, and the delegate parquet scan is
  * rebuilt over the survivors. On a table bucketed or clustered by the
  * join key this turns the fact side of `fact ⋈ σ(dim)` into a scan of
  * only the matching buckets/files — the single biggest I/O lever a
  * 100 TB star join has, paid for by one broadcast the join was doing
  * anyway (Spark only injects DPP filters it can reuse from a broadcast
  * exchange by default).
  *
  * Soundness: pruning is conservative-keep (a file is dropped only when
  * its stats PROVE no row can match), untranslatable runtime predicates
  * simply don't prune, and the full join re-applies on the scanned rows
  * — a missed skip costs I/O, never rows. The key-grouped (storage-
  * partitioned-join) scan variant never composes with this wrapper: its
  * partitions must stay aligned with the other side's buckets, so
  * dropping some at runtime would break the zero-shuffle contract
  * ([[GraftKeyGroupedScan]] reads are opt-in and already bucket-pruned
  * statically).
  *
  * Lives in this package alongside [[GraftPruningScanBuilder]] because
  * the delegate parquet machinery is internal to org.apache.spark.sql.
  */
final class GraftRuntimeFilterScan(
    mkDelegate: Seq[FileStatus] => Scan,
    initialFiles: Seq[FileStatus],
    staticPushed: Seq[Expression],
    prune: Seq[Expression] => Seq[FileStatus],
    tableSchema: StructType,
    microBatch: Option[String => org.apache.spark.sql.connector.read.streaming.MicroBatchStream] = None,
    val variantPushed: Boolean = false,
    graftStats: () => Option[Statistics] = () => None,
    // metadata-column fallback for the same pruned file list — consumed
    // by [[GraftVariantMetadataRepair]] when Spark's variant-extraction
    // rewrite dropped requested metadata attrs from the scan relation
    val metadataRepair: Option[StructType => Scan] = None)
    extends Scan with SupportsRuntimeV2Filtering with SupportsReportStatistics {

  /** Streaming read ([[GraftMicroBatchStream]] / [[GraftCdcMicroBatchStream]],
    * handed the engine's per-source checkpoint dir); only offered when
    * the catalog wired it (MICRO_BATCH_READ tables). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    // defensive: Catalyst's variant rewrite only targets BATCH
    // relations, so this cannot fire today — but a silently mismatched
    // stream (readers emitting variant where the scan claims a struct)
    // would corrupt rows, and a loud refusal beats that if a future
    // Spark version widens the rule
    require(!variantPushed,
      "variant extraction was pushed into a streaming scan — " +
        "unsupported; keep variant_get out of the streaming projection " +
        "or disable spark.sql.variant.pushVariantIntoScan for this query")
    microBatch.map(_.apply(checkpointLocation))
      .getOrElse(super.toMicroBatchStream(checkpointLocation))
  }

  @volatile private var keptFiles: Seq[FileStatus] = initialFiles
  @volatile private var inner: Scan = mkDelegate(initialFiles)

  /** Visible to tests/diagnostics: how many files the scan currently
    * plans over (shrinks when a runtime filter lands). */
  def plannedFileCount: Int = keptFiles.size

  override def readSchema(): StructType = inner.readSchema()
  override def toBatch: Batch = inner.toBatch
  override def description(): String =
    s"graft runtime-filterable (${keptFiles.size} files) over " +
      inner.description()

  /** Forward the parquet delegate's size/row estimates — hiding them
    * would make every DSv2 graft read look `defaultSizeInBytes`-huge,
    * killing auto-broadcast for small tables and with it the broadcast
    * reuse DPP itself piggybacks on. */
  override def estimateStatistics(): Statistics = {
    // manifest-exact stats from the owning table first (rowCount from
    // the kept entries' record counts + analyzed NDV column stats — what
    // CBO join reorder needs). They describe the STATICALLY-kept file
    // set, so once a runtime (DPP) filter has narrowed the scan the
    // rebuilt delegate's estimate is the honest one again.
    val static =
      if (keptFiles.size == initialFiles.size) graftStats() else None
    static.getOrElse(inner match {
      case s: SupportsReportStatistics => s.estimateStatistics()
      case _ => new Statistics {
        override def sizeInBytes() = java.util.OptionalLong.empty()
        override def numRows() = java.util.OptionalLong.empty()
      }
    })
  }

  /** Every top-level atomic column in the READ schema can potentially
    * prune: footer min/max stats are recorded for all of them at write
    * time, and partition transforms / manifest blooms only sharpen that.
    * Restricted to the pruned read schema because Spark resolves these
    * refs against the scan relation's OUTPUT (a column projected away
    * fails resolution — and a join key is always in the output). Nested
    * fields carry no per-file stats here, so they are not offered. */
  override def filterAttributes(): Array[NamedReference] = {
    val readable = inner.readSchema().fieldNames.map(_.toLowerCase).toSet
    tableSchema.fields.collect {
      case f if f.dataType.isInstanceOf[AtomicType] &&
          readable.contains(f.name.toLowerCase) =>
        FieldReference.column(f.name): NamedReference
    }
  }

  override def filter(predicates: Array[Predicate]): Unit = {
    val translated = predicates.toSeq.flatMap(toCatalyst)
    if (translated.nonEmpty) {
      val kept = prune(staticPushed ++ translated)
      // the walk is over the full manifest; intersecting with the
      // statically kept list keeps "runtime filters only ever narrow"
      // true by construction even if a stats alias drifts between walks
      val keep = kept.map(_.getPath).toSet
      val next = keptFiles.filter(f => keep(f.getPath))
      if (next.size != keptFiles.size) {
        keptFiles = next
        inner = mkDelegate(next)
      }
    }
  }

  /** V2 runtime predicates → resolved Catalyst, for the shapes DPP
    * actually emits (`IN` over the join keys, `=` for a single key).
    * Anything else translates to None and prunes nothing — conservative
    * by construction. */
  private def toCatalyst(p: Predicate): Option[Expression] = p.name() match {
    case "IN" => p.children().toSeq match {
      case (ref: NamedReference) +: values if values.nonEmpty =>
        val lits = values.flatMap(lit)
        if (lits.size == values.size) attr(ref).map(a => In(a, lits))
        else None
      case _ => None
    }
    case "=" => p.children().toSeq match {
      case Seq(ref: NamedReference, v) =>
        for { a <- attr(ref); l <- lit(v) } yield EqualTo(a, l)
      case Seq(v, ref: NamedReference) =>
        for { a <- attr(ref); l <- lit(v) } yield EqualTo(a, l)
      case _ => None
    }
    case _ => None
  }

  private def attr(ref: NamedReference): Option[AttributeReference] =
    ref.fieldNames() match {
      case Array(name) =>
        tableSchema.fields.find(_.name.equalsIgnoreCase(name))
          .map(f => AttributeReference(f.name, f.dataType, f.nullable)())
      case _ => None
    }

  private def lit(e: V2Expression): Option[Literal] = e match {
    // LiteralValue carries the Catalyst-internal representation, which
    // is exactly what the two-arg Literal constructor expects
    case lv: LiteralValue[_] => Some(Literal(lv.value, lv.dataType))
    case _ => None
  }

  /** Scan equality drives exchange/scan reuse (self-joins of the same
    * table must still plan one scan): delegate to the inner parquet
    * scan's case-class equality — identical paths/filters/schema compare
    * equal, and a runtime-filtered side (rebuilt inner) falls out of
    * reuse naturally. */
  override def equals(other: Any): Boolean = other match {
    case o: GraftRuntimeFilterScan => inner == o.inner
    case _ => false
  }
  override def hashCode(): Int = inner.hashCode()
}
