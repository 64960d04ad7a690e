package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{FileMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Extracts per-column min/max/null-count from parquet footers — no data
  * scan, so commit-time stats collection is O(metadata) exactly like
  * Iceberg's write-side metrics (reference: TestHelpers.java:94-98).
  *
  * Only top-level primitive columns get stats (nested columns return no
  * stats → consumers cannot prune on them, which is the conservative and
  * correct fallback). Timestamps are normalized to microseconds regardless
  * of the file's physical unit so manifests compare uniformly.
  */
object ParquetStats {

  /** Everything a manifest entry takes from one parquet file: its row
    * count, footer stats, merged bloom bitsets ([[FileBloom.harvest]])
    * and the footer's file-level metadata (schema and key/value pairs,
    * which import converts to a Spark schema; the row-group list is not
    * kept). */
  final case class FileMeta(
      rowCount: Long,
      stats: Map[String, ColumnStats],
      blooms: Map[String, String],
      fileMetaData: FileMetaData)

  /** Open `absPath` ONCE and read its row count, stats and the blooms of
    * `bloomColumns`. The reader's options wrap the CALLER's `conf`: the
    * one-argument `ParquetFileReader.open(InputFile)` builds a fresh
    * Hadoop `Configuration`, which re-parses the `*-default.xml`
    * resources on every call — ~10 ms per footer, most of a
    * metadata-only commit. */
  def forFile(
      absPath: String,
      conf: Configuration,
      bloomColumns: Set[String]): FileMeta = {
    val reader = open(absPath, conf)
    try {
      val footer = reader.getFooter
      val (rows, stats) = statsOf(footer)
      FileMeta(rows, stats, FileBloom.harvest(reader, bloomColumns),
        footer.getFileMetaData)
    } finally reader.close()
  }

  /** The Spark schema of one file's footer
    * ([[GraftBridge.parquetFooterSchema]]), for a file whose stats are
    * not needed. */
  def footerSchema(
      absPath: String,
      conf: Configuration,
      spark: SparkSession): StructType = {
    val reader = open(absPath, conf)
    try GraftBridge.parquetFooterSchema(
      spark, absPath, reader.getFooter.getFileMetaData)
    finally reader.close()
  }

  private def open(absPath: String, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(absPath), conf),
      HadoopReadOptions.builder(conf).build())

  /** Row count and per-column stats of a read footer (no I/O). */
  private[table] def statsOf(
      footer: ParquetMetadata): (Long, Map[String, ColumnStats]) = {
    val schema = footer.getFileMetaData.getSchema
    val blocks = footer.getBlocks.asScala.toSeq
    val rowCount = blocks.map(_.getRowCount).sum

    // SHREDDED-VARIANT candidates: for each VARIANT-annotated top
    // group, the typed_value leaf paths worth manifest stats and the
    // fallback `value` paths that must be entirely null for those
    // stats to describe every row (see [[VariantPruning]]). Empty for
    // schemas without variant columns — zero overhead there.
    val variantPlan = variantCandidates(schema)
    val watched: Set[Seq[String]] =
      variantPlan.flatMap(c => c.leaf +: c.fallbacks).toSet

    // aggregate across row groups per column path:
    // (min, max, nulls, values, minMaxUsable, nullsKnown)
    val agg = scala.collection.mutable.Map[
      String, (Option[Any], Option[Any], Long, Long, Boolean, Boolean)]()
    val vAgg = scala.collection.mutable.Map[
      Seq[String], (Option[Any], Option[Any], Long, Long, Boolean, Boolean)]()
    for (block <- blocks; chunk <- block.getColumns.asScala) {
      val parts = chunk.getPath.toArray.toSeq
      if (parts.size > 1 && watched.contains(parts)) {
        val st = chunk.getStatistics
        val values = chunk.getValueCount
        val prev = vAgg.getOrElse(parts, (None, None, 0L, 0L, true, true))
        if (st == null || st.isEmpty || !st.hasNonNullValue) {
          val nullsKnown = st != null && !st.isEmpty
          vAgg(parts) = (prev._1, prev._2,
            prev._3 + (if (nullsKnown) st.getNumNulls else 0L),
            prev._4 + values, false, prev._6 && nullsKnown)
        } else {
          val tpe = chunk.getPrimitiveType
          val mn = convert(st.genericGetMin, tpe)
          val mx = convert(st.genericGetMax, tpe)
          val newMin = minOf(prev._1, mn)
          val newMax = maxOf(prev._2, mx)
          val comparable =
            (prev._1.isEmpty || mn.isEmpty || newMin.isDefined) &&
              (prev._2.isEmpty || mx.isEmpty || newMax.isDefined)
          vAgg(parts) = (newMin, newMax, prev._3 + st.getNumNulls,
            prev._4 + values, prev._5 && comparable, prev._6)
        }
      }
      val path = chunk.getPath.toDotString
      // only top-level primitives (no '.' in path)
      if (!path.contains('.')) {
        val st = chunk.getStatistics
        val values = chunk.getValueCount
        val prev = agg.getOrElse(path, (None, None, 0L, 0L, true, true))
        if (st == null || st.isEmpty || !st.hasNonNullValue) {
          // stats unusable for min/max; null count only if the chunk
          // actually recorded one — an absent count must poison the
          // whole file's null count (unknown ≠ zero, or IS NULL
          // pruning would drop files that hold nulls)
          val nullsKnown = st != null && !st.isEmpty
          agg(path) = (prev._1, prev._2,
            prev._3 + (if (nullsKnown) st.getNumNulls else 0L),
            prev._4 + values, false, prev._6 && nullsKnown)
        } else {
          val tpe = chunk.getPrimitiveType
          val mn = convert(st.genericGetMin, tpe)
          val mx = convert(st.genericGetMax, tpe)
          val newMin = minOf(prev._1, mn)
          val newMax = maxOf(prev._2, mx)
          // incomparable values (float/double NaN-safety: compare
          // refuses) poison the WHOLE column's min/max — without the
          // sticky flag a later row group's lone bound would resurrect
          // a wrong (last-group-only) min/max into the manifest
          val comparable =
            (prev._1.isEmpty || mn.isEmpty || newMin.isDefined) &&
              (prev._2.isEmpty || mx.isEmpty || newMax.isDefined)
          agg(path) = (newMin, newMax, prev._3 + st.getNumNulls,
            prev._4 + values, prev._5 && comparable, prev._6)
        }
      }
    }
    val stats = agg.toMap.map {
      case (c, (mn, mx, nulls, values, usable, nullsKnown)) =>
        // STRING bounds are capped before they enter the manifest
        // (long-text corpora would otherwise carry multi-KB bounds per
        // file per column in every segment): min truncates DOWN, max
        // rounds UP — strictly conservative for every pruning consumer
        def cap(v: Any, isMax: Boolean): Option[Any] = v match {
          case s: String =>
            if (isMax)
              ColumnStats.truncateMaxString(
                s, ColumnStats.StringBoundCapBytes)
            else Some(ColumnStats.truncateMinString(
              s, ColumnStats.StringBoundCapBytes))
          case other => Some(other)
        }
        c -> ColumnStats(
          if (usable) mn.flatMap(cap(_, isMax = false))
            .map(ColumnStats.render) else None,
          if (usable) mx.flatMap(cap(_, isMax = true))
            .map(ColumnStats.render) else None,
          if (nullsKnown) Some(nulls) else None,
          Some(values))
    }
    // emit a variant pseudo-column stat ONLY when every fallback on
    // its path is PROVABLY all-null (known null counts equal to the
    // value counts) — one fallback row, or one unknown, discards the
    // key and the file stays conservatively kept on variant probes
    val vStats: Map[String, ColumnStats] = variantPlan.flatMap { c =>
      val fallbacksAllNull = c.fallbacks.forall { fp =>
        vAgg.get(fp).exists { case (_, _, nulls, values, _, known) =>
          known && nulls == values }
      }
      vAgg.get(c.leaf) match {
        case Some((mn, mx, nulls, values, usable, known))
            if fallbacksAllNull && known =>
          def cap(v: Any, isMax: Boolean): Option[Any] = v match {
            case s: String =>
              if (isMax) ColumnStats.truncateMaxString(
                s, ColumnStats.StringBoundCapBytes)
              else Some(ColumnStats.truncateMinString(
                s, ColumnStats.StringBoundCapBytes))
            case other => Some(other)
          }
          Some(c.statKey -> ColumnStats(
            if (usable) mn.flatMap(cap(_, isMax = false))
              .map(ColumnStats.render) else None,
            if (usable) mx.flatMap(cap(_, isMax = true))
              .map(ColumnStats.render) else None,
            Some(nulls),
            Some(values)))
        case _ => None
      }
    }.toMap
    (rowCount, stats ++ vStats)
  }

  /** One prunable shredded-variant path: the typed leaf's chunk path,
    * the fallback `value` chunk paths that must be all-null, and the
    * manifest stat key it lands under. */
  private[graft] final case class VariantCandidate(
      leaf: Seq[String], fallbacks: Seq[Seq[String]], statKey: String)

  private val SimpleName = "[A-Za-z0-9_]+".r

  /** Walk the footer schema for VARIANT-annotated top-level groups and
    * derive their prunable typed_value paths (see [[VariantPruning]]).
    * Only object-shaped levels with simple field names participate;
    * arrays, repeated fields, decimals/timestamps and exotic names are
    * skipped (never harvested → never pruned on → conservative). */
  private[graft] def variantCandidates(
      schema: org.apache.parquet.schema.MessageType): Seq[VariantCandidate] = {
    import org.apache.parquet.schema.{GroupType, Type}
    def fam(p: org.apache.parquet.schema.PrimitiveType): Option[String] =
      (p.getPrimitiveTypeName, p.getLogicalTypeAnnotation) match {
        case (INT32, null) | (INT64, null) => Some("long")
        case (BINARY, _: LogicalTypeAnnotation.StringLogicalTypeAnnotation) =>
          Some("string")
        case (INT32, _: LogicalTypeAnnotation.DateLogicalTypeAnnotation) =>
          Some("date")
        case (INT64, ts: TimestampLogicalTypeAnnotation) =>
          // convert() normalizes bounds to micros for both flavors
          Some(if (ts.isAdjustedToUTC) "ts" else "tsntz")
        case (BOOLEAN, null) => Some("bool")
        // decimal bounds land rescaled (convert()) as exact BigDecimals
        case (INT32 | INT64 | BINARY | FIXED_LEN_BYTE_ARRAY,
            _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) =>
          Some("dec")
        // doubles deliberately absent: ColumnStats.compare refuses
        // floating point (NaN-safety) — a double key could never prune
        case _ => None
      }
    def walk(col: String, group: GroupType, parts: Seq[String],
        jsonPath: String, fallbacks: Seq[Seq[String]]): Seq[VariantCandidate] = {
      // `group` is an object-shaped typed_value group: each child field
      // holds {value: binary fallback, typed_value: primitive | group}
      group.getFields.asScala.toSeq.flatMap { f =>
        if (f.getRepetition == Type.Repetition.REPEATED ||
            !SimpleName.pattern.matcher(f.getName).matches() ||
            f.isPrimitive) Nil
        else {
          val fg = f.asGroupType()
          val fieldParts = parts :+ f.getName
          val fb = fallbacks ++
            (if (fg.containsField("value")) Seq(fieldParts :+ "value")
             else Nil)
          val fPath = s"$jsonPath.${f.getName}"
          if (!fg.containsField("typed_value")) Nil
          else {
            val tv = fg.getType("typed_value")
            if (tv.getRepetition == Type.Repetition.REPEATED) Nil
            else if (tv.isPrimitive) {
              fam(tv.asPrimitiveType()).map(fm => VariantCandidate(
                fieldParts :+ "typed_value", fb,
                VariantPruning.statKey(col, fPath, fm))).toSeq
            } else {
              // nested object: recurse one level deeper
              walk(col, tv.asGroupType(), fieldParts :+ "typed_value",
                fPath, fb)
            }
          }
        }
      }
    }
    schema.getFields.asScala.toSeq.flatMap { top =>
      val isVariant = !top.isPrimitive &&
        (top.getLogicalTypeAnnotation match {
          case _: LogicalTypeAnnotation.VariantLogicalTypeAnnotation => true
          case _ => false
        })
      if (!isVariant) Nil
      else {
        val g = top.asGroupType()
        if (!g.containsField("typed_value") || !g.containsField("value")) Nil
        else {
          val tv = g.getType("typed_value")
          if (tv.isPrimitive ||
              tv.getRepetition == Type.Repetition.REPEATED) Nil
          else walk(top.getName, tv.asGroupType(),
            Seq(top.getName, "typed_value"), "$",
            Seq(Seq(top.getName, "value")))
        }
      }
    }
  }

  /** Convert a parquet statistics value to the manifest's comparable form.
    * Decimals are stored physically as UNSCALED ints/longs/binary — they
    * must be rescaled here, or manifest bounds would compare unscaled
    * values against scaled literals and prune files that match. */
  private def convert(v: Any, tpe: org.apache.parquet.schema.PrimitiveType): Option[Any] = {
    val logical = tpe.getLogicalTypeAnnotation
    def dec(unscaled: java.math.BigInteger,
        d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation) =
      Some(BigDecimal(new java.math.BigDecimal(unscaled, d.getScale)))
    (v, tpe.getPrimitiveTypeName) match {
      case (b: Binary, BINARY | FIXED_LEN_BYTE_ARRAY) =>
        logical match {
          case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation =>
            Some(b.toStringUsingUTF8)
          case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
            dec(new java.math.BigInteger(b.getBytes), d)
          case _ => None // raw binary: not comparable for pruning
        }
      case (i: java.lang.Integer, INT32) =>
        logical match {
          case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
            dec(java.math.BigInteger.valueOf(i.longValue()), d)
          case _ => Some(i.intValue())
        }
      case (l: java.lang.Long, INT64) =>
        logical match {
          case ts: TimestampLogicalTypeAnnotation =>
            // normalize to microseconds
            ts.getUnit match {
              case TimeUnit.MILLIS => Some(l.longValue() * 1000L)
              case TimeUnit.MICROS => Some(l.longValue())
              // truncating nanos→micros is direction-UNSAFE for a
              // bound (min rounds up for negatives, max rounds down):
              // foreign nanos files carry no timestamp bounds at all
              case TimeUnit.NANOS => None
            }
          case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
            dec(java.math.BigInteger.valueOf(l.longValue()), d)
          case _ => Some(l.longValue())
        }
      case (f: java.lang.Float, FLOAT) => Some(f.floatValue())
      case (d: java.lang.Double, DOUBLE) => Some(d.doubleValue())
      case (b: java.lang.Boolean, BOOLEAN) => Some(b.booleanValue())
      case _ => None
    }
  }

  private def minOf(a: Option[Any], b: Option[Any]): Option[Any] = (a, b) match {
    case (Some(x), Some(y)) =>
      ColumnStats.compare(x, y) match {
        case Some(c) => Some(if (c <= 0) x else y)
        case None => None
      }
    case (x, None) => x
    case (None, y) => y
  }

  private def maxOf(a: Option[Any], b: Option[Any]): Option[Any] = (a, b) match {
    case (Some(x), Some(y)) =>
      ColumnStats.compare(x, y) match {
        case Some(c) => Some(if (c >= 0) x else y)
        case None => None
      }
    case (x, None) => x
    case (None, y) => y
  }
}
