package org.apache.spark.sql.classic

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection}
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.types.{DataType, DateType, StructType}

/** Table-relative paths of the parquet files one task wrote (empty when
  * the task saw no rows — no file is created for an empty split). A
  * partitioned task writes one file per partition value it actually saw,
  * each under its `<field>=<value>/` directory. */
final case class GraftFileCommitMessage(relPaths: Seq[String])
    extends WriterCommitMessage

/** One partition field's task-side spelling: the BOUND derived-value
  * expression over the input row (evaluates the same Spark expression
  * the batch writer's `writeExpr` column does — values agree bit-exactly)
  * plus what's needed to render the `<field>=<value>` directory. */
final case class GraftStreamPartField(
    fieldName: String,
    source: String,
    bound: Expression,
    derivedType: DataType)

/** DSv2 streaming sink for graft tables — `writeStream.toTable`.
  *
  * Executors write each task's rows STRAIGHT to parquet files under
  * the table's `data/` directory (temporary `.stream-…` names, invisible
  * to readers — scans plan from the manifest, never a listing), using
  * Spark's own `ParquetWriteSupport`/`ParquetOutputWriter` machinery so
  * a streamed file is byte-compatible with a batch-written one
  * (TIMESTAMP_MICROS, same codecs, same bloom-filter options). The
  * driver's per-epoch commit hands the file list to
  * [[graft.table.GraftTable.commitStreamFiles]], which renames them to
  * canonical `part-<snapId>-…` names (era attribution + delete-coverage
  * scoping live in that name) and commits ONE append snapshot carrying
  * the sink's epoch cursor — replayed epochs after a restart delete
  * their duplicate files and commit nothing, so snapshot commits are
  * exactly-once while the transport stays at-least-once.
  *
  * PARTITIONED tables take the same path: each task evaluates the
  * table's partition transforms per row (the bound form of the batch
  * writer's `writeExpr`, so layouts agree bit-exactly), routes rows to
  * one open writer per partition value under the batch layout's
  * Hive-escaped `<field>=<value>/` directories, and drops IDENTITY
  * source columns from the footers exactly as `partitionBy` does — a
  * streamed partition is indistinguishable from a batch one (pruning,
  * recovery, stats all included; the commit derives partition values
  * and synthesized stats from the directory segments, same as batch).
  * The enclosing `Write` (built in `GraftV2Table.newWriteBuilder` — the
  * object Spark actually inspects for `RequiresDistributionAndOrdering`;
  * putting the trait HERE does nothing, `MicroBatchWrite` never
  * forwards it) declares a CLUSTERED distribution + ordering on the
  * partition TRANSFORM values, so one table partition's rows land in
  * one task, consecutively, and each task holds ONE open parquet writer
  * at a time (close-on-boundary) — the small-file/memory guard a 100 TB
  * partitioned stream needs.
  *
  * A crashed task/epoch can leave `.stream-…` temporaries behind; they
  * are never referenced by any manifest and `removeOrphanFiles` (with
  * an age threshold above the epoch duration) reclaims them — the same
  * contract as batch staging directories. */
final class GraftStreamingWrite(
    dir: String,
    writeSchema: StructType,
    queryId: String,
    writerConf: Map[String, String],
    commitFiles: (Seq[String], Long) => Option[AnyRef],
    partFields: Seq[GraftStreamPartField] = Nil,
    identitySources: Set[String] = Set.empty,
    constraintChecks: Seq[(String, Expression)] = Nil)
    extends StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftStreamWriterFactory(dir, writeSchema, queryId, writerConf,
      partFields, identitySources, constraintChecks)

  override def commit(
      epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val rels = messages.toSeq.collect {
      case m: GraftFileCommitMessage => m.relPaths
    }.flatten
    // empty epochs commit nothing (no empty snapshots); commitFiles
    // handles replayed epochs by deleting the duplicates itself
    if (rels.nonEmpty) commitFiles(rels, epochId): Unit
  }

  override def abort(
      epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.toSeq.collect { case m: GraftFileCommitMessage => m.relPaths }
      .flatten.foreach(r => Files.deleteIfExists(Paths.get(dir, r)))
}

private final class GraftStreamWriterFactory(
    dir: String,
    schema: StructType,
    queryId: String,
    writerConf: Map[String, String],
    partFields: Seq[GraftStreamPartField],
    identitySources: Set[String],
    constraintChecks: Seq[(String, Expression)])
    extends StreamingDataWriterFactory {

  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new GraftStreamDataWriter(dir, schema, queryId, writerConf,
      partitionId, taskId, epochId, partFields, identitySources,
      constraintChecks)
}

/** One task's writer: rows → one parquet file per partition value seen
  * (created lazily on the first row; task attempts are disambiguated by
  * taskId + a UUID, and the commit coordinator ensures only one
  * attempt's message commits — a losing attempt's abort deletes its
  * files). */
private final class GraftStreamDataWriter(
    dir: String,
    schema: StructType,
    queryId: String,
    writerConf: Map[String, String],
    partitionId: Int,
    taskId: Long,
    epochId: Long,
    partFields: Seq[GraftStreamPartField],
    identitySources: Set[String],
    constraintChecks: Seq[(String, Expression)])
    extends DataWriter[InternalRow] {

  // codegen'd per-task constraint predicates (Coalesce(check, true) —
  // NULL passes, FALSE fails the epoch, same as the batch write guard)
  private lazy val constraintPreds = constraintChecks.map { case (label, e) =>
    label -> org.apache.spark.sql.catalyst.expressions.Predicate.create(e)
  }

  // data footers drop IDENTITY sources (they live in the directory,
  // exactly like partitionBy) and keep everything else, input order
  private val dataFieldIdx: Seq[Int] =
    schema.fields.indices.filterNot(i =>
      identitySources.contains(schema.fields(i).name))
  private val dataSchema: StructType =
    StructType(dataFieldIdx.map(schema.fields(_)))

  private lazy val dataProj: UnsafeProjection = UnsafeProjection.create(
    dataFieldIdx.map(i =>
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        i, schema.fields(i).dataType, schema.fields(i).nullable)
        : Expression))

  private final class Open(val key: String, val rel: String,
      val writer: ParquetOutputWriter)
  // ONE open writer at a time: the write's clustering + ordering land
  // each partition's rows consecutively, so closing at the boundary
  // bounds task memory at a single parquet row-group buffer whatever
  // the partition count. If the planner could not honor the ordering,
  // a revisited partition value simply opens a SECOND file for it —
  // more small files, never wrong rows and never unbounded memory.
  private var open: Open = null
  private var closedRels: List[String] = Nil

  // one writer conf and task context for every file this writer opens:
  // a fresh Configuration re-parses Hadoop's XML defaults
  private lazy val taskCtx: TaskAttemptContextImpl = {
    val conf = new Configuration()
    writerConf.foreach { case (k, v) => conf.set(k, v) }
    ParquetWriteSupport.setSchema(dataSchema, conf)
    conf.set("parquet.write.support.class",
      classOf[ParquetWriteSupport].getName)
    val attempt = new TaskAttemptID(
      new TaskID(new JobID(s"graft-stream-$epochId", partitionId),
        TaskType.MAP, partitionId), 0)
    new TaskAttemptContextImpl(conf, attempt)
  }

  /** Batch-layout directory segments for one row: Hive-escaped
    * `<field>=<value>` per partition field ([[PartitionValues.decode]]'s
    * exact inverse; dates render ISO like Spark's own partition paths). */
  private def dirOf(row: InternalRow): String =
    partFields.map { f =>
      val v = f.bound.eval(row)
      val rendered =
        if (v == null) graft.table.PartitionValues.NullMarker
        else org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .escapePathName(f.derivedType match {
            case DateType =>
              java.time.LocalDate.ofEpochDay(
                v.asInstanceOf[Int].toLong).toString
            case _ => v.toString
          })
      s"${f.fieldName}=$rendered"
    }.mkString("/")

  private def writerFor(segs: String): Open = {
    if (open != null && open.key == segs) return open
    if (open != null) { // partition boundary: close, keep one buffer live
      open.writer.close()
      closedRels ::= open.rel
      open = null
    }
    val name = f".stream-$queryId-$epochId%05d-$partitionId%05d-$taskId-" +
      java.util.UUID.randomUUID().toString.take(8) + ".parquet"
    val rel = if (segs.isEmpty) s"data/$name" else s"data/$segs/$name"
    Files.createDirectories(Paths.get(dir, rel).getParent)
    open = new Open(segs, rel,
      new ParquetOutputWriter(Paths.get(dir, rel).toString, taskCtx))
    open
  }

  override def write(row: InternalRow): Unit = {
    constraintPreds.foreach { case (label, p) =>
      if (!p.eval(row)) throw new IllegalStateException(
        s"graft constraint violated on $dir: $label")
    }
    val o = writerFor(if (partFields.isEmpty) "" else dirOf(row))
    o.writer.write(if (identitySources.isEmpty) row else dataProj(row))
  }

  private def closeAll(): Unit = if (open != null) {
    open.writer.close()
    closedRels ::= open.rel
    open = null
  }

  override def commit(): WriterCommitMessage = {
    closeAll()
    GraftFileCommitMessage(closedRels.reverse)
  }

  override def abort(): Unit = {
    closeAll()
    closedRels.foreach(r => Files.deleteIfExists(Paths.get(dir, r)))
    closedRels = Nil
  }

  override def close(): Unit = closeAll()
}
