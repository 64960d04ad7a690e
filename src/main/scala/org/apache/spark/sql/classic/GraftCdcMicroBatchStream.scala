package org.apache.spark.sql.classic

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal, UnsafeProjection}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.vectorized.ConstantColumnVector
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

import graft.table.{DataFileEntry, GraftTable, ManifestFileIndex, SnapshotDiffs}

/** CDC stream offset: the snapshot-id cursor, plus — ONLY while the
  * offset-0 seed is being served in paced, file-granular steps — the
  * count of seed files already emitted. `seedPos = -1` means tailing
  * (or seed complete); its JSON form is the bare snapshot id, so
  * checkpoints written by earlier versions deserialize unchanged. A
  * mid-seed offset `(S, k)` pins the seed snapshot in the offset
  * itself, which is what makes a crash/restart replay deterministic
  * (the file list of an immutable snapshot, sorted by path, sliced at
  * the checkpointed positions). */
private[classic] final case class GraftCdcOffset(
    snap: Long, seedPos: Long = -1L) extends Offset {
  override def json(): String =
    if (seedPos < 0) snap.toString else s"$snap:$seedPos"
}

private[classic] object GraftCdcOffset {
  def parse(json: String): GraftCdcOffset = json.trim.split(":") match {
    case Array(s, p) => GraftCdcOffset(s.toLong, p.toLong)
    case Array(s) => GraftCdcOffset(s.toLong)
    case _ => throw new IllegalArgumentException(s"bad CDC offset: $json")
  }

  def of(o: Offset): GraftCdcOffset = o match {
    case c: GraftCdcOffset => c
    case other => parse(other.json())
  }
}

/** A seed-batch input partition: the delegate parquet partition over the
  * table's OWN data files, the OUTPUT schema downstream expects (the
  * same layout the spill batches emit), and per-output-field source
  * ordinals into the inner reader's rows — a partitioned parquet scan
  * emits `dataSchema ++ partitionSchema` order, NOT the declared order,
  * so the wrapper both reorders and fills the two constant columns the
  * CDC shape adds (`_change_type = 'insert'`, virtual snapshot id = the
  * seed snapshot; their output positions carry srcOrd -1). */
private[classic] final case class GraftCdcSeedPartition(
    inner: InputPartition,
    // the reader factory of the EXACT scan that planned `inner`: a
    // partitioned seed scan's factory carries the partition schema that
    // appends directory-recovered values — the stream-level factory
    // (built from the path-less spill delegate) would read them as NULL
    factory: PartitionReaderFactory,
    output: StructType,
    srcOrd: Seq[Int],
    changeTypeOut: Int,
    snapIdOut: Int,
    snapId: Long,
    // Spark refuses a batch mixing columnar and row partitions — when a
    // deletion-vector partition (row-only) shares the batch, the clean
    // partitions drop to the row path too
    forceRow: Boolean = false) extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Per-file lineage constants for a LINEAGE-emitting seed partition:
  * output positions of `_row_id`/`_last_updated_snapshot_id`, inner-row
  * ordinals of the materialized carry cells (`_gf_rid`/`_gf_seq` — read
  * as NULL from files that never carried them), the file's band base
  * and committing snapshot, and the inner reader's arity (the computed
  * values are appended past it for the static projection). A row's id
  * is `cell ?? ridBase + position`, its version `cell ?? fileSnap` —
  * the exact inheritance rule the library's readFiles applies. */
private[classic] final case class GraftCdcLineageSeed(
    ridOut: Int,
    seqOut: Int,
    cellRidOrd: Int,
    cellSeqOrd: Int,
    ridBase: Option[Long],
    fileSnap: Option[Long],
    innerArity: Int)

/** A seed partition over ONE whole data file (splits pre-merged, read
  * in row-group order), for the shapes that need per-row position
  * counting: a pending DELETION VECTOR (recorded positions skipped in
  * place — a positional-pending snapshot seeds zero-copy, no
  * full-state spill) and/or ROW-LINEAGE output (`_row_id` = band +
  * position unless a carry cell overrides). Row path only. */
private[classic] final case class GraftCdcDvSeedPartition(
    inner: InputPartition,
    factory: PartitionReaderFactory,
    output: StructType,
    srcOrd: Seq[Int],
    changeTypeOut: Int,
    snapIdOut: Int,
    snapId: Long,
    dvPath: Option[String],
    lineage: Option[GraftCdcLineageSeed] = None) extends InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Wraps the delegate parquet reader factory so seed partitions get
  * their constant columns filled and columns reordered IN THE SCAN
  * (both the row path — a codegen'd projection — and the vectorized
  * path — column-vector permutation + constant vectors), while
  * spill-backed partitions pass through untouched. This is what lets
  * the offset-0 seed plan the table's own files instead of
  * materializing a full copy first. */
private[classic] final class GraftCdcSeedReaderFactory(
    inner: PartitionReaderFactory) extends PartitionReaderFactory {

  override def supportColumnarReads(p: InputPartition): Boolean = p match {
    case s: GraftCdcSeedPartition =>
      !s.forceRow && s.factory.supportColumnarReads(s.inner)
    case _: GraftCdcDvSeedPartition => false // per-row position filter
    case other => inner.supportColumnarReads(other)
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case s: GraftCdcSeedPartition =>
        val base = s.factory.createReader(s.inner)
        new PartitionReader[InternalRow] {
          private val proj = UnsafeProjection.create(
            s.output.fields.toSeq.zipWithIndex.map { case (f, i) =>
              if (i == s.changeTypeOut) Literal.create("insert", f.dataType)
              else if (i == s.snapIdOut) Literal.create(s.snapId, f.dataType)
              else BoundReference(s.srcOrd(i), f.dataType, f.nullable)
            })
          override def next(): Boolean = base.next()
          override def get(): InternalRow = proj(base.get())
          override def close(): Unit = base.close()
        }
      case s: GraftCdcDvSeedPartition =>
        val base = s.factory.createReader(s.inner)
        new PartitionReader[InternalRow] {
          private val dv = s.dvPath
            .map(graft.table.DeletionVector.read).getOrElse(Array.emptyLongArray)
          private var pos = -1L
          // computed lineage values ride in a 2-slot extension row past
          // the inner reader's arity, so ONE static projection serves
          // every row (JoinedRow: inner ++ extras)
          private val extras =
            new org.apache.spark.sql.catalyst.expressions
              .GenericInternalRow(2)
          private val joined =
            new org.apache.spark.sql.catalyst.expressions.JoinedRow
          private val proj = UnsafeProjection.create(
            s.output.fields.toSeq.zipWithIndex.map { case (f, i) =>
              s.lineage match {
                case Some(l) if i == l.ridOut =>
                  BoundReference(l.innerArity, f.dataType, nullable = true)
                case Some(l) if i == l.seqOut =>
                  BoundReference(l.innerArity + 1, f.dataType,
                    nullable = true)
                case _ if i == s.changeTypeOut =>
                  Literal.create("insert", f.dataType)
                case _ if i == s.snapIdOut =>
                  Literal.create(s.snapId, f.dataType)
                case _ =>
                  BoundReference(s.srcOrd(i), f.dataType, f.nullable)
              }
            })
          override def next(): Boolean = {
            while (base.next()) {
              pos += 1
              if (dv.isEmpty ||
                  java.util.Arrays.binarySearch(dv, pos) < 0) return true
            }
            false
          }
          override def get(): InternalRow = {
            val row = base.get()
            s.lineage match {
              case None => proj(row)
              case Some(l) =>
                val rid: Any =
                  if (l.cellRidOrd >= 0 && !row.isNullAt(l.cellRidOrd))
                    row.getLong(l.cellRidOrd)
                  else l.ridBase.map(_ + pos).orNull
                val seq: Any =
                  if (l.cellSeqOrd >= 0 && !row.isNullAt(l.cellSeqOrd))
                    row.getLong(l.cellSeqOrd)
                  else l.fileSnap.orNull
                extras.update(0, rid)
                extras.update(1, seq)
                proj(joined(row, extras))
            }
          }
          override def close(): Unit = base.close()
        }
      case other => inner.createReader(other)
    }

  override def createColumnarReader(
      p: InputPartition): PartitionReader[ColumnarBatch] = p match {
    case s: GraftCdcSeedPartition =>
      val base = s.factory.createColumnarReader(s.inner)
      new PartitionReader[ColumnarBatch] {
        override def next(): Boolean = base.next()
        override def get(): ColumnarBatch = {
          val b = base.get()
          val n = b.numRows()
          val cols = Array.tabulate[ColumnVector](s.output.length) { i =>
            if (i == s.changeTypeOut) {
              val v = new ConstantColumnVector(n, StringType)
              v.setUtf8String(UTF8String.fromString("insert")); v
            } else if (i == s.snapIdOut) {
              val v = new ConstantColumnVector(n, LongType)
              v.setLong(s.snapId); v
            } else b.column(s.srcOrd(i))
          }
          new ColumnarBatch(cols, n)
        }
        override def close(): Unit = base.close()
      }
    case other => inner.createColumnarReader(other)
  }
}

/** CDC-mode streaming read of a graft table —
  * `spark.readStream.table("cat.db.t__changes")`.
  *
  * The snapshot-incremental stream ([[GraftMicroBatchStream]]) refuses
  * the moment anyone runs UPDATE/DELETE/MERGE on the table — correct for
  * an additive stream, but it means no continuous pipeline survives the
  * engine's own DML surface. This source emits the RETRACTION-carrying
  * diff instead: each micro-batch is [[graft.table.GraftTable.changesCdc]]
  * over the snapshots in `(start, end]` — the table's rows plus a
  * `_change_type` column (`insert` | `delete`, Delta-CDF style) and the
  * snapshot id that produced each change — so a downstream mirror, search
  * index, or feature store can APPLY deletions instead of dying on them.
  *
  * SEED: a stream from offset 0 first emits the full state as inserts
  * (the [[graft.table.GraftChangeFeed.pollCdc]] contract), pinned at the
  * snapshot current when the first trigger fires; `starting-snapshot-id`
  * skips it and tails changes only. The seed is insert-only by
  * construction, so whenever the pinned snapshot's visible rows equal
  * its raw data files ([[graft.table.GraftTable.rawVisibleFiles]] —
  * no merge-on-read state pending, no rename-era files; identity-layout
  * files qualify when the catalog wired a basePath-recovering
  * `mkSeedDelegate`) the seed batches plan the table's OWN files through
  * the delegate parquet scan, with the `_change_type`/snapshot-id
  * constants filled in the readers ([[GraftCdcSeedReaderFactory]]) —
  * zero copies of data volume, and admission control paces it
  * file-granularly across triggers (offsets carry the file position,
  * [[GraftCdcOffset]]). Only the ineligible shapes fall back to
  * materializing the state once.
  *
  * TAIL execution model: `planInputPartitions` runs the CDC diff as a
  * normal DISTRIBUTED Spark job and materializes the delta as parquet
  * under the stream's own checkpoint directory
  * (`graft-cdc-spill/cdc-<from>-<to>`), then plans the same delegate
  * parquet scan every graft read uses over the spilled files.
  * O(changed data) written + read per trigger — the
  * changelog-materialization shape CDC systems use — never a driver-side
  * row path, and idempotent across restarts (a replayed epoch finds its
  * `_SUCCESS`-marked spill and re-plans it without recomputing; `commit`
  * reclaims spills the engine will never request again, and the first
  * plan of a run sweeps every spill that is not the replayed range's —
  * an abandoned incarnation's in-flight spill never outlives the next
  * start).
  *
  * Pacing shares the snapshot-id offset + admission-control design of the
  * append stream; a snapshot's cost is estimated from its manifest diff
  * (added + removed file sizes — an upper bound of the CDC rows a
  * copy-on-write rewrite nets out to). Rollback snapshots and expired
  * parents refuse loudly at plan time via `changesCdc`'s own guards —
  * a CDC consumer must re-seed, never silently skip. */
final class GraftCdcMicroBatchStream(
    dir: String,
    startAfter: Long,
    checkpointLocation: String,
    declaredSchema: StructType,
    mkDelegate: Seq[FileStatus] => Scan,
    maxFilesPerTrigger: Option[Int] = None,
    maxRowsPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None,
    // identity-partitioned tables: a basePath-equipped delegate that
    // recovers identity partition values from directory names, used for
    // SEED batches only (spilled tail batches materialize every column
    // physically and keep the plain delegate). Takes the REQUIRED
    // schema too, so a column-pruned streaming read prunes the seed
    // scan exactly like the plain delegate would.
    mkSeedDelegate: Option[(Seq[FileStatus], StructType) => Scan] = None,
    // ROW-LINEAGE stream (the source table carries graft.row-lineage):
    // every batch additionally emits `_row_id`/`_last_updated_…` —
    // spill batches materialize them as physical columns via
    // changesCdc(lineage = true); seed batches compute them in-reader
    // (band + position, carry cells override) through `mkLineageSeed`,
    // a scan factory taking the EXACT read schema (data columns + the
    // `_gf_rid`/`_gf_seq` carry cells, NULL where a file never carried
    // them).
    lineage: Boolean = false,
    mkLineageSeed: Option[(Seq[FileStatus], StructType) => Scan] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** Raw-seed eligibility — files plus the per-file deletion vectors a
    * positional-pending snapshot needs ([[graft.table.GraftTable.rawSeedState]]);
    * relaxed to identity-era files exactly when the catalog wired a
    * path-recovering seed delegate. */
  private def rawSeedFiles(t: GraftTable, snapshotId: Long)
      : Option[(Seq[DataFileEntry], Map[String, String])] =
    t.rawSeedState(snapshotId,
      identityViaPathRecovery = mkSeedDelegate.isDefined)

  private val spillRoot: java.nio.file.Path = Paths.get(
    new org.apache.hadoop.fs.Path(checkpointLocation).toUri.getPath,
    "graft-cdc-spill")

  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(GraftTable.load(dir).log.current
      .map(_.snapshotId).getOrElse(startAfter))

  override def initialOffset(): Offset = GraftCdcOffset(startAfter)

  override def latestOffset(): Offset =
    GraftCdcOffset(GraftTable.load(dir).log.current
      .map(_.snapshotId).getOrElse(startAfter))

  override def getDefaultReadLimit: ReadLimit =
    GraftReadLimits.defaultLimit(
      maxFilesPerTrigger, maxRowsPerTrigger, maxBytesPerTrigger)

  /** Per-snapshot (files, rows, bytes) cost memo — a trigger prices the
    * chain during pacing and a restart re-prices the replayed range;
    * snapshots are immutable so an entry never goes stale. */
  private val costMemo =
    new java.util.LinkedHashMap[Long, (Long, Long, Long)](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, (Long, Long, Long)]): Boolean =
        size() > 256
    }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = GraftCdcOffset.of(start)
    if (s.snap == 0L || s.seedPos >= 0) seedOffset(s, limit)
    else GraftCdcOffset(pricedEnd(s.snap, limit))
  }

  /** Snapshot-stepped admission from `from`: the largest chain end whose
    * cumulative manifest-diff cost fits the caps (always at least one
    * snapshot, so the stream progresses; `from` itself when drained). */
  private def pricedEnd(from: Long, limit: ReadLimit): Long = {
    val lg = GraftTable.load(dir).log
    val live = lg.snapshots.lastOption.map(_.snapshotId).getOrElse(from)
    val latest = availableNowEnd.fold(live)(math.min(live, _))
    if (latest <= from) return from
    val (maxF, maxR, maxB) = GraftReadLimits.caps(limit)
    if (maxF.isEmpty && maxR.isEmpty && maxB.isEmpty)
      return latest
    val chain = lg.snapshots
      .filter(s => s.snapshotId > from && s.snapshotId <= latest)
    val memoized = costMemo.synchronized {
      chain.takeWhile(s => costMemo.containsKey(s.snapshotId))
        .map(s => (s.snapshotId, costMemo.get(s.snapshotId)))
    }
    val rest = chain.drop(memoized.size)
    // lenient on expired parents: pricing is an ESTIMATE — pacing must
    // not die where planning succeeds; a range with an expired parent
    // still refuses properly at plan time via changesCdc
    val priced: Iterator[(Long, (Long, Long, Long))] =
      memoized.iterator ++ SnapshotDiffs.alongChain(dir, lg, rest,
        lenientMissingParent = true).map { d =>
        // a replace (compaction) contributes nothing to the CDC feed;
        // everything else is priced by its manifest diff — an upper
        // bound on the emitted rows (copy-on-write nets unchanged rows
        // out), which is the conservative direction for pacing
        val touched =
          if (d.snapshot.operation == "replace") Nil
          else d.added ++ d.removed
        val cost = (touched.size.toLong,
          touched.map(_.recordCount).sum, touched.map(_.fileSizeBytes).sum)
        costMemo.synchronized {
          costMemo.put(d.snapshot.snapshotId, cost): Unit
        }
        (d.snapshot.snapshotId, cost)
      }
    var files = 0L; var rows = 0L; var bytes = 0L
    var end = from
    for ((sid, (f, r, b)) <- priced) {
      val overflow = end > from &&
        (maxF.exists(m => files + f > m) ||
          maxR.exists(m => rows + r > m) ||
          maxB.exists(m => bytes + b > m))
      if (overflow) return end
      files += f; rows += r; bytes += b
      end = sid
    }
    end
  }

  /** Seed-phase admission. The seed snapshot pins to: the offset's own
    * (mid-seed), else the live/frozen current when raw-servable, else
    * the end the SNAPSHOT-STEPPED pricing from 0 admits under the caps
    * (the merge-on-read-pending catch-up) — and if THAT snapshot is
    * itself raw-servable, its files still pace file-granularly (the
    * bulk-load shape: one giant initial append must never land in one
    * batch just because later state made the frozen end ineligible).
    * Only a genuinely ineligible pinned snapshot materializes, and its
    * range is whatever the chain pricing admitted, caps honored. */
  private def seedOffset(s: GraftCdcOffset, limit: ReadLimit): Offset = {
    val t = GraftTable.load(dir)
    val live = t.log.snapshots.lastOption.map(_.snapshotId).getOrElse(0L)
    val pin: Long =
      if (s.seedPos >= 0) s.snap
      else {
        val target = availableNowEnd.fold(live)(math.min(live, _))
        if (target <= 0L) return s // nothing committed yet
        if (rawSeedFiles(t, target).isDefined) target
        else {
          val e = pricedEnd(0L, limit)
          if (e <= 0L) return s
          if (rawSeedFiles(t, e).isEmpty)
            return GraftCdcOffset(e) // materializing seed of (0, e]
          e
        }
      }
    rawSeedFiles(t, pin) match {
      case None =>
        // a MID-seed offset can only arise on the raw path and
        // eligibility is a pure function of the immutable pinned
        // snapshot — close the seed and let plan-time refuse loudly
        GraftCdcOffset(s.snap)
      case Some((files, _)) =>
        val fromPos = math.max(s.seedPos, 0L).toInt
        if (fromPos >= files.size) return GraftCdcOffset(pin)
        val (maxF, maxR, maxB) = GraftReadLimits.caps(limit)
        if (maxF.isEmpty && maxR.isEmpty && maxB.isEmpty)
          return GraftCdcOffset(pin)
        var nf = 0L; var nr = 0L; var nb = 0L
        var pos = fromPos
        while (pos < files.size) {
          val f = files(pos)
          val overflow = pos > fromPos &&
            (maxF.exists(m => nf + 1 > m) ||
              maxR.exists(m => nr + f.recordCount > m) ||
              maxB.exists(m => nb + f.fileSizeBytes > m))
          if (overflow) return GraftCdcOffset(pin, pos)
          nf += 1; nr += f.recordCount; nb += f.fileSizeBytes
          pos += 1
        }
        GraftCdcOffset(pin)
    }
  }

  override def reportLatestOffset(): Offset =
    availableNowEnd.map(GraftCdcOffset(_)).getOrElse(latestOffset())

  override def deserializeOffset(json: String): Offset =
    GraftCdcOffset.parse(json)

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val a = GraftCdcOffset.of(start)
    val b = GraftCdcOffset.of(end)
    if (a == b) return Array.empty
    sweepStaleSpills(keep = s"cdc-${a.snap}-${b.snap}")
    val t = GraftTable.load(dir)
    // mid-stream schema evolution: the stream's fixed schema would
    // read renamed/retyped columns wrong — refuse loudly; the
    // restarted query re-resolves the current schema
    require(t.schema == declaredSchema,
      s"$dir's schema evolved while the CDC stream was running — " +
        "restart the streaming query to pick up the new schema")
    if (a.snap == 0L || a.seedPos >= 0 || b.seedPos >= 0) {
      // seed range: serve the table's own files when the snapshot is
      // raw-servable (the eligibility is a pure function of the pinned
      // snapshot, so replays decide identically)
      val target = b.snap
      if (target <= 0L) return Array.empty
      rawSeedFiles(t, target) match {
        case Some((files, dvByBn)) =>
          val fromPos = math.max(a.seedPos, 0L).toInt
          val until = if (b.seedPos < 0) files.size else b.seedPos.toInt
          val slice = files.slice(fromPos, until)
          if (slice.isEmpty) Array.empty
          else planSeed(t, slice, target, dvByBn)
        case None =>
          require(a.snap == 0L && a.seedPos < 0 && b.seedPos < 0,
            s"mid-seed offset ${a.json()} but snapshot $target of $dir " +
              "is not raw-servable — the seed eligibility changed " +
              "underneath a running stream (expired snapshot?)")
          planSpill(t, 0L, target)
      }
    } else planSpill(t, a.snap, b.snap)
  }

  /** Plan a paced slice of the seed directly over the table's data
    * files: the delegate parquet scan over the slice, each partition
    * wrapped with the output mapping + constant-column positions for the
    * reader factory. The OUTPUT layout downstream expects is whatever
    * the spill delegate emits (one reader factory serves every batch);
    * the seed scan's own layout can differ — a partitioned parquet scan
    * emits `dataSchema ++ partitionSchema` order — so each output field
    * maps to its source ordinal explicitly. No spill, no copy — a
    * 100 TB seed reads 100 TB once. */
  private def planSeed(
      t: GraftTable,
      files: Seq[DataFileEntry],
      snapId: Long,
      dvByBn: Map[String, String] = Map.empty): Array[InputPartition] = {
    def bn(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    val output = mkDelegate(Nil).readSchema()
    val ctOut = output.fieldNames.indexOf("_change_type")
    val vcOut = output.fieldNames.indexOf(t.virtualColumn)
    val ridOut = output.fieldNames.indexOf(graft.table.GraftTable.RowIdCol)
    val seqOut =
      output.fieldNames.indexOf(graft.table.GraftTable.LastUpdatedCol)
    // LINEAGE seed (the streamed columns survive pruning): every file
    // plans as ONE whole-file row-path partition — `_row_id` needs the
    // physical row position, which only a split-merged in-order walk
    // provides (the DV partitions' existing discipline)
    if (lineage && (ridOut >= 0 || seqOut >= 0))
      return planLineageSeed(t, files, snapId, dvByBn, output,
        ctOut, vcOut, ridOut, seqOut)
    val (dvFiles, cleanFiles) =
      files.partition(f => dvByBn.contains(bn(f.path)))
    // one seed scan's layout mapping: a partitioned parquet scan emits
    // dataSchema ++ partitionSchema order, NOT the declared order
    def layout(scan: Scan): (Seq[Int], Boolean) = {
      val rs = scan.readSchema()
      val srcOrd = output.fields.toSeq.zipWithIndex.map { case (f, i) =>
        if (i == ctOut || i == vcOut) -1 else rs.fieldNames.indexOf(f.name)
      }
      require(srcOrd.zipWithIndex.forall { case (s, i) =>
          s >= 0 || i == ctOut || i == vcOut },
        s"seed scan of $dir is missing output column(s) " +
          output.fieldNames.zip(srcOrd).collect {
            case (n, -1) if n != "_change_type" && n != t.virtualColumn => n
          }.mkString(", "))
      val identityLayout = rs.length != output.length ||
        srcOrd.zipWithIndex.exists { case (s, i) => s >= 0 && s != i }
      (srcOrd, identityLayout)
    }
    val cleanParts: Array[InputPartition] =
      if (cleanFiles.isEmpty) Array.empty
      else {
        val statuses = cleanFiles.map(f => ManifestFileIndex.status(dir, f))
        val scan = mkSeedDelegate.map(_(statuses, output))
          .getOrElse(mkDelegate(statuses))
        val (srcOrd, identityLayout) = layout(scan)
        val batch = scan.toBatch
        val inner = batch.planInputPartitions()
        if (ctOut < 0 && vcOut < 0 && !identityLayout && dvFiles.isEmpty)
          inner
        else {
          val factory = batch.createReaderFactory()
          inner.map(p =>
            GraftCdcSeedPartition(p, factory, output, srcOrd, ctOut, vcOut,
              snapId, forceRow = dvFiles.nonEmpty): InputPartition)
        }
      }
    // DELETION-VECTOR-targeted files: one whole-file partition each —
    // the reader counts row positions from 0 (identical to the
    // _metadata.row_index the vectors were recorded against, since the
    // seed pushes no filters and reads every row group in order) and
    // skips recorded positions in place. Splits of the file are merged
    // back into ONE partition in file order so the count stays global.
    val dvParts: Seq[InputPartition] = dvFiles.map { f =>
      val path = Paths.get(dir, f.path).normalize().toString
      val st = ManifestFileIndex.status(dir, f)
      val scan = mkSeedDelegate.map(_(Seq(st), output))
        .getOrElse(mkDelegate(Seq(st)))
      val (srcOrd, _) = layout(scan)
      val batch = scan.toBatch
      val parts = batch.planInputPartitions()
      val factory = batch.createReaderFactory()
      val merged: InputPartition =
        if (parts.length == 1) parts.head
        else {
          val pieces = parts.toSeq.flatMap {
            case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
              fp.files.toSeq
            case other => throw new IllegalStateException(
              s"unexpected seed partition shape ${other.getClass} for $path")
          }.sortBy(_.start)
          org.apache.spark.sql.execution.datasources.FilePartition(
            0, pieces.toArray)
        }
      GraftCdcDvSeedPartition(merged, factory, output, srcOrd, ctOut,
        vcOut, snapId, Some(dvByBn(bn(f.path)))): InputPartition
    }
    cleanParts ++ dvParts
  }

  /** LINEAGE-emitting seed plan: one whole-file partition per data file
    * through a scan whose read schema is the output's data columns plus
    * the `_gf_rid`/`_gf_seq` carry cells (NULL where a file never
    * carried them — parquet serves requested-but-absent columns as
    * null). The reader computes `_row_id` = cell ?? band + position and
    * `_last_updated_…` = cell ?? committing snapshot per row; files
    * with a pending deletion vector skip recorded positions in the same
    * walk. Still zero-copy — a 100 TB lineage seed reads 100 TB once. */
  private def planLineageSeed(
      t: GraftTable,
      files: Seq[DataFileEntry],
      snapId: Long,
      dvByBn: Map[String, String],
      output: StructType,
      ctOut: Int,
      vcOut: Int,
      ridOut: Int,
      seqOut: Int): Array[InputPartition] = {
    def bn(p: String): String = p.substring(p.lastIndexOf('/') + 1)
    val mk = mkLineageSeed.getOrElse(throw new IllegalStateException(
      s"lineage CDC seed of $dir needs a lineage seed scan factory"))
    val dataFields = output.fields.filterNot(f =>
      f.name == "_change_type" || f.name == t.virtualColumn ||
        f.name == graft.table.GraftTable.RowIdCol ||
        f.name == graft.table.GraftTable.LastUpdatedCol)
    val readSchema = StructType(dataFields.toSeq ++ Seq(
      org.apache.spark.sql.types.StructField(
        graft.table.GraftTable.LineageRidCol, LongType, nullable = true),
      org.apache.spark.sql.types.StructField(
        graft.table.GraftTable.LineageSeqCol, LongType, nullable = true)))
    files.map { f =>
      val path = Paths.get(dir, f.path).normalize().toString
      val scan = mk(Seq(ManifestFileIndex.status(dir, f)), readSchema)
      val rs = scan.readSchema()
      val srcOrd = output.fields.toSeq.zipWithIndex.map { case (fld, i) =>
        if (i == ctOut || i == vcOut || i == ridOut || i == seqOut) -1
        else rs.fieldNames.indexOf(fld.name)
      }
      require(srcOrd.zipWithIndex.forall { case (o, i) =>
          o >= 0 || i == ctOut || i == vcOut || i == ridOut || i == seqOut },
        s"lineage seed scan of $dir is missing output column(s) " +
          output.fieldNames.zip(srcOrd).collect {
            case (n, -1) if n != "_change_type" && n != t.virtualColumn &&
              n != graft.table.GraftTable.RowIdCol &&
              n != graft.table.GraftTable.LastUpdatedCol => n
          }.mkString(", "))
      val batch = scan.toBatch
      val parts = batch.planInputPartitions()
      val factory = batch.createReaderFactory()
      val merged: InputPartition =
        if (parts.length == 1) parts.head
        else {
          val pieces = parts.toSeq.flatMap {
            case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
              fp.files.toSeq
            case other => throw new IllegalStateException(
              s"unexpected seed partition shape ${other.getClass} for $path")
          }.sortBy(_.start)
          org.apache.spark.sql.execution.datasources.FilePartition(
            0, pieces.toArray)
        }
      GraftCdcDvSeedPartition(merged, factory, output, srcOrd, ctOut,
        vcOut, snapId, dvByBn.get(bn(f.path)),
        lineage = Some(GraftCdcLineageSeed(
          ridOut, seqOut,
          rs.fieldNames.indexOf(graft.table.GraftTable.LineageRidCol),
          rs.fieldNames.indexOf(graft.table.GraftTable.LineageSeqCol),
          f.firstRowId,
          t.fileCommitSnapshot(f.path),
          rs.length))): InputPartition
    }.toArray
  }

  /** Materializing path: run the CDC diff (or the ineligible seed's full
    * state) as a distributed job, spill as parquet under the checkpoint,
    * plan the delegate scan over the spill. O(changed data) per trigger;
    * `_SUCCESS`-idempotent across restarts. */
  private def planSpill(
      t: GraftTable, from: Long, to: Long): Array[InputPartition] = {
    val spill = spillRoot.resolve(s"cdc-$from-$to")
    if (!Files.exists(spill.resolve("_SUCCESS"))) {
      val spark = org.apache.spark.sql.SparkSession.active
      val vc = t.virtualColumn
      val df =
        if (from == 0L && !lineage)
          // ineligible-seed batch: the full state at the pinned end, as
          // inserts — column ORDER matches changesCdc's
          // (schema, _change_type, vc)
          t.read(spark, Some(to)).drop(vc)
            .withColumn("_change_type", lit("insert"))
            .withColumn(vc, lit(to))
        else if (from == 0L)
          // lineage form: full state WITH its lineage columns, ordered
          // to changesCdc's canonical (schema, ct, vc, _row_id, _seq)
          t.readLineage(spark, Some(to))
            .withColumn("_change_type", lit("insert"))
            .withColumn(vc, lit(to))
            .select((t.schema.fieldNames.toSeq ++
              Seq("_change_type", vc, graft.table.GraftTable.RowIdCol,
                graft.table.GraftTable.LastUpdatedCol))
              .map(org.apache.spark.sql.functions.col): _*)
        else t.changesCdc(spark, from, Some(to), lineage = lineage)
      // pin micros like every graft write path — an INT96 spill would
      // round-trip fine but diverge from the table's own file format
      val tsKey = "spark.sql.parquet.outputTimestampType"
      val prevTs = spark.conf.getOption(tsKey)
      spark.conf.set(tsKey, "TIMESTAMP_MICROS")
      try df.write.mode("overwrite").parquet(spill.toString)
      finally prevTs match {
        case Some(v) => spark.conf.set(tsKey, v)
        case None => spark.conf.unset(tsKey)
      }
    }
    // the spill is this stream's own output, not manifest-listed: its
    // files are sized from the directory listing the stream does anyway
    val spilled = scala.util.Using.resource(Files.list(spill)) { s =>
      s.iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)
    }
    if (spilled.isEmpty) Array.empty
    else mkDelegate(spilled.map(p => ManifestFileIndex.status(p, Files.size(p))))
      .toBatch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftCdcSeedReaderFactory(
      mkDelegate(Nil).toBatch.createReaderFactory())

  /** One-shot sweep at the first plan of this run: the only spill a
    * correct run can ever reuse is the REPLAYED range's (`keep`) —
    * everything else under the spill root is debris (a crashed commit's
    * reclaimable range, or an abandoned incarnation's in-flight spill,
    * which for an ineligible seed used to be a full table copy) and is
    * deleted here so it cannot sit under the checkpoint forever. */
  private val sweptAtStart = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def sweepStaleSpills(keep: String): Unit = {
    if (!sweptAtStart.compareAndSet(false, true)) return
    if (!Files.isDirectory(spillRoot)) return
    val stale = scala.util.Using.resource(Files.list(spillRoot)) { s =>
      s.iterator().asScala.filter(_.getFileName.toString != keep).toSeq
    }
    stale.foreach(deleteRecursively)
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    scala.util.Using.resource(Files.walk(p)) { w =>
      w.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))
    }

  /** Committed ranges are never requested again — reclaim their spills
    * (the replayed-after-restart batch is precisely the one whose range
    * was NOT committed, so its spill survives for reuse). */
  override def commit(end: Offset): Unit = {
    val e = GraftCdcOffset.of(end)
    val upTo = if (e.seedPos >= 0) e.snap - 1 else e.snap
    if (!Files.isDirectory(spillRoot)) return
    val done = scala.util.Using.resource(Files.list(spillRoot)) { s =>
      s.iterator().asScala.filter { p =>
        p.getFileName.toString.split("-") match {
          case Array("cdc", _, b) => b.toLongOption.exists(_ <= upTo)
          case _ => false
        }
      }.toSeq
    }
    done.foreach(deleteRecursively)
  }

  override def stop(): Unit = ()
}
