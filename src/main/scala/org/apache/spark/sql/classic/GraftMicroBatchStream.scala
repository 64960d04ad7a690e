package org.apache.spark.sql.classic

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxFiles, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}

import graft.table.{DataFileEntry, GraftTable, Snapshot, SnapshotDiffs, SnapshotLog}

/** Snapshot id as a streaming offset — the natural cursor of an
  * append-only table log (monotone, durable, replayable). */
final case class GraftStreamOffset(snapshotId: Long) extends Offset {
  override def json(): String = snapshotId.toString
}

/** Shared ReadLimit decomposition for the graft streaming sources. */
private[classic] object GraftReadLimits {
  /** (maxFiles, maxRows, maxBytes) caps carried by `limit`. */
  def caps(limit: ReadLimit): (Option[Int], Option[Long], Option[Long]) =
    limit match {
      case _: ReadAllAvailable => (None, None, None)
      case f: ReadMaxFiles => (Some(f.maxFiles()), None, None)
      case r: ReadMaxRows => (None, Some(r.maxRows()), None)
      case b: ReadMaxBytes => (None, None, Some(b.maxBytes()))
      case c: CompositeReadLimit =>
        val parts = c.getReadLimits.toSeq.map(caps)
        (parts.flatMap(_._1).minOption, parts.flatMap(_._2).minOption,
          parts.flatMap(_._3).minOption)
      case _ => (None, None, None) // unknown limit kinds admit everything
    }

  /** The composite default limit for the three per-trigger cap options
    * (allAvailable when none are set). */
  def defaultLimit(
      maxFiles: Option[Int],
      maxRows: Option[Long],
      maxBytes: Option[Long]): ReadLimit = {
    val lims: Seq[ReadLimit] =
      maxFiles.map(ReadLimit.maxFiles).toSeq ++
        maxRows.map(ReadLimit.maxRows).toSeq ++
        maxBytes.map(ReadLimit.maxBytes).toSeq
    lims match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }
}

/** Snapshot-incremental streaming read of a graft table —
  * `spark.readStream.table("cat.db.t")`.
  *
  * Each micro-batch is the set of data files APPENDED by the snapshots
  * in `(start, end]`, discovered by manifest path diff: O(new files)
  * metadata per trigger, never a directory listing, never a re-read of
  * old data — the property that makes a 100 TB table streamable (the
  * same diff [[graft.table.GraftTable.changes]] serves to batch
  * consumers; this is its Structured Streaming face, with offsets
  * checkpointed by the engine for exactly-once sinks).
  *
  * Planning and reading ride the SAME delegate parquet machinery as
  * batch scans (`mkDelegate` — bin-packed splits, vectorized reader),
  * so a streaming row is byte-identical to a batch row.
  *
  * Row-preserving `"replace"` snapshots (compaction, manifest
  * rewrites) are SKIPPED — table maintenance never kills a tail.
  * Everything else refuses loudly, never silent re-emission:
  *  - a rewriting/removing snapshot in range (update/delete/merge/
  *    overwrite/rollback — an additive stream cannot represent them;
  *    consume [[graft.table.GraftTable.changesCdc]] instead);
  *  - a chain snapshot whose parent has been EXPIRED (the diff is
  *    uncomputable — re-emitting the whole file set would duplicate);
  *  - a file predating a column rename/widening (the fixed stream
  *    schema would read it wrong);
  *  - non-parquet entries (this surface feeds the parquet reader).
  *
  * `starting-snapshot-id` (read option) starts the stream AFTER that
  * snapshot — skip the backfill and tail only new commits.
  */
final class GraftMicroBatchStream(
    dir: String,
    startAfter: Long,
    mkDelegate: Seq[org.apache.hadoop.fs.FileStatus] => Scan,
    // rename/widening-era check, fresh-table-aware (the visibility of
    // the era machinery is table-package-scoped; the catalog closes
    // over it here)
    renameAffects: (GraftTable, DataFileEntry) => Boolean,
    maxFilesPerTrigger: Option[Int] = None,
    maxRowsPerTrigger: Option[Long] = None,
    maxBytesPerTrigger: Option[Long] = None)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  /** End offset frozen at AvailableNow start: the drain processes up to
    * HERE (in read-limit-paced batches) and terminates, even while
    * writers keep committing. Implementing the trait (rather than
    * letting the engine's wrapper handle it) is what keeps
    * max-files/rows-per-trigger honored during the drain — the wrapper
    * deliberately discards delegate read limits. */
  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(GraftTable.load(dir).log.current
      .map(_.snapshotId).getOrElse(startAfter))

  override def initialOffset(): Offset = GraftStreamOffset(startAfter)

  override def latestOffset(): Offset =
    // stateless: re-read the log every trigger, same discipline as the
    // per-query re-resolution the batch surfaces follow
    GraftStreamOffset(GraftTable.load(dir).log.current
      .map(_.snapshotId).getOrElse(startAfter))

  /** Admission control — the 100 TB backfill guard. Without a cap the
    * FIRST trigger of a new stream is the entire table in one
    * micro-batch; `max-files-per-trigger` / `max-rows-per-trigger`
    * admit whole snapshots until the next one would exceed the cap
    * (always at least one, so the stream makes progress). The manifest
    * already carries per-file record counts, so the row cap costs no
    * file I/O to enforce. */
  override def getDefaultReadLimit: ReadLimit =
    GraftReadLimits.defaultLimit(
      maxFilesPerTrigger, maxRowsPerTrigger, maxBytesPerTrigger)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[GraftStreamOffset].snapshotId
    val lg = GraftTable.load(dir).log
    val live = lg.snapshots.lastOption.map(_.snapshotId).getOrElse(from)
    // under AvailableNow the drain never reads past the frozen end
    val latest = availableNowEnd.fold(live)(math.min(live, _))
    if (latest <= from) return GraftStreamOffset(from)
    val (maxF, maxR, maxB) = capsOf(limit)
    if (maxF.isEmpty && maxR.isEmpty && maxB.isEmpty)
      return GraftStreamOffset(latest)
    var files = 0L
    var rows = 0L
    var bytes = 0L
    var end = from
    for ((sid, op, added) <- appendsIn(lg, from, latest)) {
      // non-append snapshots count as empty here; replaces skip and the
      // rest still refuse loudly at plan time (never silently dropped)
      val overflow = end > from && op == "append" &&
        (maxF.exists(m => files + added.size > m) ||
          maxR.exists(m => rows + added.map(_.recordCount).sum > m) ||
          maxB.exists(m => bytes + added.map(_.fileSizeBytes).sum > m))
      if (overflow) return GraftStreamOffset(end)
      files += added.size
      rows += added.map(_.recordCount).sum
      bytes += added.map(_.fileSizeBytes).sum
      end = sid
    }
    GraftStreamOffset(end)
  }

  override def reportLatestOffset(): Offset =
    availableNowEnd.map(GraftStreamOffset(_)).getOrElse(latestOffset())

  /** Per-snapshot appended-file memo: a trigger walks the chain twice
    * (offset pacing, then planning) and a restart replays the last
    * range — snapshots are immutable, so a diff keyed by snapshot id
    * never goes stale. Bounded LRU (metadata scale). */
  private val diffMemo =
    new java.util.LinkedHashMap[Long, Seq[DataFileEntry]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, Seq[DataFileEntry]]): Boolean =
        size() > 256
    }

  /** `(snapshotId, operation, appendedFiles)` for the chain in
    * `(from, to]`, walking the manifest chain ONCE for the un-memoized
    * suffix ([[SnapshotDiffs]] — N+1 list parses, not 2N) and lazily
    * (admission pacing stops at the cap without parsing the rest).
    * Non-append snapshots report no files: replaces are skipped and the
    * rest refuse at plan time. */
  private def appendsIn(lg: SnapshotLog, from: Long, to: Long)
      : Iterator[(Long, String, Seq[DataFileEntry])] = {
    val chain = lg.snapshots
      .filter(s => s.snapshotId > from && s.snapshotId <= to)
    val memoized = diffMemo.synchronized {
      chain.takeWhile(s => diffMemo.containsKey(s.snapshotId))
        .map(s => (s, diffMemo.get(s.snapshotId)))
    }
    val rest = chain.drop(memoized.size)
    memoized.iterator.map { case (s, added) =>
      (s.snapshotId, s.operation, added)
    } ++ SnapshotDiffs.alongChain(dir, lg, rest).map { d =>
      val added = if (d.snapshot.operation == "append") d.added else Nil
      diffMemo.synchronized {
        diffMemo.put(d.snapshot.snapshotId, added): Unit
      }
      (d.snapshot.snapshotId, d.snapshot.operation, added)
    }
  }

  private def capsOf(limit: ReadLimit) = GraftReadLimits.caps(limit)

  override def deserializeOffset(json: String): Offset =
    GraftStreamOffset(json.trim.toLong)

  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftStreamOffset].snapshotId
    val to = end.asInstanceOf[GraftStreamOffset].snapshotId
    if (to <= from) return Array.empty
    val t = GraftTable.load(dir)
    val lg = t.log
    val chain = lg.snapshots
      .filter(s => s.snapshotId > from && s.snapshotId <= to)
    // "replace" (compaction / manifest rewrite) is row-preserving by
    // construction and contributes NOTHING to an additive stream — a
    // compaction must not kill a long-running tail. The one replace
    // that is not bit-identical (materializing pending merge-on-read
    // state) is always preceded by the delete/merge commit that CREATED
    // the pending state, and that commit is refused below before the
    // replace is ever reached.
    chain.foreach(s => require(
      s.operation == "append" || s.operation == "replace",
      s"streaming read of $dir hit snapshot ${s.snapshotId} " +
        s"(op=${s.operation}): an additive stream can only represent " +
        "append commits — consume the CDC feed (readStream.table of " +
        "<name>__changes, GraftTable.changesCdc, or " +
        "GraftChangeFeed.pollCdc) for a history with rewrites or deletes"))
    val appended = appendsIn(lg, from, to).flatMap(_._3).toSeq
    appended.foreach { f =>
      require(!renameAffects(t, f),
        s"$dir file ${f.path} predates a column rename/widening — the " +
          "stream's fixed schema would mis-read it; compact() first")
      require(f.path.endsWith(".parquet"),
        s"$dir holds non-parquet data file ${f.path} — the streaming " +
          "surface feeds the parquet reader; read via GraftTable.scan")
    }
    if (appended.isEmpty) Array.empty
    else {
      mkDelegate(appended.map(f => graft.table.ManifestFileIndex.status(dir, f)))
        .toBatch.planInputPartitions()
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // path-agnostic: the delegate factory reads whatever FilePartition
    // it is handed, so one factory serves every micro-batch
    mkDelegate(Nil).toBatch.createReaderFactory()

  override def commit(end: Offset): Unit = () // engine checkpoints offsets
  override def stop(): Unit = ()
}
