package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import graft.util.Json

/** One committed snapshot. Field set mirrors the reference's snapshots
  * system-table row (SnapshotIterable.createSnapshotRecord,
  * iterables/SnapshotIterable.java:48-57): committed_at, snapshot_id,
  * parent_id, operation, manifest_list, summary.
  */
final case class Snapshot(
    snapshotId: Long,
    parentId: Option[Long],
    committedAt: Long,
    operation: String,
    manifestList: String, // relative path of the manifest under the table dir
    summary: Map[String, String])

/** The append-only snapshot log (`snapshots.json` at the table root),
  * one entry per commit — data volume lives in parquet, not here. The
  * file is one JSON array. A commit whose base is the log this JVM last
  * read or wrote at the path extends those bytes by its one entry
  * ([[append]]: O(entry) serialization, no parse); other rewrites
  * (expire, transaction and RTAS publishes, a base another writer
  * changed) serialize every entry. Every write leaves its bytes and its
  * log in the read memo, so the next [[SnapshotLog.read]] of an
  * unchanged log costs one file read and a byte compare.
  */
final case class SnapshotLog(snapshots: Seq[Snapshot]) {

  def current: Option[Snapshot] = snapshots.lastOption

  def byId(id: Long): Option[Snapshot] = snapshots.find(_.snapshotId == id)

  def nextId: Long = snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1

  def write(absPath: String): Unit =
    SnapshotLog.publish(absPath, Json.write(snapshots.map(SnapshotLog.toJson))
      .getBytes(StandardCharsets.UTF_8), this)

  /** Publish this log plus `snap` at `absPath` and return the new log.
    * When the memo's entry for the path is this very log, its bytes are
    * the file's last-seen bytes: the new file is them with `snap`'s entry
    * spliced in before the closing `]`. Otherwise a full [[write]]. */
  def append(absPath: String, snap: Snapshot): SnapshotLog = {
    val next = SnapshotLog(snapshots.toVector :+ snap)
    SnapshotLog.memoOf(absPath).filter(_.log eq this).map(_.bytes) match {
      case Some(prior) if snapshots.nonEmpty && prior.last == ']' =>
        val entry = Json.write(SnapshotLog.toJson(snap))
          .getBytes(StandardCharsets.UTF_8)
        val out = java.util.Arrays.copyOf(prior, prior.length + entry.length + 1)
        out(prior.length - 1) = ','
        System.arraycopy(entry, 0, out, prior.length, entry.length)
        out(out.length - 1) = ']'
        SnapshotLog.publish(absPath, out, next)
      case _ => next.write(absPath)
    }
    next
  }
}

object SnapshotLog {
  val empty: SnapshotLog = SnapshotLog(Seq.empty)

  /** Last parse or write per log path: the file's bytes and their log.
    * Keyed on CONTENT, not (size, mtime) like [[Manifest]]'s caches:
    * `snapshots.json` is rewritten in place, and a rewrite within the
    * filesystem's mtime granularity can keep both the size and the
    * mtime. Bounded LRU; entries are immutable, safe to share across
    * threads. */
  private final case class Parsed(bytes: Array[Byte], log: SnapshotLog)
  private val MemoCap = 64
  private val memo =
    new java.util.LinkedHashMap[String, Parsed](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Parsed]): Boolean =
        size() > MemoCap
    }

  private def memoOf(absPath: String): Option[Parsed] =
    memo.synchronized(Option(memo.get(absPath)))

  /** Write `bytes` (the serialization of `log`) at `absPath`, then seed
    * the memo: the writer's next read is a byte compare, not a parse. */
  private def publish(absPath: String, bytes: Array[Byte], log: SnapshotLog): Unit = {
    Json.writeFileAtomic(absPath, bytes)
    memo.synchronized(memo.put(absPath, Parsed(bytes, log)))
  }

  /** Log parse counter (memo misses only) — observable by specs
    * asserting a same-handle commit never parses the log it wrote. */
  private[table] val parses = new java.util.concurrent.atomic.AtomicLong

  /** Read the log at `absPath`. Always reads the file's bytes; parses
    * them only when they differ from those last parsed or written for
    * the path. */
  def read(absPath: String): SnapshotLog = {
    val p = Paths.get(absPath)
    val bytes =
      try Files.readAllBytes(p)
      catch { case _: java.nio.file.NoSuchFileException => return empty }
    memoOf(absPath).filter(h => java.util.Arrays.equals(h.bytes, bytes)) match {
      case Some(h) => h.log
      case None =>
        parses.incrementAndGet()
        val parsed = parse(bytes)
        memo.synchronized(memo.put(absPath, Parsed(bytes, parsed)))
        parsed
    }
  }

  private[table] def parse(bytes: Array[Byte]): SnapshotLog = {
    val arr = Json.parse(new String(bytes, StandardCharsets.UTF_8))
      .asInstanceOf[Seq[Any]]
    SnapshotLog(arr.map { e =>
      val m = e.asInstanceOf[Map[String, Any]]
      Snapshot(
        m("snapshot_id").asInstanceOf[Long],
        Option(m.getOrElse("parent_id", null)).map(_.asInstanceOf[Long]),
        m("committed_at").asInstanceOf[Long],
        m("operation").asInstanceOf[String],
        m("manifest_list").asInstanceOf[String],
        m.getOrElse("summary", Map.empty[String, Any])
          .asInstanceOf[Map[String, Any]]
          .map { case (k, v) => k -> v.toString })
    }.toVector)
  }

  private def toJson(s: Snapshot): Map[String, Any] = Map(
    "snapshot_id" -> s.snapshotId,
    "parent_id" -> s.parentId.map(Long.box).orNull,
    "committed_at" -> s.committedAt,
    "operation" -> s.operation,
    "manifest_list" -> s.manifestList,
    "summary" -> s.summary)
}
