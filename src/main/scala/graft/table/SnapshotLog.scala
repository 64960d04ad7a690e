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
  * one entry per commit — data volume lives in parquet, not here. Each
  * commit rewrites the whole file and parses it back: O(history) bytes,
  * about 2–3 ms per commit at 300 snapshots (91 KB). Reads skip the
  * parse when the bytes equal the ones last parsed for that path
  * ([[SnapshotLog.read]]), so a re-read of an unchanged log costs one
  * file read and a byte compare.
  */
final case class SnapshotLog(snapshots: Seq[Snapshot]) {

  def current: Option[Snapshot] = snapshots.lastOption

  def byId(id: Long): Option[Snapshot] = snapshots.find(_.snapshotId == id)

  def nextId: Long = snapshots.map(_.snapshotId).maxOption.getOrElse(0L) + 1

  def write(absPath: String): Unit = {
    val arr = snapshots.map { s =>
      Map(
        "snapshot_id" -> s.snapshotId,
        "parent_id" -> s.parentId.map(Long.box).orNull,
        "committed_at" -> s.committedAt,
        "operation" -> s.operation,
        "manifest_list" -> s.manifestList,
        "summary" -> s.summary)
    }
    Json.writeFileAtomic(absPath, Json.write(arr))
  }
}

object SnapshotLog {
  val empty: SnapshotLog = SnapshotLog(Seq.empty)

  /** Last parse per log path: the bytes it was parsed from and the
    * result. Keyed on CONTENT, not (size, mtime) like [[Manifest]]'s
    * caches: `snapshots.json` is rewritten in place, and a rewrite
    * within the filesystem's mtime granularity can keep both the size
    * and the mtime. Bounded LRU; entries are immutable, safe to share
    * across threads. */
  private final case class Parsed(bytes: Array[Byte], log: SnapshotLog)
  private val MemoCap = 64
  private val memo =
    new java.util.LinkedHashMap[String, Parsed](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Parsed]): Boolean =
        size() > MemoCap
    }

  /** Log parse counter (memo misses only) — observable by specs
    * asserting a commit parses the log at most once per attempt. */
  private[table] val parses = new java.util.concurrent.atomic.AtomicLong

  /** Read the log at `absPath`. Always reads the file's bytes; parses
    * them only when they differ from those last parsed for the path. */
  def read(absPath: String): SnapshotLog = {
    val p = Paths.get(absPath)
    val bytes =
      try Files.readAllBytes(p)
      catch { case _: java.nio.file.NoSuchFileException => return empty }
    val hit = memo.synchronized(Option(memo.get(absPath)))
    hit.filter(h => java.util.Arrays.equals(h.bytes, bytes)) match {
      case Some(h) => h.log
      case None =>
        parses.incrementAndGet()
        val parsed = parse(new String(bytes, StandardCharsets.UTF_8))
        memo.synchronized(memo.put(absPath, Parsed(bytes, parsed)))
        parsed
    }
  }

  private def parse(text: String): SnapshotLog = {
    val arr = Json.parse(text).asInstanceOf[Seq[Any]]
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
    })
  }
}
