package graft.table

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.util.Json

/** One data file tracked by a snapshot's manifest.
  *
  * `path` is relative to the table root so tables are relocatable.
  * Stats mirror Iceberg's per-file metrics (reference:
  * TestHelpers.java:94-98) and drive min/max file pruning
  * (reference analog: `scan.filter(expr).planTasks()`,
  * IcebergInputFormat.java:102-107).
  */
final case class DataFileEntry(
    path: String,
    recordCount: Long,
    fileSizeBytes: Long,
    stats: Map[String, ColumnStats],
    partition: Map[String, Option[String]] = Map.empty,
    blooms: Map[String, String] = Map.empty,
    /** ROW LINEAGE (Iceberg v3 `first-row-id` analog): the first row id
      * of this file's band — a row's `_row_id` is `firstRowId + its
      * position` unless the file carries a materialized lineage column
      * (rewrites preserving prior ids). Assigned once at commit from
      * the snapshot's `next-row-id` watermark; None on files committed
      * before the table had lineage (their rows read a NULL `_row_id`
      * until a rewrite assigns them — the Iceberg pre-upgrade stance). */
    firstRowId: Option[Long] = None,
    /** The file physically carries materialized `_gf_rid`/`_gf_seq`
      * lineage columns (it was written by a rewrite carrying prior row
      * ids; NULL cells inherit from `firstRowId` + position). */
    hasRowIds: Boolean = false)

/** One shard of a snapshot's file list — the reusable unit of the
  * two-level manifest design (Iceberg's manifest-list → manifest files,
  * which is what lets a commit against a million-file table write
  * O(batch) metadata instead of re-serializing every entry).
  *
  *  - `ref = Some(relPath)`: an IMMUTABLE on-disk segment
  *    (`manifests/seg-…json`) shared by every snapshot whose manifest
  *    list points at it. Its entries are parsed LAZILY (and cached), so
  *    a commit that only carries the ref forward never reads it.
  *  - `ref = None`: fresh in-memory entries this commit introduced;
  *    [[Manifest.write]] persists them as a new segment file.
  *
  * `fileCount`/`recordCount`/`sizeBytes` ride in the manifest list, so
  * snapshot-level totals need no segment reads.
  */
final class ManifestSegment private (
    val ref: Option[String],
    filesThunk: () => Vector[DataFileEntry],
    val fileCount: Long,
    val recordCount: Long,
    val sizeBytes: Long,
    /** Segment-level pruning envelope (per-column merged min/max/null
      * stats — [[ColumnStats.mergeEnvelope]]), carried IN THE MANIFEST
      * LIST so predicate-scoped scans and DML skip whole segments
      * without parsing them (Iceberg's manifest-list partition-summary
      * analog). None = unknown (schema-less writers) —
      * consumers must then parse. */
    val envelope: Option[Map[String, ColumnStats]]) {
  lazy val files: Vector[DataFileEntry] = filesThunk()
}

object ManifestSegment {
  /** Fresh entries introduced by the current commit. The envelope is
    * computed at [[Manifest.write]] time (it needs the table schema for
    * type-aware bound merging). */
  def fresh(entries: Seq[DataFileEntry]): ManifestSegment = {
    val v = entries.toVector
    new ManifestSegment(None, () => v, v.size.toLong,
      v.map(_.recordCount).sum, v.map(_.fileSizeBytes).sum, None)
  }

  /** A lazily-parsed on-disk segment referenced from a manifest list. */
  private[table] def loaded(
      ref: String,
      tableDir: String,
      fileCount: Long,
      recordCount: Long,
      sizeBytes: Long,
      envelope: Option[Map[String, ColumnStats]] = None): ManifestSegment =
    new ManifestSegment(Some(ref),
      () => Manifest.readSegmentFiles(s"$tableDir/$ref"),
      fileCount, recordCount, sizeBytes, envelope)
}

/** The file list of one snapshot as an ordered list of segments.
  *
  * The public surface the table layer consumes is unchanged — `files`
  * concatenates the segments — but commits now express themselves as
  * segment reuse: [[append]] carries every prior ref and adds one fresh
  * segment (O(batch) bytes written whatever the table size), and
  * [[retainPaths]] keeps untouched segments by ref while rewriting only
  * the segments a DML actually punched files out of.
  */
final class Manifest private[table] (val segments: Vector[ManifestSegment]) {

  lazy val files: Seq[DataFileEntry] = segments.flatMap(_.files)

  def totalRecords: Long = segments.map(_.recordCount).sum
  def totalFiles: Long = segments.map(_.fileCount).sum
  def totalBytes: Long = segments.map(_.sizeBytes).sum

  /** Segment refs this manifest shares (for expiration ref-counting). */
  def segmentRefs: Seq[String] = segments.flatMap(_.ref)

  /** Transform only the FRESH (ref-less) segments' entries — the commit
    * chokepoint's row-id assignment hook; carried segments stay by ref
    * (never parsed, never re-serialized). */
  private[table] def mapFresh(f: DataFileEntry => DataFileEntry): Manifest =
    new Manifest(segments.map { s =>
      if (s.ref.isDefined) s else ManifestSegment.fresh(s.files.map(f))
    })

  /** All prior segments carried by ref + one fresh segment of `newFiles`.
    * Never parses the carried segments. */
  def append(newFiles: Seq[DataFileEntry]): Manifest =
    if (newFiles.isEmpty) this
    else new Manifest(segments :+ ManifestSegment.fresh(newFiles))

  /** Keep only files whose path is in `keep`: segments fully inside the
    * set carry over by ref (no parse of on-disk content beyond what the
    * caller already forced); partially-covered segments are rewritten as
    * fresh segments of their survivors; emptied segments drop. */
  def retainPaths(keep: Set[String]): Manifest =
    new Manifest(segments.flatMap { seg =>
      val kept = seg.files.filter(f => keep.contains(f.path))
      if (kept.size == seg.files.size) Some(seg)
      else if (kept.isEmpty) None
      else Some(ManifestSegment.fresh(kept))
    })

  /** Predicate-pruned file list with SEGMENT-level skipping: a segment
    * whose envelope rules the predicate out contributes nothing — and is
    * never parsed. The per-query planning cost on a large table drops
    * from O(all files) JSON parse to O(matching segments). */
  def prunedFiles(
      segMayMatch: ManifestSegment => Boolean,
      fileKeep: DataFileEntry => Boolean): Seq[DataFileEntry] =
    segments.flatMap { seg =>
      if (!segMayMatch(seg)) Vector.empty
      else seg.files.filter(fileKeep)
    }

  /** Split into (candidate files, manifest of everything else) for
    * predicate-scoped DML: segments the envelope rules out carry over
    * BY REF — unparsed, unserialized; only segments that may hold
    * matching rows are parsed and (if partially touched) rewritten.
    * Equivalent to `files.partition(fileKeep)` + [[retainPaths]], minus
    * the full parse. */
  def partitionFiles(
      segMayMatch: ManifestSegment => Boolean,
      fileKeep: DataFileEntry => Boolean): (Seq[DataFileEntry], Manifest) = {
    val cands = Vector.newBuilder[DataFileEntry]
    val rest = segments.flatMap { seg =>
      if (!segMayMatch(seg)) Some(seg) // untouched whole segment, by ref
      else {
        val (c, keep) = seg.files.partition(fileKeep)
        cands ++= c
        if (c.isEmpty) Some(seg) // parsed, but carried unchanged by ref
        else if (keep.isEmpty) None
        else Some(ManifestSegment.fresh(keep))
      }
    }
    (cands.result(), new Manifest(rest))
  }

  /** Persist at `absPath` (`…/manifests/snap-<id>.json`): fresh segments
    * land as immutable `manifests/seg-<id>-<k>-<token>.json` files, then
    * the manifest list records every segment's ref + totals. Small fresh
    * segments accumulated over many commits are coalesced first (bounded
    * amortized cost — see [[Manifest.coalesceThreshold]]) so list length
    * stays O(table/segment-target), not O(commits).
    *
    * Returns the list as written — what a [[Manifest.read]] of
    * `absPath` would parse, its carried segments the very objects of
    * this manifest — and the table-root-relative paths of the segment
    * files this call CREATED (for crash-cleanup by the committer). */
  def write(
      absPath: String,
      envSchema: Option[org.apache.spark.sql.types.StructType] = None)
      : (Manifest, Seq[String]) = {
    val p = Paths.get(absPath)
    val manifestsDir = p.getParent
    val tableDir = manifestsDir.getParent
    val snapTag = p.getFileName.toString
      .stripPrefix("snap-").stripSuffix(".json")
    val token = java.util.UUID.randomUUID().toString.take(8)
    val coalesced = Manifest.coalesceSmall(segments)
    val created = Seq.newBuilder[String]
    var k = 0
    val withRefs = coalesced.map { seg =>
      seg.ref match {
        case Some(_) => seg
        case None =>
          val rel = s"manifests/seg-$snapTag-$k-$token.json"
          k += 1
          Json.writeFileAtomic(s"$tableDir/$rel",
            Json.write(Map("files" -> seg.files.map(Manifest.entryToJson))))
          created += rel
          // fresh segments get their envelope HERE (files are already in
          // memory; the schema types the bound merge); carried segments
          // keep theirs untouched below
          val env = envSchema.map(sch =>
            ColumnStats.mergeEnvelope(seg.files, sch))
          ManifestSegment.loaded(rel, tableDir.toString,
            seg.fileCount, seg.recordCount, seg.sizeBytes, env)
      }
    }
    val listObj = Map("segments" -> withRefs.map { seg =>
      val base = Map[String, Any](
        "path" -> seg.ref.get,
        "file_count" -> seg.fileCount,
        "record_count" -> seg.recordCount,
        "size_bytes" -> seg.sizeBytes)
      seg.envelope match {
        case Some(env) => base + ("stats" -> env.map { case (c, st) =>
          c -> Map(
            "min" -> st.min.orNull,
            "max" -> st.max.orNull,
            "null_count" -> st.nullCount.map(Long.box).orNull,
            "value_count" -> st.valueCount.map(Long.box).orNull)
        })
        case None => base
      }
    })
    Json.writeFileAtomic(absPath, Json.write(listObj))
    (new Manifest(withRefs), created.result())
  }
}

object Manifest {

  val empty: Manifest = new Manifest(Vector.empty)

  /** All entries as one fresh segment (fork/publish re-addressing, tests). */
  def apply(files: Seq[DataFileEntry]): Manifest =
    if (files.isEmpty) empty
    else new Manifest(Vector(ManifestSegment.fresh(files)))

  /** Segment-coalescing policy: once a manifest list carries more than
    * `coalesceMaxSegments` segments, every segment smaller than
    * `coalesceSmallFiles` entries is merged into one fresh segment.
    * Append-heavy histories therefore pay a bounded, amortized rewrite
    * (a segment that grows past the threshold is never merged again)
    * instead of accumulating one tiny segment per commit — the same
    * trade Iceberg's `commit.manifest-merge.enabled` makes. */
  private[table] val coalesceMaxSegments = 32
  private[table] val coalesceSmallFiles = 512

  private[table] def coalesceSmall(
      segments: Vector[ManifestSegment]): Vector[ManifestSegment] = {
    if (segments.size <= coalesceMaxSegments) return segments
    val (small, big) =
      segments.partition(_.fileCount < coalesceSmallFiles)
    if (small.size <= 1) segments
    else big ++ Vector(ManifestSegment.fresh(small.flatMap(_.files)))
  }

  /** A bounded LRU of parsed write-once files, one entry per
    * (normalized) path, stamped with the file's (size, mtime) when it was
    * cached: an entry serves only a file with that stamp, so a table
    * DROPPED AND RECREATED at the same path (tests do this; prod can)
    * never serves the old table's content. Entries are immutable, safe to
    * share across threads. */
  private final class FileCache[A <: AnyRef](cap: Int) {
    private val map =
      new java.util.LinkedHashMap[String, (Long, Long, A)](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, (Long, Long, A)]): Boolean =
          size() > cap
      }
    /** The entry for `absPath` if it serves the file's current stamp,
      * else `parse`'s result, cached under that stamp. */
    def apply(absPath: String)(parse: => A): A = {
      val key = norm(absPath)
      val st = stamp(absPath)
      synchronized(Option(map.get(key))).collect {
        case (size, mtime, v) if (size, mtime) == st => v
      }.getOrElse {
        val v = parse
        synchronized(map.put(key, (st._1, st._2, v)))
        v
      }
    }
    def put(absPath: String, v: A): Unit = {
      val (size, mtime) = stamp(absPath)
      synchronized(map.put(norm(absPath), (size, mtime, v)): Unit)
    }
    def remove(absPath: String): Unit =
      synchronized(map.remove(norm(absPath)): Unit)
    def paths: Set[String] = synchronized(map.keySet.asScala.toSet)
  }

  private def norm(absPath: String): String =
    Paths.get(absPath).normalize().toString

  private def stamp(absPath: String): (Long, Long) = {
    val attrs = Files.readAttributes(Paths.get(absPath),
      classOf[java.nio.file.attribute.BasicFileAttributes])
    (attrs.size(), attrs.lastModifiedTime().toMillis)
  }

  /** Parsed-segment cache. Segment files are write-once (named by the
    * claimed snapshot id + a random token; losers clean up), so a repeat
    * scan skips the O(files) JSON parse on the driver — at 100 TB that
    * parse is the per-query planning floor. Never seeded by a write: a
    * fresh segment is parsed on its first read. */
  private val CacheCap = 256
  private val cache = new FileCache[Vector[DataFileEntry]](CacheCap)

  /** Parsed manifest-LIST cache. Lists are write-once like segments
    * (`snap-<id>.json`, atomic publish), and the hot paths — loadTable
    * per SQL query, scan planning, stream pacing, the next commit's
    * parent — all start with a `Manifest.read` of the current list; a
    * hit skips the O(segments) JSON parse. A commit [[seed]]s the list it
    * wrote once its snapshot is published, so the lists one writer
    * commits share their carried segments (descriptors and envelopes)
    * instead of each parse holding its own copies. A cached [[Manifest]]
    * is immutable and its lazy segment thunks are themselves backed by
    * the segment cache, so sharing one object across readers only
    * improves locality. */
  private val listCache = new FileCache[Manifest](CacheCap)

  /** Hand the list a commit wrote at `absPath` to the next reader. Call
    * only after the snapshot naming it is published: an unpublished list
    * can be deleted and rewritten at the same path and stamp. */
  private[table] def seed(absPath: String, written: Manifest): Unit =
    listCache.put(absPath, written)

  /** Drop every cached parse of `absPath` — called for each file a
    * commit abandons, expire reclaims or the orphan sweep deletes, so no
    * cache entry outlives its file. */
  private[table] def forget(absPath: String): Unit = {
    listCache.remove(absPath)
    cache.remove(absPath)
  }

  /** Normalized paths of every cached list and segment (tests). */
  private[table] def cachedPaths: Set[String] = listCache.paths ++ cache.paths

  /** Read a snapshot's manifest list: lazy segments, so a caller that
    * never touches `.files` (an append commit, expire's ref counting)
    * reads only the list. */
  def read(absPath: String): Manifest =
    listCache(absPath) {
      listParses.incrementAndGet()
      parseList(absPath)
    }

  /** Parse the list at `absPath` from disk, bypassing the cache. */
  private[table] def parseList(absPath: String): Manifest = {
    val tableDir = Paths.get(absPath).getParent.getParent.toString
    val obj = Json.parseObject(Files.readString(Paths.get(absPath)))
    new Manifest(obj("segments").asInstanceOf[Seq[Any]].map { s =>
      val m = s.asInstanceOf[Map[String, Any]]
      val env = m.get("stats").map(_.asInstanceOf[Map[String, Any]]
        .map { case (c, raw) =>
          val sm = raw.asInstanceOf[Map[String, Any]]
          c -> ColumnStats(
            Option(sm.getOrElse("min", null)).map(_.toString),
            Option(sm.getOrElse("max", null)).map(_.toString),
            Option(sm.getOrElse("null_count", null))
              .map(_.asInstanceOf[Long]),
            Option(sm.getOrElse("value_count", null))
              .map(_.asInstanceOf[Long]))
        })
      ManifestSegment.loaded(
        m("path").asInstanceOf[String],
        tableDir,
        m("file_count").asInstanceOf[Long],
        m("record_count").asInstanceOf[Long],
        m("size_bytes").asInstanceOf[Long],
        env)
    }.toVector)
  }

  /** Manifest-LIST parse counter (cache misses only) — observable by
    * streaming specs asserting a catch-up over N snapshots walks the
    * chain once (N+1 list parses, not 2N — [[SnapshotDiffs]]). */
  private[table] val listParses =
    new java.util.concurrent.atomic.AtomicLong

  /** Absolute paths of segments ever parsed from disk (cache misses) —
    * observable by scale tests asserting a predicate-scoped operation
    * did NOT parse untouched segments. Bounded: evictions follow the
    * parse cache's own LRU churn, which the tests don't reach. */
  private[table] val parsedSegmentPaths =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private[table] def readSegmentFiles(absPath: String): Vector[DataFileEntry] =
    cache(absPath) {
      if (parsedSegmentPaths.size > 4096) parsedSegmentPaths.clear()
      parsedSegmentPaths.add(absPath)
      parseEntries(Json.parseObject(Files.readString(Paths.get(absPath))))
    }

  private def parseEntries(obj: Map[String, Any]): Vector[DataFileEntry] =
    obj.getOrElse("files", Seq.empty[Any]).asInstanceOf[Seq[Any]].map { f =>
      val m = f.asInstanceOf[Map[String, Any]]
      val stats = m.getOrElse("stats", Map.empty[String, Any])
        .asInstanceOf[Map[String, Any]]
        .map { case (c, s) =>
          val sm = s.asInstanceOf[Map[String, Any]]
          c -> ColumnStats(
            Option(sm.getOrElse("min", null)).map(_.toString),
            Option(sm.getOrElse("max", null)).map(_.toString),
            Option(sm.getOrElse("null_count", null)).map(_.asInstanceOf[Long]),
            Option(sm.getOrElse("value_count", null)).map(_.asInstanceOf[Long]))
        }
      val partition = m.getOrElse("partition", Map.empty[String, Any])
        .asInstanceOf[Map[String, Any]]
        .map { case (c, v) => c -> Option(v).map(_.toString) }
      val blooms = m.getOrElse("blooms", Map.empty[String, Any])
        .asInstanceOf[Map[String, Any]]
        .map { case (c, v) => c -> v.toString }
      DataFileEntry(
        m("path").asInstanceOf[String],
        m("record_count").asInstanceOf[Long],
        m("file_size_bytes").asInstanceOf[Long],
        stats,
        partition,
        blooms,
        m.get("first_row_id").collect { case l: Long => l },
        m.get("row_ids").contains(true))
    }.toVector

  private[table] def entryToJson(f: DataFileEntry): Map[String, Any] = {
    val base = Map[String, Any](
      "path" -> f.path,
      "record_count" -> f.recordCount,
      "file_size_bytes" -> f.fileSizeBytes,
      "stats" -> f.stats.map { case (c, st) =>
        c -> Map(
          "min" -> st.min.orNull,
          "max" -> st.max.orNull,
          "null_count" -> st.nullCount.map(Long.box).orNull,
          "value_count" -> st.valueCount.map(Long.box).orNull)
      })
    val withPart =
      if (f.partition.isEmpty) base
      else base + ("partition" -> f.partition.map { case (c, v) => c -> v.orNull })
    val withBlooms =
      if (f.blooms.isEmpty) withPart
      else withPart + ("blooms" -> f.blooms)
    val withRid = f.firstRowId match {
      case Some(id) => withBlooms + ("first_row_id" -> id)
      case None => withBlooms
    }
    if (f.hasRowIds) withRid + ("row_ids" -> true) else withRid
  }
}
