package graft.table

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** A commit hands what it wrote to the next reader: the manifest list
  * goes into `Manifest`'s list cache once the snapshot is published, the
  * log's bytes and parse into `SnapshotLog`'s memo, and an append extends
  * the log file instead of re-serializing it. Every handed-over object
  * must equal a cold parse of its file, a failed commit must hand over
  * nothing, and no cache entry may outlive the file it was parsed from. */
class WriteThroughSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false)))

  private def ids(from: Long, until: Long): DataFrame =
    spark.range(from, until, 1, 1).toDF("id")

  private def ofTable(t: GraftTable): Seq[Long] =
    t.read(spark).collect().map(_.getLong(0)).sorted.toSeq

  private def norm(p: String): String = Paths.get(p).normalize().toString

  /** One 5-row parquet file, copied into each stream batch. */
  private lazy val streamFile: Path = {
    val out = tmpDir("wt-stream-src")
    ids(0L, 5L).write.mode("overwrite").parquet(out)
    new java.io.File(out).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
  }

  private def staged(t: GraftTable, i: Long): String = {
    val rel = s"data/.stream-wt-$i.parquet"
    Files.createDirectories(Paths.get(t.dir, "data"))
    Files.copy(streamFile, Paths.get(t.dir, rel))
    rel
  }

  private def sameList(got: Manifest, want: Manifest): Unit = {
    assert(got.segments.size == want.segments.size)
    got.segments.zip(want.segments).foreach { case (g, w) =>
      assert(g.ref == w.ref)
      assert((g.fileCount, g.recordCount, g.sizeBytes) ==
        (w.fileCount, w.recordCount, w.sizeBytes))
      assert(g.envelope == w.envelope, s"envelope of ${g.ref}")
    }
  }

  private def logBytes(t: GraftTable, log: String = "snapshots.json")
      : Array[Byte] =
    Files.readAllBytes(Paths.get(t.dir, log))

  private def snap(id: Long) = Snapshot(id,
    if (id > 1) Some(id - 1) else None, id * 1000L, "append",
    f"manifests/snap-$id%05d.json", Map("added-records" -> "1"))

  test("append splices its entry into the bytes the log was read from") {
    val path = Paths.get(tmpDir("wt-splice"), "snapshots.json")
    def text: String = Files.readString(path)
    SnapshotLog(Seq(snap(1))).write(path.toString)
    val canonical = text
    // bytes this writer did not produce, ending in `]`: spliced as read
    val spaced = "[ " + canonical.drop(1).dropRight(1) + " ]"
    Files.writeString(path, spaced)
    val one = SnapshotLog.read(path.toString)
    val two = one.append(path.toString, snap(2))
    assert(text.startsWith(spaced.dropRight(1) + ","))
    assert(two == SnapshotLog.parse(Files.readAllBytes(path)))
    assert(two.snapshots == Seq(snap(1), snap(2)))
    // a log whose memo entry is another object (another writer's log)
    // gets a full write of itself plus the entry
    SnapshotLog(Seq(snap(1), snap(2))).write(path.toString)
    val full = text
    SnapshotLog(Seq(snap(7))).write(path.toString)
    assert(one.append(path.toString, snap(2)) == two)
    assert(text == full)
    // bytes that do not end in `]` get a full write
    Files.writeString(path, canonical + "\n")
    SnapshotLog.read(path.toString).append(path.toString, snap(2))
    assert(text == full)
    assert(SnapshotLog.read(path.toString) == two)
  }

  test("same-handle commits parse neither the log nor the lists they wrote") {
    val t = GraftTable.create(s"${tmpDir("wt-handle")}/t", schema)
    streamFile
    val logParses = SnapshotLog.parses.get()
    val listParses = Manifest.listParses.get()
    var prev = Manifest.empty
    def handedOver(): Unit = {
      // the handle's log is the memo's, and equals a parse of the file
      assert(t.log == SnapshotLog.parse(logBytes(t)))
      val path = s"${t.dir}/${t.log.current.get.manifestList}"
      val list = Manifest.read(path)
      sameList(list, Manifest.parseList(path))
      // segments carried from the parent are the parent's own objects
      val carried = prev.segments.flatMap(s => s.ref.map(_ -> s)).toMap
      list.segments.foreach(s => s.ref.flatMap(carried.get).foreach(p =>
        assert(s eq p, s"carried segment ${s.ref} was copied")))
      prev = list
    }
    (0L until 50L).foreach { i =>
      assert(t.commitStreamFiles(Seq(staged(t, i)), "sink", i,
        Some(1000L + i)).isDefined)
      handedOver()
    }
    (0L until 10L).foreach { i =>
      t.append(ids(1000L + i * 10L, 1003L + i * 10L), Some(2000L + i))
      handedOver()
    }
    assert(SnapshotLog.parses.get() == logParses,
      "a commit parsed a log this handle wrote")
    assert(Manifest.listParses.get() == listParses,
      "a commit parsed a manifest list this handle wrote")
    assert(t.log.snapshots.size == 60)
    assert(ofTable(t).size == 50 * 5 + 10 * 3)
  }

  test("the appended log parses to the handle's log across expire, rollback, transaction and RTAS") {
    val wh = tmpDir("wt-mix")
    val cat = new GraftCatalog(wh)
    val t = cat.createTable("db.t", schema)
    def agrees(h: GraftTable, log: String = "snapshots.json"): Unit =
      assert(h.log == SnapshotLog.parse(logBytes(h, log)))
    // a commit keeps every byte of the log before its closing bracket
    def appended(h: GraftTable, log: String = "snapshots.json")(
        commit: => Unit): Unit = {
      val before = logBytes(h, log)
      commit
      val after = logBytes(h, log)
      assert(after.length > before.length &&
        after.startsWith(before.dropRight(1)), "the commit lost log bytes")
      agrees(h, log)
    }
    (1 to 4).foreach(i =>
      appended(t)(t.append(ids(i * 10L, i * 10L + 3), Some(i * 1000L))))
    assert(t.expireSnapshots(olderThanMillis = 2500L) == Seq(1L, 2L))
    agrees(t)
    appended(t)(t.append(ids(50L, 53L), Some(5000L)))
    appended(t)(t.rollbackTo(4L, Some(6000L)))
    assert(ofTable(t) == Seq(10L, 11L, 12L, 20L, 21L, 22L, 30L, 31L, 32L,
      40L, 41L, 42L))
    val txn = cat.beginTransaction()
    val st = txn.table("db.t")
    val stagedLog = scala.util.Using.resource(Files.list(Paths.get(t.dir))) {
      _.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("snapshots.json.txn-")).toSeq
    }
    assert(stagedLog.size == 1)
    appended(st, stagedLog.head)(st.append(ids(60L, 63L), Some(7000L)))
    txn.commit()
    agrees(t)
    appended(t)(t.append(ids(70L, 73L), Some(8000L)))
    assert(ofTable(t).takeRight(6) == Seq(60L, 61L, 62L, 70L, 71L, 72L))
    val r = GraftTable.replaceAtomic(t.dir, ids(100L, 103L),
      committedAt = Some(9000L))
    agrees(r)
    agrees(t)
    val h = GraftTable.load(t.dir)
    appended(h)(h.append(ids(110L, 113L), Some(10000L)))
    assert(h.log.snapshots.map(_.snapshotId) == Seq(1L, 2L))
    assert(ofTable(GraftTable.load(t.dir)) ==
      Seq(100L, 101L, 102L, 110L, 111L, 112L))
  }

  test("a failed log write leaves no seeded list, and the retry reads its own list") {
    val t = GraftTable.create(s"${tmpDir("wt-fail")}/t", schema)
    t.append(ids(0L, 3L), Some(1000L))
    val parent = Manifest.read(s"${t.dir}/${t.log.current.get.manifestList}")
    val list = s"${t.dir}/manifests/snap-00002.json"
    var dead = Seq.empty[String]
    GraftTable.commitCrashAt = {
      case "log" =>
        // the attempt's fresh segment and its list
        dead = Manifest.parseList(list).segmentRefs
          .filterNot(parent.segmentRefs.contains)
          .map(r => norm(s"${t.dir}/$r")) :+ norm(list)
        throw new java.io.IOException("log write failed")
      case _ => ()
    }
    try intercept[java.io.IOException](t.append(ids(10L, 13L), Some(2000L)))
    finally GraftTable.commitCrashAt = _ => ()
    assert(dead.size == 2)
    dead.foreach(p => assert(!Files.exists(Paths.get(p)), p))
    assert(Manifest.cachedPaths.intersect(dead.toSet).isEmpty,
      "a cache holds an entry for a list or segment of the failed commit")
    assert(t.log.snapshots.size == 1)
    // the retry claims the same id, so it writes the same list path
    t.append(ids(20L, 23L), Some(2000L))
    assert(s"${t.dir}/${t.log.current.get.manifestList}" == list)
    val got = Manifest.read(list)
    sameList(got, Manifest.parseList(list))
    assert(got.segmentRefs.map(r => norm(s"${t.dir}/$r")).intersect(dead).isEmpty)
    assert(ofTable(t) == Seq(0L, 1L, 2L, 20L, 21L, 22L))
  }

  test("expire and the orphan sweep leave no cache entry for a file they delete") {
    val t = GraftTable.create(s"${tmpDir("wt-forget")}/t", schema)
    (1 to 4).foreach(i => t.append(ids(i * 10L, i * 10L + 3), Some(i * 1000L)))
    // a copy-on-write delete rewrites snapshot 1's segment and file
    t.delete(spark, col("id") === 10L, Some(5000L))
    def files: Set[String] =
      scala.util.Using.resource(Files.walk(Paths.get(t.dir))) { st =>
        st.iterator().asScala.filter(Files.isRegularFile(_))
          .map(p => norm(p.toString)).toSet
      }
    // every list and segment of the history is cached
    t.log.snapshots.foreach(s =>
      Manifest.read(s"${t.dir}/${s.manifestList}").files)
    val before = files
    assert(t.expireSnapshots(olderThanMillis = 4500L) == Seq(1L, 2L, 3L, 4L))
    val gone = before -- files
    assert(gone.exists(_.contains("/manifests/snap-")) &&
      gone.exists(_.contains("/manifests/seg-")), gone)
    assert(Manifest.cachedPaths.intersect(gone).isEmpty,
      "a cache entry outlived an expired file")
    // a list no snapshot names, cached by a read, then swept
    val live = t.log.current.get.manifestList
    val orphan = Paths.get(t.dir, "manifests", "snap-09999.json")
    Files.copy(Paths.get(t.dir, live), orphan)
    Files.setLastModifiedTime(orphan, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 60000L))
    Manifest.read(orphan.toString)
    assert(Manifest.cachedPaths.contains(norm(orphan.toString)))
    assert(t.removeOrphanFiles(olderThanMillis = 1000L) ==
      Seq("manifests/snap-09999.json"))
    val swept = !Manifest.cachedPaths.contains(norm(orphan.toString))
    assert(swept, "a cache entry outlived a swept orphan")
    assert(ofTable(t) == Seq(11L, 12L, 20L, 21L, 22L, 30L, 31L, 32L,
      40L, 41L, 42L))
  }
}
