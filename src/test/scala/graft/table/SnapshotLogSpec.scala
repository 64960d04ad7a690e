package graft.table

import java.nio.file.{Files, Paths}
import java.util.ConcurrentModificationException
import java.util.concurrent.{CyclicBarrier, Executors}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** [[SnapshotLog.read]] parses only when the log's bytes change: every
  * rewrite — same-length, shrinking, rolled back, or a racing handle's —
  * must read back as the new log, and a commit parses the log at most
  * once per attempt. */
class SnapshotLogSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false)))

  private def ids(from: Long, until: Long): DataFrame =
    spark.range(from, until, 1, 1).toDF("id")

  private def ofTable(t: GraftTable): Seq[Long] =
    t.read(spark).collect().map(_.getLong(0)).sorted.toSeq

  private def snap(id: Long, at: Long) = Snapshot(id,
    if (id > 1) Some(id - 1) else None, at, "append",
    f"manifests/snap-$id%05d.json", Map("added-records" -> "1"))

  test("a same-length rewrite with different content reads back as the new log") {
    val path = Paths.get(tmpDir("slog-rewrite"), "snapshots.json")
    SnapshotLog(Seq(snap(1, 1000L), snap(2, 2000L))).write(path.toString)
    assert(SnapshotLog.read(path.toString).snapshots.map(_.committedAt) ==
      Seq(1000L, 2000L))
    val size = Files.size(path)
    val mtime = Files.getLastModifiedTime(path)
    // same length AND same mtime: only the content tells them apart
    SnapshotLog(Seq(snap(1, 1000L), snap(2, 3000L))).write(path.toString)
    Files.setLastModifiedTime(path, mtime)
    assert(Files.size(path) == size)
    val reread = SnapshotLog.read(path.toString)
    assert(reread.snapshots.map(_.committedAt) == Seq(1000L, 3000L))
    // unchanged bytes are not parsed again
    val before = SnapshotLog.parses.get()
    assert(SnapshotLog.read(path.toString) == reread)
    assert(SnapshotLog.parses.get() == before)
    // a removed log reads as empty
    Files.delete(path)
    assert(SnapshotLog.read(path.toString) == SnapshotLog.empty)
  }

  test("the log reads back after expireSnapshots shrinks it and after rollbackTo") {
    val t = GraftTable.create(s"${tmpDir("slog-expire")}/t", schema)
    (1 to 4).foreach(i => t.append(ids(i * 10L, i * 10L + 3), Some(i * 1000L)))
    assert(t.log.snapshots.map(_.snapshotId) == (1L to 4L))
    assert(t.expireSnapshots(olderThanMillis = 2500L) == Seq(1L, 2L))
    assert(t.log.snapshots.map(_.snapshotId) == Seq(3L, 4L))
    assert(GraftTable.load(t.dir).log.snapshots.map(_.snapshotId) ==
      Seq(3L, 4L))
    t.rollbackTo(3L, Some(5000L))
    assert(t.log.snapshots.map(_.snapshotId) == Seq(3L, 4L, 5L))
    assert(t.log.current.map(_.operation).contains("rollback"))
    assert(ofTable(t) == Seq(10L, 11L, 12L, 20L, 21L, 22L, 30L, 31L, 32L))
  }

  test("two handles racing one table: the loser still gets ConcurrentModificationException") {
    val t = GraftTable.create(s"${tmpDir("slog-race")}/t", schema)
    t.append(ids(0L, 1L), Some(1000L))
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    var conflicts = 0
    var round = 0
    try {
      while (conflicts == 0 && round < 5) {
        round += 1
        // both handles have parsed the current log before they race
        val handles = Seq.fill(2)(GraftTable.load(t.dir))
        handles.foreach(_.log)
        val before = t.log.snapshots.size
        val barrier = new CyclicBarrier(2)
        val outcomes = Await.result(Future.sequence(
          handles.zipWithIndex.map { case (h, i) =>
            Future {
              barrier.await()
              Try(h.append(ids(round * 10L + i, round * 10L + i + 1)))
            }
          }), 120.seconds)
        outcomes.foreach(_.failed.foreach(e =>
          assert(e.isInstanceOf[ConcurrentModificationException], e)))
        val won = outcomes.count(_.isSuccess)
        assert(won >= 1)
        // every winner is in the log, no loser is
        assert(t.log.snapshots.size == before + won)
        conflicts += outcomes.count(_.isFailure)
      }
    } finally pool.shutdown()
    assert(conflicts > 0, s"the handles never raced in $round rounds")
    assert(ofTable(t).size == t.log.snapshots.size)
  }

  test("commitStreamFiles parses the log at most once per attempt") {
    val t = GraftTable.create(s"${tmpDir("slog-stream")}/t", schema)
    Files.createDirectories(Paths.get(t.dir, "data"))
    def staged(i: Long): String = {
      val out = tmpDir("slog-stage")
      ids(i * 10L, i * 10L + 5).write.mode("overwrite").parquet(out)
      val f = new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val rel = s"data/.stream-slog-$i.parquet"
      Files.copy(f.toPath, Paths.get(t.dir, rel))
      rel
    }
    (0L until 3L).foreach(i =>
      t.commitStreamFiles(Seq(staged(i)), "sink", i, Some(1000L + i)))
    // one attempt: the log changed since the last commit read it, so
    // one parse; commit()'s post-claim re-read is a byte compare
    val rel = staged(3L)
    val before = SnapshotLog.parses.get()
    assert(t.commitStreamFiles(Seq(rel), "sink", 3L).isDefined)
    assert(SnapshotLog.parses.get() - before <= 1)
    // a replayed batch reads the log once and commits nothing
    val dup = staged(3L)
    val beforeReplay = SnapshotLog.parses.get()
    assert(t.commitStreamFiles(Seq(dup), "sink", 3L).isEmpty)
    assert(SnapshotLog.parses.get() - beforeReplay <= 1)
    assert(!Files.exists(Paths.get(t.dir, dup)))
    // a claim held elsewhere fails all six attempts; the log never
    // changes, so none of them parses it again
    val nextId = t.log.nextId
    val marker = Paths.get(t.dir, "manifests", f".commit-$nextId%05d")
    Files.createFile(marker)
    val held = staged(4L)
    val beforeHeld = SnapshotLog.parses.get()
    intercept[ConcurrentModificationException] {
      t.commitStreamFiles(Seq(held), "sink", 4L)
    }
    assert(SnapshotLog.parses.get() - beforeHeld <= 1)
    assert(!Files.exists(Paths.get(t.dir, held)))
    Files.delete(marker)
    assert(t.commitStreamFiles(Seq(staged(4L)), "sink", 4L).isDefined)
    assert(ofTable(t).size == 25)
  }
}
