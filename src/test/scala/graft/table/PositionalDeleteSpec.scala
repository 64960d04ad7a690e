package graft.table

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** POSITIONAL merge-on-read deletes (Iceberg v2 position deletes):
  * row-level deletes recorded as per-file deletion vectors — no data
  * rewrite at commit, in-reader filters at read, exact counts from the
  * summary bookkeeping, materialization through compaction, reclamation
  * through expiration, and composition with the copy-on-write DML.
  */
class PositionalDeleteSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("data", StringType, nullable = true)))

  private def mkDf(rows: (Long, String)*) = {
    val rdd = spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1)
    spark.createDataFrame(rdd, schema)
  }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-posdel").toString

  private def ids(t: GraftTable, snap: Option[Long] = None): Seq[Long] =
    t.read(spark, snap).select("id").collect().map(_.getLong(0)).sorted.toSeq

  private def dataFiles(dir: String): Seq[String] = {
    val p = java.nio.file.Paths.get(s"$dir/data")
    if (!java.nio.file.Files.exists(p)) return Nil
    val st = java.nio.file.Files.walk(p)
    try {
      val it = st.iterator()
      val buf = Seq.newBuilder[String]
      while (it.hasNext) { val x = it.next(); if (x.toString.endsWith(".parquet")) buf += x.toString }
      buf.result()
    } finally st.close()
  }

  private def deleteFiles(dir: String): Seq[String] = {
    val p = java.nio.file.Paths.get(s"$dir/deletes")
    if (!java.nio.file.Files.exists(p)) return Nil
    val st = java.nio.file.Files.list(p)
    try {
      val it = st.iterator()
      val buf = Seq.newBuilder[String]
      // deletion-vector bins (and equality key parquets)
      while (it.hasNext) {
        val x = it.next()
        if (x.toString.endsWith(".parquet") || x.toString.endsWith(".bin"))
          buf += x.toString
      }
      buf.result()
    } finally st.close()
  }

  test("delete writes positions, not data; reads hide rows; time travel sees them") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema)
    t.append(mkDf(1L -> "a", 2L -> "drop", 3L -> "c"), Some(1000L))
    t.append(mkDf(4L -> "drop", 5L -> "e"), Some(2000L))
    val before = dataFiles(s"$dir/t").sorted

    val snap = t.deletePositional(spark, col("data") === "drop", Some(3000L))
    assert(snap.get.operation == "delete")
    assert(snap.get.summary("positional") == "true")
    assert(snap.get.summary("deleted-records") == "2")
    assert(dataFiles(s"$dir/t").sorted == before, "a data file changed")
    assert(deleteFiles(s"$dir/t").nonEmpty, "no deletion vector written")

    assert(ids(t) == Seq(1L, 3L, 5L))
    assert(ids(t, Some(1L)) == Seq(1L, 2L, 3L), "time travel lost rows")
    assert(ids(t) == Seq(1L, 3L, 5L), "statelessness after TT")
    assert(t.positionalDeletedCount == 2L)
    assert(t.read(spark).count() == 3L)
  }

  test("NULL predicate keeps the row (SQL DELETE semantics)") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema)
    t.append(mkDf(1L -> "x", 2L -> null, 3L -> "y"), Some(1000L))
    t.deletePositional(spark, col("data") === "x", Some(2000L))
    assert(ids(t) == Seq(2L, 3L), "NULL-predicate row was deleted")
  }

  test("stacked deletes stay disjoint; counts stay exact; appends are untouched") {
    import spark.implicits._
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema)
    // every positional writer leaves at most ONE consolidated entry
    def atMostOneEntry(step: String): Unit =
      assert(t.positionalDeletes.size <= 1,
        s"$step left ${t.positionalDeletes.size} positional entries")
    t.append(mkDf(1L -> "x", 2L -> "x", 3L -> "y"), Some(1000L))
    t.deletePositional(spark, col("data") === "x", Some(2000L))
    atMostOneEntry("deletePositional")
    // overlapping predicate: positions of already-dead rows must NOT be
    // re-recorded (disjointness keeps counts additive)
    t.deletePositional(spark, col("id") <= 2, Some(3000L))
    atMostOneEntry("overlapping deletePositional")
    assert(ids(t) == Seq(3L))
    assert(t.positionalDeletedCount == 2L, "overlap double-counted")
    // same values arriving later live on: targets pin exact files
    t.append(mkDf(10L -> "x", 11L -> "y"), Some(4000L))
    atMostOneEntry("append")
    assert(ids(t) == Seq(3L, 10L, 11L))
    assert(t.read(spark).count() == 3L)
    // no-op delete commits nothing
    val n0 = t.log.snapshots.size
    assert(t.deletePositional(spark, col("data") === "zzz", Some(5000L)).isEmpty)
    assert(t.log.snapshots.size == n0)
    // the other positional writers stack onto the same entry
    t.updatePositional(spark, col("id") === 11L,
      Map("data" -> lit("Y")), Some(5000L))
    atMostOneEntry("updatePositional")
    assert(t.positionalDeletedCount == 3L)
    val afterUpdate = t.log.current.get.snapshotId
    t.deletePositionalByKeys(spark, Seq(3L).toDF("id"), Seq("id"), Some(6000L))
    atMostOneEntry("deletePositionalByKeys")
    assert(ids(t) == Seq(10L, 11L))
    assert(t.positionalDeletedCount == 4L)
    // a merge-on-read merge carries the entry
    t.mergeEquality(spark, mkDf(10L -> "X", 12L -> "z"), Seq("id"),
      Some(7000L))
    atMostOneEntry("mergeEquality")
    assert(t.read(spark).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(10L -> "X", 11L -> "Y", 12L -> "z"))
    assert(t.positionalDeletedCount == 4L)
    // rollback adopts the target's entry; later deletes stack onto it
    t.rollbackTo(afterUpdate, Some(8000L))
    atMostOneEntry("rollbackTo")
    assert(ids(t) == Seq(3L, 10L, 11L))
    assert(t.positionalDeletedCount == 3L)
    t.deletePositional(spark, col("id") === 10L, Some(9000L))
    atMostOneEntry("deletePositional after rollbackTo")
    assert(ids(t) == Seq(3L, 11L))
    assert(t.positionalDeletedCount == 4L)
    assert(t.read(spark).count() == 2L)
  }

  test("deletePositionalByKeys: dedup-driven row deletes without rewrite") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema)
    t.append(mkDf(1L -> "dup", 2L -> "dup", 3L -> "solo"), Some(1000L))
    t.append(mkDf(4L -> "dup", 5L -> "other"), Some(2000L))
    val before = dataFiles(s"$dir/t").sorted
    // keep-first exact dedup: losers = every id beyond the min per text
    val losers = t.read(spark)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("data")).orderBy(col("id"))))
      .filter(col("rn") > 1).select("id")
    val snap = t.deletePositionalByKeys(spark, losers, Seq("id"), Some(3000L))
    assert(snap.get.summary("deleted-records") == "2")
    assert(dataFiles(s"$dir/t").sorted == before, "a data file changed")
    assert(ids(t) == Seq(1L, 3L, 5L))
    // null keys match nothing; empty keys are a no-op
    assert(t.deletePositionalByKeys(spark,
      mkDf().select(col("id")), Seq("id"), Some(4000L)).isEmpty)
  }

  test("untouched files keep plain scans (no anti-join in a pruned read)") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema)
    t.append(mkDf(1L -> "a", 2L -> "b"), Some(1000L))   // file 1: ids 1-2
    t.append(mkDf(10L -> "c", 11L -> "d"), Some(2000L)) // file 2: ids 10-11
    t.deletePositional(spark, col("id") === 1, Some(3000L))
    // a scan pruned to the untouched file must not pay the join
    val pruned = t.scan(spark, Some(col("id") >= 10))
    assert(pruned.queryExecution.executedPlan.toString.indexOf("Join") < 0,
      "pruned scan of an untargeted file still carries the delete join")
    assert(pruned.select("id").collect().map(_.getLong(0)).sorted.toSeq
      == Seq(10L, 11L))
    // the full read pays it exactly where needed and is correct
    assert(ids(t) == Seq(2L, 10L, 11L))
  }

  test("whole-file drop fast path: proved files leave the manifest with no position I/O") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema)
    t.append(mkDf(1L -> "a", 2L -> "b"), Some(1000L))
    t.append(mkDf(10L -> "c", 11L -> "d"), Some(2000L))
    val snap = t.deletePositional(spark, col("id") >= 10, Some(3000L))
    assert(snap.get.summary("dropped-data-files") == "1")
    assert(snap.get.summary("position-delete-files") == "0")
    assert(snap.get.summary("deleted-records") == "2")
    assert(t.positionalDeletes.isEmpty, "drop-only commit left entries")
    assert(ids(t) == Seq(1L, 2L))
  }

  test("compaction materializes positions; expiration reclaims the delete parquets") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema)
    t.append(mkDf(1L -> "a", 2L -> "drop", 3L -> "c"), Some(1000L))
    t.append(mkDf(4L -> "drop", 5L -> "e"), Some(2000L))
    t.deletePositional(spark, col("data") === "drop", Some(3000L))
    assert(deleteFiles(s"$dir/t").nonEmpty)

    val rs = t.compact(spark, smallerThanBytes = Long.MaxValue, Some(4000L))
    assert(rs.get.operation == "replace")
    assert(t.positionalDeletes.isEmpty, "compaction left positional entries")
    assert(ids(t) == Seq(1L, 3L, 5L))
    assert(t.read(spark).count() == 3L)
    // the delete parquets survive (older snapshots still read them) ...
    assert(deleteFiles(s"$dir/t").nonEmpty)
    assert(ids(t, Some(3L)) == Seq(1L, 3L, 5L))
    // ... until the snapshots that reference them expire
    t.expireSnapshots(olderThanMillis = Long.MaxValue, retainLast = 1)
    assert(deleteFiles(s"$dir/t").isEmpty, "expire left orphan delete files")
    assert(ids(t) == Seq(1L, 3L, 5L))
  }

  test("deletion vectors: one artifact per data file after stacking; no join in the read plan") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema)
    t.append(mkDf(1L -> "x", 2L -> "x", 3L -> "y", 4L -> "x"), Some(1000L))
    t.append(mkDf(5L -> "x", 6L -> "z"), Some(2000L))
    // three STACKED positional commits hitting the same files
    t.deletePositional(spark, col("id") === 1, Some(3000L))
    t.deletePositional(spark, col("id") === 4 || col("id") === 5, Some(4000L))
    t.deletePositional(spark, col("id") === 2, Some(5000L))
    val fresh = GraftTable.load(s"$dir/t")
    // the stack CONSOLIDATES: one entry, one deletion vector per
    // targeted data file, counts exact
    val entries = fresh.positionalDeletes
    assert(entries.size == 1, s"expected one consolidated entry, got $entries")
    val e = entries.head
    assert(e.dvs.nonEmpty && e.dvs.keySet == e.targets.keySet)
    assert(e.files.sorted == e.dvs.values.toSeq.sorted,
      "entry files must be exactly the per-file vectors")
    assert(e.targets.size == 2, s"targets=${e.targets}") // both data files hit
    assert(e.deletedRows == 4L)
    assert(fresh.positionalDeletedCount == 4L)
    assert(ids(fresh) == Seq(3L, 6L))
    // the read plan has NO join: vectors filter in-reader (DvContains)
    val plan = fresh.read(spark).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"positional read still joins:\n$plan")
    assert(plan.contains("dv_contains"), s"expected dv filter in:\n$plan")
    // stacking a fourth delete rewrites ONLY the affected file's vector
    val dvBefore = e.dvs
    fresh.deletePositional(spark, col("id") === 6, Some(6000L))
    val after = GraftTable.load(s"$dir/t").positionalDeletes.head
    val untouched = dvBefore.filter { case (tp, _) =>
      after.dvs.get(tp).contains(dvBefore(tp)) }
    assert(untouched.nonEmpty,
      "an unaffected file's vector was rewritten (expected carry-by-ref)")
    assert(GraftTable.load(s"$dir/t").positionalDeletedCount == 5L)
  }

  test("copy-on-write UPDATE/DELETE compose with pending positions (no resurrection)") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema)
    t.append(mkDf(1L -> "x", 2L -> "x", 3L -> "y"), Some(1000L))
    t.deletePositional(spark, col("id") === 2, Some(2000L))
    // UPDATE whose predicate also matches the dead row: it must stay dead
    t.update(spark, col("data") === "x", Map("data" -> lit("z")), Some(3000L))
    assert(t.positionalDeletes.isEmpty, "rewrite left stale entries")
    val rows = t.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "z", 3L -> "y"))
    // CoW DELETE over a table with fresh pending positions
    t.deletePositional(spark, col("id") === 3, Some(4000L))
    t.delete(spark, col("data") === "z", Some(5000L))
    assert(ids(t) == Nil)
    assert(t.read(spark).count() == 0L)
  }

  test("merge composes with pending positions") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema)
    t.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c"), Some(1000L))
    t.deletePositional(spark, col("id") === 2, Some(2000L))
    t.merge(spark, mkDf(3L -> "C", 4L -> "d"), "id", Some(3000L))
    assert(t.positionalDeletes.isEmpty)
    val rows = t.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "a", 3L -> "C", 4L -> "d"),
      "merge resurrected a positionally-deleted row or lost a survivor")
  }

  test("changesCdc: positional deletes emit exact retractions; fold reproduces state") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema)
    t.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c"), Some(1000L)) // snap 1
    t.deletePositional(spark, col("id") === 2, Some(2000L))      // snap 2
    t.append(mkDf(4L -> "d"), Some(3000L))                       // snap 3
    t.deletePositionalByKeys(spark, mkDf(3L -> "c").select("id"),
      Seq("id"), Some(4000L))                                    // snap 4
    t.update(spark, col("id") === 4, Map("data" -> lit("D")), Some(5000L)) // snap 5

    val cdc = t.changesCdc(spark, fromSnapshotId = 1L)
      .select("id", "data", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // fold the deltas over snapshot-1 state (multiset)
    var state = scala.collection.mutable.Map(
      (1L, "a") -> 1, (2L, "b") -> 1, (3L, "c") -> 1)
    cdc.foreach { case (id, d, tpe) =>
      val k = (id, d)
      if (tpe == "delete") {
        assert(state.getOrElse(k, 0) > 0, s"retraction of absent row $k")
        state(k) = state(k) - 1
      } else state(k) = state.getOrElse(k, 0) + 1
    }
    val finalRows = state.filter(_._2 > 0).flatMap { case (k, n) =>
      Seq.fill(n)(k) }.toSeq.sorted
    val expect = t.read(spark).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(finalRows == expect, "CDC fold diverged from the final state")
    // exactly two positional retractions across snaps 2 and 4
    assert(cdc.count(_._3 == "delete") >= 2)
  }

  test("updatePositional supersedes rows without rewriting candidate files") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema)
    t.append(mkDf(1L -> "x", 2L -> "y", 3L -> "x"), Some(1000L))
    t.append(mkDf(10L -> "z"), Some(2000L))
    val before = dataFiles(s"$dir/t").sorted

    val snap = t.updatePositional(spark, col("data") === "x",
      Map("data" -> lit("X")), Some(3000L))
    assert(snap.get.operation == "update")
    assert(snap.get.summary("updated-rows") == "2")
    // the old files are untouched; the new values landed as NEW files
    val after = dataFiles(s"$dir/t").sorted
    assert(before.forall(after.contains), "an existing data file changed")
    assert(after.size > before.size, "no superseding file written")

    val rows = t.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "X", 2L -> "y", 3L -> "X", 10L -> "z"))
    assert(t.read(spark).count() == 4L, "count drifted after MoR update")
    assert(ids(t, Some(2L)) == Seq(1L, 2L, 3L, 10L))
    // time travel still shows the old values
    val old = t.read(spark, Some(2L)).filter(col("id") === 1).head().getString(1)
    assert(old == "x")

    // a second positional update hits the SUPERSEDING copy (it lives in
    // a new file, which the fresh entry targets)
    t.updatePositional(spark, col("id") === 1, Map("data" -> lit("XX")), Some(4000L))
    val rows2 = t.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows2 == Map(1L -> "XX", 2L -> "y", 3L -> "X", 10L -> "z"))
    assert(t.read(spark).count() == 4L)

    // no visible match: no commit
    val n0 = t.log.snapshots.size
    assert(t.updatePositional(spark, col("data") === "none",
      Map("data" -> lit("?")), Some(5000L)).isEmpty)
    assert(t.log.snapshots.size == n0)

    // CDC fold across both updates reproduces the final state
    val cdc = t.changesCdc(spark, fromSnapshotId = 2L)
      .select("id", "data", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    var state = scala.collection.mutable.Map(
      (1L, "x") -> 1, (2L, "y") -> 1, (3L, "x") -> 1, (10L, "z") -> 1)
    cdc.foreach { case (id, d, tpe) =>
      val k = (id, d)
      if (tpe == "delete") {
        assert(state.getOrElse(k, 0) > 0, s"retraction of absent row $k")
        state(k) = state(k) - 1
      } else state(k) = state.getOrElse(k, 0) + 1
    }
    val finalRows = state.filter(_._2 > 0).keys.toSeq.sorted
    assert(finalRows == rows2.toSeq.sorted, "CDC fold diverged")

    // compaction materializes everything
    t.compact(spark, smallerThanBytes = Long.MaxValue, Some(6000L))
    assert(t.positionalDeletes.isEmpty)
    assert(t.read(spark).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      == rows2)
  }

  test("a lost commit race leaves no orphan delete files") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema)
    t.append(mkDf(1L -> "a", 2L -> "b"), Some(1000L))
    // another writer holds the claim for the next snapshot id
    val marker = java.nio.file.Paths.get(s"$dir/t/manifests/.commit-00002")
    java.nio.file.Files.createFile(marker)
    try {
      intercept[java.util.ConcurrentModificationException] {
        t.deletePositional(spark, col("id") === 1, Some(2000L))
      }
      assert(deleteFiles(s"$dir/t").isEmpty,
        "lost positional race left delete parquets behind")
      intercept[java.util.ConcurrentModificationException] {
        t.deleteEquality(spark, mkDf(1L -> "x").select("id"), Seq("id"), Some(2000L))
      }
      assert(deleteFiles(s"$dir/t").isEmpty,
        "lost equality race left key files behind")
      intercept[java.util.ConcurrentModificationException] {
        t.mergeEquality(spark, mkDf(5L -> "e"), Seq("id"), Some(2000L))
      }
      assert(deleteFiles(s"$dir/t").isEmpty,
        "lost upsert race left key files behind")
    } finally java.nio.file.Files.deleteIfExists(marker)
    // the claim released, everything works again
    assert(t.deletePositional(spark, col("id") === 1, Some(3000L)).isDefined)
    assert(ids(t) == Seq(2L))
  }

  test("deletes metadata table reports pending MoR debt per kind") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema)
    t.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c"), Some(1000L))
    assert(t.deletesTable(spark).count() == 0)
    t.deletePositional(spark, col("id") === 2, Some(2000L))
    val rows = t.deletesTable(spark).collect()
    assert(rows.length == 1)
    assert(rows(0).getString(0) == "positional" && rows(0).getLong(4) == 1L)
    // snapshot-pinned view: empty at snapshot 1
    assert(t.deletesTable(spark, Some(1L)).count() == 0)
    // the catalog resolves <name>__deletes like the other metadata tables
    val cat = new GraftCatalog(dir)
    assert(cat.loadDataFrame(spark, "t__deletes").collect()
      .map(_.getString(0)).toSeq == Seq("positional"))
    // equality on a second table (separate tables keep the per-kind
    // rows independent)
    val t2 = GraftTable.create(s"$dir/t2", schema)
    t2.append(mkDf(1L -> "a"), Some(1000L))
    t2.deleteEquality(spark, mkDf(1L -> "x").select("id"), Seq("id"), Some(2000L))
    val r2 = t2.deletesTable(spark).collect()
    assert(r2.length == 1 && r2(0).getString(0) == "equality" &&
      r2(0).getString(1) == "id" && r2(0).getLong(2) == 1L)
    // predicate-deferred kind
    val t3 = GraftTable.create(s"$dir/t3", schema)
    t3.append(mkDf(1L -> "a", 2L -> "b"), Some(1000L))
    t3.deleteDeferred(spark, col("id") === 2, Some(2000L))
    val r3 = t3.deletesTable(spark).collect()
    assert(r3.length == 1 && r3(0).getString(0) == "predicate" &&
      r3(0).getString(1).nonEmpty)
  }

  test("removeOrphanFiles reclaims unreferenced bytes, keeps referenced and young ones") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema)
    t.append(mkDf(1L -> "a", 2L -> "drop"), Some(1000L))
    t.deletePositional(spark, col("data") === "drop", Some(2000L))
    val live = (dataFiles(s"$dir/t") ++ deleteFiles(s"$dir/t")).toSet

    // plant orphans: an old data parquet, an old delete parquet, an old
    // staging dir, and a YOUNG data parquet (in-flight writer)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 10 * 60 * 1000)
    def plant(rel: String, age: Boolean): java.nio.file.Path = {
      val p = java.nio.file.Paths.get(s"$dir/t/$rel")
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, "junk")
      if (age) java.nio.file.Files.setLastModifiedTime(p, old)
      p
    }
    val o1 = plant("data/part-99999-dead-00000.parquet", age = true)
    val o2 = plant("deletes/del-99999-dead-00000.parquet", age = true)
    val o3 = plant(".staging-99-dead/part-x.parquet", age = true)
    java.nio.file.Files.setLastModifiedTime(o3.getParent, old)
    val young = plant("data/part-88888-live-00000.parquet", age = false)

    val removed = t.removeOrphanFiles(olderThanMillis = 60 * 1000)
    assert(removed.nonEmpty)
    assert(!java.nio.file.Files.exists(o1) && !java.nio.file.Files.exists(o2) &&
      !java.nio.file.Files.exists(o3.getParent), s"orphans survived: $removed")
    assert(java.nio.file.Files.exists(young), "young (in-flight) file reclaimed")
    assert((dataFiles(s"$dir/t") ++ deleteFiles(s"$dir/t"))
      .toSet.intersect(live) == live, "a referenced file was reclaimed")
    assert(ids(t) == Seq(1L), "table state changed")
    java.nio.file.Files.deleteIfExists(young)
  }

  test("positional and predicate forms compose both ways; branch fork refuses; rollback adopts") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema)
    t.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c"), Some(1000L))
    t.deletePositional(spark, col("id") === 1, Some(2000L)) // snap 2
    // deferred STACKS on positional: dead counted over DV-visible rows
    t.deleteDeferred(spark, col("id") === 2, Some(3000L)) // snap 3
    assert(t.pendingDeletedCount.contains(1L))
    assert(t.positionalDeletedCount == 1L)
    assert(ids(t) == Seq(3L))
    intercept[IllegalArgumentException] { t.createBranch("audit") }
    t.append(mkDf(4L -> "d"), Some(4000L)) // snap 4
    t.rollbackTo(3L, Some(5000L))
    assert(t.positionalDeletedCount == 1L, "rollback dropped the entries")
    assert(t.pendingDeletedCount.contains(1L), "rollback dropped the predicate")
    assert(ids(t) == Seq(3L))
    // the deferred direction: positional stacks ON a predicate-pending
    // table, victims drawn from predicate-visible rows only (the dead
    // sets stay disjoint, counts add)
    val t2 = GraftTable.create(s"$dir/t2", schema)
    t2.append(mkDf(1L -> "a", 2L -> "b", 3L -> "x"), Some(1000L))
    t2.deleteDeferred(spark, col("id") >= 2, Some(2000L)) // kills 2 and 3
    assert(t2.pendingDeletedCount.contains(2L))
    // positional predicate overlaps the dead set: only the VISIBLE row
    // (id=1) may be vectored; ids 2/3 are already predicate-dead
    t2.deletePositional(spark, col("id") <= 2, Some(3000L))
    assert(t2.positionalDeletedCount == 1L,
      "a predicate-dead row must never be re-vectored")
    assert(t2.pendingDeletedCount.contains(2L))
    assert(t2.read(spark).count() == 0L)
    // compact materializes both forms in one pass
    t2.compact(spark, Long.MaxValue, Some(4000L))
    assert(t2.pendingDeletes.isEmpty && t2.positionalDeletes.isEmpty)
    assert(t2.read(spark).count() == 0L)
  }

  test("deleteByKeys validates key column types against the table schema") {
    val dir = tmp()
    val t = GraftTable.create(dir, schema)
    t.append(mkDf(1L -> "a", 2L -> "b"), Some(1000L))
    // string ids vs LONG key column: must refuse up front, not silently
    // coerce in the bounds aggregate / semi-join
    val badKeys = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("1"), Row("2")), 1),
      StructType(Seq(StructField("id", StringType, nullable = false))))
    val e = intercept[IllegalArgumentException] {
      t.deletePositionalByKeys(spark, badKeys, Seq("id"), Some(2000L))
    }
    assert(e.getMessage.contains("cast explicitly"), e.getMessage)
    assert(ids(t) == Seq(1L, 2L), "mistyped keys must not commit anything")
    // exact-typed keys still work
    import spark.implicits._
    t.deletePositionalByKeys(spark, Seq(2L).toDF("id"), Seq("id"), Some(2000L))
    assert(ids(t) == Seq(1L))
  }
}
