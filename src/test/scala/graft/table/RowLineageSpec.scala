package graft.table

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** ROW LINEAGE (Iceberg v3 parity): band assignment at commit
  * (`first-row-id` per file + the monotone `next-row-id` watermark),
  * inheritance reads (`_row_id` = band + position unless a materialized
  * carry cell overrides), and — under `graft.row-lineage = true` —
  * identity PRESERVATION across copy-on-write rewrites, compaction and
  * positional updates. */
class RowLineageSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("data", StringType, nullable = true)))

  private def mkDf(rows: (Long, String)*) = {
    val rdd = spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1)
    spark.createDataFrame(rdd, schema)
  }

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-lineage").toString

  private def lineage(t: GraftTable): Map[Long, (Long, Long)] =
    t.readLineage(spark).collect().map(r =>
      r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap

  private def rowIds(t: GraftTable): Map[Long, Long] =
    lineage(t).map { case (k, (rid, _)) => k -> rid }

  test("bands assign at commit: _row_id = firstRowId + position, monotone watermark") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema)
    t.append(mkDf(10L -> "a", 11L -> "b", 12L -> "c"), Some(1000L))
    assert(rowIds(t) == Map(10L -> 0L, 11L -> 1L, 12L -> 2L))
    assert(t.log.current.get.summary(GraftTable.SummaryNextRowId) == "3")
    // second append: a fresh band, no overlap
    t.append(mkDf(20L -> "d"), Some(2000L))
    assert(rowIds(t) == Map(10L -> 0L, 11L -> 1L, 12L -> 2L, 20L -> 3L))
    // _last_updated_snapshot_id = the committing snapshot (inherited)
    assert(lineage(t)(10L)._2 == 1L && lineage(t)(20L)._2 == 2L)
    // metadata-only commits carry the watermark
    t.deleteDeferred(spark, col("id") === 11L, Some(3000L))
    assert(t.log.current.get.summary(GraftTable.SummaryNextRowId) == "4")
    // the deferred-dead row is gone from the lineage read too
    assert(!rowIds(t).contains(11L))
  }

  test("graft.row-lineage: CoW update/delete preserve ids; seq bumps only on modified rows") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema,
      properties = Map(GraftTable.PropRowLineage -> "true"))
    t.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c"), Some(1000L))
    val before = lineage(t)
    t.update(spark, col("id") === 2L, Map("data" -> lit("B")), Some(2000L))
    val afterU = lineage(t)
    assert(afterU.view.mapValues(_._1).toMap ==
      before.view.mapValues(_._1).toMap, "update must preserve row ids")
    assert(afterU(2L)._2 == 2L, "modified row must carry the update snapshot")
    assert(afterU(1L)._2 == 1L && afterU(3L)._2 == 1L,
      "unmodified rewritten rows must KEEP their last-updated snapshot")
    // CoW delete: survivors keep id AND seq
    t.delete(spark, col("id") === 3L, Some(3000L))
    val afterD = lineage(t)
    assert(afterD.keySet == Set(1L, 2L))
    assert(afterD(1L) == (before(1L)._1, 1L) && afterD(2L)._1 == before(2L)._1)
  }

  test("graft.row-lineage: compaction is identity-preserving; MoR forms compose") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema,
      properties = Map(GraftTable.PropRowLineage -> "true"))
    t.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"), Some(1000L))
    t.deletePositional(spark, col("id") === 1L, Some(2000L))
    t.deleteEquality(spark, mkDf(2L -> "x").select("id"), Seq("id"), Some(3000L))
    val before = lineage(t)
    assert(before.keySet == Set(3L, 4L))
    t.compact(spark, smallerThanBytes = Long.MaxValue, Some(4000L))
    assert(lineage(t) == before,
      "compaction must preserve both lineage columns exactly")
    // watermark still past every assigned id
    val wm = t.log.current.get.summary(GraftTable.SummaryNextRowId).toLong
    assert(lineage(t).values.map(_._1).forall(_ < wm))
  }

  test("graft.row-lineage: merge keeps matched ids, fresh keys get new unique ids") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema,
      properties = Map(GraftTable.PropRowLineage -> "true"))
    t.append(mkDf(1L -> "a", 2L -> "b"), Some(1000L))
    val before = rowIds(t)
    t.merge(spark, mkDf(2L -> "B2", 9L -> "new"), "id", Some(2000L))
    val after = lineage(t)
    assert(after(2L)._1 == before(2L), "matched key must keep its row id")
    assert(after(1L)._1 == before(1L))
    assert(after(2L)._2 == 2L, "matched row is a new version")
    assert(after(1L)._2 == 1L, "survivor keeps its version")
    assert(after(9L)._2 == 2L)
    val ids = after.values.map(_._1).toSeq
    assert(ids.distinct.size == ids.size, "row ids must stay unique")
    assert(after(9L)._1 >= 2L, "fresh key must take a new band id")
  }

  test("graft.row-lineage: positional update supersedes in place, id stable") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema,
      properties = Map(GraftTable.PropRowLineage -> "true"))
    t.append(mkDf(1L -> "a", 2L -> "b"), Some(1000L))
    val before = rowIds(t)
    t.updatePositional(spark, col("id") === 1L,
      Map("data" -> lit("A")), Some(2000L))
    val after = lineage(t)
    assert(after(1L)._1 == before(1L),
      "a positional update is the same logical row — id must hold")
    assert(after(1L)._2 == 2L && after(2L)._2 == 1L)
    // and a second update on the superseding copy still holds the id
    t.updatePositional(spark, col("id") === 1L,
      Map("data" -> lit("A2")), Some(3000L))
    assert(lineage(t)(1L) == (before(1L), 3L))
  }

  test("default (carry off): rewrites re-band but ids stay non-null and unique") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema)
    t.append(mkDf(1L -> "a", 2L -> "b"), Some(1000L))
    t.update(spark, col("id") === 1L, Map("data" -> lit("A")), Some(2000L))
    val l = lineage(t)
    assert(l.keySet == Set(1L, 2L))
    val ids = l.values.map(_._1).toSeq
    assert(ids.distinct.size == ids.size && ids.forall(_ >= 2L),
      s"re-banded ids must be fresh and unique: $l")
    // rewritten rows inherit the rewrite snapshot as last-updated
    assert(l.values.forall(_._2 == 2L))
  }

  test("__files exposes the band and carry state") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema,
      properties = Map(GraftTable.PropRowLineage -> "true"))
    t.append(mkDf(1L -> "a", 2L -> "b"), Some(1000L))
    val before = t.filesTable(spark).select("first_row_id", "has_row_ids")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(before == Seq((0L, false)))
    t.update(spark, col("id") === 1L, Map("data" -> lit("A")), Some(2000L))
    val after = t.filesTable(spark).select("first_row_id", "has_row_ids")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(after.forall(_._2), "rewritten files must report carried ids")
    assert(after.forall(_._1 >= 2L), "the rewrite takes a fresh band")
  }

  test("SQL: _row_id/_last_updated_snapshot_id metadata columns through the catalog") {
    val wh = tmpDir("graft-lineage-sql")
    spark.conf.set("spark.sql.catalog.glin", "graft.table.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.glin.warehouse", wh)
    val t = GraftTable.create(s"$wh/db/t", schema,
      properties = Map(GraftTable.PropRowLineage -> "true"))
    t.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c"), Some(1000L))
    val r1 = spark.sql(
      "SELECT id, _row_id, _last_updated_snapshot_id FROM glin.db.t")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(r1 == Map(1L -> (0L, 1L), 2L -> (1L, 1L), 3L -> (2L, 1L)))
    // CoW update with lineage carry: the SQL surface reads the
    // materialized cells + inheritance identically to the library read
    t.update(spark, col("id") === 2L, Map("data" -> lit("B")), Some(2000L))
    val r2 = spark.sql(
      "SELECT id, _row_id, _last_updated_snapshot_id FROM glin.db.t")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(r2 == Map(1L -> (0L, 1L), 2L -> (1L, 2L), 3L -> (2L, 1L)),
      s"SQL lineage diverged: $r2")
    assert(r2 == lineage(GraftTable.load(s"$wh/db/t")),
      "SQL and library lineage reads must agree")
  }

  test("property sweep: ids stay unique, below the watermark, and stable per key") {
    val rnd = new scala.util.Random(20260816L)
    for (trial <- 1 to 3) {
      val dir = tmp()
      val t = GraftTable.create(s"$dir/t", schema,
        properties = Map(GraftTable.PropRowLineage -> "true"))
      var nextKey = 0L
      def batch(n: Int): Seq[(Long, String)] =
        (0 until n).map { _ => nextKey += 1; nextKey -> s"v$nextKey" }
      t.append(mkDf(batch(8): _*), Some(1000L))
      // first-seen _row_id per key: once assigned it must NEVER change
      // while the key survives (every op here is identity-preserving —
      // equality upserts, which legitimately re-row, are exercised in
      // the dedicated merge test)
      var seen = Map.empty[Long, Long]
      var ts = 1000L
      (1 to 10).foreach { step =>
        ts += 1000L
        val keys = t.read(spark).select("id").collect().map(_.getLong(0)).toSeq
        rnd.nextInt(6) match {
          case 0 => t.append(mkDf(batch(1 + rnd.nextInt(3)): _*), Some(ts))
          case 1 if keys.nonEmpty =>
            t.delete(spark, col("id") === keys(rnd.nextInt(keys.size)), Some(ts))
          case 2 if keys.nonEmpty =>
            t.update(spark, col("id") === keys(rnd.nextInt(keys.size)),
              Map("data" -> lit(s"u$step")), Some(ts))
          case 3 if keys.nonEmpty =>
            t.deletePositional(spark,
              col("id") === keys(rnd.nextInt(keys.size)), Some(ts))
          case 4 if keys.nonEmpty =>
            t.updatePositional(spark,
              col("id") === keys(rnd.nextInt(keys.size)),
              Map("data" -> lit(s"p$step")), Some(ts))
          case _ =>
            t.compact(spark, smallerThanBytes = Long.MaxValue, Some(ts))
        }
        val l = lineage(t)
        val ids = l.values.map(_._1).toSeq
        assert(ids.distinct.size == ids.size,
          s"trial $trial step $step: duplicate row ids: $l")
        val wm = t.log.current.get
          .summary(GraftTable.SummaryNextRowId).toLong
        assert(ids.forall(_ < wm),
          s"trial $trial step $step: id past the watermark $wm: $l")
        l.foreach { case (k, (rid, _)) =>
          seen.get(k).foreach(prev => assert(prev == rid,
            s"trial $trial step $step: key $k changed id $prev -> $rid"))
        }
        seen ++= l.view.mapValues(_._1).toMap
      }
      GraftTable.deleteRecursively(java.nio.file.Paths.get(dir))
    }
  }

  test("identity-partitioned table: bands per file, carry through update + compact") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema,
      properties = Map(GraftTable.PropRowLineage -> "true"),
      partitionBy = Seq("data"))
    t.append(mkDf(1L -> "a", 2L -> "a", 3L -> "b"), Some(1000L))
    val l0 = lineage(t)
    assert(l0.keySet == Set(1L, 2L, 3L))
    val ids0 = l0.values.map(_._1).toSeq
    assert(ids0.distinct.size == ids0.size && ids0.forall(_ < 3L))
    // CoW update within one partition: ids stable (the identity column
    // is recovered from the directory, the carry cells from the footer)
    t.update(spark, col("id") === 2L, Map("id" -> lit(20L)), Some(2000L))
    val l1 = lineage(t)
    assert(l1(20L)._1 == l0(2L)._1, "updated row must keep its id")
    assert(l1(1L) == l0(1L) && l1(3L) == l0(3L))
    t.compact(spark, smallerThanBytes = Long.MaxValue, Some(3000L))
    assert(lineage(t) == l1, "partitioned compaction must preserve lineage")
  }

  test("imported files (add_files) and pre-lineage files get bands at their commit") {
    val dir = tmp()
    // a FOREIGN parquet dump imported file-level: the import commit
    // bands the entries like any other new file
    val src = s"$dir/src"
    mkDf(1L -> "a", 2L -> "b").write.parquet(src)
    val t = GraftTable.create(s"$dir/t", schema)
    t.append(mkDf(9L -> "z"), Some(1000L))
    val srcFiles = java.nio.file.Files.list(java.nio.file.Paths.get(src))
      .iterator()
    val parq = Iterator.continually(srcFiles)
      .takeWhile(_.hasNext).map(_.next().toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
    t.importFiles(spark, parq, Some(2000L))
    val l = lineage(t)
    assert(l.keySet == Set(1L, 2L, 9L))
    val ids = l.values.map(_._1).toSeq
    assert(ids.distinct.size == ids.size, s"import must band uniquely: $l")
    assert(l(1L)._2 == 2L && l(2L)._2 == 2L && l(9L)._2 == 1L,
      "imported rows carry the import snapshot as last-updated")
  }

  test("rollback never reuses ids; lineage columns refuse as user columns") {
    val dir = tmp()
    val t = GraftTable.create(s"$dir/t", schema)
    // every entry of every logged snapshot carries a band: commit bands
    // each fresh entry, and every other entry is carried from a snapshot
    // that already banded it
    def assertAllBanded(after: String): Unit = t.log.snapshots.foreach { s =>
      val bandless = Manifest.read(s"${t.dir}/${s.manifestList}").files
        .filter(_.firstRowId.isEmpty).map(_.path)
      assert(bandless.isEmpty,
        s"after $after, snapshot ${s.snapshotId} has band-less $bandless")
    }
    t.append(mkDf(1L -> "a"), Some(1000L))   // band [0,1): id 0
    t.append(mkDf(2L -> "b"), Some(2000L))   // band [1,2)
    assertAllBanded("append")
    t.rollbackTo(1L, Some(3000L))
    assertAllBanded("rollback")
    t.append(mkDf(3L -> "c"), Some(4000L))
    // the rolled-past band [1,2) is never reissued
    assert(rowIds(t) == Map(1L -> 0L, 3L -> 2L))
    t.delete(spark, col("id") === 3L, Some(5000L))
    assertAllBanded("delete")
    t.append(mkDf(4L -> "d"), Some(6000L))
    t.compact(spark, smallerThanBytes = Long.MaxValue, Some(7000L))
    assertAllBanded("compact")
    // re-applying the rolled-back append keeps its band
    t.cherrypick(2L, Some(8000L))
    assertAllBanded("cherrypick")
    assert(rowIds(t)(2L) == 1L)
    intercept[IllegalArgumentException] {
      GraftTable.create(s"$dir/bad", StructType(Seq(
        StructField("_row_id", LongType, nullable = false))))
    }
    intercept[IllegalArgumentException] { t.addColumn("_gf_rid", LongType) }
  }
}
