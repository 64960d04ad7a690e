package graft.table

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** Model-based reachability check over the whole snapshot lifecycle (the
  * Iceberg spec's reachability model: every file a live snapshot names
  * survives, every other file is reclaimable). Seeded random sequences of
  * appends, copy-on-write and merge-on-read DML, rollback, cherry-pick,
  * expiration and orphan sweeps run against a table while the spec keeps
  * the visible rows and stream cursors of every snapshot in a model.
  * After each step:
  *   - every file any logged snapshot names exists (manifest lists,
  *     segments, data files, deletion vectors, equality key files);
  *   - nothing under `data/`, `deletes/` or `manifests/` is left that
  *     no logged snapshot names (no writer crashes here, so expiration
  *     must reclaim exactly, and a sweep finds nothing to take);
  *   - the head read, the head's stream cursors and `readAsOf` every
  *     kept snapshot equal the model. */
class ReachabilityPropertySpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("data", StringType, nullable = true)))

  private type Rows = Map[Long, String]

  private def df(rows: Rows) = spark.createDataFrame(
    spark.sparkContext.parallelize(
      rows.toSeq.sorted.map { case (k, v) => Row(k, v) }, 1), schema)

  private def collect(d: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    d.select("id", "data").collect().map(r => r.getLong(0) -> r.getString(1))
      .toSeq.sorted

  /** Table-relative paths of every file `t`'s logged snapshots name. */
  private def named(t: GraftTable): Set[String] =
    t.log.snapshots.flatMap { s =>
      val m = Manifest.read(s"${t.dir}/${s.manifestList}")
      val deletes = DeleteState.of(s)
      Seq(s.manifestList) ++ m.segmentRefs ++ m.files.map(_.path) ++
        deletes.positional.flatMap(_.files) ++
        deletes.equality.flatMap(_.files)
    }.filterNot(_.startsWith("../")).toSet

  private def stored(t: GraftTable): Set[String] =
    Seq("data", "deletes", "manifests").flatMap { root =>
      val p = Paths.get(t.dir, root)
      if (!Files.exists(p)) Nil
      else scala.util.Using.resource(Files.walk(p)) { st =>
        st.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      }
    }.filterNot(_.getFileName.toString.startsWith(".commit-"))
      .map((p: Path) => Paths.get(t.dir).relativize(p).toString).toSet

  private def run(seed: Long, steps: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val dir = tmpDir("graft-reach")
    val t = GraftTable.create(s"$dir/t", schema)
    var nextKey = 0L
    def fresh(n: Int): Rows =
      (1 to n).map { _ => nextKey += 1; nextKey -> s"v$nextKey" }.toMap
    var ts = 1000L
    val first = fresh(3)
    t.append(df(first), Some(ts))
    // per snapshot: visible rows, stream cursors, rows an append added
    val rowsAt = scala.collection.mutable.Map(1L -> first)
    val cursorsAt = scala.collection.mutable.Map(1L -> Map.empty[String, Long])
    val appended = scala.collection.mutable.Map(1L -> first)
    var batch = 0L
    val ops = Seq.newBuilder[String]

    (1 to steps).foreach { step =>
      ts += 1000L
      val headId = t.log.current.get.snapshotId
      val m = rowsAt(headId)
      val cursors = cursorsAt(headId)
      def pick(): Seq[Long] = {
        val ks = m.keys.toSeq.sorted
        rnd.shuffle(ks).take(1 + rnd.nextInt(math.min(2, ks.size)))
      }
      var base = headId
      def commit(op: String, rows: Rows,
          curs: Map[String, Long] = cursors): Unit = {
        ops += op
        val now = t.log.current.get.snapshotId
        if (now != base) {
          rowsAt(now) = rows
          cursorsAt(now) = curs
          base = now
        } else assert(rows == rowsAt(base) && curs == cursorsAt(base),
          s"$op committed nothing")
      }
      val pendingFree = t.pendingDeletes.isEmpty &&
        t.positionalDeletes.isEmpty && t.equalityDeletes.isEmpty
      val cherries = t.log.snapshots.filter(s =>
        s.operation == "append" && s.snapshotId != headId &&
          s.parentId.exists(p => t.log.byId(p).isDefined) &&
          appended.get(s.snapshotId).exists(_.keySet.forall(!m.contains(_))))
      val older = t.log.snapshots.map(_.snapshotId).filter(_ != headId)
      rnd.nextInt(16) match {
        case 2 if m.nonEmpty =>
          val ks = pick()
          t.delete(spark, col("id").isin(ks: _*), Some(ts))
          commit("delete", m -- ks)
        case 3 if m.nonEmpty =>
          val ks = pick()
          t.update(spark, col("id").isin(ks: _*),
            Map("data" -> lit(s"u$step")), Some(ts))
          commit("update", m ++ ks.map(_ -> s"u$step"))
        case 4 if m.nonEmpty =>
          val ks = pick()
          t.deleteDeferred(spark, col("id").isin(ks: _*), Some(ts))
          commit("deleteDeferred", m -- ks)
        case 5 if m.nonEmpty =>
          val ks = pick()
          t.deletePositional(spark, col("id").isin(ks: _*), Some(ts))
          commit("deletePositional", m -- ks)
        case 6 | 7 if m.nonEmpty =>
          val upserts = pick().map(_ -> s"e$step").toMap ++ fresh(1)
          batch += 1
          t.mergeEquality(spark, df(upserts), Seq("id"), Some(ts),
            cursor = Some("sink" -> batch))
          commit("mergeEquality", m ++ upserts, cursors + ("sink" -> batch))
        case 8 | 9 if older.nonEmpty =>
          val to = older(rnd.nextInt(older.size))
          t.rollbackTo(to, Some(ts))
          commit(s"rollback($to)", rowsAt(to), cursorsAt(to))
        case 10 | 11 if cherries.nonEmpty =>
          val s = cherries(rnd.nextInt(cherries.size))
          // cherry-pick refuses while merge-on-read entries pend
          if (!pendingFree) {
            t.compact(spark, Long.MaxValue, Some(ts))
            commit("compact", m)
            ts += 1
          }
          t.cherrypick(s.snapshotId, Some(ts))
          commit(s"cherrypick(${s.snapshotId})", m ++ appended(s.snapshotId))
        case 12 =>
          val keep = 2 + rnd.nextInt(3)
          t.expireSnapshots(Long.MaxValue, keep)
          ops += s"expire($keep)"
        case 13 | 14 =>
          t.removeOrphanFiles(0L)
          ops += "sweep"
        case 15 =>
          t.compact(spark, Long.MaxValue, Some(ts))
          commit("compact", m)
        case _ =>
          val rows = fresh(1 + rnd.nextInt(3))
          t.append(df(rows), Some(ts))
          appended(t.log.current.get.snapshotId) = rows
          commit("append", m ++ rows)
      }
      val where = s"seed $seed step $step after ${ops.result().mkString(", ")}"
      val names = named(t)
      val missing = names.filterNot(p => Files.exists(Paths.get(t.dir, p)))
      assert(missing.isEmpty, s"$where: named files missing: $missing")
      // no writer crashes here, so every stored file stays named until
      // expiration reclaims it: a file no snapshot names is a leak
      val leaked = stored(t) -- names
      assert(leaked.isEmpty, s"$where: unreferenced files left: $leaked")
      val head = t.log.current.get.snapshotId
      assert(collect(t.read(spark)) == rowsAt(head).toSeq.sorted,
        s"$where: head read differs from the model")
      assert(t.streamCursors == cursorsAt(head),
        s"$where: head stream cursors differ from the model")
      t.log.snapshots.foreach { s =>
        assert(collect(t.readAsOf(spark, s.committedAt)) ==
          rowsAt(s.snapshotId).toSeq.sorted,
          s"$where: readAsOf snapshot ${s.snapshotId} differs from the model")
      }
    }
    GraftTable.deleteRecursively(Paths.get(dir))
    ops.result()
  }

  test("random lifecycles keep every named file and leave no orphan behind") {
    val ops = Seq(20261019L, 7L, 42L).flatMap(run(_, steps = 20))
    // the seeds must exercise every operation the model covers
    val kinds = ops.map(_.takeWhile(_ != '(')).toSet
    assert(Set("append", "delete", "update", "deleteDeferred",
      "deletePositional", "mergeEquality", "rollback", "cherrypick",
      "expire", "sweep", "compact").subsetOf(kinds), s"ops seen: $kinds")
  }
}
