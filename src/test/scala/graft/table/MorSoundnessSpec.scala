package graft.table

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** RANDOMIZED merge-on-read DML soundness under every partition layout:
  * a driver-side row-multiset model and a graft table execute the same
  * random op sequence (append / positional predicate delete / positional
  * key delete / positional update / copy-on-write delete / compact) and
  * must agree after every step. The layouts cover the read paths that
  * differ structurally: unpartitioned leaf files, identity directories
  * (basePath partition-value recovery UNDER the provenance-column read),
  * bucket(4) and truncate(2) hidden transforms (derived keys, footer
  * source columns). A separate equality-delete sequence runs per layout,
  * and a COMPOSED sequence interleaves positional, equality, upsert,
  * predicate-deferred and every copy-on-write commit path (delete,
  * delete by keys, update, merge, conditional merge, predicate and
  * dynamic-partition overwrite) on one table (the full MoR matrix —
  * every form stacks, and every rewrite settles it).
  */
class MorSoundnessSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("cat", StringType, nullable = true),
    StructField("score", LongType, nullable = false)))

  private case class M(id: Long, cat: String, score: Long)

  private def df(rows: Seq[M]) = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map(m => Row(m.id, m.cat, m.score)), 2),
    schema)

  private def readSet(t: GraftTable): Map[(Long, String, Long), Int] =
    t.read(spark).select("id", "cat", "score").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(identity).map { case (k, v) => k -> v.length }

  private def modelSet(m: Seq[M]): Map[(Long, String, Long), Int] =
    m.map(x => (x.id, x.cat, x.score)).groupBy(identity)
      .map { case (k, v) => k -> v.length }

  private val layouts = Seq(
    "flat" -> Nil,
    "identity" -> Seq("cat"),
    "bucket" -> Seq("bucket(4,id)"),
    "truncate" -> Seq("truncate(2,cat)"))

  for ((name, partitionBy) <- layouts)
    test(s"random positional/CoW op sequence matches the model [$name]") {
      val rng = new scala.util.Random(1234 + name.hashCode)
      val dir = java.nio.file.Files.createTempDirectory(s"mor-sound-$name").toString
      val t = GraftTable.create(s"$dir/t", schema, partitionBy = partitionBy)
      var model = Vector.empty[M]
      var nextId = 0L
      val cats = Seq("aa", "ab", "bb", "bc", null)
      def batch(n: Int): Seq[M] = (0 until n).map { _ =>
        nextId += 1
        M(nextId, cats(rng.nextInt(cats.size)), rng.nextInt(50).toLong)
      }
      // seed
      val b0 = batch(40); t.append(df(b0)); model ++= b0

      (1 to 12).foreach { step =>
        rng.nextInt(6) match {
          case 0 => // append
            val b = batch(5 + rng.nextInt(15))
            t.append(df(b)); model ++= b
          case 1 => // positional predicate delete (null-safe semantics)
            val bound = rng.nextInt(50)
            t.deletePositional(spark, col("score") < bound)
            model = model.filterNot(_.score < bound)
          case 2 => // positional key delete
            val victims = model.filter(_.score % 7 == step % 7).map(_.id).distinct
            t.deletePositionalByKeys(spark,
              df(model.filter(m => victims.contains(m.id))).select("id"),
              Seq("id"))
            model = model.filterNot(m => victims.contains(m.id))
          case 3 => // positional update: retag a cat (null pred rows stay)
            val from = cats(rng.nextInt(4)) // never the null cat
            t.updatePositional(spark, col("cat") === from,
              Map("score" -> (col("score") + lit(100L))))
            model = model.map(m =>
              if (m.cat == from) m.copy(score = m.score + 100L) else m)
          case 4 => // copy-on-write delete composes with pending positions
            val c = cats(rng.nextInt(4))
            t.delete(spark, col("cat") === c)
            model = model.filterNot(_.cat == c)
          case 5 => // maintenance
            t.compact(spark, smallerThanBytes = Long.MaxValue)
        }
        assert(readSet(t) == modelSet(model),
          s"[$name] diverged after step $step (op path above)")
      }
      // final maintenance clears all pending state and changes nothing
      t.compact(spark, smallerThanBytes = Long.MaxValue)
      assert(t.positionalDeletes.isEmpty && t.pendingDeletes.isEmpty)
      assert(readSet(t) == modelSet(model), s"[$name] diverged after final compact")
      GraftTable.deleteRecursively(java.nio.file.Paths.get(dir))
    }

  for ((name, partitionBy) <- layouts)
    test(s"random equality-delete sequence matches the model [$name]") {
      val rng = new scala.util.Random(777 + name.hashCode)
      val dir = java.nio.file.Files.createTempDirectory(s"eq-sound-$name").toString
      val t = GraftTable.create(s"$dir/t", schema, partitionBy = partitionBy)
      var model = Vector.empty[M]
      var nextId = 0L
      val cats = Seq("aa", "ab", "bb", null)
      def batch(n: Int): Seq[M] = (0 until n).map { _ =>
        nextId += 1
        // ids recycle mod 30 via score so equality keys can re-match
        M(nextId, cats(rng.nextInt(cats.size)), rng.nextInt(30).toLong)
      }
      val b0 = batch(30); t.append(df(b0)); model ++= b0
      (1 to 8).foreach { step =>
        rng.nextInt(3) match {
          case 0 =>
            val b = batch(5 + rng.nextInt(10))
            t.append(df(b)); model ++= b
          case 1 => // equality delete on (cat, score) — null cats match nothing
            val sc = rng.nextInt(30).toLong
            val c = cats(rng.nextInt(3))
            t.deleteEquality(spark,
              df(Seq(M(0L, c, sc))).select("cat", "score"),
              Seq("cat", "score"))
            model = model.filterNot(m => m.cat == c && m.score == sc)
          case 2 =>
            t.compact(spark, smallerThanBytes = Long.MaxValue)
        }
        assert(readSet(t) == modelSet(model),
          s"[$name] equality diverged after step $step")
      }
      GraftTable.deleteRecursively(java.nio.file.Paths.get(dir))
    }

  // positional and equality entries COMPOSE on one table (Iceberg v2
  // allows both delete kinds concurrently): one random sequence drives
  // both forms plus the MoR upsert interleaved, against the same
  // row-multiset model, under every layout
  for ((name, partitionBy) <- layouts)
    test(s"random composed positional+equality sequence matches the model [$name]") {
      val rng = new scala.util.Random(4242 + name.hashCode)
      val dir = java.nio.file.Files
        .createTempDirectory(s"mor-comp-$name").toString
      val t = GraftTable.create(s"$dir/t", schema, partitionBy = partitionBy)
      var model = Vector.empty[M]
      var nextId = 0L
      val cats = Seq("aa", "ab", "bb", "bc", null)
      def batch(n: Int): Seq[M] = (0 until n).map { _ =>
        nextId += 1
        M(nextId, cats(rng.nextInt(cats.size)), rng.nextInt(50).toLong)
      }
      val b0 = batch(40); t.append(df(b0)); model ++= b0

      // every op kind runs at least once (shuffled), then random extras;
      // dynamic-partition overwrite replaces identity partitions only
      val kinds = (0 to 14).filter(k => k != 14 || name == "identity")
      val schedule = rng.shuffle(kinds) ++ Seq.fill(8)(kinds(rng.nextInt(kinds.size)))
      val ran = scala.collection.mutable.Set.empty[Int]
      val P = GraftTable.MergeSrcPrefix
      for ((kind, step) <- schedule.zipWithIndex) {
        ran += kind
        kind match {
          case 0 => // append
            val b = batch(5 + rng.nextInt(10))
            t.append(df(b)); model ++= b
          case 1 => // positional predicate delete (stacks on equality)
            val bound = rng.nextInt(50)
            t.deletePositional(spark, col("score") < bound)
            model = model.filterNot(_.score < bound)
          case 2 => // positional key delete
            val victims = model.filter(_.score % 5 == step % 5).map(_.id).distinct
            t.deletePositionalByKeys(spark,
              df(model.filter(m => victims.contains(m.id))).select("id"),
              Seq("id"))
            model = model.filterNot(m => victims.contains(m.id))
          case 3 => // positional update under pending equality entries
            val from = cats(rng.nextInt(4))
            t.updatePositional(spark, col("cat") === from,
              Map("score" -> (col("score") + lit(100L))))
            model = model.map(m =>
              if (m.cat == from) m.copy(score = m.score + 100L) else m)
          case 4 => // equality delete by id (stacks on positional)
            val victims = model.filter(_.score % 3 == step % 3)
              .map(_.id).distinct.take(6)
            if (victims.nonEmpty) {
              t.deleteEquality(spark,
                df(victims.map(M(_, null, 0L))).select("id"), Seq("id"))
              model = model.filterNot(m => victims.contains(m.id))
            }
          case 5 => // MoR upsert on a DV/equality-pending table
            val hit = rng.shuffle(model).take(2).map(m =>
              m.copy(cat = "up", score = m.score + 1000L))
            val b = hit ++ batch(2)
            if (b.nonEmpty) {
              t.mergeEquality(spark, df(b), Seq("id"))
              val keys = b.map(_.id).toSet
              model = model.filterNot(m => keys(m.id)) ++ b
            }
          case 6 => // maintenance materializes both forms
            t.compact(spark, smallerThanBytes = Long.MaxValue)
          case 7 => // copy-on-write delete composes with BOTH forms
            val c = cats(rng.nextInt(4))
            t.delete(spark, col("cat") === c)
            model = model.filterNot(_.cat == c)
          case 8 => // copy-on-write update under stacked entries
            // (score is no layout's partition source; cat/id are)
            val bound = rng.nextInt(50).toLong
            t.update(spark, col("score") === bound,
              Map("score" -> lit(bound + 500L)))
            model = model.map(m =>
              if (m.score == bound) m.copy(score = bound + 500L) else m)
          case 9 => // PREDICATE-deferred delete stacks on everything
            val bound = rng.nextInt(40) + 5
            t.deleteDeferred(spark, col("score") >= bound)
            model = model.filterNot(_.score >= bound)
          case 10 => // copy-on-write delete by keys
            val victims = rng.shuffle(model).take(4).map(_.id).toSet
            t.deleteByKeys(spark,
              df(model.filter(m => victims(m.id))).select("id"), Seq("id"))
            model = model.filterNot(m => victims(m.id))
          case 11 => // copy-on-write upsert
            val b = rng.shuffle(model).take(3).map(m =>
              m.copy(score = m.score + 2000L)) ++ batch(2)
            t.merge(spark, df(b), "id")
            val keys = b.map(_.id).toSet
            model = model.filterNot(m => keys(m.id)) ++ b
          case 12 => // conditional copy-on-write merge with a DELETE action
            val hits = rng.shuffle(model).take(4).zipWithIndex.map {
              case (m, i) => m.copy(cat = if (i % 2 == 0) "del" else "upd",
                score = m.score + 3000L)
            }
            val fresh = batch(2)
            t.mergeActions(spark, df(hits ++ fresh), Seq("id" -> "id"),
              matched = Seq(
                MergeDelete(Some(col(P + "cat") === "del")),
                MergeUpdate(None, Map("score" -> col(P + "score")))),
              notMatched = Seq(MergeInsert(None,
                Seq("id", "cat", "score").map(c => c -> col(P + c)).toMap)))
            val byId = hits.map(h => h.id -> h).toMap
            model = model.flatMap(m => byId.get(m.id) match {
              case Some(h) if h.cat == "del" => None
              case Some(h) => Some(m.copy(score = h.score))
              case None => Some(m)
            }) ++ fresh
          case 13 => // predicate overwrite (whole-partition drops demote)
            val c = cats(rng.nextInt(4))
            val b = batch(3)
            t.overwriteWhere(spark, col("cat") === c, df(b))
            model = model.filterNot(_.cat == c) ++ b
          case 14 => // dynamic-partition overwrite (identity layout)
            val b = batch(3)
            t.overwritePartitionsDynamic(spark, df(b))
            val touched = b.map(_.cat).toSet
            model = model.filterNot(m => touched(m.cat)) ++ b
        }
        assert(readSet(t) == modelSet(model),
          s"[$name] composed diverged after step $step (op $kind)")
      }
      assert(ran == kinds.toSet, s"[$name] op kinds never run: ${kinds.toSet -- ran}")
      t.compact(spark, smallerThanBytes = Long.MaxValue)
      assert(t.positionalDeletes.isEmpty && t.equalityDeletes.isEmpty &&
        t.pendingDeletes.isEmpty)
      assert(readSet(t) == modelSet(model),
        s"[$name] composed diverged after final compact")
      GraftTable.deleteRecursively(java.nio.file.Paths.get(dir))
    }
}
