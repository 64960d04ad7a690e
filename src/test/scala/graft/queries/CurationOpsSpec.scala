package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkSpecBase

/** Structural invariants of the round-6 curation operators — properties
  * the DuckDB hash-match can't express (it proves equality, not sanity).
  */
class CurationOpsSpec extends SparkSpecBase {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("g01 graph rank: fixed-point invariants and bit-stable reruns") {
    val out = Dedup.queries("g01_graph_rank")(spark, sfDir)
      .select($"vec_id", $"rank_q", $"deg").collect()
    assert(out.nonEmpty)
    // every node keeps at least the teleport mass and never exceeds the
    // total Q30 mass (floors only shrink it)
    val n = out.length.toLong
    val tele = (15L * (1L << 30)) / (100L * n)
    assert(out.forall(r => r.getLong(1) >= tele && r.getLong(1) < (1L << 30)))
    // total mass is conserved up to the per-edge floor loss
    val total = out.map(_.getLong(1)).sum
    assert(total <= (1L << 30) && total > (1L << 30) / 2)
    // order-independence is the design claim: a rerun is bit-identical
    val again = Dedup.queries("g01_graph_rank")(spark, sfDir)
      .select($"vec_id", $"rank_q", $"deg").collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("d08, d10 and g01 leave no persisted RDD behind once consumed") {
    val sc = spark.sparkContext
    // the graph loops' edge, degree and label caches must be released by
    // the time the result is read — Bench/Verify's clearCache between
    // queries only clears Dataset caches, never RDD persists
    def leftBy(run: => Unit): Set[Int] = {
      val before = sc.getPersistentRDDs.keySet
      run
      sc.getPersistentRDDs.keySet.toSet -- before
    }
    Seq("d08_dup_clusters", "d10_canonical_per_cluster", "g01_graph_rank")
      .foreach { q =>
        val left = leftBy(Dedup.queries(q)(spark, sfDir).collect())
        assert(left.isEmpty, s"$q left persisted RDDs $left")
      }
    // the distributed (multi-partition) label loop too: 60k directed
    // edges size its partitioner past one partition
    val pairs = (0L until 30000L).map(i => (2 * i, 2 * i + 1))
      .toDF("doc_a", "doc_b")
    var labels = Map.empty[Long, Long]
    val left = leftBy {
      labels = Dedup.dupClusters(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(left.isEmpty, s"distributed dupClusters left persisted RDDs $left")
    assert(labels.size == 60000 &&
      labels.forall { case (v, l) => l == (v & ~1L) })
  }

  test("s15 MMR: distinct picks, relevance-first opening, non-increasing scores") {
    val rows = Similarity.queries("s15_mmr_rerank")(spark, sfDir)
      .orderBy("rank").collect()
    assert(rows.length == 10)
    val ids = rows.map(_.getLong(1))
    assert(ids.distinct.length == ids.length)
    // step 1 is pure relevance: the pick maximizes 0.7*rel (ties → min id)
    val rels = rows.map(_.getDouble(2))
    assert(rows.head.getLong(3) ==
      math.floor((0.7 * rels.max - 0.3 * 0.0) * 1e6).toLong)
    // greedy MMR scores never increase with rank (each candidate's
    // redundancy penalty only grows as the selected set grows)
    val mmr = rows.map(_.getLong(3))
    assert(mmr.zip(mmr.tail).forall { case (a, b) => b <= a })
  }

  test("t26 training: non-trivial weights, full accounting, bit-stable reruns") {
    val r1 = TextAnalysis.queries("t26_train_classifier")(spark, sfDir).head()
    val r2 = TextAnalysis.queries("t26_train_classifier")(spark, sfDir).head()
    assert(r1.toSeq == r2.toSeq)
    // gradients moved the weights off the origin
    assert((0 to 3).exists(j => r1.getLong(j) != 0L))
    // accuracy accounting is over the full training set
    assert(r1.getLong(5) >= 0L && r1.getLong(5) <= r1.getLong(4))
  }

  test("d17 line dedup: per-doc segment accounting matches the tokenizer") {
    val out = Dedup.queries("d17_line_dedup")(spark, sfDir)
      .select($"doc_id", ($"n_kept" + $"n_removed").as("n_segs"))
    val expected = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id",
        size(graft.functions.TextOps.tokens($"text")).as("n"))
      .filter($"n" > 0)
      .select($"doc_id", ceil($"n" / lit(16.0)).cast("long").as("n_segs"))
    assert(out.exceptAll(expected).count() == 0)
    assert(expected.exceptAll(out).count() == 0)
  }
}
