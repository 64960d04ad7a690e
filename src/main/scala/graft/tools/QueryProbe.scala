package graft.tools

/** Dev tool: run one named SparkEntry query N times with timings, and
  * optionally dump its formatted plan. Usage:
  *
  *   sbt "runMain graft.tools.QueryProbe <name> [reps] [explain]"
  *
  * Session ([[graft.GraftSession.local]]) and warmup query match Bench,
  * so a time measured here is comparable to a BENCH_r{N} entry.
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: QueryProbe <name> [reps] [explain]"))
    val reps = if (args.length > 1) args(1).toInt else 3
    val doExplain = args.contains("explain")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus, "WARN")
    val fn = graft.SparkEntry.queries(name)
    // Bench's warmup pass (JIT + parquet footer cache), on the same sfDir
    try graft.SparkEntry.queries("h01_pricing_summary")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }
    if (doExplain) fn(spark, sfDir).explain("formatted")
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[probe] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
