package graft.tools

import graft.{GraftSession, SparkEntry}

/** CLI to run any SparkEntry query by name:
  *
  * {{{
  *   sbt "runMain graft.tools.QueryRunner q30_agg_group /root/testdata/sf0.001 [n]"
  *   sbt "runMain graft.tools.QueryRunner list"
  * }}}
  *
  * Prints the first `n` rows (default 20) and the row count. The session
  * is Verify/Bench's ([[GraftSession.local]]).
  */
object QueryRunner {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty || args(0) == "list") {
      SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      return
    }
    val name = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val n = args.lift(2).map(_.toInt).getOrElse(20)
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name' — run with 'list' to see all"))

    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), "WARN")
    val df = fn(spark, sfDir)
    df.show(n, truncate = 40)
    println(s"rows: ${df.count()}")
    spark.stop()
  }
}
