package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name filter (local
    // iteration only — the driver always runs the full surface)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.local(cpus, "WARN")
    new java.io.File(outDir).mkdirs()
    val failed = Seq.newBuilder[String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failure BEFORE the overwrite executed leaves the previous
        // run's output in place — the oracle would then false-PASS
        // against stale data; remove it so the gate sees the crash
        try {
          val p = java.nio.file.Paths.get(s"$outDir/$name")
          if (Files.exists(p)) graft.table.GraftTable.deleteRecursively(p)
        } catch { case _: Throwable => () }
        // then, for ORACLED queries only, write an explicit one-row error
        // marker in its place: the driver's comparator OMITS queries with
        // no output dir (round 5 lost 4 crashed queries from CORRECTNESS
        // with no red row), but an `__error` column can never schema/hash-
        // match any oracle, so the crash surfaces as a loud FAIL row
        // instead of a silent gap. Rows-only queries stay dir-less — for
        // them a 1-row marker would read as a rows>0 "pass", which is
        // worse than the omission (_failed.json still names them).
        try if (SparkEntry.oracleSql.contains(name)) {
          import spark.implicits._
          Seq(s"$name crashed: ${e.getClass.getSimpleName}: " +
              String.valueOf(e.getMessage).take(500))
            .toDF("__error").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
      // drop intra-query persist()s so a 150-query dump doesn't stack
      // cached blocks on one heap (same rationale as Bench)
      spark.catalog.clearCache()
    }
    // failure manifest: non-SQL-expressible queries have no oracle entry,
    // so the gate can't infer their crash from a missing dir — this file
    // names every failure explicitly
    Files.writeString(Paths.get(s"$outDir/_failed.json"),
      failed.result().sorted.map(n => "\"" + n + "\"")
        .mkString("[", ",", "]"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
