package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, ResolvedHint}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.{GraftSession, SparkEntry}

/** Plan auditor: prints, for each (or one named) SparkEntry query, the
  * physical-plan properties that matter at 100 TB —
  *
  *  - `PushedFilters` / `ReadSchema` on the parquet scan (pushdown + column
  *    pruning actually reached the source);
  *  - join strategies chosen (broadcast vs sort-merge);
  *  - number of shuffle exchanges;
  *  - whole-stage codegen coverage.
  *
  * `sbt "runMain graft.tools.ExplainAudit [sfDir] [queryName]"` — prints
  * one summary line per query, or the full formatted plan when a name is
  * given.
  */
object ExplainAudit {

  /** Tables whose row count grows with SF — an explicit `broadcast()` hint
    * on (anything derived from) one of these overrides Spark's size check
    * and OOMs the driver / trips the 8 GB broadcast limit at cluster
    * scale. Only nation (25 rows), region (5) and 1-row scalar aggregates
    * may carry hints; everything else is left to statistics + AQE. */
  private val sfProportional = Seq("customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Broadcast-policy violations in `df`'s plan: each returned string
    * names the SF-proportional source table(s) under an explicit broadcast
    * hint whose subtree is not otherwise bounded (no global — ungrouped —
    * aggregate and no LIMIT between the hint and the scan). Empty = clean. */
  def broadcastViolations(df: DataFrame): Seq[String] = {
    df.queryExecution.analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.isDefined => h
    }.flatMap { h =>
      val bounded = h.child.exists {
        case a: Aggregate if a.groupingExpressions.isEmpty => true
        case _: GlobalLimit => true
        case _ => false
      }
      if (bounded) None
      else {
        // leaf toString omits file paths; pull them from the relations
        val paths = h.child.collectLeaves().map {
          case lr: LogicalRelation => lr.relation match {
            case fs: HadoopFsRelation =>
              fs.location.rootPaths.map(_.toString).mkString(",")
            case other => other.toString
          }
          case other => other.toString
        }.mkString("\n")
        val bad = sfProportional.filter(n => paths.contains(s"$n.parquet"))
        if (bad.isEmpty) None
        else Some(s"broadcast hint over SF-proportional ${bad.mkString("+")}")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).headOption
    val spark = GraftSession.local("4", "ERROR")

    val names = only.map(Seq(_)).getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    for (name <- names) {
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        if (only.isDefined) {
          println(s"=== $name ===")
          df.explain("formatted")
        } else {
          def count(pat: String) = pat.r.findAllIn(plan).length
          val pushed = count("PushedFilters: \\[[^\\]]*[A-Za-z]")
          val scans = count("FileScan|BatchScan")
          val bhj = count("BroadcastHashJoin")
          val smj = count("SortMergeJoin")
          val exch = count("Exchange (hash|range|Single)")
          val wsc = count("\\*\\(\\d+\\)")
          val viol = broadcastViolations(df)
          println(f"$name%-28s scans=$scans pushedFilterScans=$pushed " +
            f"bhj=$bhj smj=$smj shuffles=$exch codegenSpans=$wsc" +
            (if (viol.isEmpty) "" else s" BROADCAST-VIOLATION: ${viol.mkString("; ")}"))
        }
      } catch {
        case e: Exception => println(s"$name ERROR ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
