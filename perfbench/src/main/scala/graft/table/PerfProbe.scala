package graft.table

import org.apache.spark.sql.{Column, SparkSession}

/** Read-only access to package-private table-layer state the benchmark
  * reports: the manifest-list parse counter and the pruning entry point
  * a scan uses. Nothing here mutates a table. */
object PerfProbe {

  /** Manifest-list parses so far (cache misses of [[Manifest.read]]). */
  def listParses: Long = Manifest.listParses.get()

  /** The files a scan of `tb` at `manifest` keeps for `filter` — the
    * same resolution and pruning path [[GraftTable.scan]] takes. */
  def prunedFiles(spark: SparkSession, tb: GraftTable, manifest: Manifest,
      filter: Column): Seq[DataFileEntry] = {
    val resolved = GraftTable.resolveAgainst(spark, tb.readSchema,
      org.apache.spark.sql.classic.GraftBridge.expr(filter))
    tb.prunedFiles(manifest, TimeTravel.neutralize(resolved, tb.virtualColumn))
  }
}
