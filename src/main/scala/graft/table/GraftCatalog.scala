package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog/table resolution (S1) — Spark-native analog of
  * `TableResolverUtil.resolveTableFromConfiguration`
  * (TableResolverUtil.java:59-91), which supports path-addressed tables
  * (HadoopTables, :66-68) and warehouse-addressed `db.table` identifiers
  * (HadoopCatalog, :69-85), plus the reference's suffixed metadata-table
  * naming (:72-85,93-100), extended to the [[MetadataTables]] family.
  */
final class GraftCatalog(warehouse: String) {

  /** `db.table` → `<warehouse>/db/table` (HadoopCatalog layout).
    * Each segment is validated (word characters only) so an identifier
    * containing `/` or `..` can never resolve outside the warehouse root. */
  def tableDir(identifier: String): String = {
    require(identifier.nonEmpty, "empty table identifier")
    val parts = identifier.split('.')
    require(parts.nonEmpty && parts.forall(_.matches("[A-Za-z0-9_]+")),
      s"invalid table identifier '$identifier': segments must match [A-Za-z0-9_]+")
    (Seq(warehouse) ++ parts).mkString("/")
  }

  def createTable(
      identifier: String,
      schema: org.apache.spark.sql.types.StructType,
      properties: Map[String, String] = Map.empty,
      partitionBy: Seq[String] = Nil): GraftTable =
    GraftTable.create(tableDir(identifier), schema, properties, partitionBy)

  /** Run `f` against a warehouse TRANSACTION and publish its staged
    * commits atomically; any failure (in `f` or pre-atomicity publish)
    * rolls the whole transaction back. `f` receives the open
    * [[GraftTransaction]] — `txn.table("db.t")` hands back staged
    * handles whose commits become visible only at publish, all
    * together. The cross-table consistency primitive: corpus append +
    * index refresh as ONE visible event. */
  def transact[T](f: GraftTransaction => T): T = {
    val txn = beginTransaction()
    try {
      val r = f(txn)
      txn.commit()
      r
    } catch {
      case e: Throwable =>
        try txn.rollback() catch { case _: Throwable => () }
        throw e
    }
  }

  /** Explicit begin/commit form of [[transact]]. */
  def beginTransaction(): GraftTransaction = GraftTransaction.begin(warehouse)

  /** Resolve `db.table`, or a metadata-table name `db.table<suffix>`
    * ([[MetadataTables]]), to the data table or that metadata table of
    * the base table, as a DataFrame.
    *
    * A data table of the full suffixed name wins when it exists — for
    * `__snapshots` only when it has also opted out with
    * `graft.snapshots.table=false` (reference edge case:
    * TestReadSnapshotTable.java:114-136).
    */
  def loadDataFrame(spark: SparkSession, identifier: String): DataFrame = {
    val dir = tableDir(identifier)
    MetadataTables.split(identifier).filterNot { case (m, _) =>
      GraftTable.exists(dir) && (m != MetadataTables.Snapshots ||
        !GraftTable.load(dir).snapshotsTableEnabled)
    } match {
      case Some((m, base)) =>
        val t = GraftTable.load(tableDir(base))
        // only __snapshots can be switched off
        require(m.enabled(t),
          s"snapshots table disabled for $base (${GraftTable.PropSnapshotsTable}=false)")
        m.build(t, spark, None)
      case None => GraftTable.load(dir).read(spark)
    }
  }

  /** Register `name` (and `name__snapshots` when enabled) as temp views so
    * `spark.sql` can query them. The data view is a deferred
    * [[GraftRelation]]: snapshot choice (current, or this query's
    * `snapshot__id = <id>` predicate) happens per query inside
    * [[ResolveGraftScan]], never at registration — the reference's
    * statelessness invariant (TestPredicatePushdown.java:74-112). */
  def register(spark: SparkSession, identifier: String): Unit = {
    GraftCatalog.injectRule(spark)
    val viewName = identifier.replace('.', '_')
    val t = GraftTable.load(tableDir(identifier))
    GraftRelation.dataFrame(spark, t).createOrReplaceTempView(viewName)
    if (t.snapshotsTableEnabled) {
      // deferred like the data view: the log is re-read per query, so the
      // two views stay consistent after later appends
      GraftSnapshotsRelation.dataFrame(spark, t).createOrReplaceTempView(
        viewName + MetadataTables.Snapshots.suffix)
    }
  }
}

object GraftCatalog {
  /** Path-addressed load (HadoopTables analog, TableResolverUtil.java:66-68). */
  def loadPath(spark: SparkSession, dir: String): DataFrame =
    GraftTable.load(dir).read(spark)

  /** Idempotently add [[ResolveGraftScan]] to the session's optimizer
    * (the `experimental.extraOptimizations` hook runs as the last
    * optimizer batch, after predicate pushdown has placed each query's
    * filter next to the [[GraftRelation]] leaf). */
  def injectRule(spark: SparkSession): Unit =
    spark.experimental.synchronized {
      val existing = spark.experimental.extraOptimizations
      if (!existing.exists(_.isInstanceOf[ResolveGraftScan])) {
        spark.experimental.extraOptimizations =
          existing :+ ResolveGraftScan(spark)
      }
    }
}
