package graft

import org.apache.spark.sql.SparkSession

/** The one local session setup every main shares (Bench, Verify and the
  * tools), so their sessions cannot drift apart: `local[cpus]` with as
  * many shuffle partitions, the graft SQL extensions, UTC session time,
  * nanosecond parquet timestamps read as LONG (events.parquet stores
  * INT64 TIMESTAMP(NANOS); `graft.queries.Events` converts them) and no
  * Spark UI. */
object GraftSession {
  def local(cpus: String, logLevel: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.table.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
