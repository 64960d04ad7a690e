package org.apache.spark.sql.classic

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Spark 4 removed `Column.expr`; the classic converter that replaces it
  * ([[ExpressionUtils]]) is package-private. This bridge re-exports the two
  * conversions the graft table layer needs (filter Column → Catalyst
  * expression for manifest pruning and time travel, and back).
  */
object GraftBridge {
  /** Eagerly convert the Column's internal node tree to a Catalyst
    * expression. (`ExpressionUtils.expression` wraps it in a lazy
    * `ColumnNodeExpression` that reports `resolved = true` while still
    * holding unresolved attributes — useless for pattern matching.) */
  def expr(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession], plan)

  def analyzedPlan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[Dataset[_]].queryExecution.analyzed

  /** `StructType.asNullable` (nested fields too) — what a file-source
    * relation declares its data schema as; private to Spark. */
  def asNullable(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = schema.asNullable

  /** The schema `spark.read.parquet(path).schema` infers for one file,
    * converted from its already-read footer metadata by the conversion
    * `ParquetFileFormat.readSchema` applies (that method is private to
    * its package) and made nullable like every file source's — without
    * Spark's schema-inference job. */
  def parquetFooterSchema(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      meta: org.apache.parquet.hadoop.metadata.FileMetaData)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      .readSchemaFromFooter(
        new org.apache.parquet.hadoop.Footer(
          new org.apache.hadoop.fs.Path(path),
          new org.apache.parquet.hadoop.metadata.ParquetMetadata(
            meta, java.util.Collections.emptyList())),
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetToSparkSchemaConverter(
            spark.asInstanceOf[SparkSession].sessionState.conf))
      .asNullable

  /** Spark's own vectorized-parquet DSv2 table over the files (and read
    * options) of a [[graft.table.ManifestFileIndex]] with a fixed schema —
    * the scan engine behind [[graft.table.GraftSparkCatalog]]. The table's
    * `fileIndex` is the manifest index, so building the scan never lists
    * or stats the files. Constructed here because the FileTable family
    * is package-private to org.apache.spark.sql. */
  def parquetTable(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      index: graft.table.ManifestFileIndex,
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable =
    new org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable(
      name,
      spark.asInstanceOf[SparkSession],
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(index.options.asJava),
      Nil,
      Some(schema),
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat]) {
      override lazy val fileIndex
          : org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex =
        index
    }
}
