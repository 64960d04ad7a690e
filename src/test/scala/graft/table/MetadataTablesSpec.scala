package graft.table

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** Every [[MetadataTables]] entry on both catalog paths: the V1
  * [[GraftCatalog.loadDataFrame]] and DSv2 SQL through
  * [[GraftSparkCatalog]] serve the same rows, snapshot-scoped entries
  * time-travel like their base table and table-global ones refuse, and
  * a real table of a suffixed name wins. */
class MetadataTablesSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("data", StringType, nullable = true)))

  private def mkDf(rows: (Long, String)*) = spark.createDataFrame(
    spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1), schema)

  private lazy val wh = tmpDir("graft-metatables")

  /** Snapshots 1-2 append, 3 defers a predicate delete, 4 deletes
    * positionally (commit times 1000-4000 ms); tag `cut` names 2. */
  private lazy val base: GraftTable = {
    spark.conf.set("spark.sql.catalog.gmeta", "graft.table.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.gmeta.warehouse", wh)
    val t = GraftTable.create(s"$wh/db/mt", schema, partitionBy = Seq("data"))
    t.append(mkDf(1L -> "x", 2L -> "y"), Some(1000L))
    t.append(mkDf(3L -> "x", 4L -> "z"), Some(2000L))
    t.deleteDeferred(spark, col("id") === 1L, Some(3000L))
    t.deletePositional(spark, col("id") === 4L, Some(4000L))
    t.tag("cut", 2L)
    GraftTable.load(t.dir)
  }

  private def sql(q: String): Seq[Row] = spark.sql(q).collect().toSeq

  private def sameRows(got: Seq[Row], want: Seq[Row], what: String): Unit =
    assert(got.size == want.size && got.diff(want).isEmpty,
      s"$what: got $got, want $want")

  MetadataTables.all.foreach { m =>
    val name = s"mt${m.suffix}"

    test(s"${m.suffix}: V1 loadDataFrame and DSv2 SELECT serve the same rows") {
      val want = m.build(base, spark, None).collect().toSeq
      assert(want.nonEmpty || m.suffix == "__deletes")
      sameRows(new GraftCatalog(wh).loadDataFrame(spark, s"db.$name")
        .collect().toSeq, want, "V1")
      sameRows(sql(s"SELECT * FROM gmeta.db.$name"), want, "DSv2")
    }

    if (m.snapshotScoped)
      test(s"${m.suffix}: VERSION AS OF id/tag and TIMESTAMP AS OF match the builder") {
        (1L to 4L).foreach { id =>
          sameRows(sql(s"SELECT * FROM gmeta.db.$name VERSION AS OF $id"),
            m.build(base, spark, Some(id)).collect().toSeq, s"VERSION AS OF $id")
        }
        val at2 = m.build(base, spark, Some(2L)).collect().toSeq
        sameRows(sql(s"SELECT * FROM gmeta.db.$name VERSION AS OF 'cut'"),
          at2, "VERSION AS OF 'cut'")
        sameRows(sql(s"SELECT * FROM gmeta.db.$name " +
          "TIMESTAMP AS OF CAST(2.5 AS TIMESTAMP)"), at2, "TIMESTAMP AS OF")
      }
    else
      test(s"${m.suffix}: table-global, refuses VERSION AS OF and TIMESTAMP AS OF") {
        base
        Seq("VERSION AS OF 1", "TIMESTAMP AS OF CAST(2.5 AS TIMESTAMP)")
          .foreach { tt =>
            val e = intercept[Exception] {
              sql(s"SELECT * FROM gmeta.db.$name $tt")
            }
            assert(e.getMessage.contains("table-global"), e.getMessage)
          }
      }
  }

  test("the metadata tables differ across snapshots where the fixture says") {
    val deletes = MetadataTables.split("mt__deletes").get._1
    assert(deletes.build(base, spark, Some(1L)).count() == 0L)
    assert(deletes.build(base, spark, Some(4L)).count() == 2L)
    val files = MetadataTables.split("mt__files").get._1
    assert(files.build(base, spark, Some(1L)).count() == 2L)
    assert(files.build(base, spark, None).count() == 4L)
  }

  test("split names an entry only when the name is longer than its suffix") {
    assert(MetadataTables.split("__files").isEmpty)
    assert(MetadataTables.split("t__nope").isEmpty)
    MetadataTables.all.foreach { m =>
      assert(MetadataTables.split(s"t${m.suffix}") == Some((m, "t")))
    }
  }

  test("a real table named <t>__files wins on both paths") {
    base
    val real = GraftTable.create(s"$wh/db/mt__files", schema)
    real.append(mkDf(42L -> "real"), Some(1000L))
    val want = Seq(Row(42L, "real"))
    // the V1 read also carries the virtual snapshot-id column
    assert(new GraftCatalog(wh).loadDataFrame(spark, "db.mt__files")
      .select("id", "data").collect().toSeq == want)
    assert(sql("SELECT * FROM gmeta.db.mt__files") == want)
  }
}
