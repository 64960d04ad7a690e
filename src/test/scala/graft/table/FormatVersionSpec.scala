package graft.table

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** Table metadata format versioning: every writer stamps
  * [[GraftTable.FormatVersion]] into `metadata.json`, and loading a table
  * in any other version (or with none) refuses with one message naming
  * the directory, the version found and the supported version. The
  * catalogs still see such a table, so nothing is ever created over it.
  */
class FormatVersionSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("data", StringType, nullable = true)))

  private def mkTable(dir: String): GraftTable = {
    val t = GraftTable.create(dir, schema)
    t.append(spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(1L, "a"), Row(2L, "b")), 1), schema), Some(1000L))
    t
  }

  private def metaOf(dir: String): Map[String, Any] =
    graft.util.Json.parseObject(
      Files.readString(Paths.get(dir, "metadata.json")))

  /** Rewrite `metadata.json` with `edit` applied to its fields. */
  private def rewriteMeta(dir: String)(
      edit: Map[String, Any] => Map[String, Any]): Unit =
    graft.util.Json.writeFileAtomic(s"$dir/metadata.json",
      graft.util.Json.write(edit(metaOf(dir))))

  /** The messages of `e` and every cause below it. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => String.valueOf(x.getMessage)).mkString(" | ")

  test("every metadata writer stamps the current format version") {
    val dir = s"${tmpDir("fmt-writers")}/t"
    val t = mkTable(dir)
    assert(metaOf(dir)("format_version") == GraftTable.FormatVersion)
    // writeMeta (schema/property changes)
    t.updateProperties(Map("k" -> "v"))
    assert(metaOf(dir)("format_version") == GraftTable.FormatVersion)
    // the REPLACE TABLE staged metadata
    GraftTable.replaceAtomic(dir, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(9L, "z")), 1), schema))
    assert(metaOf(dir)("format_version") == GraftTable.FormatVersion)
    assert(GraftTable.load(dir).read(spark).count() == 1L)
  }

  Seq[(String, Map[String, Any] => Map[String, Any], String)](
    ("format_version 1", _ + ("format_version" -> 1L), "format_version 1,"),
    ("no format_version", _ - "format_version", "format_version (none)")
  ).foreach { case (label, edit, found) =>
    test(s"a table with $label refuses to load, through the API and SQL") {
      val wh = tmpDir("fmt-refuse")
      val dir = s"$wh/db/old_t"
      mkTable(dir)
      rewriteMeta(dir)(edit)
      val metaBytes = Files.readString(Paths.get(dir, "metadata.json"))
      def assertRefusal(msg: String): Unit = {
        assert(msg.contains(dir), msg)
        assert(msg.contains(found), msg)
        assert(msg.contains(
          s"reads only format_version ${GraftTable.FormatVersion}"), msg)
      }
      val e = intercept[IllegalStateException](GraftTable.load(dir))
      assertRefusal(e.getMessage)
      // the SQL surface goes through the same load (one catalog name
      // per test: Spark keeps a catalog's first warehouse)
      val cat = "gfmt_" + label.filter(_.isLetterOrDigit)
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.table.GraftSparkCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      val sqlErr = intercept[Exception](
        spark.sql(s"SELECT id FROM $cat.db.old_t").collect())
      assertRefusal(messages(sqlErr))
      // the catalog still sees the table: nothing is created over it
      assert(GraftTable.exists(dir))
      val created = intercept[IllegalArgumentException](
        new GraftCatalog(wh).createTable("db.old_t", schema))
      assert(created.getMessage.contains("table exists"), created.getMessage)
      assert(Files.readString(Paths.get(dir, "metadata.json")) == metaBytes,
        "the refused table's metadata must be left as it was")
    }
  }
}
