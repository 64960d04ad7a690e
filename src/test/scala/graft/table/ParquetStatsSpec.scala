package graft.table

import java.nio.file.Paths

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

import graft.SparkSpecBase

/** The commit's one footer read ([[ParquetStats.forFile]], opened with
  * the caller's conf) must return exactly what the default-options read
  * returns: rows, stats and blooms, over every column shape the manifest
  * records — and the import's schema check must need no Spark job. */
class ParquetStatsSpec extends SparkSpecBase {

  /** The default-options read: the one-argument `open`, whose options
    * wrap a fresh `Configuration`. */
  private def reference(path: String, blooms: Set[String]) = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), new Configuration()))
    try {
      val (rows, stats) = ParquetStats.statsOf(reader.getFooter)
      (rows, stats, FileBloom.harvest(reader, blooms))
    } finally reader.close()
  }

  test("one footer read returns the rows, stats and blooms of the default-options read") {
    val dir = tmpDir("pstats")
    val df = spark.range(0L, 600L, 1L, 3).selectExpr(
      "id",
      "concat('s', id) AS s",
      "CAST(id / 7 AS DECIMAL(12,3)) AS d",
      "CAST(id AS DECIMAL(30,2)) AS wide",
      "date_add(DATE'2020-01-01', CAST(id AS INT)) AS dt",
      "timestamp_micros(id * 1000003) AS ts",
      "CAST(timestamp_micros(id * 7) AS TIMESTAMP_NTZ) AS ntz",
      "named_struct('a', CAST(id AS INT), 'b', concat('b', id)) AS nested",
      "array(id, id + 1) AS arr",
      "parse_json(concat('{\"k\":', id, ',\"tag\":\"t', id, '\"}')) AS v",
      "CASE WHEN id % 10 = 0 THEN NULL ELSE id END AS nl")
    val cols = Set("id", "s", "dt")
    val t = GraftTable.create(s"$dir/t", df.schema,
      properties = Map(GraftTable.PropBloomColumns -> cols.mkString(",")))
    t.append(df, Some(1000L))
    val entries = Manifest.read(
      s"${t.dir}/${t.log.current.get.manifestList}").files
    assert(entries.size == 3)
    val conf = spark.sessionState.newHadoopConf()
    entries.foreach { e =>
      val path = Paths.get(t.dir, e.path).toString
      val got = ParquetStats.forFile(path, conf, cols)
      val (rows, stats, blooms) = reference(path, cols)
      assert(got.rowCount == rows)
      assert(got.stats == stats)
      assert(got.blooms == blooms)
      // and the commit recorded that same read
      assert(e.recordCount == rows && e.stats == stats && e.blooms == blooms)
    }
    // the files exercise what they claim to: blooms on every bloom
    // column, decimal/date/string bounds, shredded-variant pseudo keys
    val stats = entries.head.stats
    assert(entries.forall(_.blooms.keySet == cols))
    Seq("s", "d", "wide", "dt", "nl").foreach(c =>
      assert(stats.get(c).exists(_.min.isDefined), s"no bounds for $c"))
    assert(stats.get(VariantPruning.statKey("v", "$.k", "long"))
      .exists(_.max.isDefined), s"no shredded-variant stat: ${stats.keys}")
  }

  test("importing files checks each footer without a Spark job") {
    val dir = tmpDir("pstats-import")
    val src = s"$dir/src"
    spark.range(0L, 400L, 1L, 4).selectExpr("id", "concat('s', id) AS s")
      .write.parquet(src)
    val files = new java.io.File(src).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted.toSeq
    assert(files.size == 4)
    val t = GraftTable.create(s"$dir/t",
      spark.read.parquet(files.head).schema)
    val jobs = jobsDuring { t.importFiles(spark, files, Some(1000L)): Unit }
    assert(jobs == 0, s"importing ${files.size} files launched $jobs job(s)")
    assert(t.read(spark).count() == 400L)
    val entries = Manifest.read(
      s"${t.dir}/${t.log.current.get.manifestList}").files
    assert(entries.map(_.recordCount).sum == 400L)
    assert(entries.forall(_.stats.get("id").exists(_.min.isDefined)))
  }
}
