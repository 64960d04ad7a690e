package graft.table

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** Reads plan from the manifest ([[ManifestFileIndex]]): building a read
  * neither lists nor stats data files, a filter applied after the read
  * is built still prunes files at physical planning, and every read
  * shape the index now serves returns exactly the table's rows. */
class ManifestFileIndexSpec extends SparkSpecBase with AdaptiveSparkPlanHelper {

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", StringType, nullable = true)))

  /** `n` rows in `files` contiguous key ranges, one data file each. */
  private def keyed(n: Long, files: Int, from: Long = 0L): DataFrame =
    spark.range(from, from + n, 1, files).select(col("id").as("k"),
      concat(lit("v"), col("id").cast("string")).as("v"))

  private def rowsOf(df: DataFrame): Set[(Long, String)] =
    df.select("k", "v").collect().map(r => r.getLong(0) -> r.getString(1)).toSet

  private def model(ks: Iterable[Long]): Set[(Long, String)] =
    ks.map(k => k -> s"v$k").toSet

  /** Files the executed scans of `df` planned (their `numFiles` metric),
    * after running it. */
  private def scannedFiles(df: DataFrame): Long = {
    df.collect()
    collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum
  }

  /** Jobs Spark started while `body` ran. The marker job's start event
    * arrives after every earlier job's (one ordered listener queue), so
    * once it is seen the count is complete. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new AtomicInteger(0)
    @volatile var markerSeen = false
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
            p.getProperty("spark.jobGroup.id") == "manifest-index-marker"))
          markerSeen = true
        else started.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      body
      sc.setJobGroup("manifest-index-marker", "marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(markerSeen, "listener never saw the marker job")
      started.get()
    } finally sc.removeSparkListener(l)
  }

  private def dataFiles(t: GraftTable): Seq[java.nio.file.Path] =
    Manifest.read(s"${t.dir}/${t.log.current.get.manifestList}").files
      .map(f => Paths.get(t.dir, f.path).normalize())

  test("building a 100-file read launches no job and stats no data file") {
    val t = GraftTable.create(s"${tmpDir("mfi-100")}/t", schema)
    t.append(keyed(1000L, 100), Some(1000L))
    val files = dataFiles(t)
    assert(files.size == 100)
    // move every data file away: any listing or stat of them while the
    // DataFrame is built would now fail (InMemoryFileIndex raises
    // PATH_NOT_FOUND at construction)
    val away = Files.createTempDirectory("mfi-away")
    files.foreach(p => Files.move(p, away.resolve(p.getFileName)))
    var df: DataFrame = null
    val jobs = jobsDuring {
      df = t.read(spark).filter(col("k") === 7L)
      df.queryExecution.optimizedPlan
    }
    assert(jobs == 0, s"building the read launched $jobs Spark job(s)")
    // a manifest entry whose file is gone still fails the read loudly —
    // at execution, when a task opens the file
    val e = intercept[Exception](df.collect())
    def chain(x: Throwable): Seq[Throwable] =
      if (x == null) Nil else x +: chain(x.getCause)
    assert(chain(e).exists(c => Option(c.getMessage).exists(m =>
        m.contains("does not exist") || m.contains("FILE_NOT_EXIST") ||
          m.contains("FileNotFound"))) ||
        chain(e).exists(_.isInstanceOf[java.io.FileNotFoundException]),
      e.toString)
    files.foreach(p => Files.move(away.resolve(p.getFileName), p))
    assert(rowsOf(t.read(spark)) == model(0L until 1000L))
  }

  test("readAsOf(t).filter(k) plans only the kept files, via the API and SQL") {
    val t = GraftTable.create(s"${tmpDir("mfi-asof")}/t", schema)
    t.append(keyed(400L, 40), Some(1000L))
    t.append(keyed(400L, 40, from = 400L), Some(2000L))
    val asOf = t.readAsOf(spark, 1500L)
    val api = asOf.filter(col("k") === 123L)
    assert(scannedFiles(api) == 1L)
    assert(rowsOf(api) == model(Seq(123L)))
    // a range keeps exactly the files whose key ranges it overlaps
    assert(scannedFiles(t.read(spark).filter(col("k").between(395L, 404L))) == 2L)
    asOf.createOrReplaceTempView("mfi_asof")
    val sql = spark.sql("SELECT k, v FROM mfi_asof WHERE k = 123")
    assert(scannedFiles(sql) == 1L)
    assert(rowsOf(sql) == model(Seq(123L)))
    // unfiltered: every file of the pinned snapshot, and only those
    assert(scannedFiles(asOf) == 40L)
    // the same keep set as the up-front scan(filter) walk
    assert(t.scan(spark, Some(col("k") === 123L)).inputFiles.length == 1)
  }

  test("renamed and widened eras are never pruned under the wrong name") {
    val schemaI = StructType(Seq(
      StructField("k", LongType, nullable = false),
      StructField("n", IntegerType, nullable = false)))
    def ints(from: Long, files: Int) =
      spark.range(from, from + 100L, 1, files)
        .select(col("id").as("k"), (col("id") % 50).cast("int").as("n"))
    val dir = s"${tmpDir("mfi-evo")}/t"
    val t0 = GraftTable.create(dir, schemaI)
    t0.append(ints(0L, 10), Some(1000L))
    // era 2: k is renamed to key and n widened to long
    val t1 = t0.renameColumn("k", "key").widenColumn("n", LongType)
    t1.append(spark.range(100L, 200L, 1, 10).select(col("id").as("key"),
      (col("id") % 50).as("n")), Some(2000L))
    val t = GraftTable.load(dir)
    def keys(df: DataFrame) = df.select("key").collect().map(_.getLong(0)).toSet
    // post-rename files prune on `key`; the pre-rename era (physical
    // `k`) is read whole, never matched against stats under a new name
    val byKey = t.read(spark).filter(col("key") === 150L)
    assert(scannedFiles(byKey) == 10L + 1L)
    assert(keys(byKey) == Set(150L))
    val old = t.read(spark).filter(col("key") === 42L)
    assert(keys(old) == Set(42L))
    // widened column: the int era is cast up, never pruned by long stats
    val byN = t.read(spark).filter(col("n") === 7L)
    assert(keys(byN) == Set(7L, 57L, 107L, 157L))
    assert(keys(byN) == keys(t.scan(spark, Some(col("n") === 7L))))
  }

  test("identity partitions, ORC and merge-on-read reads return the table's rows") {
    // identity partition recovery (basePath): the key lives only in the
    // directory name
    val pschema = StructType(schema.fields :+ StructField("p", StringType))
    val pt = GraftTable.create(s"${tmpDir("mfi-ident")}/t", pschema,
      partitionBy = Seq("p"))
    pt.append(keyed(60L, 3).withColumn("p",
      when(col("k") % 2 === 0, lit("even")).otherwise(lit("odd"))), Some(1000L))
    val pr = pt.read(spark).select("k", "v", "p").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(pr == (0L until 60L).map(k =>
      (k, s"v$k", if (k % 2 == 0) "even" else "odd")).toSet)
    val odd = pt.read(spark).filter(col("p") === "odd" && col("k") < 10L)
    assert(rowsOf(odd) == model(Seq(1L, 3L, 5L, 7L, 9L)))

    // ORC data files
    val ot = GraftTable.create(s"${tmpDir("mfi-orc")}/t", schema,
      properties = Map(GraftTable.PropWriteFormat -> "orc"))
    ot.append(keyed(50L, 5), Some(1000L))
    assert(rowsOf(ot.read(spark)) == model(0L until 50L))
    assert(rowsOf(ot.read(spark).filter(col("k") === 9L)) == model(Seq(9L)))

    // merge-on-read: deletion vectors (positional), predicate-deferred
    // and equality deletes stacked on one table, read back whole and
    // through a late filter
    val mt = GraftTable.create(s"${tmpDir("mfi-mor")}/t", schema)
    mt.append(keyed(100L, 10), Some(1000L))
    mt.deletePositional(spark, col("k") === 3L || col("k") === 55L, Some(2000L))
    mt.deleteDeferred(spark, col("k").between(20L, 24L), Some(3000L))
    mt.deleteEquality(spark, spark.range(90L, 93L).select(col("id").as("k")),
      Seq("k"), Some(4000L))
    val dead = Set(3L, 55L) ++ (20L to 24L) ++ (90L to 92L)
    assert(rowsOf(mt.read(spark)) == model((0L until 100L).filterNot(dead)))
    assert(rowsOf(mt.read(spark).filter(col("k") < 30L)) ==
      model((0L until 30L).filterNot(dead)))
    assert(rowsOf(mt.read(spark).filter(col("k") === 55L)).isEmpty)
  }

  test("row-lineage reads return the same ids through the index") {
    val lt = GraftTable.create(s"${tmpDir("mfi-lin")}/t", schema,
      properties = Map(GraftTable.PropRowLineage -> "true"))
    lt.append(keyed(40L, 4), Some(1000L))
    val s1 = lt.log.current.get.snapshotId
    lt.update(spark, col("k") === 5L, Map("v" -> lit("five")), Some(2000L))
    val s2 = lt.log.current.get.snapshotId
    def lineage(at: Long) = lt.readLineage(spark, Some(at))
      .select("k", "v", GraftTable.RowIdCol, GraftTable.LastUpdatedCol)
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3)))
      .toMap
    val before = lineage(s1)
    val got = lineage(s2)
    assert(got.size == 40 && got.values.map(_._2).toSet.size == 40)
    // the carried ids survive the rewrite; only the updated row moves to
    // the new snapshot
    assert(got.map { case (k, x) => k -> x._2 } ==
      before.map { case (k, x) => k -> x._2 })
    assert(got(5L)._1 == "five" && got(5L)._3 == s2)
    assert(got.removed(5L).values.forall(_._3 == s1))
    // a late filter on a table column keeps the ids
    val one = lt.readLineage(spark).filter(col("k") === 7L)
      .select(GraftTable.RowIdCol).collect().map(_.getLong(0))
    assert(one.toSeq == Seq(got(7L)._2))
  }

  test("_metadata.file_path stays the qualified file: URI; inputFiles unchanged") {
    val wh = tmpDir("mfi-cat")
    spark.conf.set("spark.sql.catalog.mfi", "graft.table.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.mfi.warehouse", wh)
    val t = GraftTable.create(s"$wh/db/t", schema)
    t.append(keyed(30L, 3), Some(1000L))
    // the reference: Spark listing the same files itself
    val listed = spark.read.parquet(dataFiles(t).map(_.toString): _*)
    val listedPaths = listed.select(col("_metadata.file_path")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(listedPaths.forall(_.startsWith("file:/")), listedPaths)
    // the DSv2 `_file` column is the reader's `_metadata.file_path`
    val viaFile = spark.sql("SELECT DISTINCT _file FROM mfi.db.t")
      .collect().map(_.getString(0)).toSet
    assert(viaFile == listedPaths)
    assert(t.read(spark).inputFiles.toSet == listed.inputFiles.toSet)
    // the DSv2 delegate prunes from the manifest and reads the same rows
    assert(rowsOf(spark.sql("SELECT k, v FROM mfi.db.t WHERE k = 12")) ==
      model(Seq(12L)))
  }
}
