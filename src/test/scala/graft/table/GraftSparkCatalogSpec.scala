package graft.table

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** The DSv2 catalog-plugin surface: standard Spark SQL against graft
  * tables, including `VERSION AS OF` / `TIMESTAMP AS OF` time travel —
  * the catalog analog of the reference's storage-handler integration
  * (IcebergStorageHandler.java:38-113) using Spark's native syntax.
  */
class GraftSparkCatalogSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("data", StringType, nullable = true)))

  private def mkDf(rows: (Long, String)*) = {
    val rdd = spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1)
    spark.createDataFrame(rdd, schema)
  }

  private lazy val wh = tmpDir("graft-v2cat")

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.g2", "graft.table.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.g2.warehouse", wh)
  }

  test("SQL reads with VERSION AS OF and TIMESTAMP AS OF") {
    val t = GraftTable.create(s"$wh/db/tt", schema)
    t.append(mkDf(1L -> "a"), Some(1000L))
    t.append(mkDf(2L -> "b"), Some(2000L))

    assert(spark.sql("SELECT * FROM g2.db.tt").count() == 2)
    assert(spark.sql("SELECT id FROM g2.db.tt VERSION AS OF 1")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // stateless: the very next un-pinned query is back on the latest
    assert(spark.sql("SELECT * FROM g2.db.tt").count() == 2)
    // as-of commit time 1500ms -> snapshot 1
    assert(spark.sql(
      "SELECT id FROM g2.db.tt TIMESTAMP AS OF CAST(1.5 AS TIMESTAMP)")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // a TAG resolves through VERSION AS OF like a snapshot id
    t.tag("first-cut", 1L)
    assert(spark.sql("SELECT id FROM g2.db.tt VERSION AS OF 'first-cut'")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))

    // filters push into the parquet scan (errors would surface here);
    // results stay correct under projection + predicate
    assert(spark.sql("SELECT data FROM g2.db.tt WHERE id = 2")
      .collect().map(_.getString(0)).toSeq == Seq("b"))
  }

  test("SQL DELETE FROM routes to the copy-on-write delete") {
    val t = GraftTable.create(s"$wh/db/del", schema)
    t.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c"), Some(1000L))
    spark.sql("DELETE FROM g2.db.del WHERE id = 2")
    assert(spark.sql("SELECT id FROM g2.db.del ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    val t2 = GraftTable.load(s"$wh/db/del")
    assert(t2.log.current.get.operation == "delete")
    // time travel still sees the deleted row
    assert(spark.sql("SELECT id FROM g2.db.del VERSION AS OF 1").count() == 3)
    // string pushdown shapes translate too
    spark.sql("DELETE FROM g2.db.del WHERE data LIKE 'a%'")
    assert(spark.sql("SELECT id FROM g2.db.del").collect()
      .map(_.getLong(0)).toSeq == Seq(3L))
    // unconditional DELETE = AlwaysTrue = all-drop manifest edit
    spark.sql("DELETE FROM g2.db.del")
    assert(spark.sql("SELECT * FROM g2.db.del").count() == 0)
    assert(GraftTable.load(s"$wh/db/del").log.current.get
      .summary("dropped-data-files").toLong >= 1,
      "unconditional SQL DELETE did not take the metadata-only drop path")
  }

  test("VERSION AS OF 'branch:<name>' is the SQL audit read") {
    val t = GraftTable.create(s"$wh/db/wap", schema)
    t.append(mkDf(1L -> "base"), Some(1000L))
    val br = t.createBranch("audit", Some(1500L))
    br.append(mkDf(2L -> "staged"), Some(2000L))
    // the branch read sees staged rows; the plain read does not
    assert(spark.sql("SELECT id FROM g2.db.wap VERSION AS OF 'branch:audit'")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(spark.sql("SELECT * FROM g2.db.wap").count() == 1)
    t.publishBranch("audit", Some(3000L))
    assert(spark.sql("SELECT * FROM g2.db.wap").count() == 2)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM g2.db.wap VERSION AS OF 'branch:nope'").count()
    }
    assert(e.getMessage.contains("no branch"))
  }

  test("CREATE TABLE, ALTER ADD COLUMN, DROP through SQL DDL") {
    spark.sql("CREATE TABLE g2.db.made (id BIGINT, cat STRING) " +
      "PARTITIONED BY (cat)")
    val t = GraftTable.load(s"$wh/db/made")
    assert(t.partitionColumns == Seq("cat"))

    t.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "x"), Row(2L, "y")), 1),
      t.schema), Some(1000L))
    // partition predicate through the catalog path
    val one = spark.sql("SELECT id FROM g2.db.made WHERE cat = 'x'")
    assert(one.collect().map(_.getLong(0)).toSeq == Seq(1L))

    spark.sql("ALTER TABLE g2.db.made ADD COLUMN score DOUBLE")
    assert(GraftTable.load(s"$wh/db/made").schema.fieldNames.toSeq ==
      Seq("id", "cat", "score"))
    // pre-evolution rows read the new column as NULL through SQL
    val rows = spark.sql("SELECT id, score FROM g2.db.made ORDER BY id")
      .collect().map(r => (r.getLong(0), r.isNullAt(1)))
    assert(rows.toSeq == Seq((1L, true), (2L, true)))

    assert(spark.sql("SHOW TABLES IN g2.db").collect()
      .map(_.getString(1)).toSet.contains("made"))
    spark.sql("DROP TABLE g2.db.made")
    assert(!GraftTable.exists(s"$wh/db/made"))
  }

  test("CREATE TABLE PARTITIONED BY (bucket(...)) — hidden transform DDL") {
    spark.sql("CREATE TABLE g2.db.bkt (id BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, id))")
    val t = GraftTable.load(s"$wh/db/bkt")
    assert(t.partitionColumns == Seq("bucket(4,id)"))

    t.append(spark.createDataFrame(
      spark.sparkContext.parallelize((0L until 16L).map(i => Row(i, s"v$i")), 1),
      t.schema), Some(1000L))
    // layout is keyed by the derived bucket; the source column reads back
    // intact through the catalog
    val m = Manifest.read(s"${t.dir}/${t.log.current.get.manifestList}")
    assert(m.files.nonEmpty &&
      m.files.forall(_.partition.keySet == Set("id_bucket")))
    assert(spark.sql("SELECT v FROM g2.db.bkt WHERE id = 7")
      .collect().map(_.getString(0)).toSeq == Seq("v7"))
    assert(spark.sql("SELECT count(*) FROM g2.db.bkt").head().getLong(0) == 16L)
    spark.sql("DROP TABLE g2.db.bkt")
  }

  test("DSv2 reads prune the file list from the manifest (incl. bucket)") {
    spark.sql("CREATE TABLE g2.db.bkt2 (id BIGINT, v STRING) " +
      "PARTITIONED BY (bucket(4, id))")
    val t = GraftTable.load(s"$wh/db/bkt2")
    t.append(spark.createDataFrame(
      spark.sparkContext.parallelize((0L until 64L).map(i => Row(i, s"v$i")), 1),
      t.schema), Some(1000L))
    val total = Manifest.read(s"${t.dir}/${t.log.current.get.manifestList}")
      .files.size
    assert(total >= 4, s"fixture should spread over buckets, got $total files")

    def scannedFiles(sql: String): Int = {
      val df = spark.sql(sql)
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan match {
            case r: org.apache.spark.sql.classic.GraftRuntimeFilterScan =>
              r.plannedFileCount
            case p: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
              p.fileIndex.inputFiles.length
            case _ => Int.MaxValue
          }
      }.sum
    }
    // a point lookup on the bucket SOURCE plans a strict subset of files
    assert(scannedFiles("SELECT v FROM g2.db.bkt2 WHERE id = 7") < total)
    // and still answers correctly (residual filter applies post-scan)
    assert(spark.sql("SELECT v FROM g2.db.bkt2 WHERE id = 7")
      .collect().map(_.getString(0)).toSeq == Seq("v7"))
    // an unfiltered read keeps every file
    assert(scannedFiles("SELECT v FROM g2.db.bkt2") == total)
    // a lookup that misses every file still answers (empty, no crash)
    assert(spark.sql("SELECT v FROM g2.db.bkt2 WHERE id = 999").count() == 0)
    spark.sql("DROP TABLE g2.db.bkt2")
  }

  test("ALTER TABLE SET/UNSET TBLPROPERTIES reaches table metadata") {
    val t = GraftTable.create(s"$wh/db/props", schema)
    t.append(mkDf(1L -> "a"), Some(1000L))

    // set the virtual-column rename property through SQL and observe it
    spark.sql("ALTER TABLE g2.db.props SET TBLPROPERTIES " +
      "('graft.snapshot.virtual.column.name' = 'commit_id', " +
      "'graft.demo' = 'x')")
    val renamed = GraftTable.load(s"$wh/db/props")
    assert(renamed.properties("graft.demo") == "x")
    assert(renamed.virtualColumn == "commit_id")
    assert(renamed.read(spark).columns.contains("commit_id"))

    spark.sql("ALTER TABLE g2.db.props UNSET TBLPROPERTIES ('graft.demo')")
    assert(!GraftTable.load(s"$wh/db/props").properties.contains("graft.demo"))
    spark.sql("DROP TABLE g2.db.props")
  }

  test("catalog reads push filters into the parquet scan; empty tables read") {
    val t = GraftTable.create(s"$wh/db/push", schema)
    t.append(mkDf(1L -> "a", 2L -> "b"), Some(1000L))
    val q = spark.sql("SELECT data FROM g2.db.push WHERE id = 2")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(id,2"),
      s"filter did not reach the scan:\n$plan")
    assert(q.collect().map(_.getString(0)).toSeq == Seq("b"))

    GraftTable.create(s"$wh/db/empty", schema)
    assert(spark.sql("SELECT * FROM g2.db.empty").count() == 0)
    assert(spark.sql("SELECT * FROM g2.db.empty").columns.toSeq ==
      Seq("id", "data"))
  }

  test("SQL writes are rejected; commits go through the manifest protocol") {
    val t = GraftTable.create(s"$wh/db/ro", schema)
    t.append(mkDf(1L -> "a"), Some(1000L))
    intercept[Exception] {
      spark.sql("INSERT INTO g2.db.ro VALUES (9, 'z')")
    }
    // whatever the analyzer phrases it as, the table must be unchanged
    assert(GraftTable.load(s"$wh/db/ro").read(spark).count() == 1)
  }

  // ----------------------------------------------------------------
  // SQL UPDATE / MERGE INTO (ResolveGraftDml via GraftExtensions)
  // ----------------------------------------------------------------

  /** Secondary session WITH the extensions (UPDATE/MERGE need the analyzer
    * rule). Same SparkContext; never stopped (shared with every suite). */
  private lazy val sqlS: org.apache.spark.sql.SparkSession = {
    val s = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .create()
    s.conf.set("spark.sql.catalog.g2", "graft.table.GraftSparkCatalog")
    s.conf.set("spark.sql.catalog.g2.warehouse", wh)
    s
  }

  test("SQL UPDATE routes to the copy-on-write update") {
    val t = GraftTable.create(s"$wh/db/upd", schema)
    t.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c"), Some(1000L))
    sqlS.sql("UPDATE g2.db.upd SET data = concat(data, '!') WHERE id >= 2")
    assert(sqlS.sql("SELECT data FROM g2.db.upd ORDER BY id")
      .collect().map(_.getString(0)).toSeq == Seq("a", "b!", "c!"))
    val t2 = GraftTable.load(s"$wh/db/upd")
    assert(t2.log.current.get.operation == "update")
    // time travel still sees the old values
    assert(sqlS.sql("SELECT data FROM g2.db.upd VERSION AS OF 1 ORDER BY id")
      .collect().map(_.getString(0)).toSeq == Seq("a", "b", "c"))
    // unconditional UPDATE hits every row
    sqlS.sql("UPDATE g2.db.upd SET data = 'z'")
    assert(sqlS.sql("SELECT DISTINCT data FROM g2.db.upd")
      .collect().map(_.getString(0)).toSeq == Seq("z"))
  }

  test("SQL UPDATE multi-assignment evaluates against the OLD row") {
    val s2 = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false)))
    val t = GraftTable.create(s"$wh/db/swap", s2)
    t.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, 10L, 20L)), 1), s2),
      Some(1000L))
    sqlS.sql("UPDATE g2.db.swap SET a = b, b = a")
    val r = sqlS.sql("SELECT a, b FROM g2.db.swap").collect().head
    assert((r.getLong(0), r.getLong(1)) == ((20L, 10L)),
      "assignments leaked new values into each other")
  }

  test("SQL MERGE INTO routes to the copy-on-write keyed upsert") {
    val t = GraftTable.create(s"$wh/db/mrg", schema)
    t.append(mkDf(1L -> "a", 2L -> "b"), Some(1000L))
    sqlS.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(2L, "B2"), Row(9L, "new")), 1),
      schema).createOrReplaceTempView("mrg_src")
    sqlS.sql(
      "MERGE INTO g2.db.mrg t USING mrg_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(sqlS.sql("SELECT id, data FROM g2.db.mrg ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "B2"), (9L, "new")))
    assert(GraftTable.load(s"$wh/db/mrg").log.current.get.operation == "merge")
  }

  test("SQL MERGE INTO honors write.merge.mode=merge-on-read") {
    val t = GraftTable.create(s"$wh/db/mrgmor", schema,
      properties = Map("write.merge.mode" -> "merge-on-read"))
    t.append(mkDf(1L -> "a", 2L -> "b"), Some(1000L))
    sqlS.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(2L, "B2"), Row(9L, "new")), 1),
      schema).createOrReplaceTempView("mrgmor_src")
    sqlS.sql(
      "MERGE INTO g2.db.mrgmor t USING mrgmor_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(sqlS.sql("SELECT id, data FROM g2.db.mrgmor ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "B2"), (9L, "new")))
    // the MoR path left an equality tombstone instead of rewriting files
    assert(GraftTable.load(s"$wh/db/mrgmor").equalityDeletes.nonEmpty,
      "merge-on-read mode did not take the equality-delete path")
  }

  test("SQL INSERT INTO routes to the append commit protocol") {
    val t = GraftTable.create(s"$wh/db/ins", schema)
    t.append(mkDf(1L -> "a"), Some(1000L))
    // bare positional insert, with an implicit INT → BIGINT cast
    sqlS.sql("INSERT INTO g2.db.ins VALUES (2, 'b'), (3, 'c')")
    assert(sqlS.sql("SELECT id FROM g2.db.ins ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val t2 = GraftTable.load(s"$wh/db/ins")
    assert(t2.log.current.get.operation == "append")
    assert(t2.log.snapshots.size == 2, "one INSERT statement = one snapshot")
    // column-list (by-name, reordered) insert
    sqlS.sql("INSERT INTO g2.db.ins (data, id) VALUES ('d', 4)")
    assert(sqlS.sql("SELECT data FROM g2.db.ins WHERE id = 4")
      .collect().map(_.getString(0)).toSeq == Seq("d"))
    // INSERT ... SELECT
    sqlS.sql("INSERT INTO g2.db.ins SELECT id + 100, concat(data, '!') " +
      "FROM g2.db.ins WHERE id <= 2")
    assert(sqlS.sql("SELECT id FROM g2.db.ins ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L, 101L, 102L))
    // the plain session (no extensions) still rejects SQL writes
    intercept[Exception] { spark.sql("INSERT INTO g2.db.ins VALUES (9, 'z')") }
  }

  test("EXPLAIN of SQL DML names the routed operation and commits nothing") {
    val t = GraftTable.create(s"$wh/db/expl", schema,
      properties = Map("write.update.mode" -> "merge-on-read"))
    t.append(mkDf(1L -> "a", 2L -> "b"), Some(1000L))
    def explain(sql: String): String =
      sqlS.sql(s"EXPLAIN $sql").collect().map(_.getString(0)).mkString("\n")
    val plans = Seq(
      "INSERT INTO g2.db.expl VALUES (3, 'c')" -> "INSERT INTO",
      "UPDATE g2.db.expl SET data = 'z' WHERE id = 1" -> "UPDATE positional",
      "UPDATE g2.db.expl SET data = data" -> "identity assignments only",
      "MERGE INTO g2.db.expl t USING (SELECT 2L AS id, 'B' AS data) s " +
        "ON t.id = s.id WHEN MATCHED THEN UPDATE SET *" ->
        "MERGE copy-on-write actions")
    plans.foreach { case (sql, what) =>
      val p = explain(sql)
      assert(p.contains("GraftDml") && p.contains(what), s"$sql:\n$p")
    }
    assert(GraftTable.load(t.dir).log.snapshots.size == 1,
      "EXPLAIN ran a statement")
  }

  test("CREATE TABLE AS SELECT creates and loads in one statement") {
    val t0 = GraftTable.create(s"$wh/db/ctassrc", schema)
    t0.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c"), Some(1000L))
    sqlS.sql("CREATE TABLE g2.db.ctas AS " +
      "SELECT id, concat(data, '!') AS data FROM g2.db.ctassrc WHERE id <= 2")
    val t = GraftTable.load(s"$wh/db/ctas")
    assert(t.schema.fieldNames.toSeq == Seq("id", "data"))
    assert(t.log.snapshots.size == 1)
    assert(sqlS.sql("SELECT data FROM g2.db.ctas ORDER BY id")
      .collect().map(_.getString(0)).toSeq == Seq("a!", "b!"))
    // partitioned CTAS honors the transform DDL
    sqlS.sql("CREATE TABLE g2.db.ctasp PARTITIONED BY (bucket(4, id)) AS " +
      "SELECT id, data FROM g2.db.ctassrc")
    assert(GraftTable.load(s"$wh/db/ctasp").partitionColumns ==
      Seq("bucket(4,id)"))
    assert(sqlS.sql("SELECT count(*) FROM g2.db.ctasp").head().getLong(0) == 3L)
    // TBLPROPERTIES flow through: a merge-on-read table in one statement
    sqlS.sql("CREATE TABLE g2.db.ctasmor " +
      "TBLPROPERTIES ('write.merge.mode' = 'merge-on-read') AS " +
      "SELECT id, data FROM g2.db.ctassrc")
    assert(GraftTable.load(s"$wh/db/ctasmor")
      .properties.get("write.merge.mode").contains("merge-on-read"))
    sqlS.sql("MERGE INTO g2.db.ctasmor t USING " +
      "(SELECT 1L AS id, 'A' AS data) s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(GraftTable.load(s"$wh/db/ctasmor").equalityDeletes.nonEmpty,
      "CTAS property did not route the merge to the MoR path")

    // existing table refused; IF NOT EXISTS is a no-op
    intercept[Exception] {
      sqlS.sql("CREATE TABLE g2.db.ctas AS SELECT 1L AS id, 'x' AS data")
    }
    sqlS.sql("CREATE TABLE IF NOT EXISTS g2.db.ctas AS " +
      "SELECT 9L AS id, 'x' AS data")
    assert(sqlS.sql("SELECT count(*) FROM g2.db.ctas").head().getLong(0) == 2L)

    // CREATE OR REPLACE routes to the library's ATOMIC swap (Spark's
    // own non-atomic replace would delete the table, then fail the
    // write) — full coverage in ReplaceTableSpec
    sqlS.sql("CREATE OR REPLACE TABLE g2.db.ctas AS SELECT 1L AS id, 'y' AS data")
    assert(GraftTable.exists(s"$wh/db/ctas"))
    assert(sqlS.sql("SELECT data FROM g2.db.ctas").head().getString(0) == "y")
  }

  test("INSERT BY NAME refuses extra source columns") {
    val t = GraftTable.create(s"$wh/db/byname", schema)
    t.append(mkDf(1L -> "a"), Some(1000L))
    // column-list inserts are by-name: a nonexistent column must error,
    // not silently drop
    val e = intercept[Exception] {
      sqlS.sql("INSERT INTO g2.db.byname (id, data, bogus) " +
        "VALUES (2, 'b', 'x')")
    }
    assert(GraftTable.load(s"$wh/db/byname").read(spark).count() == 1,
      s"extra-column insert committed: ${e.getMessage}")
  }

  test("SQL INSERT OVERWRITE is one atomic truncate-and-replace commit") {
    val t = GraftTable.create(s"$wh/db/ovr", schema)
    t.append(mkDf(1L -> "a", 2L -> "b"), Some(1000L))
    // pending MoR state clears with the files it covered
    t.deleteDeferred(spark, org.apache.spark.sql.functions.col("id") === 1L,
      Some(2000L))
    sqlS.sql("INSERT OVERWRITE g2.db.ovr VALUES (7, 'x'), (8, 'y')")
    val t2 = GraftTable.load(s"$wh/db/ovr")
    assert(t2.log.current.get.operation == "overwrite")
    assert(t2.log.snapshots.size == 3, "overwrite must be ONE commit")
    assert(t2.pendingDeletes.isEmpty, "overwrite must clear pending entries")
    assert(sqlS.sql("SELECT id FROM g2.db.ovr ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(7L, 8L))
    // time travel still sees the pre-overwrite state (MoR applied)
    assert(sqlS.sql("SELECT id FROM g2.db.ovr VERSION AS OF 2")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // metadata count(*) stays exact after the state reset
    val cq = sqlS.sql("SELECT count(*) AS n FROM g2.db.ovr")
    assert(cq.head().getLong(0) == 2L)
    // the CDC fold nets the overwrite exactly: retract 2 (1 was already
    // dead), insert 2
    val cdc = t2.changesCdc(spark, 2L)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cdc == Map("insert" -> 2L, "delete" -> 1L), cdc.toString)
  }

  test("predicate-scoped INSERT OVERWRITE replaces one slice atomically") {
    import org.apache.spark.sql.functions.col
    // identity-partitioned table: the slice drop must be metadata-only
    sqlS.sql("CREATE TABLE g2.db.slices (id BIGINT, cat STRING) " +
      "PARTITIONED BY (cat)")
    val t = GraftTable.load(s"$wh/db/slices")
    val s2 = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("cat", StringType, nullable = true)))
    t.append(spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "a"), Row(2L, "a"), Row(3L, "b"), Row(4L, "b")), 1), s2),
      Some(1000L))

    sqlS.sql("INSERT OVERWRITE g2.db.slices PARTITION (cat = 'a') " +
      "VALUES (10), (11)")
    val t2 = GraftTable.load(s"$wh/db/slices")
    assert(t2.log.snapshots.size == 2, "slice overwrite must be ONE commit")
    assert(t2.log.current.get.operation == "overwrite")
    // whole-partition files drop without a rewrite
    assert(t2.log.current.get.summary("dropped-data-files").toLong >= 1)
    assert(t2.log.current.get.summary("rewritten-data-files") == "0",
      "identity-partition slice drop should be metadata-only")
    assert(sqlS.sql("SELECT id FROM g2.db.slices ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(3L, 4L, 10L, 11L))
    // untouched partition rows carry over; time travel sees the old slice
    assert(sqlS.sql("SELECT id FROM g2.db.slices VERSION AS OF 1 " +
      "WHERE cat = 'a' ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))

    // library form: a mid-file (non-partition-aligned) predicate rewrites
    // the boundary file but keeps its non-matching rows
    val t3 = GraftTable.create(s"$wh/db/slices2", schema)
    t3.append(mkDf(1L -> "x", 2L -> "y", 3L -> "z"), Some(1000L))
    t3.overwriteWhere(spark, col("id") >= 2L,
      mkDf(20L -> "new"), Some(2000L))
    assert(t3.read(spark).select("id").collect().map(_.getLong(0)).sorted
      .toSeq == Seq(1L, 20L))
    assert(t3.log.snapshots.size == 2)
  }

  test("SQL reads over MoR-pending tables: extensions splice the visible-rows plan") {
    import org.apache.spark.sql.functions.col
    // predicate (deferred) form
    val t = GraftTable.create(s"$wh/db/morsel", schema)
    t.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c"), Some(1000L))
    t.deleteDeferred(spark, col("id") === 2L, Some(2000L))
    // plain session: loud refusal (raw file-list scan would resurrect rows)
    val e = intercept[Exception] { spark.sql("SELECT * FROM g2.db.morsel").count() }
    assert(e.getMessage.contains("deferred deletes pending"), e.getMessage)
    // extensions session: visible-rows plan spliced in
    assert(sqlS.sql("SELECT id FROM g2.db.morsel ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // filters/projections over the spliced plan stay correct AND still
    // push into the underlying parquet scans (the splice is a plain
    // logical subtree — Catalyst optimizes through it)
    val fq = sqlS.sql("SELECT data FROM g2.db.morsel WHERE id > 1")
    assert(fq.collect().map(_.getString(0)).toSeq == Seq("c"))
    val fplan = fq.queryExecution.executedPlan.toString
    assert(fplan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,1)]"),
      s"filter did not reach the parquet scan through the splice:\n$fplan")
    // VERSION AS OF 1 pins the pre-delete snapshot (no entries → raw scan)
    assert(sqlS.sql("SELECT * FROM g2.db.morsel VERSION AS OF 1").count() == 3)

    // positional form
    val tp = GraftTable.create(s"$wh/db/morpos", schema)
    tp.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c"), Some(1000L))
    tp.deletePositional(spark, col("data") === "b", Some(2000L))
    assert(sqlS.sql("SELECT id FROM g2.db.morpos ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }

  test("SQL DML composes with its OWN pending MoR state (splice must not eat targets)") {
    import org.apache.spark.sql.functions.col
    // second MERGE on a merge-on-read table: equality entries are pending
    // from the first — the DML rewrite must still claim the statement
    // (an over-eager visible-rows splice of the target would orphan it)
    val t = GraftTable.create(s"$wh/db/mor2", schema,
      properties = Map("write.merge.mode" -> "merge-on-read"))
    t.append(mkDf(1L -> "a", 2L -> "b"), Some(1000L))
    sqlS.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(2L, "B2"), Row(3L, "c")), 1),
      schema).createOrReplaceTempView("mor2_src1")
    sqlS.sql("MERGE INTO g2.db.mor2 t USING mor2_src1 s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(GraftTable.load(s"$wh/db/mor2").equalityDeletes.nonEmpty)
    sqlS.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(3L, "C3"), Row(4L, "d")), 1),
      schema).createOrReplaceTempView("mor2_src2")
    sqlS.sql("MERGE INTO g2.db.mor2 t USING mor2_src2 s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(sqlS.sql("SELECT id, data FROM g2.db.mor2 ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "B2"), (3L, "C3"), (4L, "d")))
    // and UPDATE composes with pending POSITIONAL entries the same way
    val tp = GraftTable.create(s"$wh/db/pos2", schema)
    tp.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c"), Some(1000L))
    tp.deletePositional(spark, col("id") === 2L, Some(2000L))
    // SQL DELETE in the extensions session: positional pending is the
    // composition canDeleteWhere deliberately allows — the splice must
    // leave DeleteFromTable's target relation alone
    sqlS.sql("DELETE FROM g2.db.pos2 WHERE id = 3")
    assert(sqlS.sql("SELECT id FROM g2.db.pos2 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("SQL DML refusals: time travel, exotic MERGE, MoR-pending DELETE") {
    val t = GraftTable.create(s"$wh/db/dmlref", schema)
    t.append(mkDf(1L -> "a", 2L -> "b"), Some(1000L))
    val e1 = intercept[Exception] {
      sqlS.sql("UPDATE g2.db.dmlref VERSION AS OF 1 SET data = 'x'")
    }
    // (parser may reject AS OF on UPDATE targets before our rule sees it;
    // either way the statement must not commit)
    assert(GraftTable.load(s"$wh/db/dmlref").log.snapshots.size == 1, e1)

    sqlS.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "x")), 1),
      schema).createOrReplaceTempView("dmlref_src")
    // a non-equality ON condition is still refused (not a keyed upsert)
    val e2 = intercept[Exception] {
      sqlS.sql("MERGE INTO g2.db.dmlref t USING dmlref_src s ON t.id > s.id " +
        "WHEN MATCHED THEN DELETE")
    }
    assert(e2.getMessage.toLowerCase.contains("keyed upserts"), e2.getMessage)

    // deferred (predicate) MoR delete pending → the extensions session
    // routes SQL DELETE to the copy-on-write delete (the full matrix:
    // CoW composes with pending predicate entries)
    t.deleteDeferred(spark, org.apache.spark.sql.functions.col("id") === 1L,
      Some(2000L))
    sqlS.sql("DELETE FROM g2.db.dmlref WHERE id = 2")
    val after = GraftTable.load(s"$wh/db/dmlref")
    assert(after.log.snapshots.size == 3)
    assert(after.read(spark).count() == 0L,
      "SQL DELETE on a predicate-pending table must compose, not refuse")
  }

  private val cdcSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("data", StringType, nullable = true),
    StructField("op", StringType, nullable = false)))

  private def cdcDf(rows: (Long, String, String)*) =
    sqlS.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map(r => Row(r._1, r._2, r._3)), 1), cdcSchema)

  test("MERGE conditional + DELETE actions: the CDC-apply idiom (CoW)") {
    val t = GraftTable.create(s"$wh/db/cdc", schema)
    t.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"), Some(1000L))
    // 1: update (matched, op=U); 2: delete (matched, op=D); 9: insert
    // (unmatched, op=U); 8: delete event for an absent key → no-op
    cdcDf((1L, "A", "U"), (2L, null, "D"), (9L, "new", "U"), (8L, null, "D"))
      .createOrReplaceTempView("cdc_src")
    sqlS.sql(
      "MERGE INTO g2.db.cdc t USING cdc_src s ON t.id = s.id " +
        "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
        // target-referencing value + partial SET: only CoW can do this
        "WHEN MATCHED THEN UPDATE SET data = concat(t.data, '->', s.data) " +
        "WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (id, data) " +
        "VALUES (s.id, s.data)")
    assert(sqlS.sql("SELECT id, data FROM g2.db.cdc ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a->A"), (3L, "c"), (4L, "d"), (9L, "new")))
    assert(GraftTable.load(s"$wh/db/cdc").log.current.get.operation == "merge")

    // WHEN MATCHED THEN DELETE alone is the SQL anti-join delete
    cdcDf((3L, null, "D")).createOrReplaceTempView("cdc_src2")
    sqlS.sql("MERGE INTO g2.db.cdc t USING cdc_src2 s ON t.id = s.id " +
      "WHEN MATCHED THEN DELETE")
    assert(sqlS.sql("SELECT id FROM g2.db.cdc ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 4L, 9L))
  }

  test("insert-only MERGE: no rewrite, and duplicate source keys are legal") {
    val t = GraftTable.create(s"$wh/db/insonly", schema)
    t.append(mkDf(1L -> "a", 2L -> "b"), Some(1000L))
    val baseFiles = Manifest.read(
      s"$wh/db/insonly/${t.log.current.get.manifestList}")
      .files.map(_.path).toSet
    // dup keys are LEGAL for an insert-only merge (both rows are "not
    // matched" against the statement-start state and both insert); a
    // dup key that IS matched must neither error nor duplicate the row
    cdcDf((1L, "dup-matched", "U"), (1L, "dup-matched-2", "U"),
      (9L, "n1", "U"), (9L, "n2", "U"))
      .createOrReplaceTempView("insonly_src")
    sqlS.sql("MERGE INTO g2.db.insonly t USING insonly_src s ON t.id = s.id " +
      "WHEN NOT MATCHED THEN INSERT (id, data) VALUES (s.id, s.data)")
    assert(sqlS.sql("SELECT id, data FROM g2.db.insonly ORDER BY id, data")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (9L, "n1"), (9L, "n2")))
    // nothing was rewritten: base files all still live
    val t2 = GraftTable.load(s"$wh/db/insonly")
    assert(t2.log.current.get.summary("rewritten-data-files") == "0")
    val live = Manifest.read(
      s"$wh/db/insonly/${t2.log.current.get.manifestList}")
      .files.map(_.path).toSet
    assert(baseFiles.subsetOf(live), "insert-only merge rewrote base files")
  }

  test("MERGE cardinality violation: duplicate source keys are refused") {
    val t = GraftTable.create(s"$wh/db/card", schema)
    t.append(mkDf(1L -> "a"), Some(1000L))
    cdcDf((1L, "x", "U"), (1L, "y", "U")).createOrReplaceTempView("card_src")
    val e = intercept[Exception] {
      sqlS.sql("MERGE INTO g2.db.card t USING card_src s ON t.id = s.id " +
        "WHEN MATCHED AND s.op = 'U' THEN UPDATE SET data = s.data")
    }
    assert(e.getMessage.contains("duplicate key tuples"), e.getMessage)
    assert(GraftTable.load(s"$wh/db/card").log.snapshots.size == 1)
  }

  test("MERGE with a composite key routes through the general CoW path") {
    val s3 = StructType(Seq(
      StructField("k1", LongType, nullable = false),
      StructField("k2", StringType, nullable = false),
      StructField("v", StringType, nullable = true)))
    val t = GraftTable.create(s"$wh/db/ck", s3)
    t.append(sqlS.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "x", "a"), Row(1L, "y", "b"), Row(2L, "x", "c")), 1), s3),
      Some(1000L))
    sqlS.createDataFrame(spark.sparkContext.parallelize(Seq(
      Row(1L, "y", "B2"), Row(3L, "z", "new")), 1), s3)
      .createOrReplaceTempView("ck_src")
    sqlS.sql("MERGE INTO g2.db.ck t USING ck_src s " +
      "ON t.k1 = s.k1 AND t.k2 = s.k2 " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(sqlS.sql("SELECT k1, k2, v FROM g2.db.ck ORDER BY k1, k2")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq == Seq((1L, "x", "a"), (1L, "y", "B2"), (2L, "x", "c"),
        (3L, "z", "new")))
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE: the sync-to-source shape") {
    val t = GraftTable.create(s"$wh/db/sync", schema)
    t.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c"), Some(1000L))
    sqlS.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "A")), 1), schema)
      .createOrReplaceTempView("sync_src")
    sqlS.sql("MERGE INTO g2.db.sync t USING sync_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED BY SOURCE AND t.id >= 3 THEN DELETE " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET data = 'stale'")
    assert(sqlS.sql("SELECT id, data FROM g2.db.sync ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "A"), (2L, "stale")))
  }

  test("MERGE conditional actions under merge-on-read: tombstone, no rewrite") {
    val t = GraftTable.create(s"$wh/db/cdcmor", schema,
      properties = Map("write.merge.mode" -> "merge-on-read"))
    t.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c"), Some(1000L))
    cdcDf((1L, "A", "U"), (2L, null, "D"), (9L, "new", "U"))
      .createOrReplaceTempView("cdcmor_src")
    sqlS.sql(
      "MERGE INTO g2.db.cdcmor t USING cdcmor_src s ON t.id = s.id " +
        "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET id = s.id, data = s.data " +
        "WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (id, data) " +
        "VALUES (s.id, s.data)")
    assert(sqlS.sql("SELECT id, data FROM g2.db.cdcmor ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "A"), (3L, "c"), (9L, "new")))
    val t2 = GraftTable.load(s"$wh/db/cdcmor")
    assert(t2.equalityDeletes.nonEmpty,
      "conditional MoR merge did not take the equality-tombstone path")
    // exact pending-dead accounting keeps count(*) metadata-exact:
    // victims are 1 (replaced) and 2 (deleted); 3 survives untouched
    assert(t2.equalityDeletes.map(_.dead.getOrElse(0L)).sum == 2)

    // outcomes that need target VALUES are refused with direction
    val e = intercept[Exception] {
      sqlS.sql("MERGE INTO g2.db.cdcmor t USING cdcmor_src s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET id = t.id, data = concat(t.data, '!')")
    }
    assert(e.getMessage.contains("merge-on-read"), e.getMessage)
  }

  test("write.update.mode / write.delete.mode = merge-on-read SQL routing") {
    val t = GraftTable.create(s"$wh/db/morroute", schema,
      properties = Map(
        "write.update.mode" -> "merge-on-read",
        "write.delete.mode" -> "merge-on-read"))
    t.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"), Some(1000L))
    val baseFiles = Manifest.read(
      s"$wh/db/morroute/${t.log.current.get.manifestList}")
      .files.map(_.path).toSet

    sqlS.sql("UPDATE g2.db.morroute SET data = concat(data, '!') WHERE id >= 3")
    val t2 = GraftTable.load(s"$wh/db/morroute")
    assert(t2.positionalDeletes.nonEmpty,
      "merge-on-read UPDATE mode did not take the positional path")
    assert(t2.log.current.get.operation == "update")

    sqlS.sql("DELETE FROM g2.db.morroute WHERE id = 2")
    val t3 = GraftTable.load(s"$wh/db/morroute")
    assert(t3.positionalDeletes.map(_.deletedRows).sum == 3,
      "positional delete accounting drifted") // 2 update victims + 1 delete
    assert(sqlS.sql("SELECT id, data FROM g2.db.morroute ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (3L, "c!"), (4L, "d!")))
    // the original data files were never rewritten — MoR means exactly
    // that the base files stay in the manifest
    val live = Manifest.read(
      s"$wh/db/morroute/${t3.log.current.get.manifestList}")
      .files.map(_.path).toSet
    assert(baseFiles.subsetOf(live),
      "merge-on-read DML rewrote base data files")
    // count(*) stays exact (positional per-target counts)
    assert(t3.countWhere(sqlS, org.apache.spark.sql.functions.lit(true)) == 3)
  }

  test("VERSION AS OF accepts bare branch names; collisions refuse loudly") {
    val t = GraftTable.create(s"$wh/db/bare", schema)
    t.append(mkDf(1L -> "a"), Some(1000L))
    t.createBranch("audit", Some(2000L))
    t.branch("audit").append(mkDf(2L -> "staged"), Some(3000L))
    // bare branch name resolves to the branch head
    assert(spark.sql("SELECT id FROM g2.db.bare VERSION AS OF 'audit'")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // prefix forms still work
    assert(spark.sql("SELECT id FROM g2.db.bare VERSION AS OF 'branch:audit'")
      .count() == 2)
    // a tag with the same name makes the bare form ambiguous
    t.tag("audit", 1L)
    val e = intercept[Exception] {
      spark.sql("SELECT id FROM g2.db.bare VERSION AS OF 'audit'").collect()
    }
    assert(e.getMessage.contains("both a tag and a branch"), e.getMessage)
    assert(spark.sql("SELECT id FROM g2.db.bare VERSION AS OF 'tag:audit'")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(spark.sql("SELECT id FROM g2.db.bare VERSION AS OF 'branch:audit'")
      .count() == 2)
  }

  test("graft-target DML splices MoR-pending graft SOURCES (CDC chains)") {
    import org.apache.spark.sql.functions.col
    // upstream table with pending equality tombstones
    val up = GraftTable.create(s"$wh/db/chainup", schema)
    up.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c"), Some(1000L))
    up.deleteEquality(sqlS, mkDf(2L -> "b").select("id"), Seq("id"),
      Some(2000L))
    assert(up.equalityDeletes.nonEmpty)
    // INSERT INTO a clean graft table FROM the MoR-pending one: the
    // source read must splice to visible rows (2 is tombstoned)
    val down = GraftTable.create(s"$wh/db/chaindown", schema)
    sqlS.sql("INSERT INTO g2.db.chaindown SELECT id, data FROM g2.db.chainup")
    assert(sqlS.sql("SELECT id FROM g2.db.chaindown ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // MERGE with the MoR-pending table as SOURCE
    val tgt = GraftTable.create(s"$wh/db/chainmrg", schema)
    tgt.append(mkDf(1L -> "old", 9L -> "z"), Some(1000L))
    sqlS.sql("MERGE INTO g2.db.chainmrg t USING g2.db.chainup s " +
      "ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(sqlS.sql("SELECT id, data FROM g2.db.chainmrg ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (3L, "c"), (9L, "z")))
    // DELETE ... IN (SELECT from the MoR-pending table)
    val td = GraftTable.create(s"$wh/db/chaindel", schema)
    td.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c"), Some(1000L))
    sqlS.sql("DELETE FROM g2.db.chaindel WHERE id IN " +
      "(SELECT id FROM g2.db.chainup)")
    // 2 is tombstoned upstream, so it SURVIVES here
    assert(sqlS.sql("SELECT id FROM g2.db.chaindel ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // CTAS from the MoR-pending table splices too
    sqlS.sql("CREATE TABLE g2.db.chainctas AS " +
      "SELECT id, data FROM g2.db.chainup")
    assert(sqlS.sql("SELECT id FROM g2.db.chainctas ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }

  test("DELETE WHERE key IN (SELECT ...) routes to the key-delete forms") {
    // copy-on-write table: anti-join rewrite in one "delete" snapshot
    val t = GraftTable.create(s"$wh/db/delin", schema)
    t.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"), Some(1000L))
    sqlS.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(2L, "x"), Row(4L, "y")), 1),
      schema).createOrReplaceTempView("delin_losers")
    sqlS.sql("DELETE FROM g2.db.delin WHERE id IN " +
      "(SELECT id FROM delin_losers)")
    assert(sqlS.sql("SELECT id FROM g2.db.delin ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))
    val t2 = GraftTable.load(s"$wh/db/delin")
    assert(t2.log.current.get.operation == "delete")
    assert(t2.log.current.get.summary("deleted-records") == "2")
    assert(t2.positionalDeletes.isEmpty, "CoW table took the MoR path")

    // merge-on-read mode: positional entries, base files untouched
    val tm = GraftTable.create(s"$wh/db/delinmor", schema,
      properties = Map("write.delete.mode" -> "merge-on-read"))
    tm.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c"), Some(1000L))
    sqlS.sql("DELETE FROM g2.db.delinmor WHERE id IN " +
      "(SELECT id FROM delin_losers)")
    val tm2 = GraftTable.load(s"$wh/db/delinmor")
    assert(tm2.positionalDeletes.map(_.deletedRows).sum == 1) // only key 2
    assert(sqlS.sql("SELECT id FROM g2.db.delinmor ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L))

    // a subquery over ANOTHER graft table works too (self-curation)
    sqlS.sql("DELETE FROM g2.db.delin WHERE id IN " +
      "(SELECT id FROM g2.db.delinmor WHERE data = 'c')")
    assert(sqlS.sql("SELECT id FROM g2.db.delin ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("UPDATE WHERE key IN (SELECT ...) routes to the matched-only merge") {
    val t = GraftTable.create(s"$wh/db/updin", schema)
    t.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c"), Some(1000L))
    // duplicate subquery rows must not trip the MERGE cardinality check
    // (IN semantics: the key set is deduplicated)
    sqlS.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(1L, "x"), Row(1L, "y"), Row(3L, "z")), 1),
      schema).createOrReplaceTempView("updin_keys")
    sqlS.sql("UPDATE g2.db.updin SET data = concat(data, '!') " +
      "WHERE id IN (SELECT id FROM updin_keys)")
    assert(sqlS.sql("SELECT id, data FROM g2.db.updin ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a!"), (2L, "b"), (3L, "c!")))
    assert(GraftTable.load(s"$wh/db/updin").log.current.get
      .operation == "merge")
  }

  test("partition-spec evolution through SQL TBLPROPERTIES") {
    spark.sql("CREATE TABLE g2.db.specevo (id BIGINT, cat STRING)")
    val t = GraftTable.load(s"$wh/db/specevo")
    def catDf(rows: (Long, String)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1),
      t.schema)
    t.append(catDf(1L -> "x", 2L -> "y"), Some(1000L))
    // evolve the layout for FUTURE writes — metadata-only
    spark.sql("ALTER TABLE g2.db.specevo " +
      "SET TBLPROPERTIES ('graft.partition.spec' = 'cat')")
    val t2 = GraftTable.load(s"$wh/db/specevo")
    assert(t2.partitionColumns == Seq("cat"))
    t2.append(catDf(3L -> "x", 4L -> "z"), Some(2000L))
    // the raw DSv2 surface cannot serve MIXED identity-layout eras
    // (directory recovery would silently null/drop era-1 rows) — the
    // plain session refuses loudly…
    val eMixed = intercept[Exception] {
      spark.sql("SELECT id FROM g2.db.specevo WHERE cat = 'x'").collect()
    }
    assert(eMixed.getMessage.contains("partition-spec eras"),
      eMixed.getMessage)
    // …and an EXTENSIONS session splices the library's era-grouped plan:
    // both eras read as one table, partition predicates answer correctly
    assert(sqlS.sql("SELECT id FROM g2.db.specevo WHERE cat = 'x'")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    assert(sqlS.sql("SELECT count(*) FROM g2.db.specevo").head().getLong(0) == 4L)
    // hidden transforms spell the same way; '' goes unpartitioned
    spark.sql("ALTER TABLE g2.db.specevo " +
      "SET TBLPROPERTIES ('graft.partition.spec' = 'bucket(4, id)')")
    assert(GraftTable.load(s"$wh/db/specevo")
      .partitionColumns == Seq("bucket(4,id)"))
    spark.sql("ALTER TABLE g2.db.specevo " +
      "SET TBLPROPERTIES ('graft.partition.spec' = '')")
    assert(GraftTable.load(s"$wh/db/specevo").partitionColumns.isEmpty)
    // an invalid spec refuses loudly, nothing changes
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE g2.db.specevo " +
        "SET TBLPROPERTIES ('graft.partition.spec' = 'nope_col')")
    }
    assert(e.getMessage.contains("nope_col"), e.getMessage)
  }

  test("spliceMemo key survives a same-millisecond double commit") {
    import java.nio.file.{Files, Paths}
    val dir = s"$wh/db/memoms"
    val t = GraftTable.create(dir, schema)
    t.append(mkDf(1L -> "a", 2L -> "b"), Some(1000L))
    // prime the memo: current state needs NO splice
    assert(sqlS.sql("SELECT id FROM g2.db.memoms").count() == 2)
    val snapPath = Paths.get(s"$dir/snapshots.json")
    val metaPath = Paths.get(s"$dir/metadata.json")
    val mt1 = Files.getLastModifiedTime(snapPath)
    val mt2 = Files.getLastModifiedTime(metaPath)
    // second commit leaves equality entries pending…
    t.deleteEquality(sqlS, mkDf(1L -> "a").select("id"), Seq("id"),
      Some(2000L))
    // …and lands "in the same millisecond": force the mtimes back
    Files.setLastModifiedTime(snapPath, mt1)
    Files.setLastModifiedTime(metaPath, mt2)
    // with size folded into the memo key the stale "no splice" verdict
    // cannot be served — the read must splice and hide the deleted row
    assert(sqlS.sql("SELECT id FROM g2.db.memoms").collect()
      .map(_.getLong(0)).toSeq == Seq(2L),
      "stale spliceMemo verdict served after a same-ms double commit")
  }

  // ---- CALL graft.system.* maintenance procedures -------------------

  test("CALL expire_snapshots honors retain-last and tag anchors") {
    val t = GraftTable.create(s"$wh/db/proc_exp", schema)
    t.append(mkDf(1L -> "a"), Some(1000L))
    t.append(mkDf(2L -> "b"), Some(2000L))
    t.append(mkDf(3L -> "c"), Some(3000L))
    t.tag("audited", 2L)
    val got = spark.sql(
      "CALL g2.system.expire_snapshots('db.proc_exp', " +
        "older_than_ms => 2500, retain_last => 1)").collect()
    // snapshot 1 is old enough; snapshot 2 is tagged (anchor) and the
    // prefix cut stops there, so exactly one id comes back
    assert(got.map(_.getLong(0)).toSeq == Seq(1L), got.mkString(","))
    val t2 = GraftTable.load(s"$wh/db/proc_exp")
    assert(t2.log.snapshots.map(_.snapshotId) == Seq(2L, 3L))
    assert(spark.sql("SELECT id FROM g2.db.proc_exp ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
  }

  test("CALL remove_orphan_files reclaims planted junk, keeps live data") {
    val t = GraftTable.create(s"$wh/db/proc_orph", schema)
    t.append(mkDf(1L -> "a", 2L -> "b"), Some(1000L))
    val junk = java.nio.file.Paths.get(
      s"$wh/db/proc_orph/data/junk-not-committed.parquet")
    java.nio.file.Files.write(junk, Array[Byte](1, 2, 3))
    val got = spark.sql(
      "CALL g2.system.remove_orphan_files('db.proc_orph', " +
        s"older_than_ms => ${System.currentTimeMillis() + 5000})").collect()
    assert(got.length == 1 && got.head.getString(0).contains("junk"),
      got.mkString(","))
    assert(!java.nio.file.Files.exists(junk))
    assert(spark.sql("SELECT count(*) AS n FROM g2.db.proc_orph")
      .collect().head.getLong(0) == 2L)
  }

  test("CALL rewrite_data_files compacts and reports the replace snapshot") {
    val t = GraftTable.create(s"$wh/db/proc_cmp", schema)
    (1 to 5).foreach(i =>
      t.append(mkDf(i.toLong -> s"v$i"), Some(1000L * i)))
    val before = GraftTable.load(s"$wh/db/proc_cmp")
    val filesBefore = Manifest.read(
      s"${before.dir}/${before.log.current.get.manifestList}").files.size
    val got = spark.sql(
      "CALL g2.system.rewrite_data_files('db.proc_cmp')").collect()
    assert(got.length == 1)
    val t2 = GraftTable.load(s"$wh/db/proc_cmp")
    val cur = t2.log.current.get
    assert(cur.snapshotId == got.head.getLong(0))
    assert(cur.operation == "replace")
    val filesAfter = Manifest.read(s"${t2.dir}/${cur.manifestList}").files.size
    assert(filesAfter < filesBefore, s"$filesBefore -> $filesAfter")
    assert(spark.sql("SELECT id FROM g2.db.proc_cmp ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == (1L to 5L))
    // idempotent no-op second run returns no rows
    assert(spark.sql("CALL g2.system.rewrite_data_files('db.proc_cmp')")
      .collect().isEmpty)
  }

  test("_file/_pos metadata columns; SQL-selected victims apply positionally") {
    val t = GraftTable.create(s"$wh/db/fp_t", schema)
    t.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c"), Some(1000L))
    GraftTable.load(s"$wh/db/fp_t")
      .append(mkDf(4L -> "d", 5L -> "e"), Some(2000L)): Unit
    // per-file counts via _file match __files; _pos is dense from 0
    val perFile = spark.sql(
      "SELECT substring_index(_file, '/', -1) AS bn, count(*) AS n, " +
        "max(_pos) AS mp FROM g2.db.fp_t GROUP BY 1").collect()
    val recorded = spark.sql(
      "SELECT substring_index(file_path, '/', -1) AS bn, record_count " +
        "FROM g2.db.fp_t__files").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perFile.map(_.getString(0)).toSet == recorded.keySet)
    perFile.foreach { r =>
      assert(recorded(r.getString(0)) == r.getLong(1),
        s"_file count diverged from __files for ${r.getString(0)}")
      assert(r.getLong(2) == r.getLong(1) - 1,
        s"_pos not dense in ${r.getString(0)}")
    }
    // data columns + filters still work alongside the metadata columns
    val row2 = spark.sql(
      "SELECT id, data, _pos FROM g2.db.fp_t WHERE id = 2").collect()
    assert(row2.length == 1 && row2.head.getString(1) == "b")
    assert(row2.head.getLong(2) == 1L) // second row of the first file

    // the curation flow: SELECT victims by VALUE, carry their
    // coordinates, apply as a merge-on-read positional delete — no data
    // file rewritten
    val victims = spark.sql(
      "SELECT _file, _pos FROM g2.db.fp_t WHERE id IN (2, 5)")
    val filesBefore = Manifest.read(s"${t.dir}/" +
      GraftTable.load(t.dir).log.current.get.manifestList)
      .files.map(_.path).toSet
    val snap = GraftTable.load(t.dir).deletePositionalAt(spark, victims)
    assert(snap.isDefined && snap.get.operation == "delete")
    val after = GraftTable.load(t.dir)
    assert(after.read(spark).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L, 4L))
    assert(after.positionalDeletes.nonEmpty, "expected a pending entry")
    assert(after.positionalDeletedCount == 2L)
    val filesAfter = Manifest.read(
      s"${after.dir}/${after.log.current.get.manifestList}")
      .files.map(_.path).toSet
    assert(filesAfter == filesBefore, "positional delete rewrote files")
  }

  test("__all_files: every live snapshot's files, deduped, with reference ranges") {
    val t = GraftTable.create(s"$wh/db/af_t", schema)
    t.append(mkDf(1L -> "a"), Some(1000L)) // snap 1: file A
    t.append(mkDf(2L -> "b"), Some(2000L)) // snap 2: + file B
    GraftTable.load(t.dir)
      .compact(spark, smallerThanBytes = Long.MaxValue, Some(3000L)): Unit
    // snap 3 replaced A+B with C; A and B remain referenced by snaps 1-2
    val rows = spark.sql(
      "SELECT file_path, record_count, ref_snapshot_count, " +
        "first_snapshot_id, last_snapshot_id FROM g2.db.af_t__all_files " +
        "ORDER BY file_path").collect()
    val current = Manifest.read(s"${t.dir}/" +
      GraftTable.load(t.dir).log.current.get.manifestList)
      .files.map(_.path).toSet
    assert(rows.length == 3, s"expected A, B, C — got ${rows.length}")
    assert(current.subsetOf(rows.map(_.getString(0)).toSet))
    // pre-compaction files reference snapshots [own..2]; the compacted
    // file references snapshot 3 only
    val byPath = rows.map(r => r.getString(0) ->
      ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val (old, fresh) = byPath.partition { case (p, _) => !current(p) }
    assert(old.size == 2 && fresh.size == 1)
    old.values.foreach { case (n, _, last) =>
      assert(last == 2L && n >= 1L, s"old-file refs wrong: $old") }
    fresh.values.foreach { case (n, first, last) =>
      assert(n == 1L && first == 3L && last == 3L) }
    // record counts carried from the entries
    assert(rows.map(_.getLong(1)).sum == 4L) // 1 + 1 + 2
    // table-global: refuses VERSION AS OF
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM g2.db.af_t__all_files VERSION AS OF 1")
        .collect()
    }
    assert(e.getMessage.contains("table-global"), e.getMessage)
    // expiration shrinks the view with the log
    GraftTable.load(t.dir)
      .expireSnapshots(olderThanMillis = Long.MaxValue, retainLast = 1): Unit
    assert(spark.sql("SELECT count(*) AS n FROM g2.db.af_t__all_files")
      .collect().head.getLong(0) == 1L)
  }

  test("reserved column names (_file/_pos) refuse at every schema-introducing path") {
    // a data column named _file would be silently shadow-routed to the
    // provenance scan — reserved up front instead
    intercept[IllegalArgumentException] {
      GraftTable.create(s"$wh/db/resv1", StructType(Seq(
        StructField("_file", StringType, nullable = true),
        StructField("id", LongType, nullable = false))))
    }
    val t = GraftTable.create(s"$wh/db/resv2", schema)
    intercept[IllegalArgumentException] { t.addColumn("_pos", LongType) }
    intercept[IllegalArgumentException] { t.addColumn("_FILE", LongType) }
    intercept[IllegalArgumentException] { t.renameColumn("data", "_pos") }
    // mergeSchema rides addColumn's guard
    t.append(mkDf(1L -> "a"), Some(1000L))
    val src = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(2L, "b", 9L)), 1),
      StructType(schema.fields.toSeq :+
        StructField("_pos", LongType, nullable = true)))
    intercept[IllegalArgumentException] {
      GraftTable.load(t.dir).append(src, Some(2000L), mergeSchema = true)
    }
  }

  test("__history: rollback breaks ancestry for rolled-past snapshots") {
    val t = GraftTable.create(s"$wh/db/hist_t", schema)
    t.append(mkDf(1L -> "a"), Some(1000L)) // snap 1
    t.append(mkDf(2L -> "b"), Some(2000L)) // snap 2
    t.append(mkDf(3L -> "c"), Some(3000L)) // snap 3
    GraftTable.load(s"$wh/db/hist_t").rollbackTo(1L, Some(4000L)) // snap 4
    GraftTable.load(s"$wh/db/hist_t")
      .append(mkDf(4L -> "d"), Some(5000L)): Unit // snap 5
    val rows = spark.sql(
      "SELECT made_current_at, snapshot_id, parent_id, is_current_ancestor " +
        "FROM g2.db.hist_t__history ORDER BY snapshot_id").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    // rolled-PAST snapshots 2 and 3 are not ancestors of the current
    // state; the rollback target (1), the rollback commit (4) and the
    // later append (5) are
    assert(rows.map(r => r.getLong(1) -> r.getBoolean(3)).toMap ==
      Map(1L -> true, 2L -> false, 3L -> false, 4L -> true, 5L -> true))
    // physical parent ids are reported as logged (4's parent is 3)
    assert(rows.find(_.getLong(1) == 4L).get.getLong(2) == 3L)
    assert(rows.find(_.getLong(1) == 1L).get.isNullAt(2))
    // table-global: refuses VERSION AS OF like __snapshots/__refs
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM g2.db.hist_t__history VERSION AS OF 1")
        .collect()
    }
    assert(e.getMessage.contains("table-global"), e.getMessage)
  }

  test("partial-progress rewrite: per-group replace commits; failure keeps completed groups") {
    val t = GraftTable.create(s"$wh/db/proc_pp", schema)
    (1 to 6).foreach(i =>
      t.append(mkDf(i.toLong -> s"v$i"), Some(1000L * i)))
    val before = GraftTable.load(s"$wh/db/proc_pp")
    val filesBefore = Manifest.read(
      s"${before.dir}/${before.log.current.get.manifestList}").files
    // cap ≈ 2 files' input bytes → several groups, several commits
    val cap = filesBefore.map(_.fileSizeBytes).max * 2
    val got = spark.sql("CALL g2.system.rewrite_data_files('db.proc_pp', " +
      s"max_file_group_bytes => $cap)").collect()
    assert(got.length >= 2, s"expected >=2 group commits, got ${got.length}")
    val t2 = GraftTable.load(s"$wh/db/proc_pp")
    val replaces = t2.log.snapshots.filter(_.operation == "replace")
    assert(replaces.size == got.length,
      s"${replaces.size} replace snapshots vs ${got.length} returned")
    assert(got.map(_.getLong(0)).toSet == replaces.map(_.snapshotId).toSet)
    // identical content, fewer files
    assert(spark.sql("SELECT id FROM g2.db.proc_pp ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == (1L to 6L))
    val filesAfter = Manifest.read(
      s"${t2.dir}/${t2.log.current.get.manifestList}").files.size
    assert(filesAfter < filesBefore.size, s"${filesBefore.size} -> $filesAfter")

    // mid-run failure: plant a row violating a LATER-added check
    // constraint — its group's rewrite fails at write time, every other
    // group must stay committed (partial progress on disk)
    val f = GraftTable.create(s"$wh/db/proc_ppf", schema)
    f.append(mkDf(1L -> "ok1"), Some(1000L))
    f.append(mkDf(2L -> "ok2"), Some(2000L))
    f.append(mkDf(3L -> "ok3"), Some(3000L))
    f.append(mkDf(4L -> "bad"), Some(4000L))
    GraftTable.load(s"$wh/db/proc_ppf").updateProperties(
      Map(s"${GraftTable.PropCheckPrefix}vok" -> "data <> 'bad'")): Unit
    val loaded = GraftTable.load(s"$wh/db/proc_ppf")
    val sizes = Manifest.read(
      s"${loaded.dir}/${loaded.log.current.get.manifestList}")
      .files.map(_.fileSizeBytes)
    val snapsBefore = loaded.log.snapshots.size
    val e = intercept[IllegalStateException] {
      // cap ≈ 2 files → groups [ok1,ok2] and [ok3,bad]; the second
      // fails its rewrite, the first commits and stays
      loaded.compactPartial(spark, smallerThanBytes = Long.MaxValue,
        maxFileGroupBytes = sizes.max * 2, committedAt = Some(5000L))
    }
    assert(e.getMessage.contains("committed 1/2"), e.getMessage)
    val f2 = GraftTable.load(s"$wh/db/proc_ppf")
    assert(f2.log.snapshots.size == snapsBefore + 1,
      "the completed group must stay committed after a failed group")
    assert(f2.log.snapshots.drop(snapsBefore).forall(_.operation == "replace"))
    // no row lost: the failed group's files are still in the manifest
    assert(spark.sql("SELECT data FROM g2.db.proc_ppf ORDER BY id")
      .collect().map(_.getString(0)).toSeq ==
      Seq("ok1", "ok2", "ok3", "bad"))
  }

  test("rewrite_data_files where-scope compacts one slice, leaves the rest") {
    val t = GraftTable.create(s"$wh/db/proc_w", schema,
      partitionBy = Seq("data"))
    (1 to 3).foreach(i => t.append(
      mkDf(i.toLong -> "a", (i + 10).toLong -> "b"), Some(1000L * i)))
    val before = Manifest.read(s"${t.dir}/" +
      GraftTable.load(t.dir).log.current.get.manifestList).files
    val bBefore = before.filter(_.partition.get("data").contains(Some("b")))
      .map(_.path).toSet
    assert(bBefore.size == 3)
    val got = spark.sql("CALL g2.system.rewrite_data_files('db.proc_w', " +
      "where => \"data = 'a'\")").collect()
    assert(got.length == 1)
    val after = Manifest.read(s"${t.dir}/" +
      GraftTable.load(t.dir).log.current.get.manifestList).files
    // b-partition files untouched (carried by path); a-slice folded
    assert(after.filter(_.partition.get("data").contains(Some("b")))
      .map(_.path).toSet == bBefore, "where-scope rewrote the other slice")
    assert(after.count(_.partition.get("data").contains(Some("a"))) == 1,
      "a-slice did not fold")
    assert(spark.sql("SELECT id FROM g2.db.proc_w ORDER BY id").collect()
      .map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 11L, 12L, 13L))
  }

  test("CALL rewrite_manifests re-shards; rollback_to_snapshot restores") {
    val t = GraftTable.create(s"$wh/db/proc_man", schema)
    t.append(mkDf(1L -> "a"), Some(1000L))
    t.append(mkDf(2L -> "b"), Some(2000L))
    val rb = spark.sql(
      "CALL g2.system.rollback_to_snapshot('db.proc_man', 1)").collect()
    assert(rb.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 3L)))
    assert(spark.sql("SELECT id FROM g2.db.proc_man ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    val man = GraftTable.create(s"$wh/db/proc_man2", schema)
    (1 to 6).foreach(i =>
      man.append(mkDf(i.toLong -> s"v$i"), Some(1000L * i)))
    val got = spark.sql(
      "CALL g2.system.rewrite_manifests('db.proc_man2', " +
        "target_files => 100)").collect()
    assert(got.length == 1)
    val t2 = GraftTable.load(s"$wh/db/proc_man2")
    assert(Manifest.read(
      s"${t2.dir}/${t2.log.current.get.manifestList}").segments.size == 1)
    assert(spark.sql("SELECT count(*) AS n FROM g2.db.proc_man2")
      .collect().head.getLong(0) == 6L)
  }

  test("SHOW PROCEDURES lists the system namespace; zorder CALL clusters") {
    val shown = spark.sql("SHOW PROCEDURES IN g2.system").collect()
      .map(_.toSeq.map(String.valueOf).mkString("|"))
    GraftProcedures.names.foreach(p =>
      assert(shown.exists(_.contains(p)), s"$p missing from $shown"))
    val desc = spark.sql(
      "DESCRIBE PROCEDURE g2.system.expire_snapshots").collect()
      .map(_.toSeq.map(String.valueOf).mkString(" ")).mkString("\n")
    assert(desc.contains("expire_snapshots"), s"got: $desc")
    // rewrite_data_files with zorder_by: rows re-clustered on the
    // z-curve, one replace snapshot, bit-identical content
    val t = GraftTable.create(s"$wh/db/proc_z", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("x", LongType, nullable = false))))
    (1 to 4).foreach(i => t.append(spark.createDataFrame(
      spark.sparkContext.parallelize(
        (1L to 8L).map(j => Row(i * 100L + j, (j * 7) % 13)), 1),
      t.schema), Some(1000L * i)))
    val got = spark.sql("CALL g2.system.rewrite_data_files('db.proc_z', " +
      "zorder_by => 'id,x')").collect()
    assert(got.length == 1)
    val t2 = GraftTable.load(s"$wh/db/proc_z")
    assert(t2.log.current.get.operation == "replace")
    assert(spark.sql("SELECT count(*) AS n FROM g2.db.proc_z")
      .collect().head.getLong(0) == 32L)
    assert(spark.sql("SELECT sum(id) AS s FROM g2.db.proc_z")
      .collect().head.getLong(0) ==
      (1 to 4).flatMap(i => (1L to 8L).map(i * 100L + _)).sum)
  }

  test("DSv2 metadata tables: __snapshots/__files/__partitions/__refs") {
    val t = GraftTable.create(s"$wh/db/meta_t", schema,
      partitionBy = Seq("data"))
    t.append(mkDf(1L -> "x", 2L -> "y"), Some(1000L))
    t.append(mkDf(3L -> "x"), Some(2000L))
    t.tag("cut", 1L)
    val snaps = spark.sql("SELECT snapshot_id, operation " +
      "FROM g2.db.meta_t__snapshots ORDER BY snapshot_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(snaps == Seq(1L -> "append", 2L -> "append"))
    // statelessness: a commit after the first query is visible next query
    t.append(mkDf(4L -> "z"), Some(3000L))
    assert(spark.sql("SELECT count(*) FROM g2.db.meta_t__snapshots")
      .head().getLong(0) == 3L)
    // snapshot-scoped: __files honors VERSION AS OF (id and tag)
    assert(spark.sql(
      "SELECT count(*) FROM g2.db.meta_t__files VERSION AS OF 1")
      .head().getLong(0) == 2L)
    assert(spark.sql(
      "SELECT count(*) FROM g2.db.meta_t__files VERSION AS OF 'cut'")
      .head().getLong(0) == 2L)
    // …and TIMESTAMP AS OF (commit time 1500ms → snapshot 1)
    assert(spark.sql("SELECT count(*) FROM g2.db.meta_t__files " +
      "TIMESTAMP AS OF CAST(1.5 AS TIMESTAMP)").head().getLong(0) == 2L)
    assert(spark.sql("SELECT count(*) FROM g2.db.meta_t__files")
      .head().getLong(0) == 4L)
    // partitions: per-value record totals, metadata-only
    val parts = spark.sql("SELECT partition['data'] AS v, record_count " +
      "FROM g2.db.meta_t__partitions ORDER BY v").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(parts == Seq("x" -> 2L, "y" -> 1L, "z" -> 1L), parts)
    // refs: the tag shows
    val refs = spark.sql(
      "SELECT name, type FROM g2.db.meta_t__refs").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(refs.contains("cut" -> "tag"), refs)
    // table-global metadata has no per-snapshot form
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM g2.db.meta_t__refs VERSION AS OF 1").collect()
    }
    assert(e.getMessage.contains("table-global"))
    // __snapshots opt-out falls through to NoSuchTable
    t.updateProperties(Map("graft.snapshots.table" -> "false"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM g2.db.meta_t__snapshots").collect()
    }
    assert(e2.getMessage.toUpperCase.contains("TABLE_OR_VIEW_NOT_FOUND")
      || e2.getMessage.contains("meta_t__snapshots"))
  }

  test("write-audit-publish entirely from SQL: CALL branch/tag procedures") {
    val t = GraftTable.create(s"$wh/db/wap_sql", schema)
    t.append(mkDf(1L -> "base"), Some(1000L))
    val br = spark.sql(
      "CALL g2.system.create_branch('db.wap_sql', 'audit')").collect()
    assert(br.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq("audit" -> 1L))
    // stage rows on the branch (library write — branches are write-
    // isolated), audit-read through SQL, then publish through SQL
    GraftTable.load(s"$wh/db/wap_sql").branch("audit")
      .append(mkDf(2L -> "staged"), Some(2000L))
    assert(spark.sql(
      "SELECT id FROM g2.db.wap_sql VERSION AS OF 'branch:audit'")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    assert(spark.sql("SELECT count(*) FROM g2.db.wap_sql")
      .head().getLong(0) == 1L) // unpublished: main unchanged
    val tagged = spark.sql(
      "CALL g2.system.create_tag('db.wap_sql', 'pre-publish')").collect()
    assert(tagged.head.getLong(1) == 1L) // defaults to current snapshot
    val pub = spark.sql(
      "CALL g2.system.publish_branch('db.wap_sql', 'audit')").collect()
    assert(pub.head.getLong(0) >= 2L)
    assert(spark.sql("SELECT id FROM g2.db.wap_sql ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // an abandoned branch drops cleanly
    spark.sql("CALL g2.system.create_branch('db.wap_sql', 'scrap')")
      .collect()
    spark.sql("CALL g2.system.drop_branch('db.wap_sql', 'scrap')").collect()
    assert(!GraftTable.load(s"$wh/db/wap_sql").branches.contains("scrap"))
  }

  test("CALL add_files imports existing parquet file-level, no rewrite") {
    val t = GraftTable.create(s"$wh/db/proc_imp", schema)
    t.append(mkDf(1L -> "native"), Some(1000L))
    // a foreign parquet dataset with the SAME schema, written elsewhere
    val srcDir = tmpDir("import-src")
    mkDf(2L -> "imported", 3L -> "imported").write
      .mode("overwrite").parquet(srcDir)
    val srcFiles = new java.io.File(srcDir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.toPath)
    val got = spark.sql(
      s"CALL g2.system.add_files('db.proc_imp', '$srcDir')").collect()
    assert(got.length == 1 && got.head.getLong(2) == 2L, got.mkString(","))
    // rows landed, sources untouched, ONE append snapshot, stats usable
    assert(spark.sql("SELECT id FROM g2.db.proc_imp ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(srcFiles.forall(java.nio.file.Files.exists(_)),
      "import must COPY, not move")
    val t2 = GraftTable.load(s"$wh/db/proc_imp")
    assert(t2.log.snapshots.size == 2)
    assert(t2.log.current.get.summary.get("imported").contains("true"))
    assert(spark.sql(
      "SELECT count(*) AS n FROM g2.db.proc_imp WHERE id >= 2")
      .collect().head.getLong(0) == 2L)
    // schema-mismatched imports refuse loudly, nothing lands
    val badDir = tmpDir("import-bad")
    spark.range(3).selectExpr("id", "CAST(id AS STRING) AS wrong")
      .write.mode("overwrite").parquet(badDir)
    val e = intercept[Exception] {
      spark.sql(s"CALL g2.system.add_files('db.proc_imp', '$badDir')")
        .collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("must match"), s"got: $msgs")
    assert(GraftTable.load(s"$wh/db/proc_imp").log.snapshots.size == 2)
    // TRANSFORM layouts refuse toward append() (a foreign dataset's
    // derived values cannot be verified)
    GraftTable.create(s"$wh/db/proc_imp_b", schema,
      partitionBy = Seq("bucket(4,id)"))
    val e2 = intercept[Exception] {
      spark.sql(s"CALL g2.system.add_files('db.proc_imp_b', '$srcDir')")
        .collect()
    }
    val m2 = Iterator.iterate(e2: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(m2.contains("transform"), s"got: $m2")
  }

  test("CALL add_files imports a Hive-partitioned layout into identity spec") {
    GraftTable.create(s"$wh/db/proc_imp_p", schema,
      partitionBy = Seq("data"))
    // a foreign partitionBy dataset: values live in <data=...> dirs and
    // are absent from footers — exactly what the identity spec expects
    val srcDir = tmpDir("import-part-src")
    mkDf(1L -> "x", 2L -> "y", 3L -> "x", 4L -> null).write
      .partitionBy("data").mode("overwrite").parquet(srcDir)
    val got = spark.sql(
      s"CALL g2.system.add_files('db.proc_imp_p', '$srcDir')").collect()
    assert(got.head.getLong(2) == 4L, got.mkString(","))
    // values recovered, null partition intact, rows exact
    val rows = spark.sql(
      "SELECT id, data FROM g2.db.proc_imp_p ORDER BY id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
    assert(rows.toSeq == Seq((1L, "x"), (2L, "y"), (3L, "x"), (4L, null)))
    // partition pruning works on the imported manifest values: the
    // slice count is metadata-only (synthesized stats prove the claim)
    assert(spark.sql(
      "SELECT count(*) AS n FROM g2.db.proc_imp_p WHERE data = 'x'")
      .collect().head.getLong(0) == 2L)
    val t2 = GraftTable.load(s"$wh/db/proc_imp_p")
    val entries = Manifest.read(
      s"${t2.dir}/${t2.log.current.get.manifestList}").files
    assert(entries.forall(_.partition.contains("data")))
    assert(entries.exists(_.partition("data").isEmpty),
      "null partition lost on import")
    // a flat (unpartitioned) foreign file refuses against this spec:
    // its footer carries the partition column
    val flatDir = tmpDir("import-flat-src")
    mkDf(9L -> "z").write.mode("overwrite").parquet(flatDir)
    val e = intercept[Exception] {
      spark.sql(s"CALL g2.system.add_files('db.proc_imp_p', '$flatDir')")
        .collect()
    }
    val m = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(m.contains("partition") || m.contains("must match"), s"got: $m")
  }

  test("unknown procedures refuse with the available list") {
    val e = intercept[Exception] {
      spark.sql("CALL g2.system.vacuum('db.x')").collect()
    }
    // Spark wraps the catalog's refusal in FAILED_TO_LOAD_ROUTINE; the
    // helpful list rides the cause
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs.contains("expire_snapshots"),
      s"unhelpful refusal: $msgs")
  }

  test("CALL snapshot: zero-copy shadow table, sources untouched, schema derived") {
    // a foreign Hive-partitioned parquet dump, written by plain Spark
    val srcDir = tmpDir("snap-src")
    spark.range(20).selectExpr("id", "CAST(id % 3 AS INT) AS bucket_col",
        "CAST(id AS STRING) AS payload")
      .write.partitionBy("bucket_col").mode("overwrite").parquet(srcDir)
    val srcBefore = {
      val b = Seq.newBuilder[(String, Long)]
      java.nio.file.Files.walk(java.nio.file.Paths.get(srcDir)).forEach(p =>
        if (p.toString.endsWith(".parquet"))
          b += ((p.toString, java.nio.file.Files.getLastModifiedTime(p).toMillis)))
      b.result()
    }
    val got = spark.sql(
      s"CALL g2.system.snapshot('$srcDir', 'db.proc_snap')").collect()
    assert(got.length == 1 && got.head.getLong(2) == 20L, got.mkString(","))
    // reads equal the plain directory read; partition column recovered
    // as an IDENTITY partition field (pruning works through it)
    val viaTable = spark.sql(
      "SELECT id, bucket_col, payload FROM g2.db.proc_snap")
    val viaDir = spark.read.parquet(srcDir)
      .selectExpr("id", "bucket_col", "payload")
    assert(viaTable.exceptAll(viaDir).isEmpty &&
      viaDir.exceptAll(viaTable).isEmpty, "shadow diverged from source")
    val t = GraftTable.load(s"$wh/db/proc_snap")
    assert(t.partitionFields.map(_.fieldName) == Seq("bucket_col"))
    assert(spark.sql(
      "SELECT count(*) FROM g2.db.proc_snap WHERE bucket_col = 1")
      .head().getLong(0) == viaDir.filter("bucket_col = 1").count())
    // the SOURCE is byte-for-byte untouched
    srcBefore.foreach { case (p, mtime) =>
      val path = java.nio.file.Paths.get(p)
      assert(java.nio.file.Files.exists(path), s"source file vanished: $p")
      assert(java.nio.file.Files.getLastModifiedTime(path).toMillis == mtime,
        s"source file rewritten: $p")
    }
    // the shadow takes DML without affecting the source
    t.delete(spark, org.apache.spark.sql.functions.col("id") === 0L)
    assert(spark.sql("SELECT count(*) FROM g2.db.proc_snap")
      .head().getLong(0) == 19L)
    assert(spark.read.parquet(srcDir).count() == 20L,
      "shadow DML leaked into the source")
    // refusals: an existing graft table as source; a taken destination
    intercept[Exception] { spark.sql(
      s"CALL g2.system.snapshot('$wh/db/proc_snap', 'db.proc_snap2')")
      .collect() }
    intercept[Exception] { spark.sql(
      s"CALL g2.system.snapshot('$srcDir', 'db.proc_snap')").collect() }
  }

  test("CALL create_changelog_view: SQL-only ranged changelog as a temp view") {
    val t = GraftTable.create(s"$wh/db/clv", schema)
    t.append(mkDf(1L -> "a", 2L -> "b"), Some(1000L))   // 1
    t.delete(spark,
      org.apache.spark.sql.functions.col("id") === 1L, Some(2000L)) // 2
    t.append(mkDf(3L -> "c"), Some(3000L))              // 3
    val got = spark.sql(
      "CALL g2.system.create_changelog_view('db.clv', 'clv_all')").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("clv_all"))
    // full-range view: folding from empty reproduces the table
    val folded = spark.sql(
      "SELECT id, data FROM (SELECT id, data, " +
        "sum(CASE WHEN _change_type = 'insert' THEN 1 ELSE -1 END) AS n " +
        "FROM clv_all GROUP BY id, data) WHERE n > 0")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(folded == Map(2L -> "b", 3L -> "c"), folded.toString)
    // explicit range scopes to the delete only
    spark.sql("CALL g2.system.create_changelog_view('db.clv', 'clv_d', " +
      "start_snapshot_id => 1, end_snapshot_id => 2)").collect()
    val d = spark.sql("SELECT _change_type, id FROM clv_d").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(d == Seq("delete" -> 1L), d.toString)
    // a bad range refuses AT THE CALL
    intercept[Exception] {
      spark.sql("CALL g2.system.create_changelog_view('db.clv', 'bad', " +
        "start_snapshot_id => 3, end_snapshot_id => 1)").collect()
    }
  }

  test("snapshot/migrate are failure-atomic: a refused bootstrap leaves no wedge") {
    // a directory whose files carry TWO footer schemas
    val mixDir = tmpDir("boot-mixed")
    spark.range(3).selectExpr("id", "CAST(id AS STRING) AS a")
      .coalesce(1).write.mode("append").parquet(mixDir)
    spark.range(3).selectExpr("id", "CAST(id AS DOUBLE) AS a")
      .coalesce(1).write.mode("append").parquet(mixDir)
    val e = intercept[Exception] {
      spark.sql(s"CALL g2.system.snapshot('$mixDir', 'db.boot_bad')")
        .collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("footer schema differs"), msgs)
    // the destination was never created — a retry is not blocked
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$wh/db/boot_bad")),
      "failed snapshot left a wedged destination")
    // migrate on the same mixed content refuses and leaves it a
    // PLAIN parquet directory (no metadata.json) — retryable after fix
    val migDir = s"$wh/db/boot_mig_bad"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(migDir))
    java.nio.file.Files.list(java.nio.file.Paths.get(mixDir)).forEach { p =>
      if (p.toString.endsWith(".parquet"))
        java.nio.file.Files.copy(p,
          java.nio.file.Paths.get(migDir, p.getFileName.toString))
    }
    intercept[Exception] {
      spark.sql("CALL g2.system.migrate('db.boot_mig_bad')").collect()
    }
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(migDir, "metadata.json")),
      "failed migrate left graft metadata in the source directory")
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(migDir))
      .anyMatch(_.toString.endsWith(".parquet")),
      "failed migrate touched the user's files")
  }

  test("CALL migrate: in-place conversion, originals become snapshot 1") {
    // a plain parquet directory sitting INSIDE the warehouse
    val dir = s"$wh/db/proc_mig"
    spark.range(12).selectExpr("id", "CAST(id AS STRING) AS payload")
      .coalesce(2).write.mode("overwrite").parquet(dir)
    val got = spark.sql("CALL g2.system.migrate('db.proc_mig')").collect()
    assert(got.length == 1 && got.head.getLong(2) == 12L, got.mkString(","))
    // a real graft table now, full surface; snapshot 1 = original rows
    val t = GraftTable.load(dir)
    assert(t.log.snapshots.size == 1)
    assert(spark.sql("SELECT sum(id) FROM g2.db.proc_mig")
      .head().getLong(0) == (0L until 12L).sum)
    // the loose originals are gone (their bytes live on under data/)
    val loose = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
    assert(loose.isEmpty, s"loose originals left: ${loose.mkString(",")}")
    // converting again refuses (it is a graft table now)
    val e = intercept[Exception] {
      spark.sql("CALL g2.system.migrate('db.proc_mig')").collect()
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("already a graft table"), msgs)
    // and the converted table keeps working under DML + time travel
    t.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(99L, "post")), 1),
      t.schema), Some(5000L))
    assert(spark.sql("SELECT count(*) FROM g2.db.proc_mig")
      .head().getLong(0) == 13L)
    assert(t.read(spark, Some(1L)).count() == 12L)
  }

  test("CALL rewrite_position_delete_files folds DV debt, no-op when canonical") {
    val t = GraftTable.create(s"$wh/db/proc_rpd", schema)
    t.append(mkDf(1L -> "a", 2L -> "b", 3L -> "c"), Some(1000L))
    t.deletePositional(spark,
      org.apache.spark.sql.functions.col("id") === 2L, Some(2000L))
    // fresh vector state is already canonical → no rows, nothing committed
    assert(spark.sql(
      "CALL g2.system.rewrite_position_delete_files('db.proc_rpd')")
      .collect().isEmpty)
    assert(GraftTable.load(s"$wh/db/proc_rpd").log.snapshots.size == 2)
    // the procedure is an Iceberg-parity no-op (every positional commit
    // already leaves the canonical form): this proves routing + result
    // shape and that the table keeps serving (library read — raw SQL
    // over MoR-pending state needs an extensions session by design)
    assert(GraftTable.load(s"$wh/db/proc_rpd").read(spark)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
  }

  test("CALL register_table links an outside graft dir; refusals hold") {
    val outside = tmpDir("graft-relocated")
    val src = GraftTable.create(s"$outside/moved_t", schema)
    src.append(mkDf(1L -> "a", 2L -> "b"), Some(1000L))
    src.append(mkDf(3L -> "c"), Some(2000L))
    val got = spark.sql(
      s"CALL g2.system.register_table('$outside/moved_t', 'db.reg_t')")
      .collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 2L)), got.mkString(","))
    // the registered name serves the full surface (reads, time travel)
    assert(spark.sql("SELECT id FROM g2.db.reg_t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(spark.sql("SELECT id FROM g2.db.reg_t VERSION AS OF 1")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // ONE table, two paths: a write through the catalog name is visible
    // at the original path (a register is a pointer, not a copy)
    GraftTable.load(s"$wh/db/reg_t").append(mkDf(9L -> "z"), Some(3000L))
    assert(GraftTable.load(s"$outside/moved_t").read(spark).count() == 4L)
    // refusals: occupied name, non-table source, already-in-warehouse
    intercept[Exception] { spark.sql(
      s"CALL g2.system.register_table('$outside/moved_t', 'db.reg_t')") }
    intercept[Exception] { spark.sql(
      s"CALL g2.system.register_table('$outside', 'db.reg_bad')") }
    intercept[Exception] { spark.sql(
      s"CALL g2.system.register_table('$wh/db/reg_t', 'db.reg_dup')") }
    assert(!GraftTable.exists(s"$wh/db/reg_bad") &&
      !GraftTable.exists(s"$wh/db/reg_dup"))
    // a register may be the FIRST-ever catalog operation: an empty
    // (not-yet-created) warehouse root must not fail the dedup scan
    val freshWh = tmpDir("graft-fresh-wh") + "/never_created"
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.gfw",
      "graft.table.GraftSparkCatalog")
    s2.conf.set("spark.sql.catalog.gfw.warehouse", freshWh)
    val first = s2.sql(
      s"CALL gfw.system.register_table('$outside/moved_t', 'db.first')")
      .collect()
    assert(first.length == 1)
    assert(s2.sql("SELECT count(*) AS c FROM gfw.db.first")
      .collect().head.getLong(0) == 4L)
  }
}
