package graft.tools

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.table._

/** Runnable end-to-end walkthrough of the graft table layer — the
  * library-boundary surface of SURVEY.md §2.1/§2.5: create, append-commit,
  * snapshot read, time travel (explicit + predicate), statelessness,
  * `__snapshots` system table, file pruning, catalog + SQL views.
  *
  * `sbt "runMain graft.tools.TableDemo [workDir]"`
  */
object TableDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("4", "ERROR")

    val dir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-demo").toString)
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("data", StringType, nullable = true)))
    def df(rows: (Long, String)*) = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 1), schema)

    val t = GraftTable.create(s"$dir/t", schema)
    t.append(df(1L -> "a", 2L -> "b"), Some(1000L))
    t.append(df(10L -> "c", 11L -> "d"), Some(2000L))
    t.append(df(20L -> "e"), Some(3000L))

    println("LATEST: " + t.read(spark).orderBy("id").collect().mkString(", "))
    println("TT-pred snap1: " + t.scan(spark, Some(col("snapshot__id") === 1L))
      .orderBy("id").collect().mkString(", "))
    println("STATELESS after TT: count=" + t.read(spark).count())
    println("SNAPSHOTS: " + t.snapshots(spark)
      .select("snapshot_id", "parent_id", "committed_at", "operation")
      .collect().mkString(", "))
    println("PRUNED id=10: " + t.scan(spark, Some(col("id") === 10L))
      .collect().mkString(", "))

    // bloom skipping: interleaved key ranges make min/max useless; the
    // manifest blooms still isolate the one file holding the probe
    val bt = GraftTable.create(s"$dir/bloom", schema,
      properties = Map(GraftTable.PropBloomColumns -> "id"))
    bt.append(df((0L until 100L by 2).map(i => i -> s"v$i"): _*), Some(1000L))
    bt.append(df((1L until 100L by 2).map(i => i -> s"v$i"): _*), Some(2000L))
    val bProbe = bt.scan(spark, Some(col("id") === 42L))
    println("BLOOM id=42: files=" + bProbe.inputFiles.length + "/" +
      bt.read(spark).inputFiles.length + " rows=" +
      bProbe.collect().mkString(", "))

    // deferred (merge-on-read) delete: metadata-only commit; the re-append
    // of a matching value is NOT affected (predicate scoped to older files)
    val mt = GraftTable.create(s"$dir/mor", schema)
    mt.append(df(1L -> "keep", 2L -> "drop"), Some(1000L))
    mt.deleteDeferred(spark, col("data") === "drop", Some(2000L))
    mt.append(df(3L -> "drop"), Some(3000L))
    println("DEFERRED-DELETE: rows=" + mt.read(spark).orderBy("id")
      .collect().mkString(", ") + " pending=" + mt.pendingDeletes.size)
    mt.compact(spark, smallerThanBytes = Long.MaxValue, Some(4000L))
    println("DEFERRED-MATERIALIZED: rows=" + mt.read(spark).orderBy("id")
      .collect().mkString(", ") + " pending=" + mt.pendingDeletes.size)

    // positional (merge-on-read) delete: row-level deletion vectors —
    // no data rewrite; key-addressed deletes are the curation entry point
    val pdt = GraftTable.create(s"$dir/pos", schema)
    pdt.append(df(1L -> "keep", 2L -> "dup", 3L -> "dup"), Some(1000L))
    pdt.deletePositionalByKeys(spark, df(3L -> "dup").select("id"),
      Seq("id"), Some(2000L))
    println("POSITIONAL-DELETE: rows=" + pdt.read(spark).orderBy("id")
      .collect().mkString(", ") + " deleted=" + pdt.positionalDeletedCount +
      " count=" + pdt.read(spark).count())
    println("DELETES-TABLE: " + pdt.deletesTable(spark)
      .select("kind", "deleted_rows").collect().mkString(", "))
    pdt.compact(spark, smallerThanBytes = Long.MaxValue, Some(3000L))
    println("POSITIONAL-MATERIALIZED: rows=" + pdt.read(spark).orderBy("id")
      .collect().mkString(", ") + " pending=" + pdt.positionalDeletes.size)

    val preCompact = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/t/data"))
      .filter(_.toString.endsWith(".parquet")).count()
    val cSnap = t.compact(spark, smallerThanBytes = 1 << 20, Some(3500L))
    println("COMPACT: op=" + cSnap.map(_.operation).getOrElse("none") +
      " manifests " + preCompact + "->" +
      Manifest.read(s"${t.dir}/${t.log.current.get.manifestList}").files.size +
      " rows=" + t.read(spark).count())

    // lifecycle ops on their own table (the main demo table's snapshots
    // feed the CHANGES/FEED sections below and must stay intact)
    val lt = GraftTable.create(s"$dir/lt", schema)
    lt.append(df(1L -> "a", 2L -> "b"), Some(1000L))
    lt.append(df(3L -> "c"), Some(2000L))
    val dSnap = lt.delete(spark, col("id") === 2L, Some(3000L))
    println("DELETE id=2: op=" + dSnap.map(_.operation).getOrElse("none") +
      " rows=" + lt.read(spark).count() +
      " tt-still-sees=" + lt.scan(spark, Some(col("snapshot__id") === 2L)).count())
    val rbSnap = lt.rollbackTo(2L, Some(4000L))
    println("ROLLBACK to 2: op=" + rbSnap.operation +
      " rows=" + lt.read(spark).count())
    // WAP recovery: an appended batch discarded by a rollback comes back
    // via cherrypick — same files, same row-id bands, no write replay
    val batchSnap = lt.append(df(9L -> "z"), Some(4100L))
    lt.rollbackTo(2L, Some(4200L))
    val cpSnap = lt.cherrypick(batchSnap.snapshotId, Some(4300L))
    println("CHERRYPICK " + batchSnap.snapshotId + ": op=" +
      cpSnap.operation + " from=" + cpSnap.summary("cherrypicked-from") +
      " rows=" + lt.read(spark).count())
    println("EXPIRE <3500: ids=" +
      lt.expireSnapshots(olderThanMillis = 3500L).mkString(","))
    // a crashed writer's moved-but-uncommitted file: no manifest knows it
    val orphan = java.nio.file.Paths.get(s"$dir/lt/data/part-99999-dead-0.parquet")
    java.nio.file.Files.writeString(orphan, "junk")
    java.nio.file.Files.setLastModifiedTime(orphan,
      java.nio.file.attribute.FileTime.fromMillis(1000L))
    println("ORPHANS: removed=" + lt.removeOrphanFiles(60000L).mkString(",") +
      " rows=" + lt.read(spark).count())

    val pSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("cat", StringType, nullable = true)))
    val pt = GraftTable.create(s"$dir/pt", pSchema, partitionBy = Seq("cat"))
    pt.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, "a"), Row(2L, "b"), Row(3L, "a"), Row(4L, "c")), 1), pSchema),
      Some(1000L))
    val pScan = pt.scan(spark, Some(col("cat") === "a"))
    println("PARTITIONED cat=a: files=" + pScan.inputFiles.length +
      " rows=" + pScan.orderBy("id").collect().mkString(", "))

    // partition-spec evolution: re-key the layout for future writes only;
    // the cross-era read unions both layouts
    val pte = pt.updatePartitionSpec(Seq("id"))
    pte.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(5L, "a"), Row(6L, "b")), 1),
      pSchema), Some(2000L))
    println("SPEC-EVO cat=a: " +
      pte.scan(spark, Some(col("cat") === "a")).orderBy("id")
        .drop("snapshot__id").collect().mkString(", ") +
      " | specs=" + graft.table.Manifest
        .read(s"$dir/pt/${pte.log.current.get.manifestList}")
        .files.map(_.partition.keySet.mkString("+")).distinct.sorted
        .mkString(","))

    println("ASOF t=1500: " + t.readAsOf(spark, 1500L).orderBy("id")
      .collect().mkString(", ") +
      " | t=0: count=" + t.readAsOf(spark, 0L).count())
    println("CHANGES 1->3: " + t.changes(spark, 1L).orderBy("id")
      .collect().mkString(", "))

    val feed = new GraftChangeFeed(t, s"$dir/feed-ckpt")
    feed.poll(spark)(df => println("FEED poll1: rows=" + df.count()))
    t.append(df(30L -> "f"), Some(4000L))
    feed.poll(spark)(d2 => println("FEED poll2: " +
      d2.orderBy("id").collect().mkString(", ")))
    println("FEED cursor: " + feed.cursor)

    // write–audit–publish: candidate rows land on a branch, get audited
    // and fixed there, then fast-forward into the table as ONE commit
    val wap = GraftTable.create(s"$dir/wap", schema)
    wap.append(df(1L -> "base"), Some(1000L))
    val br = wap.createBranch("audit", Some(1500L))
    br.append(df(2L -> "good", 3L -> "BAD"), Some(2000L))
    br.delete(spark, col("data") === "BAD", Some(2500L)) // the audit fix
    println("BRANCH audit: branch=" + br.read(spark).count() +
      " parent=" + wap.read(spark).count())
    val pub = wap.publishBranch("audit", Some(3000L))
    println("BRANCH refs: " + wap.refsTable(spark).collect().mkString(", "))
    wap.dropBranch("audit")
    println("BRANCH published: op=" + pub.operation + " rows=" +
      wap.read(spark).orderBy("id").collect().mkString(", "))

    // per-ref retention: an aged tag drops at expire (and stops
    // anchoring); a policy-less tag keeps anchoring its snapshot
    wap.append(df(4L -> "later"), Some(4000L))
    wap.tag("aged", 1L, maxRefAgeMs = Some(1000L),
      createdAtMs = Some(System.currentTimeMillis() - 60000L))
    wap.tag("keep", 2L)
    val refExpired = wap.expireSnapshots(Long.MaxValue, 1)
    println("REF-RETENTION: expired=" + refExpired.mkString(",") +
      " refs=" + wap.refs.keys.toSeq.sorted.mkString(","))

    // write constraints: the violating append fails inside the write job
    // and commits nothing; the clean append lands
    val guarded = GraftTable.create(s"$dir/checked", schema,
      Map(GraftTable.PropCheckPrefix + "idpos" -> "id > 0",
        GraftTable.PropNotNullColumns -> "data"))
    guarded.append(df(1L -> "ok"), Some(1000L))
    val rejected =
      try { guarded.append(df(-5L -> "bad"), Some(2000L)); "MISSED" }
      catch { case _: Throwable => "rejected" }
    println("CONSTRAINT: bad append " + rejected +
      " snapshots=" + guarded.log.snapshots.size +
      " rows=" + guarded.read(spark).count())
    println("PARTITIONS: " + guarded.partitionsTable(spark)
      .select("file_count", "record_count").collect().mkString(", "))
    // predicate count accelerated by the all-match proof (metadata-only
    // when every candidate file proves)
    println("COUNT-WHERE id>0: " + guarded.countWhere(spark, col("id") > 0L) +
      " | id>99: " + guarded.countWhere(spark, col("id") > 99L))

    // write-time sort order: a declared graft.write.sort range-clusters
    // every write into range-disjoint files, so fresh data prunes
    // without waiting for a compaction pass
    val sorted = GraftTable.create(s"$dir/sorted", schema,
      Map(GraftTable.PropWriteSort -> "id"))
    sorted.append(spark.createDataFrame(
      spark.sparkContext.parallelize(
        new scala.util.Random(3).shuffle((0L until 32L).toList)
          .map(i => Row(i, s"s$i")), 4), schema), Some(1000L))
    val sortedFiles = Manifest.read(
      s"${sorted.dir}/${sorted.log.current.get.manifestList}").files
    val sortedRanges = sortedFiles.map(f =>
      (f.stats("id").min.get.toLong, f.stats("id").max.get.toLong))
      .sortBy(_._1)
    println("WRITE-SORT: files=" + sortedFiles.size +
      " disjoint=" + sortedRanges.sliding(2).forall {
        case Seq((_, hi), (lo2, _)) => hi < lo2
        case _ => true
      } + " probe=" + sorted.scan(spark, Some(col("id") === 7L))
        .inputFiles.length + "/" + sortedFiles.size)

    // opt-in additive evolution on write: a mergeSchema append widens
    // the table (NULL-fill on old files); the default still refuses
    val evolving = GraftTable.create(s"$dir/evolving", schema)
    evolving.append(df(1L -> "a"), Some(1000L))
    val withExtra = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(2L, "b", 20L)), 1),
      StructType(schema.fields.toSeq :+
        StructField("score", LongType, nullable = true)))
    val refused =
      try { evolving.append(withExtra, Some(2000L)); "MISSED" }
      catch { case _: IllegalArgumentException => "refused" }
    evolving.append(withExtra, Some(2000L), mergeSchema = true)
    println("MERGE-SCHEMA: default=" + refused + " rows=" +
      GraftTable.load(s"$dir/evolving").read(spark).orderBy("id")
        .select("id", "data", "score").collect().mkString(", "))

    val e = GraftTable.create(s"$dir/empty", schema)
    println("EMPTY: count=" + e.read(spark).count() +
      " cols=" + e.read(spark).columns.mkString(","))

    try t.read(spark, Some(99L)).count()
    catch { case ex: IllegalArgumentException => println("BAD-SNAP: " + ex.getMessage) }

    val cat = new GraftCatalog(s"$dir/wh")
    val ct = cat.createTable("db.people", schema)
    ct.append(df(5L -> "z"), Some(500L))
    cat.register(spark, "db.people")
    println("SQL: " + spark.sql("SELECT id, data, snapshot__id FROM db_people")
      .collect().mkString(", "))
    println("SQL-SNAPS: " + spark.sql(
      "SELECT snapshot_id, operation FROM db_people__snapshots")
      .collect().mkString(", "))

    // SQL time travel: the view re-resolves per query — an append after
    // registration is visible, and `WHERE snapshot__id = 1` re-plans the
    // scan at snapshot 1 (not a row filter on the current snapshot)
    ct.append(df(6L -> "y"), Some(600L))
    println("SQL-LATEST: " + spark.sql(
      "SELECT id, snapshot__id FROM db_people ORDER BY id")
      .collect().mkString(", "))
    println("SQL-TT: " + spark.sql(
      "SELECT id, snapshot__id FROM db_people WHERE snapshot__id = 1")
      .collect().mkString(", "))
    println("SQL-STATELESS: count=" +
      spark.sql("SELECT * FROM db_people").count())

    // DSv2 catalog plugin: standard Spark SQL time-travel syntax
    spark.conf.set("spark.sql.catalog.gdemo", "graft.table.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.gdemo.warehouse", s"$dir/wh")
    println("CATALOG-V2 latest: " +
      spark.sql("SELECT * FROM gdemo.db.people ORDER BY id")
        .collect().mkString(", "))
    println("CATALOG-V2 v1: " +
      spark.sql("SELECT * FROM gdemo.db.people VERSION AS OF 1 ORDER BY id")
        .collect().mkString(", "))

    // full SQL DML through the catalog (ResolveGraftDml via the
    // extensions this session registered): INSERT / UPDATE / MERGE /
    // predicate-scoped INSERT OVERWRITE, each one atomic commit
    spark.sql("INSERT INTO gdemo.db.people VALUES (7, 'ins')")
    spark.sql("UPDATE gdemo.db.people SET data = concat(data, '!') " +
      "WHERE id = 7")
    spark.sql("SELECT 7L AS id, 'merged' AS data UNION ALL " +
      "SELECT 8L, 'new'").createOrReplaceTempView("demo_src")
    spark.sql("MERGE INTO gdemo.db.people t USING demo_src s ON t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    println("SQL-DML: " +
      spark.sql("SELECT * FROM gdemo.db.people WHERE id >= 7 ORDER BY id")
        .collect().mkString(", "))

    // SQL maintenance procedures (DSv2 ProcedureCatalog): the operator
    // surface over compact/expire/orphans/rollback
    spark.sql("INSERT INTO gdemo.db.people VALUES (9, 'tmp')")
    val rewrite = spark.sql(
      "CALL gdemo.system.rewrite_data_files('db.people')").collect()
    val rolled = spark.sql(
      "CALL gdemo.system.rollback_to_snapshot('db.people', " +
        GraftTable.load(s"$dir/wh/db/people").log.snapshots
          .takeRight(2).head.snapshotId + ")").collect()
    val expired = spark.sql(
      "CALL gdemo.system.expire_snapshots('db.people', " +
        "older_than_ms => " + (System.currentTimeMillis() + 1000) +
        ", retain_last => 2)").collect()
    val orphans = spark.sql(
      "CALL gdemo.system.remove_orphan_files('db.people', " +
        "older_than_ms => " + (System.currentTimeMillis() + 1000) + ")")
      .collect()
    println("PROCEDURES: rewrite=" + rewrite.mkString(",") +
      " rollback=" + rolled.mkString(",") +
      " expired=" + expired.length + " orphans=" + orphans.length +
      " rows=" + spark.sql("SELECT count(*) FROM gdemo.db.people")
        .collect().head.getLong(0))

    // register_table: an outside graft dir becomes a catalog name (a
    // pointer — same table, two paths); rewrite_position_delete_files
    // is a no-op on canonical vector state (nothing committed)
    val pplSchema = GraftTable.load(s"$dir/wh/db/people").schema
    val moved = GraftTable.create(s"$dir/outside_moved", pplSchema)
    moved.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(50L, "moved")), 1),
      pplSchema), Some(1000L))
    val reg = spark.sql("CALL gdemo.system.register_table(" +
      s"'$dir/outside_moved', 'db.registered')").collect()
    val fold = spark.sql(
      "CALL gdemo.system.rewrite_position_delete_files('db.people')")
      .collect()
    println("REGISTER: " + reg.mkString(",") +
      " rows=" + spark.sql("SELECT count(*) FROM gdemo.db.registered")
        .collect().head.getLong(0) +
      " fold-noop=" + fold.isEmpty)

    // warehouse transaction: people + registered staged in one txn via
    // the SQL surface; mid-txn the published names see neither commit,
    // commit_transaction publishes both atomically
    spark.sql("CALL gdemo.system.begin_transaction('demo')").collect()
    spark.sql("INSERT INTO gdemo.db.people__txn_demo VALUES (60, 'txn')")
    spark.sql("INSERT INTO gdemo.db.registered__txn_demo VALUES (61, 'txn')")
    val midPeople = spark.sql("SELECT count(*) FROM gdemo.db.people")
      .collect().head.getLong(0)
    val stagedPeople = spark.sql(
      "SELECT count(*) FROM gdemo.db.people__txn_demo")
      .collect().head.getLong(0)
    val txnPub = spark.sql("CALL gdemo.system.commit_transaction('demo')")
      .collect()
    println("TXN: staged=" + stagedPeople + " mid-published=" + midPeople +
      " published-tables=" + txnPub.head.getLong(1) +
      " after=" + spark.sql("SELECT count(*) FROM gdemo.db.people")
        .collect().head.getLong(0) +
      "," + spark.sql("SELECT count(*) FROM gdemo.db.registered")
        .collect().head.getLong(0))

    // equality/predicate DELETE-DEBT fold: pending entries materialize
    // by rewriting ONLY their covered files; __deletes drains, reads
    // lose the anti-join — O(covered), not O(table)
    val foldT = GraftTable.create(s"$dir/foldt", pplSchema)
    foldT.append(spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(80L, "keep"), Row(81L, "drop")), 1), pplSchema), Some(1000L))
    foldT.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(82L, "later")), 1),
      pplSchema), Some(2000L))
    foldT.deleteEquality(spark, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(81L, "x")), 1), pplSchema)
      .select("id"), Seq("id"), Some(3000L))
    val foldSnap = GraftTable.load(s"$dir/foldt")
      .rewriteDeleteFiles(spark, Some(4000L))
    println("DELETE-FOLD: rewritten=" +
      foldSnap.get.summary("rewritten-data-files") +
      " pending=" + GraftTable.load(s"$dir/foldt").equalityDeletes.size +
      " rows=" + GraftTable.load(s"$dir/foldt").read(spark)
        .select("id").collect().map(_.getLong(0)).sorted.mkString(","))

    // SQL-shop WAP: DML stages on <table>__branch_<b>, VERSION AS OF
    // audits, publish fast-forwards — main untouched until then
    spark.sql("ALTER TABLE gdemo.db.people CREATE BRANCH wap").collect()
    spark.sql("INSERT INTO gdemo.db.people__branch_wap VALUES (70, 'wap')")
    spark.sql("DELETE FROM gdemo.db.people__branch_wap WHERE id = 60")
    val mainBefore = spark.sql("SELECT count(*) FROM gdemo.db.people")
      .collect().head.getLong(0)
    val auditRows = spark.sql(
      "SELECT count(*) FROM gdemo.db.people VERSION AS OF 'branch:wap'")
      .collect().head.getLong(0)
    spark.sql("CALL gdemo.system.publish_branch('db.people', 'wap')").collect()
    println("WAP-SQL: main-before=" + mainBefore +
      " audit=" + auditRows +
      " published=" + spark.sql("SELECT count(*) FROM gdemo.db.people")
        .collect().head.getLong(0))

    // atomic CREATE OR REPLACE TABLE AS SELECT: schema+content swap in
    // one recoverable commit (old table serves until the commit point)
    spark.sql("CREATE OR REPLACE TABLE gdemo.db.registered AS " +
      "SELECT id, data, 'replaced' AS origin FROM gdemo.db.registered")
    println("RTAS: " + spark.sql(
      "SELECT id, origin FROM gdemo.db.registered ORDER BY id LIMIT 2")
      .collect().mkString(", ") +
      " snaps=" + GraftTable.load(s"$dir/outside_moved")
        .log.snapshots.map(_.snapshotId).mkString(","))

    // dynamic-partition INSERT OVERWRITE: replace exactly the written
    // partitions, untouched slices carry by ref
    spark.sql("CREATE TABLE gdemo.db.dyn (id BIGINT, cat STRING) " +
      "PARTITIONED BY (cat)")
    spark.sql("INSERT INTO gdemo.db.dyn VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    spark.sql("INSERT OVERWRITE gdemo.db.dyn VALUES (10, 'b')")
    val dynT = GraftTable.load(s"$dir/wh/db/dyn")
    println("DYN-OVERWRITE: " + spark.sql(
      "SELECT * FROM gdemo.db.dyn ORDER BY id").collect().mkString(", ") +
      " rewritten=" + dynT.log.current.get.summary("rewritten-data-files") +
      " replaced=" + dynT.log.current.get.summary("replaced-partitions"))

    // schema evolution: era-mapped rename + widen, metadata-only
    val evo = GraftTable.create(s"$dir/evo", StructType(Seq(
      StructField("k", IntegerType, nullable = false),
      StructField("data", StringType, nullable = true))))
    evo.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1, "old-era")), 1),
      evo.schema), Some(1000L))
    val evo2 = evo.renameColumn("data", "payload").widenColumn("k", LongType)
    println("SCHEMA-EVO: " + evo2.read(spark)
      .select("k", "payload").collect().mkString(", ") +
      " | schema=" + evo2.schema.map(f => s"${f.name}:${f.dataType.simpleString}")
        .mkString(","))

    // COLUMN DEFAULTS (Iceberg v3): pre-add rows read the literal,
    // sources lacking the column fill it at write
    val evo3 = evo2.addColumn("tier", StringType, Some("'std'"))
    evo3.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(2L, "new-era")), 1),
      StructType(evo3.schema.fields.take(2))), Some(2000L))
    println("DEFAULT: " + evo3.read(spark)
      .select("k", "tier").collect().mkString(", "))

    // ROW LINEAGE (Iceberg v3): stable _row_id through a CoW rewrite
    val lin = GraftTable.create(s"$dir/lin", StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("v", StringType, nullable = true))),
      properties = Map(GraftTable.PropRowLineage -> "true"))
    lin.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1L, "a"), Row(2L, "b")), 1),
      lin.schema), Some(1000L))
    lin.update(spark, org.apache.spark.sql.functions.col("id") === 2L,
      Map("v" -> org.apache.spark.sql.functions.lit("B")), Some(2000L))
    println("LINEAGE: " + lin.readLineage(spark)
      .select("id", "_row_id", "_last_updated_snapshot_id")
      .collect().sortBy(_.getLong(0)).mkString(", "))

    // SQL VIEWS (Iceberg view parity): versioned text, re-planned reads
    spark.sql("CREATE VIEW gdemo.db.people_v AS " +
      "SELECT count(*) AS n FROM gdemo.db.people")
    println("VIEWS: " +
      spark.sql("SELECT n FROM gdemo.db.people_v").collect().mkString(", ") +
      " | " + spark.sql("SHOW VIEWS IN gdemo.db").collect().mkString(", "))

    spark.stop()
  }
}
