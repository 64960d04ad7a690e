package graft.table

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** CDC-mode streaming reads: `readStream.table("<name>__changes")`
  * emits `changesCdc` retraction rows (`_change_type` insert|delete,
  * snapshot-id offsets) so a continuous pipeline survives
  * UPDATE/DELETE/MERGE instead of dying at the additive stream's
  * refusal. Netting every insert against every delete in arrival order
  * must reconstruct the table's final state exactly. */
class CdcStreamSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", StringType, nullable = true)))

  private lazy val wh = tmpDir("graft-cdc")

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.gc", "graft.table.GraftSparkCatalog")
    spark.conf.set("spark.sql.catalog.gc.warehouse", wh)
  }

  private def df(rows: Seq[Row], parts: Int = 2): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

  private def batch(lo: Long, hi: Long): Seq[Row] =
    (lo to hi).map(i => Row(i, s"v$i"))

  /** Net mirror state from raw CDC rows: multiset inserts minus
    * multiset deletes (every delete retracts a previously-inserted
    * identical row by the changesCdc contract). Spelled as one
    * aggregation — a self-exceptAll over the same memory-sink view
    * trips Spark's attribute dedup. */
  private def net(cdc: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{sum, when, lit}
    cdc.groupBy(col("id"), col("v"))
      .agg(sum(when(col("_change_type") === "insert", lit(1L))
        .otherwise(lit(-1L))).as("n"))
      .filter(col("n") > 0).drop("n")
  }

  test("mixed append/update/delete chain mirrors to the final state") {
    val tb = GraftTable.create(s"$wh/db/c1", schema)
    tb.append(df(batch(1, 10)), Some(1000L))
    tb.update(spark, col("id") <= 3L,
      Map("v" -> org.apache.spark.sql.functions.lit("patched")),
      Some(2000L))
    tb.delete(spark, col("id") === 7L, Some(3000L))
    tb.append(df(batch(11, 13)), Some(4000L))
    val q = spark.readStream.table("gc.db.c1__changes")
      .writeStream.format("memory").queryName("cdc1")
      .option("checkpointLocation", tmpDir("cdc-ckpt1"))
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "CDC drain did not terminate")
    val mirror = net(spark.table("cdc1"))
    val want = tb.read(spark).select(col("id"), col("v"))
    assert(mirror.exceptAll(want).isEmpty && want.exceptAll(mirror).isEmpty,
      "netted CDC rows differ from the table's final state")
    assert(mirror.count() == 12) // 10 - 1 deleted + 3 appended
  }

  test("incremental: DML after the seed batch arrives as retractions") {
    val tb = GraftTable.create(s"$wh/db/c2", schema)
    tb.append(df(batch(1, 6)), Some(1000L))
    val ckpt = tmpDir("cdc-ckpt2")
    val q = spark.readStream.table("gc.db.c2__changes")
      .writeStream.format("memory").queryName("cdc2")
      .option("checkpointLocation", ckpt).start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdc2").count() == 6) // seed inserts
      tb.update(spark, col("id") === 2L,
        Map("v" -> org.apache.spark.sql.functions.lit("B")), Some(2000L))
      tb.delete(spark, col("id") === 5L, Some(3000L))
      q.processAllAvailable()
      val rows = spark.table("cdc2")
      // the update emits delete(2,v2) + insert(2,B); the delete emits
      // delete(5,v5) — all tagged with their producing snapshot
      assert(rows.filter(col("_change_type") === "delete").count() == 2)
      val mirror = net(rows)
      val want = tb.read(spark).select(col("id"), col("v"))
      assert(mirror.exceptAll(want).isEmpty && want.exceptAll(mirror).isEmpty)
      val sids = rows.select(col("snapshot__id")).distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(sids == Seq(1L, 2L, 3L), s"snapshot tags wrong: $sids")
    } finally q.stop()
  }

  test("restart from the checkpoint is exactly-once across DML") {
    val tb = GraftTable.create(s"$wh/db/c3", schema)
    tb.append(df(batch(1, 5)), Some(1000L))
    val ckpt = tmpDir("cdc-ckpt3")
    val sink = tmpDir("cdc-sink3")
    val sinkSchema = StructType(schema.fields.toSeq :+
      StructField("_change_type", StringType) :+
      StructField("snapshot__id", LongType))
    def run(): Unit = {
      val q = spark.readStream.table("gc.db.c3__changes")
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "run did not drain")
    }
    run()
    assert(spark.read.schema(sinkSchema).parquet(sink).count() == 5)
    tb.delete(spark, col("id") === 1L, Some(2000L))
    tb.append(df(batch(6, 8)), Some(3000L))
    run()
    val mirror = net(spark.read.schema(sinkSchema).parquet(sink))
    val want = tb.read(spark).select(col("id"), col("v"))
    assert(mirror.exceptAll(want).isEmpty && want.exceptAll(mirror).isEmpty,
      "restart replayed or skipped CDC rows")
    assert(mirror.count() == 7)
  }

  test("max-files-per-trigger paces seed files and post-seed snapshots") {
    val tb = GraftTable.create(s"$wh/db/c4", schema)
    tb.append(df(batch(1, 4), parts = 1), Some(1000L))
    tb.delete(spark, col("id") === 2L, Some(2000L))
    tb.append(df(batch(5, 8), parts = 1), Some(3000L))
    val seedSnap = tb.log.current.get.snapshotId
    val ckpt = tmpDir("cdc-ckpt4")
    val sink = tmpDir("cdc-sink4")
    val sinkSchema = StructType(schema.fields.toSeq :+
      StructField("_change_type", StringType) :+
      StructField("snapshot__id", LongType))
    def run(): org.apache.spark.sql.streaming.StreamingQuery = {
      val q = spark.readStream
        .option("max-files-per-trigger", "1")
        .table("gc.db.c4__changes")
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "paced CDC drain did not terminate")
      q
    }
    val q = run()
    def sunk() = spark.read.schema(sinkSchema).parquet(sink)
    val mirror = net(sunk())
    val want = tb.read(spark).select(col("id"), col("v"))
    assert(mirror.exceptAll(want).isEmpty && want.exceptAll(mirror).isEmpty)
    // the seed pins the CURRENT snapshot and serves its two raw data
    // files one per trigger — all rows insert-tagged at the seed
    // snapshot, no spill directory ever created
    assert(sunk().select(col("snapshot__id")).distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(seedSnap))
    assert(sunk().filter(col("_change_type") =!= "insert").count() == 0)
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
      "file cap did not split the seed")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(ckpt, "sources", "0", "graft-cdc-spill")),
      "raw-servable seed wrote a spill copy")
    // post-seed DML still paces in snapshot steps and flows as
    // retractions from the pinned point
    tb.delete(spark, col("id") === 3L, Some(4000L))
    tb.append(df(batch(9, 9), parts = 1), Some(5000L))
    run(): Unit
    val mirror2 = net(sunk())
    val want2 = tb.read(spark).select(col("id"), col("v"))
    assert(mirror2.exceptAll(want2).isEmpty && want2.exceptAll(mirror2).isEmpty)
    assert(sunk().select(col("snapshot__id")).distinct().count() == 3,
      "post-seed snapshots did not flow from the pinned point")
  }

  test("offset-0 seed serves the table's own files — no spill copy") {
    val tb = GraftTable.create(s"$wh/db/c11", schema)
    tb.append(df(batch(1, 9), parts = 3), Some(1000L))
    val seedSnap = tb.log.current.get.snapshotId
    val ckpt = tmpDir("cdc-ckpt11")
    val q = spark.readStream
      .option("max-files-per-trigger", "1")
      .table("gc.db.c11__changes")
      .writeStream.format("memory").queryName("cdc11")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "seed drain did not terminate")
    val rows = spark.table("cdc11")
    assert(rows.count() == 9)
    assert(rows.filter(col("_change_type") === "insert").count() == 9)
    assert(rows.select(col("snapshot__id")).distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(seedSnap))
    // three data files, one per trigger — the 100 TB backfill guard now
    // applies INSIDE the seed
    assert(q.recentProgress.count(_.numInputRows > 0) == 3,
      s"expected 3 paced seed batches, got " +
        q.recentProgress.filter(_.numInputRows > 0).length)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(ckpt, "sources", "0", "graft-cdc-spill")),
      "raw-servable seed wrote a spill copy")
    // mirror equality: the netted seed equals the table
    val mirror = net(rows)
    val want = tb.read(spark).select(col("id"), col("v"))
    assert(mirror.exceptAll(want).isEmpty && want.exceptAll(mirror).isEmpty)
  }

  test("a filter over the raw-served seed stays correct (pushdown canary)") {
    // the raw seed relies on Spark NOT pushing data filters into
    // streaming v2 scans (a pushed `_change_type = …` predicate would
    // hit files that lack the column and drop row groups); this canary
    // fails loudly if a Spark upgrade ever changes that
    val tb = GraftTable.create(s"$wh/db/c12", schema)
    tb.append(df(batch(1, 6)), Some(1000L))
    val q = spark.readStream.table("gc.db.c12__changes")
      .filter(col("_change_type") === "insert" && col("id") > 2L)
      .writeStream.format("memory").queryName("cdc12")
      .option("checkpointLocation", tmpDir("cdc-ckpt12"))
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    assert(spark.table("cdc12").count() == 4,
      "filtered raw seed lost rows — streaming filter pushdown hazard")
  }

  test("merge-on-read-pending tables fall back to the materializing seed") {
    val tb = GraftTable.create(s"$wh/db/c13", schema)
    tb.append(df(batch(1, 5)), Some(1000L))
    // pending equality tombstone: raw files no longer equal visible rows
    tb.deleteEquality(spark,
      df(Seq(Row(2L, "v2"))).select(col("id")), Seq("id"), Some(2000L))
    assert(tb.rawVisibleFiles(tb.log.current.get.snapshotId).isEmpty)
    val q = spark.readStream.table("gc.db.c13__changes")
      .writeStream.format("memory").queryName("cdc13")
      .option("checkpointLocation", tmpDir("cdc-ckpt13"))
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    val rows = spark.table("cdc13")
    assert(rows.count() == 4, "materializing seed must emit VISIBLE rows")
    assert(rows.filter(col("_change_type") =!= "insert").count() == 0)
  }

  test("positional-pending seed serves zero-copy through deletion vectors") {
    val tb = GraftTable.create(s"$wh/db/c19", schema)
    tb.append(df(batch(1, 6)), Some(1000L))
    tb.append(df(batch(7, 9)), Some(2000L))
    tb.deletePositional(spark,
      col("id") === 2L || col("id") === 8L, Some(3000L))
    val cur = GraftTable.load(tb.dir)
    val snap = cur.log.current.get.snapshotId
    // the strict raw check still refuses (visible ≠ raw rows) …
    assert(cur.rawVisibleFiles(snap).isEmpty)
    // … but the vector-backed seed state qualifies: raw files + DVs
    val seedState = cur.rawSeedState(snap)
    assert(seedState.nonEmpty, "dv-backed positional seed must qualify")
    assert(seedState.get._2.nonEmpty, "expected per-file deletion vectors")
    val ckpt = tmpDir("cdc-ckpt19")
    val q = spark.readStream.table("gc.db.c19__changes")
      .writeStream.format("memory").queryName("cdc19")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    val rows = spark.table("cdc19")
    assert(rows.filter(col("_change_type") =!= "insert").count() == 0)
    assert(rows.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 3L, 4L, 5L, 6L, 7L, 9L),
      "dv seed must emit exactly the visible rows")
    // the whole point: NO full-state spill copy was ever written
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(ckpt, "sources", "0", "graft-cdc-spill")),
      "positional-pending seed wrote a spill copy")
  }

  test("ineligible seed under caps paces in snapshot steps, never one shot") {
    // when the PINNED snapshot is not raw-servable, admission control
    // must fall back to snapshot-stepped chain pricing from 0 — the
    // 100 TB backfill guard cannot be waived by merge-on-read state
    val tb = GraftTable.create(s"$wh/db/c17", schema)
    tb.append(df(batch(1, 5), parts = 1), Some(1000L))
    tb.append(df(batch(6, 8), parts = 1), Some(2000L))
    tb.deleteEquality(spark,
      df(Seq(Row(2L, "v2"))).select(col("id")), Seq("id"), Some(3000L))
    assert(tb.rawVisibleFiles(tb.log.current.get.snapshotId).isEmpty)
    val q = spark.readStream
      .option("max-files-per-trigger", "1")
      .table("gc.db.c17__changes")
      .writeStream.format("memory").queryName("cdc17")
      .option("checkpointLocation", tmpDir("cdc-ckpt17"))
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    val rows = spark.table("cdc17")
    // batch 1 seeds at snapshot 1 (raw-servable THERE — the pending
    // state arrived later); batch 2 replays the second append plus the
    // equality-delete retraction: two paced batches, never the whole
    // state at once
    assert(q.recentProgress.count(_.numInputRows > 0) == 2,
      "ineligible seed was not paced in snapshot steps")
    assert(rows.filter(col("_change_type") === "delete").count() == 1)
    val mirror = net(rows)
    val want = tb.read(spark).select(col("id"), col("v"))
    assert(mirror.exceptAll(want).isEmpty && want.exceptAll(mirror).isEmpty)
    assert(mirror.count() == 7)
  }

  test("bulk-loaded table made ineligible later still file-paces its seed") {
    // the 100 TB shape: ONE giant initial append, then a merge-on-read
    // delete makes the frozen end raw-ineligible — the fallback must pin
    // the first ADMITTED snapshot and still pace ITS files, never emit
    // the whole bulk load in one batch just because later state
    // disqualified the head
    val tb = GraftTable.create(s"$wh/db/c18", schema)
    tb.append(df(batch(1, 9), parts = 3), Some(1000L)) // 3 files
    tb.deleteEquality(spark,
      df(Seq(Row(2L, "v2"))).select(col("id")), Seq("id"), Some(2000L))
    val q = spark.readStream
      .option("max-files-per-trigger", "1")
      .table("gc.db.c18__changes")
      .writeStream.format("memory").queryName("cdc18")
      .option("checkpointLocation", tmpDir("cdc-ckpt18"))
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    val rows = spark.table("cdc18")
    // 3 paced seed batches at snapshot 1 + 1 retraction batch
    assert(q.recentProgress.count(_.numInputRows > 0) == 4,
      "bulk-load seed was not file-paced under the ineligible fallback")
    assert(rows.filter(col("_change_type") === "delete").count() == 1)
    val mirror = net(rows)
    val want = tb.read(spark).select(col("id"), col("v"))
    assert(mirror.exceptAll(want).isEmpty && want.exceptAll(mirror).isEmpty)
    assert(mirror.count() == 8)
  }

  test("identity-partitioned seed serves raw files via basePath recovery") {
    // identity partition values live ONLY in the directory names
    // (partitionBy drops them from the footers) — the seed's
    // basePath-equipped delegate must recover them, still with no spill
    val tb = GraftTable.create(s"$wh/db/c15", schema,
      partitionBy = Seq("v"))
    tb.append(df(Seq(Row(1L, "a"), Row(2L, "b"), Row(3L, "a"),
      Row(4L, null))), Some(1000L))
    assert(tb.rawVisibleFiles(1L).isEmpty, // leaf-file tier refuses
      "identity files must not qualify without path recovery")
    assert(tb.rawVisibleFiles(1L, identityViaPathRecovery = true).nonEmpty)
    val ckpt = tmpDir("cdc-ckpt15")
    val q = spark.readStream.table("gc.db.c15__changes")
      .writeStream.format("memory").queryName("cdc15")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    val rows = spark.table("cdc15")
    val got = rows.select(col("id"), col("v")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, null)),
      s"identity values not recovered: $got")
    assert(rows.filter(col("_change_type") =!= "insert").count() == 0)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(ckpt, "sources", "0", "graft-cdc-spill")),
      "identity seed still wrote a spill copy")
  }

  test("restart MID-SEED resumes at the checkpointed file position") {
    // the engine's restart protocol, driven directly (Trigger.Once
    // deliberately ignores read limits, so a real paced mid-seed stop
    // can't be scheduled deterministically): pace the seed one file per
    // trigger, then hand the serialized MID-SEED offset to a FRESH
    // stream instance — the remaining files must replay exactly once
    import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
    val tb = GraftTable.create(s"$wh/db/c16", schema)
    tb.append(df(batch(1, 9), parts = 3), Some(1000L)) // 3 seed files
    val snap = tb.log.current.get.snapshotId
    val cdcSchema = StructType(schema.fields.toSeq :+
      StructField("_change_type", StringType) :+
      StructField("snapshot__id", LongType))
    def mkDelegate(files: Seq[org.apache.hadoop.fs.FileStatus]) = {
      val o = new java.util.HashMap[String, String]()
      val index = new ManifestFileIndex(spark, files, Map.empty, Some(cdcSchema))
      org.apache.spark.sql.classic.GraftBridge
        .parquetTable(spark, "c16", index, cdcSchema)
        .newScanBuilder(
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(o))
        .build()
    }
    val ckpt = tmpDir("cdc-ckpt16-src")
    def stream() = new org.apache.spark.sql.classic.GraftCdcMicroBatchStream(
      tb.dir, 0L, ckpt, tb.schema, mkDelegate,
      maxFilesPerTrigger = Some(1))
    def readRows(st: org.apache.spark.sql.classic.GraftCdcMicroBatchStream,
        a: Offset, b: Offset): Seq[(Long, String, String, Long)] = {
      val rf = st.createReaderFactory()
      st.planInputPartitions(a, b).toSeq.flatMap { p =>
        val r = rf.createReader(p)
        val buf = scala.collection.mutable.Buffer[(Long, String, String, Long)]()
        while (r.next()) {
          val row = r.get()
          buf += ((row.getLong(0), row.getUTF8String(1).toString,
            row.getUTF8String(2).toString, row.getLong(3)))
        }
        r.close(); buf.toSeq
      }
    }
    val s1 = stream()
    val o0 = s1.initialOffset()
    val o1 = s1.latestOffset(o0, ReadLimit.maxFiles(1))
    assert(o1.json() == s"$snap:1", s"mid-seed offset wrong: ${o1.json()}")
    val b1 = readRows(s1, o0, o1)
    assert(b1.size == 3 && b1.forall(_._3 == "insert"))
    // RESTART: fresh instance, offset restored from its serialized form
    val s2 = stream()
    val restored = s2.deserializeOffset(o1.json())
    val o2 = s2.latestOffset(restored, ReadLimit.maxFiles(1))
    assert(o2.json() == s"$snap:2")
    val b2 = readRows(s2, restored, o2)
    val o3 = s2.latestOffset(o2, ReadLimit.maxFiles(1))
    assert(o3.json() == snap.toString, "seed did not complete")
    val b3 = readRows(s2, o2, o3)
    val all = b1 ++ b2 ++ b3
    assert(all.map(_._1).sorted.toSeq == (1L to 9L),
      s"mid-seed restart lost/duplicated rows: ${all.map(_._1).sorted}")
    assert(all.forall(r => r._3 == "insert" && r._4 == snap))
    // drained: no further progress from the completed-seed offset
    assert(s2.latestOffset(o3, ReadLimit.maxFiles(1)).json() == o3.json())
  }

  test("stream start sweeps spills from abandoned incarnations") {
    val tb = GraftTable.create(s"$wh/db/c14", schema)
    tb.append(df(batch(1, 4)), Some(1000L))
    val ckpt = tmpDir("cdc-ckpt14")
    val sink = tmpDir("cdc-sink14")
    def drain(): Unit = {
      val q = spark.readStream.table("gc.db.c14__changes")
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000))
    }
    drain()
    // plant debris an abandoned incarnation would leave: a stale range
    // spill (for an ineligible seed this used to be a full table copy)
    val spillRoot = java.nio.file.Paths
      .get(ckpt, "sources", "0", "graft-cdc-spill")
    val stray = spillRoot.resolve("cdc-5-7")
    java.nio.file.Files.createDirectories(stray)
    java.nio.file.Files.writeString(stray.resolve("junk.parquet"), "x")
    java.nio.file.Files.writeString(
      spillRoot.resolve("not-a-range"), "y"): Unit
    // more DML so the restarted stream plans a batch (the sweep runs at
    // the first plan of the run)
    tb.delete(spark, col("id") === 1L, Some(2000L))
    drain()
    assert(!java.nio.file.Files.exists(stray),
      "stale spill survived the restart sweep")
    assert(!java.nio.file.Files.exists(spillRoot.resolve("not-a-range")),
      "non-range debris survived the restart sweep")
  }

  test("starting-snapshot-id skips the seed and tails changes only") {
    val tb = GraftTable.create(s"$wh/db/c5", schema)
    tb.append(df(batch(1, 50)), Some(1000L))
    val startAfter = tb.log.current.get.snapshotId
    tb.update(spark, col("id") === 10L,
      Map("v" -> org.apache.spark.sql.functions.lit("X")), Some(2000L))
    val q = spark.readStream
      .option("starting-snapshot-id", startAfter.toString)
      .table("gc.db.c5__changes")
      .writeStream.format("memory").queryName("cdc5")
      .option("checkpointLocation", tmpDir("cdc-ckpt5"))
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    val rows = spark.table("cdc5").collect()
    assert(rows.length == 2, s"expected delete+insert only, got ${rows.length}")
    assert(rows.count(_.getString(2) == "delete") == 1)
    assert(rows.count(_.getString(2) == "insert") == 1)
  }

  test("starting-timestamp-ms tails snapshots committed after the instant") {
    val tb = GraftTable.create(s"$wh/db/c10", schema)
    tb.append(df(batch(1, 40)), Some(1000L))
    tb.delete(spark, col("id") === 3L, Some(2000L))
    tb.append(df(batch(41, 42)), Some(3000L))
    // tail from t=1500ms: the delete retraction and the late append
    // stream; the 40-row backfill does not
    val q = spark.readStream
      .option("starting-timestamp-ms", "1500")
      .table("gc.db.c10__changes")
      .writeStream.format("memory").queryName("cdc10")
      .option("checkpointLocation", tmpDir("cdc-ckpt10"))
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    val rows = spark.table("cdc10").collect()
    assert(rows.length == 3, s"expected delete + 2 inserts, got ${rows.length}")
    assert(rows.count(_.getString(2) == "delete") == 1)
    // setting both start options refuses loudly
    val e = intercept[Exception] {
      spark.readStream
        .option("starting-timestamp-ms", "1500")
        .option("starting-snapshot-id", "1")
        .table("gc.db.c10__changes")
        .writeStream.format("memory").queryName("cdc10b")
        .option("checkpointLocation", tmpDir("cdc-ckpt10b"))
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination(120000)
    }
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(msgs.contains("not both"), s"got: $msgs")
  }

  test("a rollback in range refuses loudly (re-seed, never skip)") {
    val tb = GraftTable.create(s"$wh/db/c6", schema)
    tb.append(df(batch(1, 5)), Some(1000L))
    val anchor = tb.log.current.get.snapshotId
    tb.append(df(batch(6, 9)), Some(2000L))
    tb.rollbackTo(anchor, Some(3000L))
    val q = spark.readStream
      .option("starting-snapshot-id", anchor.toString)
      .table("gc.db.c6__changes")
      .writeStream.format("memory").queryName("cdc6")
      .option("checkpointLocation", tmpDir("cdc-ckpt6")).start()
    val e = intercept[StreamingQueryException] {
      q.processAllAvailable()
      q.awaitTermination(120000)
    }
    q.stop()
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg != null && msg.contains("rollback"),
      s"expected the rollback refusal, got: $msg")
  }

  test("batch changelog: full-range fold reproduces the state; SQL works") {
    val tb = GraftTable.create(s"$wh/db/c7", schema)
    tb.append(df(batch(1, 6)), Some(1000L))                       // 1
    tb.update(spark, col("id") <= 2L,
      Map("v" -> org.apache.spark.sql.functions.lit("u")), Some(2000L)) // 2
    tb.deletePositional(spark, col("id") === 5L, Some(3000L))     // 3
    // unoptioned batch read = the FULL changelog (start = table
    // creation): folding it from empty equals the current table
    val cdc = spark.read.table("gc.db.c7__changes")
    assert(cdc.schema.fieldNames.toSeq ==
      Seq("id", "v", "_change_type", "snapshot__id"))
    val folded = net(cdc).collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap
    val now = tb.read(spark).collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(folded == now, s"fold $folded != state $now")
    // the first commit's inserts ARE part of the full changelog
    assert(cdc.filter(col("snapshot__id") === 1L &&
      col("_change_type") === "insert").count() == 6L)
    // plain SQL over the same surface (the create_changelog_view shape)
    assert(spark.sql(
      "SELECT count(*) FROM gc.db.c7__changes WHERE _change_type = 'delete'")
      .head().getLong(0) == 3L) // 2 update retractions + 1 positional
  }

  test("batch changelog of a zero-snapshot table is EMPTY, not an error") {
    GraftTable.create(s"$wh/db/c7e", schema)
    val cdc = spark.read.table("gc.db.c7e__changes")
    assert(cdc.schema.fieldNames.toSeq ==
      Seq("id", "v", "_change_type", "snapshot__id"))
    assert(cdc.count() == 0L)
    // explicit ids still refuse on the empty log
    intercept[Exception] {
      spark.read.option("end-snapshot-id", "1")
        .table("gc.db.c7e__changes").collect()
    }
  }

  test("batch changelog: range options scope; validation + rollback refuse") {
    val tb = GraftTable.create(s"$wh/db/c7r", schema)
    tb.append(df(batch(1, 4)), Some(1000L))                      // 1
    tb.delete(spark, col("id") === 1L, Some(2000L))              // 2
    tb.append(df(batch(5, 6)), Some(3000L))                      // 3
    def ranged(start: Long, end: Long): DataFrame = spark.read
      .option("start-snapshot-id", start.toString)
      .option("end-snapshot-id", end.toString)
      .table("gc.db.c7r__changes")
    // a ranged read equals changesCdc over the same range; folding it
    // onto VERSION AS OF start equals VERSION AS OF end
    val d = ranged(1L, 3L)
    val direct = tb.changesCdc(spark, 1L, Some(3L))
    assert(d.exceptAll(direct).isEmpty && direct.exceptAll(d).isEmpty)
    val startState = tb.read(spark, Some(1L)).drop("snapshot__id")
    val endState = tb.read(spark, Some(3L)).drop("snapshot__id")
    val folded = startState
      .exceptAll(d.filter(col("_change_type") === "delete")
        .drop("_change_type", "snapshot__id"))
      .unionByName(d.filter(col("_change_type") === "insert")
        .drop("_change_type", "snapshot__id"))
    assert(folded.exceptAll(endState).isEmpty &&
      endState.exceptAll(folded).isEmpty, "ranged fold diverged")
    // validation: unknown ids and inverted ranges refuse loudly
    intercept[Exception] { ranged(1L, 99L).collect() }
    intercept[Exception] { ranged(99L, 3L).collect() }
    intercept[Exception] { ranged(3L, 1L).collect() }
    // a rollback inside the range refuses (state reset, not a delta)
    tb.rollbackTo(1L, Some(4000L))                               // 4
    val e = intercept[Exception] {
      ranged(1L, 4L).collect()
    }
    assert(Option(e.getMessage).exists(_.contains("rollback")), e.getMessage)
    // but a post-rollback range is served again
    tb.append(df(batch(7, 7)), Some(5000L))                      // 5
    assert(ranged(4L, 5L).filter(col("_change_type") === "insert")
      .count() == 1L)
  }

  test("a real table named __changes wins over the CDC view") {
    val tb = GraftTable.create(s"$wh/db/real__changes", schema)
    tb.append(df(batch(1, 4)), Some(1000L))
    val got = spark.read.table("gc.db.real__changes")
    assert(got.schema.fieldNames.toSeq == Seq("id", "v"),
      "real table shadowed by the CDC surface")
    assert(got.count() == 4)
  }

  test("compaction mid-stream contributes nothing; DML keeps flowing") {
    val tb = GraftTable.create(s"$wh/db/c9", schema)
    tb.append(df(batch(1, 6)), Some(1000L))
    val q = spark.readStream.table("gc.db.c9__changes")
      .writeStream.format("memory").queryName("cdc9")
      .option("checkpointLocation", tmpDir("cdc-ckpt9")).start()
    try {
      q.processAllAvailable()
      assert(spark.table("cdc9").count() == 6)
      // a row-preserving replace (compaction) lands mid-stream: the CDC
      // feed must emit NOTHING for it (rows are bit-identical), and the
      // stream must keep following the DML after it
      tb.compact(spark, smallerThanBytes = Long.MaxValue,
        committedAt = Some(2000L))
      val compactSnap = tb.log.current.get.snapshotId
      tb.delete(spark, col("id") === 2L, Some(3000L))
      tb.append(df(batch(7, 9)), Some(4000L))
      q.processAllAvailable()
      val rows = spark.table("cdc9")
      assert(rows.filter(col("snapshot__id") === compactSnap).count() == 0,
        "compaction re-emitted rows into the CDC stream")
      val mirror = net(rows)
      val want = tb.read(spark).select(col("id"), col("v"))
      assert(mirror.exceptAll(want).isEmpty && want.exceptAll(mirror).isEmpty)
      assert(mirror.count() == 8) // 6 - 1 deleted + 3 appended
    } finally q.stop()
  }

  test("GraftCdcMirror keeps a replica equal through mixed DML + restart") {
    val tb = GraftTable.create(s"$wh/db/m1", schema)
    tb.append(df(batch(1, 8)), Some(1000L))
    tb.update(spark, col("id") <= 2L,
      Map("v" -> org.apache.spark.sql.functions.lit("U")), Some(2000L))
    val mirror = GraftTable.create(s"$wh/db/m1_mirror", schema)
    val ckpt = tmpDir("cdc-mirror-ckpt")
    def run(): Unit = {
      val q = GraftCdcMirror.into(spark, "gc.db.m1", mirror, Seq("id"),
        sinkId = "m1-mirror-v1",
        readOptions = Map("max-files-per-trigger" -> "1"))
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "mirror run did not drain")
    }
    run()
    def rows(t: GraftTable) = t.read(spark).select(col("id"), col("v"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(rows(GraftTable.load(mirror.dir)) == rows(tb))
    // more DML, second run from the checkpoint: still equal, no dupes
    tb.delete(spark, col("id") === 4L, Some(3000L))
    tb.append(df(batch(9, 10)), Some(4000L))
    run()
    assert(rows(GraftTable.load(mirror.dir)) == rows(tb))
    assert(GraftTable.load(mirror.dir).read(spark).count() == 9)
  }

  test("GraftCdcMirror.applyBatch is exactly-once under epoch replay") {
    val mirror = GraftTable.create(s"$wh/db/m2_mirror", schema)
    import org.apache.spark.sql.functions.lit
    def cdcDf(ins: Seq[(Long, String)], dels: Seq[(Long, String)]) =
      df(ins.map(r => Row(r._1, r._2))).withColumn("_change_type", lit("insert"))
        .unionByName(df(dels.map(r => Row(r._1, r._2)))
          .withColumn("_change_type", lit("delete")))
    val apply = GraftCdcMirror.applyBatch(mirror, Seq("id"), "test-sink") _
    apply(cdcDf(Seq(1L -> "a", 2L -> "b"), Nil), 0L)
    // batch 1: update row 1 (delete old + insert new)
    val b1 = cdcDf(Seq(1L -> "A2"), Seq(1L -> "a"))
    apply(b1, 1L)
    // REPLAY batch 1 (foreachBatch is at-least-once): must be a no-op —
    // a re-run tombstone would otherwise kill the applied insert
    apply(b1, 1L)
    val got = GraftTable.load(mirror.dir).read(spark)
      .select(col("id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq(1L -> "A2", 2L -> "b"), s"replay corrupted: $got")
    // delete-only batch advances the cursor too (empty insert commit)
    apply(cdcDf(Nil, Seq(2L -> "b")), 2L)
    apply(cdcDf(Nil, Seq(2L -> "b")), 2L) // replay: no-op
    assert(GraftTable.load(mirror.dir).read(spark).collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("GraftCdcMirror bounds merge-on-read debt via periodic compaction") {
    val mirror = GraftTable.create(s"$wh/db/m3_mirror", schema)
    import org.apache.spark.sql.functions.lit
    def cdcDf(ins: Seq[(Long, String)], dels: Seq[(Long, String)]) =
      df(ins.map(r => Row(r._1, r._2))).withColumn("_change_type", lit("insert"))
        .unionByName(df(dels.map(r => Row(r._1, r._2)))
          .withColumn("_change_type", lit("delete")))
    val apply = GraftCdcMirror
      .applyBatch(mirror, Seq("id"), "m3-sink", compactEvery = 2) _
    apply(cdcDf((1L to 6L).map(i => i -> s"v$i"), Nil), 0L)
    // four update batches, each stacking one tombstone entry: the
    // threshold must fold them before the debt grows unbounded
    (1 to 4).foreach { b =>
      val k = b.toLong
      apply(cdcDf(Seq(k -> s"u$b"), Seq(k -> s"v$b")), b.toLong)
    }
    val m = GraftTable.load(mirror.dir)
    // consolidation keeps ENTRIES at one per key-column set; the debt
    // that must stay bounded is the stacking DEPTH (folded commits)
    val depth = m.equalityDeletes.map(_.covs.size).sum
    assert(depth <= 2, s"tombstone debt unbounded: depth $depth")
    assert(m.log.snapshots.exists(_.operation == "replace"),
      "no compaction ran despite the threshold")
    val got = m.read(spark).select(col("id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(got == Seq(1L -> "u1", 2L -> "u2", 3L -> "u3", 4L -> "u4",
      5L -> "v5", 6L -> "v6"), s"compaction corrupted the mirror: $got")
  }

  test("append-stream catch-up parses each chain manifest once (N+1)") {
    val n = 10
    val tb = GraftTable.create(s"$wh/db/c8", schema)
    (1 to n).foreach(i =>
      tb.append(df(batch(i * 10L, i * 10L + 3), parts = 1),
        Some(1000L * i)))
    val before = Manifest.listParses.get()
    val q = spark.readStream.table("gc.db.c8")
      .writeStream.format("memory").queryName("cdc8")
      .option("checkpointLocation", tmpDir("cdc-ckpt8"))
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    assert(spark.table("cdc8").count() == n * 4L)
    val parses = Manifest.listParses.get() - before
    // one walk: N chain manifests + the first parent; plus the scan
    // builder's read of the current manifest at analysis. The old
    // 2-per-snapshot spelling cost ≥ 2N here.
    assert(parses <= n + 4,
      s"catch-up over $n snapshots parsed $parses manifest lists " +
        s"(want ≤ ${n + 4} — chain walked more than once?)")
  }

  test("lineage stream: seed and tail carry stable row ids through DML") {
    val tb = GraftTable.create(s"$wh/db/cl1", schema,
      properties = Map(GraftTable.PropRowLineage -> "true"))
    tb.append(df(batch(1, 10), parts = 1), Some(1000L))
    val ckpt = tmpDir("cdc-ckpt-l1")
    val q = spark.readStream.table("gc.db.cl1__changes")
      .writeStream.format("memory").queryName("cdc21")
      .option("checkpointLocation", ckpt).start()
    val rows = try {
      q.processAllAvailable()
      // raw-served seed: ids are the band (position order = id order)
      val seed = spark.table("cdc21")
        .select("id", "_row_id", "_last_updated_snapshot_id").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(seed.keySet == (1L to 10L).toSet)
      assert((1L to 10L).forall(i => seed(i) == (i - 1, 1L)),
        s"seed lineage wrong: $seed")
      // tail: a CoW update nets to (same _row_id, new version); a
      // positional delete's retraction carries the victim's id
      tb.update(spark, col("id") <= 3L,
        Map("v" -> org.apache.spark.sql.functions.lit("patched")),
        Some(2000L))
      tb.deletePositional(spark, col("id") === 7L, Some(3000L))
      q.processAllAvailable()
      spark.table("cdc21").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
          r.getLong(r.fieldIndex("_row_id"))))
    } finally q.stop()
    val upd = rows.filter(r => r._1 <= 3 && r._4 == 2L)
    assert(upd.count(_._3 == "delete") == 3 &&
      upd.count(_._3 == "insert") == 3)
    upd.foreach { case (id, _, _, _, rid) =>
      assert(rid == id - 1, "update must keep the row id") }
    val del7 = rows.filter(r => r._1 == 7L && r._4 == 3L)
    assert(del7.toSeq == Seq((7L, "v7", "delete", 3L, 6L)),
      s"positional retraction must carry the victim's id: ${del7.toSeq}")
    // net state keyed by id: one live version per id, id-stable
    val live = rows.groupBy(_._5).view.mapValues(g =>
      g.count(_._3 == "insert") - g.count(_._3 == "delete")).toMap
    assert(live.values.forall(n => n == 0 || n == 1))
    assert(live.count(_._2 == 1) == 9)
  }

  test("lineage seed reads carry cells and skips DV rows with exact positions") {
    val tb = GraftTable.create(s"$wh/db/cl2", schema,
      properties = Map(GraftTable.PropRowLineage -> "true"))
    tb.append(df(batch(1, 8), parts = 1), Some(1000L))
    // carry files (hasRowIds) exist BEFORE the stream starts…
    tb.update(spark, col("id") === 2L,
      Map("v" -> org.apache.spark.sql.functions.lit("cell")), Some(2000L))
    // …and a deletion vector is pending on the rewritten file
    tb.deletePositional(spark, col("id") === 5L, Some(3000L))
    val q = spark.readStream.table("gc.db.cl2__changes")
      .writeStream.format("memory").queryName("cdc22")
      .option("checkpointLocation", tmpDir("cdc-ckpt-l2"))
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000))
    val got = spark.table("cdc22")
      .select("id", "_row_id", "_last_updated_snapshot_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val want = tb.readLineage(spark)
      .select("id", GraftTable.RowIdCol, GraftTable.LastUpdatedCol)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(got == want,
      s"seed lineage must equal the library read: got=$got want=$want")
    assert(got.map(_._1) == (1L to 8L).filterNot(_ == 5L),
      "DV row must be skipped")
    assert(got.find(_._1 == 2L).exists(_._3 == 2L),
      "the modified row reads its carry-cell version")
  }

  test("mirror keyed by _row_id reproduces upstream through mixed DML") {
    import org.apache.spark.sql.functions.lit
    val src = GraftTable.create(s"$wh/db/cl3src", schema,
      properties = Map(GraftTable.PropRowLineage -> "true"))
    src.append(df(batch(1, 12), parts = 1), Some(1000L))
    val mirrorSchema = StructType(schema.fields :+
      StructField("src_row_id", LongType, nullable = true))
    val mirror = GraftTable.create(s"$wh/db/cl3mir", mirrorSchema)
    val ckpt = tmpDir("cdc-ckpt-l3")
    def sync(): Unit = {
      val q = spark.readStream.table("gc.db.cl3src__changes")
        .writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          GraftCdcMirror.applyBatch(mirror, Seq("src_row_id"), "mir-l3")(
            b.withColumn("src_row_id", col(GraftTable.RowIdCol)), id)
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000))
    }
    sync()
    // mixed DML: CoW update, equality upsert, positional delete, append
    src.update(spark, col("id") === 4L, Map("v" -> lit("u4")), Some(2000L))
    src.deleteEquality(spark, df(Seq(Row(9L, "x")), 1).select("id"),
      Seq("id"), Some(3000L))
    src.deletePositional(spark, col("id") === 11L, Some(4000L))
    src.append(df(batch(20, 22), parts = 1), Some(5000L))
    sync()
    // upstream values ≡ mirror values, keyed by the SOURCE's row id
    val want = src.readLineage(spark)
      .select(col(GraftTable.RowIdCol).as("src_row_id"),
        col("id"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq
    val got = mirror.read(spark)
      .select(col("src_row_id"), col("id"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(got == want,
      s"row-id-keyed mirror diverged:\n got=$got\nwant=$want")
  }
}
