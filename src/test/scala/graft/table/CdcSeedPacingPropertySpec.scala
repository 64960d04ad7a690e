package graft.table

import org.apache.spark.sql.Row
import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** Property sweep of the CDC stream's admission protocol, driven
  * directly (no streaming engine): random histories (single/multi-file
  * appends, copy-on-write deletes, merge-on-read tombstones that make
  * the head raw-INELIGIBLE) × random caps must always
  *  - terminate (offsets stop advancing),
  *  - reconstruct the table's final state EXACTLY ONCE when netted
  *    (insert/delete multiset — the changesCdc contract),
  *  - replay any range identically (a restarted query re-plans its
  *    uncommitted batch), and
  *  - under a files cap, split an eligible multi-file seed across
  *    multiple batches (the 100 TB backfill guard).
  */
class CdcSeedPacingPropertySpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", StringType, nullable = true)))

  private def df(rows: Seq[(Long, String)], parts: Int) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), parts),
      schema)

  private val cdcSchema = StructType(schema.fields.toSeq :+
    StructField("_change_type", StringType) :+
    StructField("snapshot__id", LongType))

  private def mkDelegate(files: Seq[org.apache.hadoop.fs.FileStatus]) = {
    val o = new java.util.HashMap[String, String]()
    val index = new ManifestFileIndex(spark, files, Map.empty, Some(cdcSchema))
    org.apache.spark.sql.classic.GraftBridge
      .parquetTable(spark, "pace", index, cdcSchema)
      .newScanBuilder(
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(o))
      .build()
  }

  private def readRows(
      st: org.apache.spark.sql.classic.GraftCdcMicroBatchStream,
      a: Offset, b: Offset): Seq[(Long, String, String)] = {
    val rf = st.createReaderFactory()
    st.planInputPartitions(a, b).toSeq.flatMap { p =>
      val r = rf.createReader(p)
      val buf = scala.collection.mutable.Buffer[(Long, String, String)]()
      while (r.next()) {
        val row = r.get()
        buf += ((row.getLong(0), row.getUTF8String(1).toString,
          row.getUTF8String(2).toString))
      }
      r.close(); buf.toSeq
    }
  }

  test("random histories × caps: paced protocol reconstructs state exactly") {
    val rnd = new scala.util.Random(20260815L)
    val base = tmpDir("cdc-pace-prop")
    for (k <- 1 to 10) {
      val dir = s"$base/t$k"
      val tb = GraftTable.create(dir, schema)
      var nextId = 1L
      def fresh(n: Int): Seq[(Long, String)] = {
        val out = (nextId until nextId + n).map(i => (i, s"v$i"))
        nextId += n
        out
      }
      // history: bulk first append, then a random mix
      val firstFiles = 1 + rnd.nextInt(3)
      tb.append(df(fresh(2 + rnd.nextInt(6)), firstFiles), Some(1000L))
      val steps = rnd.nextInt(3)
      var morPending = false
      for (s <- 0 until steps) rnd.nextInt(3) match {
        case 0 => tb.append(df(fresh(1 + rnd.nextInt(4)),
          1 + rnd.nextInt(2)), Some(2000L + s))
        case 1 if !morPending => // CoW refuses while tombstones pend
          tb.delete(spark, col("id") === (1L + rnd.nextInt(3)),
            Some(2000L + s)): Unit
        case _ => // equality tombstones stack freely with themselves
          tb.deleteEquality(spark,
            df(Seq((2L, "x")), 1).select(col("id")), Seq("id"),
            Some(2000L + s)): Unit
          morPending = true
      }
      val limit = rnd.nextInt(3) match {
        case 0 => ReadLimit.allAvailable()
        case 1 => ReadLimit.maxFiles(1)
        case 2 => ReadLimit.maxRows(1L + rnd.nextInt(4))
      }
      def stream() = new org.apache.spark.sql.classic.GraftCdcMicroBatchStream(
        dir, 0L, tmpDir(s"cdc-pace-ckpt$k"), schema, mkDelegate)
      var st = stream()
      var cur: Offset = st.initialOffset()
      val all = scala.collection.mutable.Buffer[(Long, String, String)]()
      var batches = 0
      var progress = true
      while (progress && batches < 60) {
        val next = st.latestOffset(cur, limit)
        if (next.json() == cur.json()) progress = false
        else {
          val rows = readRows(st, cur, next)
          // replay determinism: a fresh instance re-planning the same
          // range (the restarted query's uncommitted batch) must emit
          // the identical multiset
          val replay = readRows(stream(),
            st.deserializeOffset(cur.json()),
            st.deserializeOffset(next.json()))
          assert(rows.sorted == replay.sorted,
            s"case $k: replay diverged on (${cur.json()}, ${next.json()})")
          all ++= rows
          st.commit(next)
          cur = next
          batches += 1
          if (rnd.nextBoolean()) st = stream() // mid-run restart
        }
      }
      assert(!progress, s"case $k: protocol did not terminate")
      // netted reconstruction == the table's final state, exactly once
      val net = all.groupBy(r => (r._1, r._2)).collect {
        case (key, rs)
            if rs.count(_._3 == "insert") - rs.count(_._3 == "delete") > 0 =>
          key
      }.toSeq.sorted
      val want = tb.read(spark).select(col("id"), col("v")).collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      assert(net == want, s"case $k: netted CDC != table state " +
        s"(${net.size} vs ${want.size})")
      // the backfill guard: an eligible multi-file seed under a 1-file
      // cap never lands in one batch
      if (limit.isInstanceOf[org.apache.spark.sql.connector.read.streaming.ReadMaxFiles]
          && firstFiles > 1 && steps == 0)
        assert(batches >= firstFiles,
          s"case $k: $firstFiles-file seed landed in $batches batch(es)")
    }
  }
}
