package graft.perfbench

import java.nio.file.{Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.table.GraftTable

/** One writer that reads its own writes.
  *
  * Each cycle appends the next `lineitem_ranges/` file (one key range,
  * about 2k rows), then runs a merge-on-read `deleteDeferred` of 50
  * keys, a copy-on-write `update` of 50 keys and a `merge` of 50 keys,
  * each drawn uniformly over the keys written so far. Every
  * `MaintEvery`-th cycle adds a maintenance sweep, one operation of
  * three calls: `compact`, `expireSnapshots(retainLast)` and
  * `removeOrphanFiles`. Every commit is followed by a head read
  * whose row count and checksum must equal the model this class keeps
  * (per-key counts and checksums taken from the source parquet).
  */
final class Churn(ctx: Ctx) extends Workload(ctx) {
  private val o = ctx.o
  private val files = ctx.files
  private val keyBounds = ctx.keyBounds
  private val dir = o.work.resolve("churn").toString
  private val InitialFiles = 4
  /** Key-range files the workload may draw from (one append per cycle). */
  private val MaxFiles = 64
  private val MaintEvery = 2
  private val RetainLast = 16
  private val RunLen = 50

  /** Order-insensitive row checksum; the model sums the same per key. */
  private val rowSum: Column = col("l_orderkey") * 7L +
    col("l_linenumber").cast("long") * 131L +
    round(col("l_quantity") * 100).cast("long") * 31L +
    round(col("l_extendedprice") * 100).cast("long")
  /** The checksum change of one row whose l_quantity grows by 1. */
  private val QtyStep = 100L * 31L

  /** Per-key (rows, checksum) of the source data. */
  private val source: Map[Long, (Long, Long)] =
    spark.read.parquet(files.take(MaxFiles): _*)
      .groupBy("l_orderkey").agg(count(lit(1)), sum(rowSum)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** Visible state the table must match: per-key (rows, checksum). */
  private val model = mutable.HashMap.empty[Long, (Long, Long)]
  private var nextFile = 0

  private val commitJobMs = mutable.ArrayBuffer.empty[Double]
  private val commitMetaMs = mutable.ArrayBuffer.empty[Double]
  private val commitDataBytes = mutable.ArrayBuffer.empty[Double]
  private val commitMetaBytes = mutable.ArrayBuffer.empty[Double]
  private val pending = mutable.ArrayBuffer.empty[Double]

  private def keysOf(file: Int) = keyBounds(file) until keyBounds(file + 1)

  def setup(): Unit = {
    PerfBench.deleteTree(Paths.get(dir))
    val first = spark.read.parquet(files.take(InitialFiles): _*)
    val tb = GraftTable.create(dir, first.schema)
    tb.append(first)
    tb.read(spark).agg(count(lit(1))).collect()
    model.clear()
    (0 until InitialFiles).foreach(f => addKeys(keysOf(f)))
    nextFile = InitialFiles
  }

  private def addKeys(keys: Iterable[Long]): Unit = keys.foreach { k =>
    source.get(k).foreach { case (n, s) =>
      val (n0, s0) = model.getOrElse(k, (0L, 0L))
      model(k) = (n0 + n, s0 + s)
    }
  }

  def tailQuantile: Double = 0.7

  /** `MaintEvery` cycles, the last with maintenance, so every window
    * holds the same mix of operations. */
  protected def unit(w: Window, t: Tracer): Unit =
    (1 to MaintEvery).foreach(i => runCycle(w, t, maintain = i == MaintEvery))

  /** A uniformly drawn run of `RunLen` keys inside one committed file. */
  private def keyRun(): Long = {
    val f = ctx.rng.nextInt(nextFile)
    keyBounds(f) + ctx.rng.nextInt((keyBounds(f + 1) - keyBounds(f) - RunLen + 1).toInt)
  }

  private def between(lo: Long): Column = col("l_orderkey").between(lo, lo + RunLen - 1)

  private def runCycle(w: Window, t: Tracer, maintain: Boolean): Unit = {
    require(nextFile < MaxFiles, "churn ran out of source key ranges")
    val f = nextFile
    commit(w, t, "append")(_.append(spark.read.parquet(files(f))))
    nextFile += 1
    addKeys(keysOf(f))
    headRead(w, t)

    val d = keyRun()
    commit(w, t, "delete")(_.deleteDeferred(spark, between(d)))
    (d until d + RunLen).foreach(model.remove)
    headRead(w, t)

    val u = keyRun()
    commit(w, t, "update")(_.update(spark, between(u),
      Map("l_quantity" -> (col("l_quantity") + 1))))
    (u until u + RunLen).foreach(k => model.get(k).foreach { case (n, s) =>
      model(k) = (n, s + n * QtyStep)
    })
    headRead(w, t)

    val m = keyRun()
    val src = spark.read.parquet(files(keyBounds.lastIndexWhere(_ <= m)))
      .filter(between(m)).withColumn("l_quantity", col("l_quantity") + 2)
    commit(w, t, "merge")(_.merge(spark, src, "l_orderkey"))
    (m until m + RunLen).foreach { k =>
      model.remove(k)
      source.get(k).foreach { case (n, s) => model(k) = (n, s + 2 * n * QtyStep) }
    }
    headRead(w, t)

    if (maintain) {
      commit(w, t, "maintain") { _ =>
        t.span("maint.compact")(GraftTable.load(dir).compact(spark, 1L << 30))
        t.span("maint.expire")(GraftTable.load(dir)
          .expireSnapshots(System.currentTimeMillis() + 1, RetainLast))
        t.span("maint.orphan")(GraftTable.load(dir).removeOrphanFiles(0L))
      }
      headRead(w, t)
    }
  }

  private def metaBytes(p: Path) = !p.toString.contains("/data/")

  /** One timed commit. Traced, the Spark job time inside the call and
    * the bytes it added under the table dir are measured around it. */
  private def commit(w: Window, t: Tracer, kind: String)(body: GraftTable => Any): Unit = {
    val root = Paths.get(dir)
    if (t.on) ctx.drain()
    val job0 = ctx.listener.jobMs.get
    val data0 = if (t.on) PerfBench.dirBytes(root.resolve("data")) else 0L
    val meta0 = if (t.on) PerfBench.dirBytes(root, metaBytes) else 0L
    val t0 = System.nanoTime()
    t.op += 1
    w.op(kind) {
      val tb = t.span("log.load")(GraftTable.load(dir))
      t.span("commit." + kind)(body(tb))
    }
    if (t.on) {
      val callMs = (System.nanoTime() - t0) / 1e6
      ctx.drain()
      val jobMs = (ctx.listener.jobMs.get - job0).toDouble
      if (kind != "maintain") {
        commitJobMs += jobMs
        commitMetaMs += math.max(callMs - jobMs, 0.0)
        commitDataBytes += (PerfBench.dirBytes(root.resolve("data")) - data0).toDouble
        commitMetaBytes += (PerfBench.dirBytes(root, metaBytes) - meta0).toDouble
      }
    }
  }

  private def headRead(w: Window, t: Tracer): Unit = {
    t.op += 1
    w.op("read") {
      val tb = t.span("log.load")(GraftTable.load(dir))
      if (t.on) {
        val lg = t.span("log.read")(tb.log)
        t.add("log.snapshots_seen", lg.snapshots.size.toDouble)
        t.add("log.reads", 1)
      }
      val df = t.span("scan.build.api")(tb.read(spark))
        .agg(count(lit(1)), sum(rowSum))
      val r = collect(t, df).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }.foreach { case (n, s) =>
      val (en, es) = model.valuesIterator.foldLeft((0L, 0L)) {
        case ((a, b), (x, y)) => (a + x, b + y)
      }
      if (n != en || s != es)
        w.fail(s"head read after file $nextFile: $n rows / sum $s, model $en / $es")
    }
    if (t.on) {
      val tb = GraftTable.load(dir)
      pending += (tb.pendingDeletes.size + tb.positionalDeletes.size +
        tb.equalityDeletes.size).toDouble
    }
  }

  protected def ownLayerMetrics(w: Window, t: Tracer): Map[String, Double] = {
    def med(k: String) = PerfBench.median(t.durations(k))
    def kind(k: String) = PerfBench.median(w.samples.filter(_._1 == k).map(_._2).toSeq)
    val commits = w.samples.filterNot(s => Set("read", "maintain")(s._1))
    Map(
      "log.load_ms" -> med("log.load"),
      "log.read_ms" -> med("log.read"),
      "log.snapshots" -> t.counts.getOrElse("log.snapshots_seen", 0.0) /
        math.max(t.counts.getOrElse("log.reads", 1.0), 1.0),
      "scan.build_ms.api" -> med("scan.build.api"),
      "read.p50_ms" -> kind("read"),
      "commit.p50_ms" -> PerfBench.median(commits.map(_._2).toSeq),
      "commit.job_ms" -> PerfBench.mean(commitJobMs),
      "commit.meta_ms" -> PerfBench.mean(commitMetaMs),
      "commit.data_bytes" -> PerfBench.mean(commitDataBytes),
      "commit.meta_bytes" -> PerfBench.mean(commitMetaBytes),
      "commit.stored_bytes_per_user_byte" -> storedRatio,
      "mor.pending_entries" -> PerfBench.mean(pending),
      "maint.compact_ms" -> med("maint.compact"),
      "maint.expire_ms" -> med("maint.expire"),
      "maint.orphan_ms" -> med("maint.orphan"))
  }

  /** Table-dir bytes ÷ the bytes of the visible rows as one plain
    * parquet file. */
  private lazy val storedRatio: Double = {
    val plain = o.work.resolve("plain-churn")
    GraftTable.load(dir).read(spark).coalesce(1).write.parquet(plain.toString)
    val r = PerfBench.dirBytes(Paths.get(dir)).toDouble /
      PerfBench.dirBytes(plain, _.toString.endsWith(".parquet"))
    PerfBench.deleteTree(plain)
    r
  }
}
