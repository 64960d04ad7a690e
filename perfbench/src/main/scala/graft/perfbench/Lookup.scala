package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.table.{GraftTable, Manifest, PerfProbe}

/** Read-only lookups over a long snapshot history.
  *
  * Setup commits the seeded `lineitem_ranges/` files one per snapshot
  * (`commitStreamFiles`), so the history is longer than the manifest
  * layer's 256-entry list/segment caches and a point lookup prunes to one
  * file. Each deck of operations holds head point lookups through
  * `GraftTable.scan`, the same lookups in SQL through the DSv2 catalog,
  * `snapshot__id = s` time-travel lookups with `s` uniform over the
  * history, `readAsOf` lookups, key and `l_shipdate` range aggregates at
  * head, `__snapshots` reads, and the TPC-H Q1 report
  * (`SparkEntry.queries`) over plain parquet, which bypasses the table
  * layers. Every result is recorded for the runner to check against the
  * source parquet.
  */
final class Lookup(ctx: Ctx) extends Workload(ctx) {
  private val o = ctx.o
  private val files = ctx.files
  private val nOrders: Long = ctx.keyBounds.last
  private val dir = o.work.resolve("wh/db/li").toString
  /** `committedAt` of snapshot i is BaseTime + i × 1000. */
  private val BaseTime = 1700000000000L
  private val Cols = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
  /** The generator's first ship day (days since 1970-01-01) and its
    * number of ship days. */
  private val ShipDay0 = 9132
  private val ShipDays = 2499
  private val RangeDays = 365

  /** One deck of operations, shuffled per deck from the seed; the timed
    * window runs whole decks, so every run sees the same mix. */
  private val Deck = Seq("head_api" -> 12, "head_sql" -> 10, "travel" -> 12,
    "snapshots" -> 2, "as_of" -> 1, "range_agg" -> 2, "report" -> 1)
    .flatMap { case (k, n) => Seq.fill(n)(k) }
  /** Range aggregates cover this many consecutive key-range files. */
  private val RangeFiles = 10

  /** The history is an ingest stream that committed one key-range file
    * per micro-batch: each file is linked under `data/` and committed
    * with `commitStreamFiles` (metadata only, no Spark job). Every call
    * builds the whole 300-snapshot history on a new table. */
  def setup(): Unit = {
    PerfBench.deleteTree(Paths.get(dir))
    val tb = GraftTable.create(dir, schema)
    val data = Paths.get(dir, "data")
    Files.createDirectories(data)
    files.indices.foreach { i =>
      val rel = f"stage-$i%05d.parquet"
      Files.createLink(data.resolve(rel), Paths.get(files(i)))
      tb.commitStreamFiles(Seq(s"data/$rel"), "perfbench-load", i.toLong,
        Some(BaseTime + (i + 1) * 1000L))
    }
    val head = tb.log.current.get
    require(head.snapshotId == files.size,
      s"expected ${files.size} snapshots, head is ${head.snapshotId}")
  }

  private lazy val schema = spark.read.parquet(files.head).schema

  /** The highest percentile with ten samples beyond it, p87.5, sits
    * where the slowest kinds (as-of reads, reports, range aggregates) meet
    * the point lookups, and jumps between them from run to run; p75 falls
    * well inside the point lookups. */
  def tailQuantile: Double = 0.75

  protected def unit(w: Window, t: Tracer): Unit =
    ctx.rng.shuffle(Deck).foreach(step(w, _, t))

  /** Untimed: every kind of operation twice (an even number of as-of
    * reads, so the timed window starts on a fresh antithetic pair). A
    * warm-up of each kind once gave wider ten-run spreads. */
  override def warmup(): Unit = {
    val kinds = Deck.distinct
    ctx.rng.shuffle(kinds ++ kinds).foreach(step(warm, _, ctx.off))
  }

  /** The report query; it reads plain parquet (a tenth of the source
    * rows), not the table. */
  private val Report = "h01_pricing_summary"
  private val reportDir = o.data.resolve("report").toString
  private var reportRows: Option[String] = None
  private val leaked = mutable.ArrayBuffer.empty[Double]

  private var asOfDraw = 0.0
  private var asOfPaired = false

  private def key: Long = (ctx.rng.nextDouble() * nOrders).toLong

  /** Order-insensitive checksum of point-lookup rows (the runner
    * recomputes it from the source parquet). */
  private def checksum(rows: Array[Row]): Long = rows.iterator.map { r =>
    r.getInt(1) * 1000003L + r.getLong(2) * 7L +
      math.round(r.getDouble(3) * 100)
  }.sum

  private def step(w: Window, kind: String, t: Tracer): Unit = {
    t.op += 1
    t.span("op." + kind)(run(w, kind, t))
  }

  private def run(w: Window, kind: String, t: Tracer): Unit =
    kind match {
      case "head_api" => pointApi(w, t, kind, key, None, None)
      case "travel" =>
        // the key is drawn among the keys committed by snapshot s: a key
        // committed later prunes to no file and reads nothing, and with
        // half the lookups such misses the kind's median fell between
        // the two cases and jumped between them from run to run
        val s = 1 + ctx.rng.nextInt(files.size)
        val k = (ctx.rng.nextDouble() * ctx.keyBounds(s)).toLong
        pointApi(w, t, kind, k, Some(s.toLong), None)
      case "as_of" =>
        // readAsOf reads every file of the pinned snapshot, so its cost
        // grows with the drawn time: draws come in antithetic pairs (u,
        // 1 - u), one per deck, which keeps the cost of two decks
        // independent of the draw
        asOfDraw = if (asOfPaired) 1.0 - asOfDraw else ctx.rng.nextDouble()
        asOfPaired = !asOfPaired
        val at = BaseTime + 1000L + (asOfDraw * files.size * 1000).toLong
        pointApi(w, t, kind, key, None, Some(at))
      case "head_sql" =>
        val k = key
        w.op(kind) {
          val df = t.span("scan.build.sql")(spark.sql(
            s"SELECT ${Cols.mkString(", ")} FROM pb.db.li WHERE l_orderkey = $k"))
          val rows = collect(t, df)
          rows
        }.foreach(rows => w.checks += Map("kind" -> "point", "key" -> k,
          "snap" -> files.size.toLong, "rows" -> rows.length.toLong,
          "sum" -> checksum(rows)))
      case "range_agg" =>
        val f0 = ctx.rng.nextInt(files.size - RangeFiles + 1)
        val k0 = ctx.keyBounds(f0)
        val k1 = ctx.keyBounds(f0 + RangeFiles)
        val d0 = ShipDay0 + ctx.rng.nextInt(ShipDays - RangeDays)
        val lo = java.time.LocalDate.ofEpochDay(d0).atStartOfDay()
        val hi = lo.plusDays(RangeDays)
        val filter = col("l_orderkey") >= k0 && col("l_orderkey") < k1 &&
          col("l_shipdate") >= lit(lo) && col("l_shipdate") < lit(hi)
        w.op(kind) {
          val tb = t.span("log.load")(GraftTable.load(dir))
          if (t.on) traceMetadata(t, tb, None, filter)
          val df = t.span("scan.build.api")(tb.scan(spark, Some(filter),
            Seq("l_extendedprice")))
            .agg(count(lit(1)), sum(round(col("l_extendedprice") * 100).cast("long")))
          collect(t, df).head
        }.foreach(r => w.checks += Map("kind" -> "range", "day" -> d0.toLong,
          "days" -> RangeDays.toLong, "k0" -> k0, "k1" -> k1, "rows" -> r.getLong(0),
          "sum" -> (if (r.isNullAt(1)) 0L else r.getLong(1))))
      case "report" =>
        w.op(kind) {
          val df = t.span("query.build")(SparkEntry.queries(Report)(spark, reportDir))
          collect(t, df).map(_.toString).sorted.mkString("\n")
        }.foreach { rows =>
          // the first result is written out for the runner's DuckDB check;
          // every later one must equal it
          if (reportRows.isEmpty) {
            reportRows = Some(rows)
            SparkEntry.queries(Report)(spark, reportDir).write
              .parquet(o.work.resolve(s"results/$Report").toString)
            Files.writeString(o.work.resolve("oracle.json"), graft.util.Json.write(
              Map(Report -> SparkEntry.oracleSql(Report))))
          } else if (reportRows.get != rows) w.fail(s"$Report result changed:\n$rows")
        }
        spark.catalog.clearCache()
        if (t.on) leaked += spark.sparkContext.getPersistentRDDs.size.toDouble
      case "snapshots" =>
        w.op(kind) {
          val tb = t.span("log.load")(GraftTable.load(dir))
          val df = t.span("scan.build.api")(tb.snapshots(spark))
            .agg(count(lit(1)), max("snapshot_id"))
          collect(t, df).head
        }.foreach { r =>
          if (r.getLong(0) != files.size || r.getLong(1) != files.size)
            w.fail(s"__snapshots: ${r.getLong(0)} rows, max id ${r.getLong(1)}")
        }
    }

  /** A point lookup through the programmatic API: at head, at a
    * `snapshot__id = s` conjunct, or through `readAsOf`. */
  private def pointApi(w: Window, t: Tracer, kind: String, k: Long,
      snap: Option[Long], asOf: Option[Long]): Unit = {
    val keyEq = col("l_orderkey") === k
    val filter = snap.fold(keyEq)(s => col(GraftTable.DefaultVirtualColumn) === s && keyEq)
    w.op(kind) {
      val tb = t.span("log.load")(GraftTable.load(dir))
      // snapshot s was committed at BaseTime + s × 1000, so the snapshot
      // an as-of read must pin follows from the time alone
      val pinned = asOf.map(a => math.min((a - BaseTime) / 1000L, files.size.toLong))
        .orElse(snap)
      if (t.on) traceMetadata(t, tb, pinned, keyEq)
      val df: DataFrame = t.span("scan.build.api") {
        asOf match {
          case Some(a) => tb.readAsOf(spark, a).filter(keyEq).select(Cols.map(col): _*)
          case None => tb.scan(spark, Some(filter), Cols)
        }
      }
      val rows = collect(t, df)
      (rows, pinned.getOrElse(files.size.toLong))
    }.foreach { case (rows, s) =>
      w.checks += Map("kind" -> "point", "key" -> k, "snap" -> s,
        "rows" -> rows.length.toLong, "sum" -> checksum(rows))
    }
  }

  /** Traced only: the log read, manifest-list read and pruning a scan
    * performs, each timed as its own call (the scan that follows then
    * finds the manifest list cached — part of the reported overhead). */
  private def traceMetadata(t: Tracer, tb: GraftTable, snap: Option[Long],
      filter: Column): Unit = {
    val lg = t.span("log.read")(tb.log)
    val s = snap.flatMap(lg.byId).orElse(lg.current).get
    val parses0 = PerfProbe.listParses
    val m = t.span("manifest.read")(Manifest.read(s"$dir/${s.manifestList}"))
    t.add("manifest.reads", 1)
    t.add("manifest.list_parses", (PerfProbe.listParses - parses0).toDouble)
    val kept = t.span("prune")(PerfProbe.prunedFiles(spark, tb, m, filter))
    t.add("prune.calls", 1)
    t.add("prune.files_total", m.totalFiles.toDouble)
    t.add("prune.files_kept", kept.size.toDouble)
    t.add("log.snapshots_seen", lg.snapshots.size.toDouble)
  }

  protected def ownLayerMetrics(w: Window, t: Tracer): Map[String, Double] = {
    def c(k: String) = t.counts.getOrElse(k, 0.0)
    def med(k: String) = PerfBench.median(t.durations(k))
    val reads = math.max(c("manifest.reads"), 1)
    val prunes = math.max(c("prune.calls"), 1)
    Map(
      "log.load_ms" -> med("log.load"),
      "log.read_ms" -> med("log.read"),
      "log.snapshots" -> c("log.snapshots_seen") / prunes,
      "manifest.read_ms" -> med("manifest.read"),
      "manifest.list_parses" -> c("manifest.list_parses") / reads,
      "manifest.hit_frac" -> (1 - c("manifest.list_parses") / reads),
      "prune.ms" -> med("prune"),
      "prune.files_total" -> c("prune.files_total") / prunes,
      "prune.files_kept" -> c("prune.files_kept") / prunes,
      "prune.kept_frac" -> c("prune.files_kept") / math.max(c("prune.files_total"), 1),
      "scan.build_ms.api" -> med("scan.build.api"),
      "scan.build_ms.sql" -> med("scan.build.sql"),
      "query.build_ms" -> med("query.build"),
      "persist.leaked_rdds" -> PerfBench.mean(leaked))
  }
}
