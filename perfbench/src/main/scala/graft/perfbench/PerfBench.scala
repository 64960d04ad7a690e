package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark program: one workload, one seed, one JVM.
  *
  * {{{
  * PerfBench --workload lookup|churn --seed N --seconds S
  *           --trace 0|1 --data DIR --work DIR --out FILE --cores N
  * }}}
  *
  * `--data` holds the seeded input parquet (perfbench/datagen.py);
  * every table the run creates lives under `--work`. The result (metrics,
  * attempted/failed counts, per-op check records) is written to `--out`
  * as JSON; stdout carries only Spark's own noise. With `--trace 1` the
  * timed window alternates traced and untraced chunks, and the difference
  * of their median op latencies is reported as the tracing overhead.
  */
object PerfBench {

  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: Path, work: Path, out: Path, cores: Int)

  /** Setup repetitions per run; `setup_s` is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", Paths.get(kv("data")), Paths.get(kv("work")),
      Paths.get(kv("out")), kv("cores").toInt)
    Files.createDirectories(o.work)
    val t0 = System.nanoTime()
    val spark = session(o)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val listener = new ExecListener
    if (o.trace) spark.sparkContext.addSparkListener(listener)
    val ctx = new Ctx(spark, o, listener)
    val w: Workload = o.workload match {
      case "lookup" => new Lookup(ctx)
      case "churn" => new Churn(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupS = (1 to SetupReps).map { _ =>
      val s0 = System.nanoTime()
      w.setup()
      (System.nanoTime() - s0) / 1e9
    }
    val w0 = System.nanoTime()
    w.warmup()
    ctx.setupExtra("setup.session_s") = sessionS
    ctx.setupExtra("setup.warmup_s") = (System.nanoTime() - w0) / 1e9
    val m0 = System.nanoTime()
    // a traced run alternates traced and untraced chunks (ABBA), so
    // warm-up drift falls on both sides of the overhead comparison
    val order = if (o.trace) Seq(true, false, false, true) else Seq(false)
    val chunks = order.map(on =>
      on -> w.measure(o.seconds / order.size, if (on) ctx.on else ctx.off))
    val plain = Window.merge(chunks.filterNot(_._1).map(_._2))
    val traced = if (o.trace) Some(Window.merge(chunks.filter(_._1).map(_._2))) else None
    val timedS = (System.nanoTime() - m0) / 1e9
    val heapMb = heapUsedMb()
    val perLayer = traced.map { t =>
      ctx.setupExtra ++ w.layerMetrics(t) ++ Map(
        "trace.overhead_ms" -> (t.kindP50GMean - plain.kindP50GMean),
        "trace.overhead_frac" -> (t.kindP50GMean / plain.kindP50GMean - 1))
    }

    val endToEnd = Map(
      "setup_s" -> median(setupS),
      "kind_p50_gmean_ms" -> plain.kindP50GMean,
      "op_tail_ms" -> plain.quantile(w.tailQuantile),
      "ops_per_s" -> plain.opsPerS,
      "heap_used_mb" -> heapMb)
    val all = Seq(plain, w.warm) ++ traced
    val result = Map(
      "workload" -> o.workload, "seed" -> o.seed, "cores" -> o.cores,
      "attempted" -> all.map(_.attempted).sum,
      "failed" -> all.map(_.failed).sum,
      "errors" -> all.flatMap(_.errors).take(5),
      "ops" -> plain.samples.size,
      "tail_quantile" -> w.tailQuantile,
      "tail_samples" -> plain.ms.count(_ > plain.quantile(w.tailQuantile)),
      "kind_p50_ms" -> plain.kindP50,
      "setup_reps_s" -> setupS,
      "phases_s" -> Map("session" -> sessionS, "setup" -> setupS.sum,
        "warmup" -> ctx.setupExtra("setup.warmup_s"), "timed" -> timedS),
      "end_to_end" -> endToEnd,
      "per_layer" -> perLayer.getOrElse(Map.empty),
      "checks" -> all.flatMap(_.checks))
    if (o.trace) ctx.on.write(o.work.resolve("trace.jsonl"))
    Files.writeString(o.out, graft.util.Json.write(result))
    spark.stop()
  }

  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .withExtensions(new graft.table.GraftExtensions)
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.pb", "graft.table.GraftSparkCatalog")
      .config("spark.sql.catalog.pb.warehouse", o.work.resolve("wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap in use after a full GC. Spark's ContextCleaner drops broadcast
    * and shuffle blocks only after a GC has shown them unreachable, on its
    * own thread, so GCs repeat (250 ms apart, at most 12) until a reading
    * falls by less than 1 MB. */
  def heapUsedMb(): Double = {
    def usedAfterGc(): Double = {
      System.gc()
      Thread.sleep(250)
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var prev = usedAfterGc()
    var cur = usedAfterGc()
    var rounds = 2
    while (prev - cur >= 1.0 && rounds < 12) {
      prev = cur
      cur = usedAfterGc()
      rounds += 1
    }
    math.min(prev, cur)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Bytes of every regular file under `dir` (0 if absent). */
  def dirBytes(dir: Path, filter: Path => Boolean = _ => true): Long =
    if (!Files.exists(dir)) 0L
    else scala.util.Using.resource(Files.walk(dir)) { st =>
      st.iterator().asScala.filter(p => Files.isRegularFile(p) && filter(p))
        .map(Files.size).sum
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir))
      scala.util.Using.resource(Files.walk(dir)) { st =>
        st.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      }
}

/** Shared run state: the session, the seeded generator, the two
  * tracers a traced run switches between, and the seeded key-range
  * files both workloads commit. */
final class Ctx(val spark: SparkSession, val o: PerfBench.Opts,
    val listener: ExecListener) {
  val off = new Tracer(false)
  val on = new Tracer(true)
  val rng = new scala.util.Random(o.seed)
  val setupExtra = mutable.LinkedHashMap.empty[String, Double]

  /** `lineitem_ranges/` parquet files, in key order. */
  val files: IndexedSeq[String] = scala.util.Using.resource(
    Files.list(o.data.resolve("lineitem_ranges"))) { st =>
    st.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet"))
      .toIndexedSeq.sorted
  }
  /** File i holds exactly the keys in [keyBounds(i), keyBounds(i + 1)). */
  val keyBounds: IndexedSeq[Long] = graft.util.Json.parseObject(
    Files.readString(o.data.resolve("lineitem_ranges/bounds.json")))("key_bounds")
    .asInstanceOf[Seq[Any]].map(_.asInstanceOf[Long]).toIndexedSeq

  def drain(): Unit =
    org.apache.spark.PerfBenchBridge.drainListeners(spark.sparkContext)
}

/** What one timed window produced. Latencies are per closed-loop
  * operation; `checks` are records the runner verifies afterwards
  * against the source parquet. */
final class Window {
  val samples = mutable.ArrayBuffer.empty[(String, Double)]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val errors = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var wallS = 0.0

  def ms: Seq[Double] = samples.map(_._2).toSeq
  def kindP50: Map[String, Double] = samples.groupBy(_._1).map { case (k, v) =>
    k -> PerfBench.median(v.map(_._2).toSeq) }
  /** Geometric mean over operation kinds of each kind's median latency.
    * A plain median over all ops falls where fast and slow kinds meet
    * (churn's reads and commits) and jumps between them; each kind's
    * median stays inside its kind. */
  def kindP50GMean: Double = {
    val p = kindP50.values
    if (p.isEmpty) 0.0 else math.exp(p.map(math.log).sum / p.size)
  }
  def quantile(q: Double): Double = PerfBench.quantile(ms, q)
  def opsPerS: Double = if (wallS > 0) samples.size / wallS else 0.0

  /** Run `body` as one timed operation of kind `kind`; an exception
    * counts as a failed operation and the loop goes on. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = body
      samples += kind -> (System.nanoTime() - t0) / 1e6
      Some(r)
    } catch {
      case e: Exception =>
        failed += 1
        errors += s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        None
    }
  }

  def fail(msg: String): Unit = {
    failed += 1
    errors += msg.take(300)
  }
}

object Window {
  def merge(ws: Seq[Window]): Window = {
    val m = new Window
    ws.foreach { w =>
      m.samples ++= w.samples
      m.checks ++= w.checks
      m.errors ++= w.errors
      m.attempted += w.attempted
      m.failed += w.failed
      m.wallS += w.wallS
    }
    m
  }
}

object Workload {
  val UnitSeconds = 5.0
}

/** A workload: repeatable setup, an untimed warm-up, and closed-loop
  * timed windows of whole units. */
abstract class Workload(ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark

  /** Builds the workload's starting table from scratch, the same work on
    * every call; `setup_s` is the median time of `SetupReps` calls. */
  def setup(): Unit
  /** One loop unit: a lookup deck or a churn period. */
  protected def unit(w: Window, t: Tracer): Unit
  /** Untimed: one unit. */
  def warmup(): Unit = unit(warm, ctx.off)
  /** Per-layer metrics specific to the workload's traced window. */
  protected def ownLayerMetrics(w: Window, t: Tracer): Map[String, Double]
  /** Warm-up (and any other untimed) operations; their failures count. */
  val warm = new Window
  /** The tail percentile reported as `op_tail_ms`: a high one that keeps
    * at least ten samples beyond it at this workload's op count and falls
    * inside one kind's latencies, not where two kinds meet. */
  def tailQuantile: Double

  /** Closed loop over whole units (a lookup deck, a churn period), each
    * about `UnitSeconds` long at 4 cores. The unit count follows from
    * `seconds` alone, never from this run's speed, so a fast run cannot
    * add a warmer unit that skews its medians. In a traced window the
    * listener, codegen and GC totals are taken around the loop. */
  def measure(seconds: Double, tracer: Tracer): Window = {
    val w = new Window
    if (tracer.on) ctx.drain()
    val ex0 = ctx.listener.snapshot
    val (cg0, cgMs0) = Catalyst.codegen
    val gc0 = Catalyst.gcMs
    val t0 = System.nanoTime()
    (1 to math.max(1, math.round(seconds / Workload.UnitSeconds).toInt))
      .foreach(_ => unit(w, tracer))
    w.wallS = (System.nanoTime() - t0) / 1e9
    if (tracer.on) {
      ctx.drain()
      val ex1 = ctx.listener.snapshot
      val (cg1, cgMs1) = Catalyst.codegen
      ex1.foreach { case (k, v) => tracer.add(k, (v - ex0(k)).toDouble) }
      tracer.add("codegen.compiles", (cg1 - cg0).toDouble)
      tracer.add("codegen.compile_ms", cgMs1 - cgMs0)
      tracer.add("exec.gc_ms", Catalyst.gcMs - gc0)
      tracer.add("window.ops", w.samples.size.toDouble)
    }
    w
  }

  /** `df.collect()` as the `exec` span; Spark's phase times of the
    * query are recorded as its children. */
  protected def collect(t: Tracer, df: org.apache.spark.sql.DataFrame)
      : Array[org.apache.spark.sql.Row] = t.span("exec") {
    val rows = df.collect()
    if (t.on) Catalyst.phases(df).foreach { case (p, ms) =>
      t.external(s"catalyst.$p", ms)
    }
    rows
  }

  /** Listener, codegen and GC totals of the traced windows, per op. */
  private val PerOp = Set("exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_run_ms", "exec.gc_ms", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "codegen.compiles",
    "codegen.compile_ms")

  def layerMetrics(w: Window): Map[String, Double] = {
    val t = ctx.on
    // Spark reports phase times in whole ms: a mean keeps their spread
    def mean(name: String) = PerfBench.mean(t.durations(name))
    val ops = math.max(t.counts.getOrElse("window.ops", 1.0), 1.0)
    Map(
      "catalyst.analysis_ms" -> mean("catalyst.analysis"),
      "catalyst.optimization_ms" -> mean("catalyst.optimization"),
      "catalyst.planning_ms" -> mean("catalyst.planning"),
      "exec.wall_ms" -> PerfBench.median(t.durations("exec"))) ++
      t.counts.collect { case (k, v) if PerOp(k) => k -> v / ops } ++
      ownLayerMetrics(w, t)
  }
}
