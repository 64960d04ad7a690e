package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** One timed call into a layer. `parent` is the enclosing span's id (-1
  * at the top), `op` the closed-loop operation it belongs to. Times are
  * `System.nanoTime` readings. */
final case class Span(id: Int, parent: Int, op: Long, name: String,
    startNs: Long, var endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. When off, `span` just runs its body, so the
  * untraced run pays one branch per call site. Spans are kept until the
  * run ends and then written out as JSON lines. */
final class Tracer(val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var op: Long = 0L
  /** Named per-run counters (file counts, bytes, cache misses …). */
  val counts = mutable.LinkedHashMap.empty[String, Double]

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), op,
        name, System.nanoTime(), 0L)
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
      }
    }

  /** A duration measured elsewhere (Spark's phase tracker) recorded as a
    * child of the current span, ending now. */
  def external(name: String, ms: Double): Unit = if (on) {
    val end = System.nanoTime()
    spans += Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), op,
      name, end - (ms * 1e6).toLong, end)
  }

  def add(name: String, v: Double): Unit =
    if (on) counts(name) = counts.getOrElse(name, 0.0) + v

  def durations(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(_.ms).toSeq

  /** Span time minus the time its direct children cover. */
  def selfMs: Map[Int, Double] = {
    val child = mutable.HashMap.empty[Int, Double]
    spans.foreach(s => if (s.parent >= 0)
      child(s.parent) = child.getOrElse(s.parent, 0.0) + s.ms)
    spans.iterator.map(s => s.id -> (s.ms - child.getOrElse(s.id, 0.0))).toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val self = selfMs
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.iterator.map { s =>
      graft.util.Json.write(Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name,
        "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6,
        "self_ms" -> self(s.id)))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}

/** Job, stage and task totals from the listener bus. Read them only
  * after `PerfBenchBridge.drainListeners`. */
final class ExecListener extends SparkListener {
  val jobs, stages, tasks, taskRunMs, shuffleRead, shuffleWrite,
    spill, jobMs = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStart.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(t => jobMs.addAndGet(e.time - t))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot: Map[String, Long] = Map(
    "exec.jobs" -> jobs.get, "exec.stages" -> stages.get,
    "exec.tasks" -> tasks.get, "exec.task_run_ms" -> taskRunMs.get,
    "exec.shuffle_read_bytes" -> shuffleRead.get,
    "exec.shuffle_write_bytes" -> shuffleWrite.get,
    "exec.spill_bytes" -> spill.get, "job_ms" -> jobMs.get)
}

/** Spark's own per-query phase times and whole-stage codegen compiles. */
object Catalyst {
  /** analysis / optimization / planning ms of an executed DataFrame. */
  def phases(df: DataFrame): Map[String, Double] = {
    val ph = df.queryExecution.tracker.phases
    Seq("analysis", "optimization", "planning").map { p =>
      p -> ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    }.toMap
  }

  /** Collection ms so far over all of the JVM's collectors (Spark's
    * driver and its local executor share one heap). */
  def gcMs: Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.toDouble).sum

  /** (compiles so far, approximate total compile ms so far). The ms
    * figure is count × mean of Spark's sampled compile-time histogram. */
  def codegen: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }
}
