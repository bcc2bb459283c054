package graftbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler._

/** In-memory spans around the benchmark's calls into the engine.
  *
  * A span is (id, name, parent, request, start, end). While a span is
  * open its id is the thread's Spark job group, so [[JobCounter]] can
  * charge every job, task, CPU nanosecond and shuffle byte to the
  * innermost open span. A disabled tracer runs the body and records
  * nothing, so untraced runs pay no tracing cost.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private var open: List[(Long, String)] = Nil
  private var nextId = 1L
  @volatile var request: Long = 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0L)
      open = (id, name) :: open
      sc.setJobGroup(group(id), name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans += Span(id, name, parent, request, t0, t1)
        open = open.tail
        open.headOption match {
          case Some((p, n)) => sc.setJobGroup(group(p), n, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def recorded: Seq[Span] = spans.toSeq
}

object Tracer {
  final case class Span(id: Long, name: String, parent: Long, request: Long,
      startNs: Long, endNs: Long) {
    def durNs: Long = endNs - startNs
  }

  def group(id: Long): String = s"graftbench-span-$id"

  def spanOf(group: String): Option[Long] =
    if (group != null && group.startsWith("graftbench-span-"))
      Some(group.stripPrefix("graftbench-span-").toLong)
    else None

  /** Self time of every span: its duration minus the part of it that
    * its children cover (children are merged first, so overlapping
    * children are not subtracted twice). */
  def selfNs(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curE) {
          if (curE > curS) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Per-span Spark counters, keyed by the job group the [[Tracer]] set
  * when each job was submitted. */
final class JobCounter extends SparkListener {
  final class Counts {
    val jobs = new LongAdder
    val tasks = new LongAdder
    val cpuNs = new LongAdder
    val shuffleBytes = new LongAdder
  }

  private val bySpan = new ConcurrentHashMap[Long, Counts]()
  private val stageSpan = new ConcurrentHashMap[Integer, java.lang.Long]()
  private val started = new AtomicLong(0L)
  private val ended = new AtomicLong(0L)

  private def counts(span: Long): Counts =
    bySpan.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    Tracer.spanOf(g).foreach { span =>
      counts(span).jobs.increment()
      e.stageIds.foreach(id => stageSpan.put(id, span))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    if (span != null) {
      val c = counts(span.longValue)
      c.tasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs.add(m.executorCpuTime)
        c.shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  /** Waits (bounded) until the asynchronous listener bus has delivered
    * the end of every job it announced. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (ended.get() < started.get() && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200)
  }

  def snapshot: Map[Long, Counts] = bySpan.asScala.toMap
}

/** The per-layer metric names every traced run reports, whichever
  * workload it runs: a layer the workload never calls reads 0. */
object Layers {
  val LogSpans: Seq[String] = Seq("flow.run", "xes.read", "dsl.filter",
    "ops.stats", "ops.dfg", "ops.inductive", "ops.replay",
    "ops.trace_cluster", "xes.write")
  val CorpusSpans: Seq[String] = Seq("text.quality", "dedup.exact",
    "dedup.minhash", "dedup.jaccard_prefix", "dedup.clusters", "text.shards")
  val StreamFields: Seq[(String, String)] = Seq(
    "trigger_ms" -> "ms", "add_batch_ms" -> "ms", "query_planning_ms" -> "ms",
    "wal_commit_ms" -> "ms", "commit_offsets_ms" -> "ms",
    "latest_offset_ms" -> "ms", "get_batch_ms" -> "ms",
    "state_rows" -> "count", "state_mem_mb" -> "MB", "late_drops" -> "count")
  private val SpanFields: Seq[(String, String)] = Seq(
    "self_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "cpu_s" -> "s", "shuffle_mb" -> "MB")

  /** (name, unit) of every per-layer metric, in report order. */
  val all: Seq[(String, String)] =
    (LogSpans ++ CorpusSpans).flatMap(s => SpanFields.map { case (f, u) => s"$s.$f" -> u }) ++
      StreamMonitor.QueryNames.flatMap(q => StreamFields.map { case (f, u) => s"streaming.$q.$f" -> u }) ++
      Seq("streaming.useful_batch_frac" -> "frac", "bench.gen_late_ms" -> "ms",
        "bench.trace_overhead_frac" -> "frac", "peak_rss_mb" -> "MB", "peak_heap_mb" -> "MB")

  /** Fills in every metric of [[all]] from `measured`, 0 where absent. */
  def complete(measured: Map[String, Double]): Seq[(String, Double, String)] =
    all.map { case (k, u) => (k, measured.getOrElse(k, 0.0), u) }

  /** Per-unit (request or pass) span metrics: self time, jobs, tasks,
    * executor CPU and shuffle volume charged to each named span. */
  def spanMetrics(spans: Seq[Tracer.Span], counts: Map[Long, JobCounter#Counts],
      units: Long, names: Seq[String]): Map[String, Double] = {
    val self = Tracer.selfNs(spans)
    val per = math.max(1L, units).toDouble
    names.flatMap { n =>
      val ids = spans.filter(_.name == n).map(_.id)
      val cs = ids.flatMap(counts.get)
      Seq(
        s"$n.self_s" -> ids.map(self).sum / 1e9 / per,
        s"$n.jobs" -> cs.map(_.jobs.sum()).sum / per,
        s"$n.tasks" -> cs.map(_.tasks.sum()).sum / per,
        s"$n.cpu_s" -> cs.map(_.cpuNs.sum()).sum / 1e9 / per,
        s"$n.shuffle_mb" -> cs.map(_.shuffleBytes.sum()).sum / 1048576.0 / per)
    }.toMap
  }

  /** Share of the root spans' wall time that the named spans' self
    * times account for. */
  def coverage(spans: Seq[Tracer.Span], root: String, names: Seq[String]): Double = {
    val self = Tracer.selfNs(spans)
    val wall = spans.filter(_.name == root).map(_.durNs).sum.toDouble
    spans.filter(s => names.contains(s.name)).map(s => self(s.id)).sum / math.max(1.0, wall)
  }
}

/** What a traced closed loop needs to know of a timed request. */
trait Timed {
  def seconds: Double
  def traced: Boolean
}

/** A traced run times every request twice, back to back: untraced and
  * traced, alternating which goes first, so that the warm-up still
  * going on during a run biases neither side of the tracing overhead. */
object Tracing {
  final case class Result[T <: Timed](done: Seq[T], layers: Map[String, Double],
      coverage: Double) {
    def traced: Seq[T] = done.filter(_.traced)
  }

  /** A closed loop over `request(i, tracer)`, `i` in cycles of
    * `cycle`, in traced mode: spans of
    * the named layers under `root`, their Spark counters, the tracing
    * overhead, and the spans written to `out/spans.jsonl`. */
  def closedLoop[T <: Timed](spark: SparkSession, seconds: Double, cycle: Int,
      out: Path, root: String, names: Seq[String])(
      request: (Int, Tracer) => T): Result[T] = {
    val sc = spark.sparkContext
    val counter = new JobCounter
    sc.addSparkListener(counter)
    val plain = new Tracer(sc, enabled = false)
    val tracer = new Tracer(sc, enabled = true)
    val done = ClosedLoop(seconds, cycle)(i => Seq(i % 2 == 1, i % 2 == 0).map(traced =>
      request(i, if (traced) tracer else plain)))
    counter.drain()
    sc.removeSparkListener(counter)
    val spans = tracer.recorded
    Spans.write(out.resolve("spans.jsonl"), spans)
    val (traced, untraced) = done.partition(_.traced)
    val overhead = traced.map(_.seconds).sum / untraced.map(_.seconds).sum - 1.0
    Result(done,
      Layers.spanMetrics(spans, counter.snapshot, traced.size, names) +
        ("bench.trace_overhead_frac" -> overhead),
      Layers.coverage(spans, root, names))
  }
}

/** Span dump: one JSON object per line. */
object Spans {
  def write(path: Path, spans: Seq[Tracer.Span]): Unit = {
    val self = Tracer.selfNs(spans)
    val lines = spans.map(s => Json.obj(Seq("id" -> s.id, "name" -> s.name,
      "parent" -> s.parent, "request" -> s.request, "start_ns" -> s.startNs,
      "end_ns" -> s.endNs, "self_ns" -> self(s.id))))
    Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
