package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What one workload run hands back to [[Main]]. `latencies` are in
  * seconds; `layers` are the per-layer metrics of a traced run;
  * `notes` land in the artifact only. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    throughputPerS: Double,
    latencies: Seq[Double],
    layers: Map[String, Double],
    notes: Seq[(String, Any)])

trait Workload {
  /** Writes the seeded inputs under `dir`; runs before the timed region. */
  def prepare(spark: SparkSession, seed: Long, dir: Path): Unit
  /** Measures for about `seconds` seconds and checks every output. */
  def run(spark: SparkSession, seconds: Double, trace: Boolean, dir: Path): Outcome
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --out <dir>`. Prints every metric by name with its unit, then one
  * JSON result line, and writes the same JSON (plus spans in a traced
  * run) under `--out`. */
object Main {

  /** Workload constructors, given the run's seconds. */
  val Workloads: Map[String, Double => Workload] = Map(
    "log_mining" -> (_ => new LogMining),
    "corpus_dedup" -> (_ => new CorpusDedup),
    "stream_monitor" -> (seconds => new StreamMonitor(seconds)))

  /** Set-up repetitions; `setup_s` is their median. Only the first is
    * cold (class loading, extension registration); the median is a
    * re-creation after `stop()` in the same JVM. The cold one is
    * printed as `note setup_cold_s`. */
  val SetupReps = 5

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val out = Paths.get(opts("out"))
    val workload = Workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload '$name'"))(seconds)
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(out)

    // set-up: session plus the first trivial job, repeated; the last
    // session stays up for the workload
    val setups = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      val s = GraftSession.get(cores.toString)
      s.range(1).count()
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < SetupReps) s.stop()
      dt
    }
    val spark = GraftSession.get(cores.toString)
    GraftSession.quietWindowWarnings()

    val g0 = System.nanoTime()
    workload.prepare(spark, seed, out.resolve("input"))
    val genS = (System.nanoTime() - g0) / 1e9

    val o = workload.run(spark, seconds, trace, out)
    spark.stop()

    val failedFrac = o.failed.toDouble / math.max(1L, o.attempted)
    val lat = o.latencies.sorted
    val (tailLevel, tailValue, beyond) = Stats.tail(lat)
    val endToEnd = Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("throughput_per_s", o.throughputPerS, "1/s"),
      ("latency_p50_s", Stats.median(lat), "s"),
      ("latency_tail_s", tailValue, "s"),
      ("ok_frac", 1.0 - failedFrac, "frac"))
    val peakRss = Stats.peakRssMb()
    val peakHeap = Stats.peakHeapMb()
    val metrics =
      if (trace) Layers.complete(o.layers ++ Map("peak_rss_mb" -> peakRss, "peak_heap_mb" -> peakHeap))
      else endToEnd
    val correct = o.failed == 0L

    val notes = Seq[(String, Any)](
      "workload" -> name, "seed" -> seed, "cores" -> cores, "trace" -> trace,
      "seconds" -> seconds, "gen_s" -> genS, "setup_cold_s" -> setups.head,
      "setup_runs_s" -> setups, "peak_rss_mb" -> peakRss, "peak_heap_mb" -> peakHeap,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "failed_frac" -> failedFrac, "latency_samples" -> lat.size,
      "latency_tail_percentile" -> tailLevel, "latency_tail_beyond" -> beyond) ++
      o.notes
    metrics.foreach { case (k, v, u) => println(f"metric $k%-44s $v%.6f $u") }
    notes.foreach { case (k, v) => println(s"note $k ${Json.value(v)}") }
    println(s"correct $correct attempted ${o.attempted} failed ${o.failed}")

    val result = Json.obj(Seq(
      "correct" -> correct,
      "attempted" -> o.attempted,
      "failed" -> o.failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.Raw(Json.obj(Seq("value" -> v, "unit" -> u)))
      }))))
    Files.writeString(out.resolve("result.json"),
      Json.obj(Seq("result" -> Json.Raw(result), "notes" -> Json.Raw(Json.obj(notes)))) + "\n")
    println(result)
  }
}

/** A closed loop with one client over a fixed schedule of `cycle`
  * steps: runs steps 0 until `cycle` - 1, then again, until `seconds`
  * are up, and always completes the cycle it is in. At least one cycle
  * runs. The seconds decide only how many whole cycles run, so every
  * run measures the same mix of requests however fast the engine is. */
object ClosedLoop {
  def apply[T](seconds: Double, cycle: Int)(step: Int => Seq[T]): Seq[T] = {
    val done = Seq.newBuilder[T]
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    do {
      (0 until cycle).foreach(i => done ++= step(i))
    } while (System.nanoTime() < deadline)
    done.result()
  }
}

/** Correctness checks of one operation: how many ran, which failed. */
final class Checks {
  private val misses = scala.collection.mutable.ArrayBuffer.empty[String]
  var count = 0L
  def apply(ok: Boolean, what: => String): Unit = {
    count += 1
    if (!ok) misses += what
  }
  def failures: Seq[String] = misses.toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it: the
    * eleventh-largest sample, as (percentile, value, samples beyond).
    * With fewer than eleven samples the sample does not support a
    * tail; the maximum is reported with zero samples beyond. */
  def tail(sorted: Seq[Double]): (Double, Double, Int) = {
    val n = sorted.size
    if (n == 0) (Double.NaN, Double.NaN, 0)
    else if (n < 11) (100.0, sorted.last, 0)
    else (100.0 * (n - 10) / n, sorted(n - 11), 10)
  }

  /** Sum of the peak use of every heap memory pool since the JVM
    * started, in MB: the heap's share of [[peakRssMb]], without the
    * memory the collector keeps committed. */
  def peakHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** Peak resident set of this process (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Minimal JSON rendering for the result line and artifacts. */
object Json {
  final case class Raw(s: String)

  def value(v: Any): String = v match {
    case Raw(s) => s
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b @ (_: Boolean | _: Int | _: Long) => b.toString
    case s: String => quote(s)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case x => quote(String.valueOf(x))
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}")

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
