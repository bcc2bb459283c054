package graft.queries

import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.streaming.LateDrops

/** The lifecycle every batch↔stream parity gate shares, in one place.
  *
  * A gate stages its feed with [[ParityFeed]] (own, shared or doubled)
  * and, inside that feed bracket, calls [[collect]] with the streaming
  * frame to run, the flushes that fire its event-time timers (usually
  * far-future sentinel slices), and the post-sink `result` transform.
  * [[collect]] then owns the rest:
  *  - the stream-parallelism scope ([[ParityFeed.withStreamParallelism]]
  *    at [[StreamPartitions]]), so the stateful shuffle, the pass-2
  *    replay jobs inside `result` and the result collect all run at
  *    the gates' one partition count;
  *  - a memory sink under a fresh query name;
  *  - one bounded wait ([[await]]) before each flush and one after the
  *    last, so a stuck sink fails the gate instead of hanging the run;
  *  - `stop()`, the [[LateDrops]] zero check, and the collect of
  *    `result(sink table)` into a local frame — local, so nothing lazy
  *    escapes the caller's feed bracket, whose cleanup deletes the
  *    gate's sentinel slices;
  *  - dropping the sink's temp view, also when a wait, the late-drop
  *    check or `result` throws.
  */
private[graft] object ParityGate {

  /** Shuffle partitions of every gate's stateful operator. */
  val StreamPartitions = 8

  /** Bound on each wait for the sink to catch up. The slowest gate
    * took 24.4 s at ×10 scale (`q_stream_hh_sketch_parity`,
    * bench_scale_all_r16.json); only a hung query comes near this. */
  val WaitBound: FiniteDuration = 600.seconds

  /** Memory-sink names stay unique across repeated runs in one JVM. */
  private val run = new AtomicInteger(0)

  def collect(s: SparkSession, tag: String,
      mode: OutputMode = OutputMode.Append())(query: => Dataset[_])(
      flushes: (() => Unit)*)(result: DataFrame => DataFrame): DataFrame =
    ParityFeed.withStreamParallelism(s, StreamPartitions) {
      val name = s"${tag}_${run.incrementAndGet()}"
      val q = query.writeStream.format("memory").queryName(name)
        .outputMode(mode).start()
      try {
        try {
          flushes.foreach { flush => await(q, name, WaitBound); flush() }
          await(q, name, WaitBound)
        } finally q.stop()
        LateDrops.assertNone(q, name)
        val res = result(s.table(name))
        val rows = res.collect()
        s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
      } finally s.catalog.dropTempView(name)
    }

  /** `q.processAllAvailable()` with a bound: Spark's own wait has
    * none. The wait runs on a helper thread; past `bound` the query is
    * stopped and the call throws with its exception and last progress.
    * A failure of the query itself surfaces as before, as the
    * exception `processAllAvailable` threw. */
  private[queries] def await(q: StreamingQuery, tag: String,
      bound: FiniteDuration): Unit = {
    val failed = new AtomicReference[Throwable]()
    val waiter = new Thread(() =>
      try q.processAllAvailable()
      catch { case e: Throwable => failed.set(e) }, s"$tag-await")
    waiter.setDaemon(true)
    waiter.start()
    waiter.join(bound.toMillis)
    if (waiter.isAlive) {
      q.stop()
      throw new TimeoutException(
        s"$tag: the stream did not catch up within $bound and was stopped; " +
          s"exception: ${q.exception.map(_.getMessage).getOrElse("none")}; " +
          s"lastProgress: ${q.lastProgress}")
    }
    Option(failed.get).foreach(e => throw e)
  }
}
