package graft.queries

import java.util.concurrent.TimeoutException

import scala.concurrent.duration._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The shared gate lifecycle: the result equals the batch computation,
  * and every run — passing, failing in `result`, failing on a late
  * row — leaves no active stream, no sink view, the session confs as
  * they were and no checkpoint or feed dir behind. A sink that
  * outlasts the wait bound fails with its progress and is stopped. */
class ParityGateSpec extends SparkSpec {

  import spark.implicits._

  private val Day = 86400L * 1000000L

  private def srcDf(n: Int) =
    (1 to n).map(i => (i.toLong, s"k${i % 3}", i * 60L * 1000000L))
      .toDF("id", "label", "tsMicros")

  private val confKeys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.streaming.checkpointLocation")

  private def confs = confKeys.map(spark.conf.getOption)

  private def flushAt(days: Long)(feed: ParityFeed.FileFeed, maxTs: Long): Unit =
    ParityFeed.sentinel(spark, feed, -days, "_s", maxTs + days * Day)

  /** Runs one gate over a fresh feed of `srcDf(200)`: per-(hour,
    * label) counts, flushed by far-future sentinels. Returns the
    * outcome, the checkpoint dir the gate ran with and the feed dir. */
  private def runGate(
      flushes: Seq[(ParityFeed.FileFeed, Long) => Unit] = Seq(flushAt(2)),
      result: DataFrame => DataFrame = _.filter(col("label") =!= "_s"))
      : (Either[Throwable, DataFrame], String, String) = {
    var ckpt = ""
    var dir = ""
    val out = scala.util.Try(ParityFeed.withFeed(spark, srcDf(200)) { (feed, maxTs) =>
      dir = feed.dir
      flushAt(1)(feed, maxTs)
      ParityGate.collect(spark, "gate_spec") {
        ckpt = spark.conf.get("spark.sql.streaming.checkpointLocation")
        ParityFeed.stream(spark, feed)
          .withColumn("ts", timestamp_micros(col("tsMicros")))
          .withWatermark("ts", "10 seconds")
          .groupBy(window(col("ts"), "1 hour").as("w"), col("label"))
          .agg(count(lit(1)).as("n"))
          .select(col("w.start").as("w_start"), col("label"), col("n"))
      }(flushes.map(f => () => f(feed, maxTs)): _*)(result)
    }).toEither
    (out, ckpt, dir)
  }

  private def assertCleanAfter(before: Seq[Option[String]], ckpt: String,
      dir: String): Unit = {
    assert(spark.streams.active.isEmpty, "a stream outlived its gate")
    assert(!spark.catalog.listTables().collect().exists(_.name.startsWith("gate_spec")),
      "the sink's temp view leaked")
    assert(confs == before, "session confs not restored")
    assert(ckpt.nonEmpty && !new java.io.File(ckpt).exists(), s"checkpoint dir $ckpt survived")
    assert(dir.nonEmpty && !new java.io.File(dir).exists(), s"feed dir $dir survived")
  }

  test("the gate's result equals the batch computation; nothing is left behind") {
    val before = confs
    val (out, ckpt, dir) = runGate()
    val got = out.fold(e => fail(e), identity)
    val want = srcDf(200)
      .groupBy(window(timestamp_micros(col("tsMicros")), "1 hour").as("w"), col("label"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("label"), col("n"))
    assert(got.collect().toSet == want.collect().toSet)
    assert(got.count() == 12L) // 200 minutes: hours 0..3 × 3 labels
    assertCleanAfter(before, ckpt, dir)
  }

  test("a throwing result still stops the query and drops the sink view") {
    val before = confs
    val (out, ckpt, dir) = runGate(result = _ => sys.error("result failed"))
    assert(out.left.toOption.map(_.getMessage).contains("result failed"))
    assertCleanAfter(before, ckpt, dir)
  }

  test("a planted late row fails the gate through LateDrops") {
    val before = confs
    // a row from the data's own time, appended after the second
    // sentinel: Spark judges lateness by the watermark of the batch
    // before, which by then sits a day past the data
    val (out, ckpt, dir) = runGate(flushes = Seq(flushAt(2),
      (feed, _) => ParityFeed.sentinel(spark, feed, 7L, "late", 60L * 1000000L)))
    val e = out.left.toOption.getOrElse(fail("the late row passed"))
    assert(e.isInstanceOf[IllegalArgumentException])
    assert(e.getMessage.contains("dropped at the watermark"), e.getMessage)
    assertCleanAfter(before, ckpt, dir)
  }

  test("a sink that outlasts the wait bound fails with its progress and is stopped") {
    val slow = udf { (label: String) =>
      if (label == "slow") Thread.sleep(30000L)
      label
    }
    ParityFeed.withFeed(spark, srcDf(10)) { (feed, maxTs) =>
      val q = ParityFeed.stream(spark, feed)
        .select(slow(col("label")).as("label"))
        .writeStream.format("noop").start()
      try {
        ParityGate.await(q, "slow_gate", 60.seconds) // the data batch
        ParityFeed.sentinel(spark, feed, 1L, "slow", maxTs + Day)
        val t0 = System.nanoTime()
        val e = intercept[TimeoutException](
          ParityGate.await(q, "slow_gate", 500.millis))
        assert(e.getMessage.startsWith("slow_gate:"), e.getMessage)
        assert(e.getMessage.contains("\"batchId\" : 0"), e.getMessage)
        assert(!q.isActive, "the timed-out query is still running")
        assert((System.nanoTime() - t0) / 1e9 < 25.0,
          "stop() waited for the slow batch instead of cancelling it")
      } finally q.stop()
    }
  }
}
