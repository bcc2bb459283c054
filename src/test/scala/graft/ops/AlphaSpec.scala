package graft.ops

import graft.SparkSpec
import graft.xes.{XesCorpus, XesReader}

/** Alpha miner against the textbook oracle: L1 is the worked example
  * of the process-mining book the corpus comes from; its discovered
  * WF-net is known in closed form. */
class AlphaSpec extends SparkSpec {

  test("alpha miner discovers the textbook net for L1") {
    val events = XesReader.read(spark, s"${XesCorpus.book}/L1.xes")
      .eventsDf
    val net = Alpha.mine(events, "traceIdx", "activity", "ts", "seq")

    assert(net.activities == Set("a", "b", "c", "d", "e"))
    assert(net.startActivities == Set("a"))
    assert(net.endActivities == Set("d"))
    assert(net.places == Set(
      Alpha.Place(Set("a"), Set("b", "e")),
      Alpha.Place(Set("a"), Set("c", "e")),
      Alpha.Place(Set("b", "e"), Set("d")),
      Alpha.Place(Set("c", "e"), Set("d"))))
  }

  test("token replay: L1 fits its own alpha net perfectly; a corrupted trace does not") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val events = XesReader.read(spark, s"${XesCorpus.book}/L1.xes")
      .eventsDf
    val net = Alpha.mine(events, "traceIdx", "activity", "ts", "seq")

    val fit = Replay.variantFitness(spark, events,
      "traceIdx", "activity", "ts", "seq", net)
    val rows = fit.collect()
    assert(rows.nonEmpty && rows.forall(v =>
      v.fitness == 1.0 && v.missing == 0L && v.remaining == 0L))
    assert(Replay.logFitness(fit) == 1.0)
    assert(rows.map(_.nCases).sum == 6L) // all L1 traces accounted for

    // corrupt: a trace that skips the start activity and ends early
    val broken = Seq((99L, "b", 1L), (99L, "c", 2L))
      .toDF("traceIdx", "activity", "t")
      .withColumn("ts", timestamp_micros(col("t"))).drop("t")
    val bf = Replay.variantFitness(spark,
      events.select("traceIdx", "activity", "ts", "seq")
        .unionByName(broken.withColumn("seq", col("traceIdx"))),
      "traceIdx", "activity", "ts", "seq", net)
    val logF = Replay.logFitness(bf)
    assert(logF < 1.0 && logF > 0.5, s"got $logF")
    assert(bf.collect().exists(v => v.missing > 0 && v.fitness < 1.0))
  }

  test("alpha miner on a pure sequence gives a chain") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val events = Seq(
      (1L, "x", 1L), (1L, "y", 2L), (1L, "z", 3L),
      (2L, "x", 4L), (2L, "y", 5L), (2L, "z", 6L)
    ).toDF("case", "act", "t").withColumn("ts", timestamp_micros(col("t")))
    val net = Alpha.mine(events, "case", "act", "ts", "t")
    assert(net.places == Set(
      Alpha.Place(Set("x"), Set("y")),
      Alpha.Place(Set("y"), Set("z"))))
    assert(net.startActivities == Set("x") && net.endActivities == Set("z"))
  }
}
