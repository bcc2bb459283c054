package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.xes.{XesCorpus, XesReader}

/** Model playout: deterministic, model-conforming, and the
  * discover → simulate → re-discover loop closes on the textbook L1
  * net. */
class SimulateSpec extends SparkSpec {

  import spark.implicits._

  private lazy val l1Net: PetriNet = {
    val events = XesReader.read(spark, s"${XesCorpus.book}/L1.xes")
      .eventsDf
    PetriNet.fromWorkflowNet(Alpha.mine(events, "traceIdx", "activity", "ts", "seq"))
  }

  test("playout traces complete and are accepted by the generating net") {
    val log = Simulate.log(spark, l1Net, nTraces = 100L, seed = 42L)
    val traces = log.as[(Long, Int, String, Boolean)].collect()
      .groupBy(_._1).values.map(_.sortBy(_._2))
    assert(traces.size == 100)
    assert(traces.forall(_.forall(_._4)), "every trace reaches the final marking")
    traces.foreach { t =>
      assert(l1Net.accepts(t.map(_._3).toSeq), t.map(_._3).mkString(">"))
    }
  }

  test("same seed => identical log; different seed => different log") {
    val a = Simulate.log(spark, l1Net, 50L, seed = 7L).collect().toSet
    val b = Simulate.log(spark, l1Net, 50L, seed = 7L).collect().toSet
    val c = Simulate.log(spark, l1Net, 50L, seed = 8L).collect().toSet
    assert(a == b)
    assert(a != c)
  }

  test("re-discovery: alpha on the simulated log recovers the L1 structure") {
    val log = Simulate.log(spark, l1Net, nTraces = 300L, seed = 1L)
      .withColumn("ts", timestamp_micros(col("seq").cast("long")))
    val net = Alpha.mine(log, "case_id", "activity", "ts", "seq")
    assert(net.activities == Set("a", "b", "c", "d", "e"))
    assert(net.startActivities == Set("a"))
    assert(net.endActivities == Set("d"))
    assert(net.places == Set(
      Alpha.Place(Set("a"), Set("b", "e")),
      Alpha.Place(Set("a"), Set("c", "e")),
      Alpha.Place(Set("b", "e"), Set("d")),
      Alpha.Place(Set("c", "e"), Set("d"))))
  }

  test("livelock guard: a net that cannot finish truncates, not hangs") {
    // single place feeding a self-loop transition; final marking never
    // reached.
    val net = PetriNet(
      places = Seq("p"),
      transitions = Seq(PetriNet.Transition("t", Some("x"))),
      arcs = Seq(("p", "t"), ("t", "p")),
      initialMarking = Map("p" -> 1),
      finalMarking = Map("q" -> 1))
    val log = Simulate.log(spark, net, 3L, seed = 5L, maxSteps = 10)
    val rows = log.as[(Long, Int, String, Boolean)].collect()
    assert(rows.nonEmpty && rows.forall(!_._4))
    assert(rows.count(_._2 == 0) == 3) // 3 truncated traces, 10 steps each
  }
}
