package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics

import graft.flow.FlowRunner
import graft.ops.{Alpha, Dfg, Inductive, Replay, TraceCluster}
import graft.xes.{XesParser, XesReader, XesWriter}

/** The compiled-class cache holds a whole request's working set
  * ([[GraftSession.CodegenCacheEntries]]): running the same request
  * twice compiles nothing the second time, and the request parses its
  * log once per handle. With Spark's default 100 entries the second
  * run recompiled every class again. */
class CompileTaxSpec extends SparkSpec {

  private val fixture = Paths.get("fixtures/lifecycle.xes").toAbsolutePath.toString
  private val out = Files.createTempDirectory("compile-tax").toString

  private val flowJson =
    s"""{"pipes": [
       |  {"name": "Train",
       |   "source": {"name": "XesReader", "attributes": {"path": {"String": "$fixture"}}},
       |   "streams": [
       |     {"name": "Repair"}, {"name": "Validator"},
       |     {"name": "Statistics", "artifact_sender": ["raw_stats"]},
       |     {"name": "Sample", "attributes": {"ratio": {"Float": 0.9}, "seed": {"Int": 0}}},
       |     {"name": "Split", "attributes": {"ratio": {"Float": 0.5}, "seed": {"Int": 0}},
       |      "stream_sender": ["test"]},
       |     {"name": "Statistics", "artifact_sender": ["train_stats"]}],
       |   "sink": {"name": "XesWriter", "attributes": {"path": {"String": "$out/train.xes"}}}},
       |  {"name": "Test",
       |   "source": {"name": "Receiver", "stream_receiver": ["test"]},
       |   "streams": [{"name": "Statistics", "artifact_sender": ["test_stats"]}],
       |   "sink": {"name": "XesWriter", "attributes": {"path": {"String": "$out/test.xes"}}}}
       |]}""".stripMargin

  /** One request: the flow, then mining and a render over a direct read. */
  private def request(): Unit = {
    val flow = FlowRunner.runJson(spark, flowJson)
    val log = XesReader.read(spark, fixture)
    try {
      val ev = log.eventsDf
      val (c, a, t, s) = ("traceIdx", "activity", "tsMicros", "seq")
      assert(flow.artifacts("raw_stats").asInstanceOf[FlowRunner.Statistics]
        .counts === Seq(3L, 15L, 15L))
      assert(Dfg.edges(ev, c, a, t, s).collect().nonEmpty)
      assert(Inductive.mine(ev, c, a, t, s) != null)
      val net = Alpha.mine(ev, c, a, t, s)
      val fitness = Replay.logFitness(Replay.variantFitness(spark, ev, c, a, t, s, net))
      assert(fitness > 0.0 && fitness <= 1.0)
      assert(TraceCluster.clusterVariants(ev, c, a, t, s, 2).collect().nonEmpty)
      assert(XesWriter.toXmlStrings(spark, log).collect().length === 1)
    } finally {
      flow.unpersist()
      log.unpersist()
    }
  }

  test("a repeated request compiles no new classes and parses once per handle") {
    request()
    val parses = new java.util.concurrent.atomic.AtomicInteger
    XesParser.parseHook = f => if (f == "lifecycle.xes") parses.incrementAndGet()
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try request() finally XesParser.parseHook = _ => ()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiled === 0L, s"the second request compiled $compiled classes")
    // one parse for the flow's handle, one for the direct read
    assert(parses.get === 2)
  }
}
