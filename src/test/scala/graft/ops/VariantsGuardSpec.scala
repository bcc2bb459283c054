package graft.ops

import graft.{JobProbe, SparkSpec}
import graft.flow.FlowRunner
import graft.xes.XesCorpus

/** Action and lifetime guards of the [[Variants]] table: one frame's
  * miners, replay and clustering share one table action, the memo
  * dies with the cache entry, and a flow releases the tables its miner
  * segments cached. */
class VariantsGuardSpec extends SparkSpec {
  import spark.implicits._

  // 7 cases, 4 variants: <a,b,c,d>x3, <a,c,b,d>x2, <a,e,d>, <a,d>
  private val ev = Seq(
    1L -> "abcd", 2L -> "abcd", 3L -> "acbd", 4L -> "abcd", 5L -> "acbd",
    6L -> "aed", 7L -> "ad"
  ).flatMap { case (c, t) => t.zipWithIndex.map { case (a, i) => (c, a.toString, i / 2, i) } }
    .toDF("traceIdx", "activity", "tsMicros", "seq")

  /** The log_mining operator sequence past the filter. */
  private def request() = {
    val edges = Dfg.edges(ev, "traceIdx", "activity", "tsMicros", "seq").collect().toSet
    val tree = Inductive.mine(ev, "traceIdx", "activity", "tsMicros", "seq")
    val net = Alpha.mine(ev, "traceIdx", "activity", "tsMicros", "seq")
    val fitness = Replay.logFitness(Replay.variantFitness(spark, ev,
      "traceIdx", "activity", "tsMicros", "seq", net))
    val clusters = TraceCluster.clusterVariants(ev, "traceIdx", "activity",
      "tsMicros", "seq", maxDist = 2).collect().toSet
    (edges, tree, net, fitness, clusters)
  }

  private def cold(): Unit =
    Variants.frame(ev, "traceIdx", "activity", "tsMicros", "seq").unpersist()

  test("DFG, inductive, alpha + replay and clustering on one frame run two actions") {
    cold()
    val c = JobProbe(spark)(request())
    // the Dfg.edges pass and the variant table's one action
    assert(c.actions <= 2, c)
    assert(c.jobs <= 7, c)
    cold()
  }

  test("after clearCache the same frame recomputes with one new action and equal results") {
    cold()
    val first = request()
    var warm: Any = null
    val memo = JobProbe(spark) { warm = request() }
    assert(memo.actions == 1, memo) // only Dfg.edges: the table is memoized
    spark.catalog.clearCache()
    var again: Any = null
    val c = JobProbe(spark) { again = request() }
    assert(c.actions == 2, c) // Dfg.edges and one new table action
    assert(warm == first && again == first)
    cold()
  }

  test("FlowResult.unpersist releases the variant tables of AlphaMiner and TokenReplay") {
    spark.catalog.clearCache()
    val l1 = s"${XesCorpus.book}/L1.xes"
    def pipe(name: String, seg: String) =
      s"""{"name": "$name", "source": {"name": "XesReader", "attributes":
         |  {"path": {"String": "$l1"}}}, "streams": [$seg], "sink": {"name": "Void"}}"""
        .stripMargin
    val result = FlowRunner.runJson(spark, s"""{"pipes": [
      |${pipe("Mine", """{"name": "AlphaMiner", "artifact_sender": ["net"]}""")},
      |${pipe("Check", """{"name": "TokenReplay", "artifact_receiver": ["net"],
      |  "artifact_sender": ["fitness"]}""")}]}""".stripMargin)
    assert(result.artifacts("fitness") == 1.0)
    val tables = result.cached.filter(_.columns.sameElements(Seq("seq", "n_cases", "rep_case")))
    assert(tables.size == 2 && tables.forall(_.storageLevel.useMemory))
    result.unpersist()
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
