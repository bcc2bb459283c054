package graft.flow

import graft.SparkSpec
import graft.ops.{Alpha, ProcessTree}
import graft.xes.XesCorpus

/** The reference's aspirational miner plugins (lib.rs:3-27 scenarios:
  * `Log | InductiveMiner`, `DFGGenerator | HeuristicMiner`,
  * `FootprintGenerator | AlphaMiner`, `TokenReplay`) running for real
  * as flow segments, including a cross-pipe model handoff: pipe 1
  * mines the alpha net from L1 and ships it as an artifact; pipe 2 —
  * gated on that artifact — replays the same log against it.
  */
class MinerSegmentsSpec extends SparkSpec {

  private val l1 = s"${XesCorpus.book}/L1.xes"

  private def spec: String =
    s"""{
       |  "pipes": [
       |    {
       |      "name": "Mine",
       |      "source": {"name": "XesReader", "attributes":
       |        {"path": {"String": "$l1"}}},
       |      "streams": [
       |        {"name": "DFGGenerator", "artifact_sender": ["dfg"]},
       |        {"name": "FootprintGenerator", "artifact_sender": ["footprint"]},
       |        {"name": "AlphaMiner", "artifact_sender": ["model"]},
       |        {"name": "InductiveMiner", "artifact_sender": ["tree"]},
       |        {"name": "HeuristicMiner", "artifact_sender": ["hnet"],
       |         "attributes": {"dependency_threshold": {"Float": 0.5},
       |                        "min_edge_n": {"Int": 1}}}
       |      ],
       |      "sink": {"name": "Void"}
       |    },
       |    {
       |      "name": "Check",
       |      "source": {"name": "XesReader", "attributes":
       |        {"path": {"String": "$l1"}}},
       |      "streams": [
       |        {"name": "TokenReplay", "artifact_receiver": ["model"],
       |         "artifact_sender": ["fitness"]}
       |      ],
       |      "sink": {"name": "Void"}
       |    }
       |  ]
       |}""".stripMargin

  test("miner segments emit real models; cross-pipe replay is perfect on L1") {
    val result = FlowRunner.runJson(spark, spec)

    val dfg = result.artifacts("dfg")
      .asInstanceOf[Seq[(String, String, Long)]]
      .map(e => (e._1, e._2) -> e._3).toMap
    // L1 = [<a,b,c,d>^3, <a,c,b,d>^2, <a,e,d>] — the textbook counts.
    assert(dfg(("a", "b")) == 3L && dfg(("a", "c")) == 2L &&
      dfg(("a", "e")) == 1L && dfg(("e", "d")) == 1L)

    val fp = result.artifacts("footprint")
      .asInstanceOf[Seq[(String, String, String)]]
      .map(e => (e._1, e._2) -> e._3).toMap
    assert(fp(("a", "b")) == "->" && fp(("b", "c")) == "||" &&
      fp(("a", "d")) == "#")

    val net = result.artifacts("model").asInstanceOf[Alpha.WorkflowNet]
    assert(net.startActivities == Set("a") && net.endActivities == Set("d"))

    assert(result.artifacts("tree").isInstanceOf[ProcessTree])

    val hnet = result.artifacts("hnet")
      .asInstanceOf[Seq[(String, String, Long, Double, String)]]
    assert(hnet.nonEmpty && hnet.forall(_._5 != null))

    assert(result.artifacts("fitness").asInstanceOf[Double] == 1.0)
  }

  test("TokenReplay without a model artifact fails loudly") {
    val bad =
      s"""{"pipes": [{
         |  "name": "P",
         |  "source": {"name": "XesReader", "attributes":
         |    {"path": {"String": "$l1"}}},
         |  "streams": [{"name": "TokenReplay", "artifact_sender": ["f"]}],
         |  "sink": {"name": "Void"}
         |}]}""".stripMargin
    assertThrows[IllegalArgumentException](FlowRunner.runJson(spark, bad))
  }
}
