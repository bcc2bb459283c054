package graft.ops

import graft.SparkSpec
import graft.xes.{XesCorpus, XesReader}

/** PNML round trip + WF-net export: nets mined here must serialize to
  * the ecosystem interchange format and come back semantically
  * identical (acceptance-equivalent, not just structurally). */
class PnmlSpec extends SparkSpec {

  test("tree-compiled net round-trips through PNML byte-identically in structure") {
    val tree = ProcessTree.Sequence(Seq(
      ProcessTree.Leaf("a"),
      ProcessTree.Xor(Seq(
        ProcessTree.And(Seq(ProcessTree.Leaf("b"), ProcessTree.Leaf("c"))),
        ProcessTree.Leaf("e"))),
      ProcessTree.Leaf("d")))
    val net = PetriNet.fromTree(tree)
    val rt = Pnml.parse(Pnml.write(net))
    assert(rt.places.toSet == net.places.toSet)
    assert(rt.transitions.toSet == net.transitions.toSet)   // τ labels preserved as None
    assert(rt.arcs.toSet == net.arcs.toSet)
    assert(rt.initialMarking == net.initialMarking)
    assert(rt.finalMarking == net.finalMarking)
    // acceptance equivalence after the round trip
    Seq(Seq("a", "b", "c", "d"), Seq("a", "c", "b", "d"), Seq("a", "e", "d"))
      .foreach(v => assert(rt.accepts(v)))
    assert(!rt.accepts(Seq("a", "d")))
  }

  test("alpha WF-net exports to PNML and the explicit net replays L1") {
    val events = XesReader.read(spark, s"${XesCorpus.book}/L1.xes")
      .eventsDf
    val wf = Alpha.mine(events, "traceIdx", "activity", "ts", "seq")
    val net = PetriNet.fromWorkflowNet(wf)
    // the explicit net and Replay agree: all L1 variants accepted
    Seq(Seq("a", "b", "c", "d"), Seq("a", "c", "b", "d"), Seq("a", "e", "d"))
      .foreach(v => assert(net.accepts(v), v.mkString(",")))
    assert(!net.accepts(Seq("a", "b", "d")))
    val xml = Pnml.write(net, "alpha_l1")
    assert(xml.contains("""<net id="alpha_l1""""))
    val rt = Pnml.parse(xml)
    assert(rt.transitions.count(_.label.isDefined) == 5)  // a..e labeled
    assert(rt.accepts(Seq("a", "e", "d")))
  }

  test("xml escaping survives hostile labels") {
    val net = PetriNet(
      places = Seq("p1", "p2"),
      transitions = Seq(PetriNet.Transition("t1", Some("""a<&>"weird"""))),
      arcs = Seq("p1" -> "t1", "t1" -> "p2"),
      initialMarking = Map("p1" -> 1), finalMarking = Map("p2" -> 1))
    val rt = Pnml.parse(Pnml.write(net))
    assert(rt.transitions.head.label.contains("""a<&>"weird"""))
  }
}
