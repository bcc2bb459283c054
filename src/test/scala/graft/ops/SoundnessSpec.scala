package graft.ops

import graft.SparkSpec
import graft.xes.{XesCorpus, XesReader}

/** WF-net soundness checking: the textbook L1 net is sound; each
  * soundness violation is detected individually. */
class SoundnessSpec extends SparkSpec {

  private def t(id: String, l: String) = PetriNet.Transition(id, Some(l))

  test("alpha-mined L1 net is classically sound") {
    val events = XesReader.read(spark, s"${XesCorpus.book}/L1.xes")
      .eventsDf
    val net = PetriNet.fromWorkflowNet(
      Alpha.mine(events, "traceIdx", "activity", "ts", "seq"))
    val s = net.soundness()
    assert(s.sound, s.toString)
  }

  test("inductive-miner trees compile to sound nets") {
    val events = XesReader.read(spark, s"${XesCorpus.book}/L1.xes")
      .eventsDf
    val tree = Inductive.mine(events, "traceIdx", "activity", "ts", "seq")
    val s = PetriNet.fromTree(tree).soundness()
    assert(s.sound, s.toString)
  }

  test("dead transition detected") {
    val net = PetriNet(
      places = Seq("i", "o", "x"),
      transitions = Seq(t("t1", "a"), t("t2", "b")),
      arcs = Seq(("i", "t1"), ("t1", "o"), ("x", "t2"), ("t2", "o")),
      initialMarking = Map("i" -> 1),
      finalMarking = Map("o" -> 1))
    val s = net.soundness()
    assert(s.deadTransitions == Set("t2") && !s.sound)
    assert(s.optionToComplete && s.properCompletion)
  }

  test("improper completion detected (token left behind)") {
    // t1 produces into o AND x: reaching o leaves a stray token.
    val net = PetriNet(
      places = Seq("i", "o", "x"),
      transitions = Seq(t("t1", "a")),
      arcs = Seq(("i", "t1"), ("t1", "o"), ("t1", "x")),
      initialMarking = Map("i" -> 1),
      finalMarking = Map("o" -> 1))
    val s = net.soundness()
    assert(!s.properCompletion && !s.sound)
  }

  test("deadlock (no option to complete) detected") {
    // choice into a trap: t2 moves the token where nothing fires.
    val net = PetriNet(
      places = Seq("i", "o", "trap"),
      transitions = Seq(t("t1", "a"), t("t2", "b")),
      arcs = Seq(("i", "t1"), ("t1", "o"), ("i", "t2"), ("t2", "trap")),
      initialMarking = Map("i" -> 1),
      finalMarking = Map("o" -> 1))
    val s = net.soundness()
    assert(!s.optionToComplete && !s.sound)
    assert(s.properCompletion && s.deadTransitions.isEmpty)
  }

  test("unbounded net reported as not bounded, not an infinite loop") {
    // t1 pumps tokens: i -> t1 -> {i, o} grows o without bound.
    val net = PetriNet(
      places = Seq("i", "o"),
      transitions = Seq(t("t1", "a")),
      arcs = Seq(("i", "t1"), ("t1", "i"), ("t1", "o")),
      initialMarking = Map("i" -> 1),
      finalMarking = Map("o" -> 1))
    val s = net.soundness(maxStates = 500)
    assert(!s.bounded && !s.sound)
  }
}
