package graft.ops

import graft.SparkSpec
import graft.xes.{XesCorpus, XesReader}

/** Optimal alignments against the textbook L1 model
  * seq(a, xor(and(b,c), e), d) — costs are hand-derivable. */
class AlignmentsSpec extends SparkSpec {

  import ProcessTree._

  private val l1Tree = Sequence(Seq(
    Leaf("a"),
    Xor(Seq(And(Seq(Leaf("b"), Leaf("c"))), Leaf("e"))),
    Leaf("d")))
  private val net = PetriNet.fromTree(l1Tree)

  private def bookEvents(name: String) =
    XesReader.read(spark, s"${XesCorpus.book}/$name.xes").eventsDf

  test("perfectly fitting traces align at cost 0 with all-sync moves") {
    Seq(Vector("a", "b", "c", "d"), Vector("a", "c", "b", "d"),
        Vector("a", "e", "d")).foreach { tr =>
      val al = Alignments.align(net, tr)
      assert(al.cost == 0, tr)
      assert(al.syncMoves == tr.length && al.logMoves == 0 && al.modelMoves == 0)
    }
  }

  test("missing parallel branch costs one model move") {
    val al = Alignments.align(net, Vector("a", "b", "d"))
    assert(al.cost == 1)
    assert(al.modelMoves == 1 && al.logMoves == 0 && al.syncMoves == 3)
  }

  test("extra repeated event costs one log move") {
    val al = Alignments.align(net, Vector("a", "e", "e", "d"))
    assert(al.cost == 1)
    assert(al.logMoves == 1 && al.modelMoves == 0 && al.syncMoves == 3)
  }

  test("empty trace aligns along the cheapest model run (a,e,d)") {
    val al = Alignments.align(net, Vector.empty)
    assert(al.cost == 3)
    assert(al.modelMoves == 3 && al.syncMoves == 0 && al.logMoves == 0)
    assert(Alignments.shortestModelRunCost(net) == 3)
  }

  test("garbage trace: log moves for junk, model moves for the run") {
    val al = Alignments.align(net, Vector("x", "y"))
    assert(al.cost == 5) // 2 log moves + cheapest run a,e,d
    assert(al.logMoves == 2 && al.modelMoves == 3)
  }

  test("L1 log aligns perfectly against its own inductive model") {
    val ev = bookEvents("L1")
    val mined = PetriNet.fromTree(
      Inductive.mine(ev, "traceIdx", "activity", "ts", "seq"))
    val va = Alignments.variantAlignments(spark, ev,
      "traceIdx", "activity", "ts", "seq", mined)
    val rows = va.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.cost == 0), rows.mkString("; "))
    assert(math.abs(Alignments.logFitness(va) - 1.0) < 1e-12)
  }

  test("cross-log alignment: L2 traces pay real costs against the L1 model") {
    val ev = bookEvents("L2")
    val va = Alignments.variantAlignments(spark, ev,
      "traceIdx", "activity", "ts", "seq", net).collect()
    assert(va.exists(_.cost > 0))
    // every fitness is in [0,1] and decreases with cost at fixed length
    assert(va.forall(v => v.fitness >= 0.0 && v.fitness <= 1.0))
    // L2 contains a,b,c,d-style prefixes: at least one variant fits or
    // costs little; the weighted fitness stays strictly positive
    val lf = Alignments.logFitness(
      Alignments.variantAlignments(spark, ev,
        "traceIdx", "activity", "ts", "seq", net))
    assert(lf > 0.0 && lf < 1.0)
  }

  test("alignment fitness upper-bounds are consistent with replay on a fitting log") {
    // both conformance checkers agree on a perfectly fitting log
    val ev = bookEvents("L1")
    val wf = Alpha.mine(ev, "traceIdx", "activity", "ts", "seq")
    val tr = Replay.variantFitness(spark, ev, "traceIdx", "activity", "ts",
      "seq", wf)
    assert(math.abs(Replay.logFitness(tr) - 1.0) < 1e-12)
    val mined = PetriNet.fromWorkflowNet(wf)
    val va = Alignments.variantAlignments(spark, ev,
      "traceIdx", "activity", "ts", "seq", mined)
    assert(math.abs(Alignments.logFitness(va) - 1.0) < 1e-12)
  }
}
