package graft.ops

import graft.SparkSpec
import graft.xes.{XesCorpus, XesReader}

/** Escaping-edges precision: hand-computed toy cases + the textbook
  * contrast (fitted model ≈ precise, flower model ≈ imprecise). */
class PrecisionSpec extends SparkSpec {

  import ProcessTree._
  import spark.implicits._

  private def bookEvents(name: String) =
    XesReader.read(spark, s"${XesCorpus.book}/$name.xes").eventsDf

  private def toyLog(variants: (Seq[String], Int)*) = {
    val rows = for {
      ((v, n), vi) <- variants.zipWithIndex
      c <- 0 until n
      (a, i) <- v.zipWithIndex
    } yield (s"c${vi}_$c", a, new java.sql.Timestamp(i * 1000L), i.toLong)
    rows.toDF("case_id", "activity", "ts", "seq")
  }

  test("enabledAfter handles tau-closure through xor/and routing") {
    val net = PetriNet.fromTree(Sequence(Seq(
      Leaf("a"),
      Xor(Seq(And(Seq(Leaf("b"), Leaf("c"))), Leaf("e"))),
      Leaf("d"))))
    assert(Precision.enabledAfter(net, Nil) == Set("a"))
    assert(Precision.enabledAfter(net, Seq("a")) == Set("b", "c", "e"))
    assert(Precision.enabledAfter(net, Seq("a", "b")) == Set("c"))
    assert(Precision.enabledAfter(net, Seq("a", "e")) == Set("d"))
    assert(Precision.enabledAfter(net, Seq("a", "e", "d")) == Set.empty[String])
    // unreplayable prefix
    assert(Precision.enabledAfter(net, Seq("d")) == Set.empty[String])
  }

  test("a model matching the log exactly has precision 1") {
    val net = PetriNet.fromTree(Sequence(Seq(Leaf("a"), Leaf("b"))))
    val t = Precision.prefixTable(spark, toyLog(Seq("a", "b") -> 3),
      "case_id", "activity", "ts", "seq", net)
    assert(math.abs(Precision.precision(t) - 1.0) < 1e-12)
  }

  test("hand-computed escaping edges on a flower model") {
    // flower over {a,b}: after every prefix both a and b are enabled.
    // log = 'a,b' ×1: prefixes [] (en_L={a}) and [a] (en_L={b}),
    // each |en_M|=2, escaping 1 → precision = 1 - 2/4 = 0.5
    val flower = PetriNet.fromTree(Loop(Seq(Tau, Leaf("a"), Leaf("b"))))
    val t = Precision.prefixTable(spark, toyLog(Seq("a", "b") -> 1),
      "case_id", "activity", "ts", "seq", flower)
    assert(math.abs(Precision.precision(t) - 0.5) < 1e-12)
  }

  test("weights: frequent prefixes dominate the score") {
    // same flower; log = 'a' ×9 and 'a,b' ×1.
    // prefix []: w=10, enM=2, esc=1; prefix [a]: w=1, enM=2, esc=1
    // precision = 1 - (10+1)/(20+2) = 0.5
    // (uniform here; the point is the aggregation is w-weighted)
    val flower = PetriNet.fromTree(Loop(Seq(Tau, Leaf("a"), Leaf("b"))))
    val t = Precision.prefixTable(spark,
      toyLog(Seq("a") -> 9, Seq("a", "b") -> 1),
      "case_id", "activity", "ts", "seq", flower)
    assert(math.abs(Precision.precision(t) - 0.5) < 1e-12)
  }

  test("textbook contrast: L1's own model is precise, the flower is not") {
    val ev = bookEvents("L1")
    val mined = PetriNet.fromTree(
      Inductive.mine(ev, "traceIdx", "activity", "ts", "seq"))
    val pMined = Precision.precision(Precision.prefixTable(
      spark, ev, "traceIdx", "activity", "ts", "seq", mined))
    val acts = Seq("a", "b", "c", "d", "e")
    val flower = PetriNet.fromTree(Loop(Tau +: acts.map(Leaf(_))))
    val pFlower = Precision.precision(Precision.prefixTable(
      spark, ev, "traceIdx", "activity", "ts", "seq", flower))
    assert(pMined > 0.9, s"mined: $pMined")
    assert(pFlower < 0.5, s"flower: $pFlower")
    assert(pMined > pFlower)
  }
}
