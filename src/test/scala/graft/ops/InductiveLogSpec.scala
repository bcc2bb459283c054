package graft.ops

import graft.SparkSpec
import graft.xes.{XesCorpus, XesReader}

/** Full inductive miner (log splitting) — closed-form trees derived
  * by hand, the contrast with IMd on behavior only log splitting can
  * see, and the perfect-fitness theorem as a randomized property.
  *
  * Hand derivations used by the oracle of q_inductive_log_trees:
  *
  * skip_middle = [<a,b,c>^2, <a,c>]: DFG a→b, b→c, a→c; seq cut
  * ({a},{b},{c}) (reachability is a total order — the bypass edge
  * a→c respects it). The {b} sublog is [<b>,<b>,ε] — 3 expected
  * traces, 2 observed — so the strip-empties fall-through emits
  * xor(tau, b). Full tree seq(a,xor(b,tau),c). IMd sees no emptiness
  * in the DFG and mines seq(a,b,c), which rejects <a,c>.
  *
  * optional_branch = [<a,b,c,d>, <a,c,b,d>, <a,c,d>]: seq cut
  * ({a},{b,c},{d}); the middle sublog [<b,c>,<c,b>,<c>] and-cuts into
  * ({b},{c}) (both directions of b↔c exist); the b-projection is
  * [<b>,<b>,ε] → xor(b,tau); the c-projection [<c>^3] → c. Tree
  * seq(a,and(c,xor(b,tau)),d) — IMd mines and(b,c), rejecting
  * <a,c,d>.
  *
  * tail_repeat = [<a,b>, <a,b,b>]: seq cut ({a},{b}); the {b} sublog
  * has a 2-occurrence trace → single-activity base case loop(b,tau).
  *
  * body_redo = [<a,b,a>, <a>]: loop cut body {a} redo {b}; body
  * segments [<a>,<a>,<a>], redo [<b>] → loop(a,b).
  */
class InductiveLogSpec extends SparkSpec {

  import spark.implicits._

  private def bookEvents(name: String) =
    XesReader.read(spark, s"${XesCorpus.book}/$name.xes").eventsDf

  private def litLog(traces: Seq[Seq[String]]) =
    traces.zipWithIndex.flatMap { case (tr, ci) =>
      tr.zipWithIndex.map { case (a, i) => (ci.toLong, i.toLong, a) }
    }.toDF("caseId", "seq", "activity")

  private def mineLit(traces: Seq[Seq[String]]): ProcessTree =
    InductiveLog.mine(litLog(traces), "caseId", "activity", "seq", "seq")

  test("IM-log matches IMd on the book logs (DFG is lossless there)") {
    Seq("L1" -> "seq(a,xor(and(b,c),e),d)",
        "L2" -> "seq(a,loop(and(b,c),seq(e,f)),d)").foreach {
      case (log, expected) =>
        val ev = bookEvents(log)
        assert(InductiveLog.mine(ev, "traceIdx", "activity", "ts", "seq")
          .render == expected)
    }
  }

  test("skippable sequence step: log splitting sees the empty sublog, IMd cannot") {
    val traces = Seq(Seq("a", "b", "c"), Seq("a", "b", "c"), Seq("a", "c"))
    assert(mineLit(traces).render == "seq(a,xor(b,tau),c)")
    // the IMd contrast: same DFG, no emptiness, unfit tree
    val imd = Inductive.mine(litLog(traces), "caseId", "activity", "seq", "seq")
    assert(imd.render == "seq(a,b,c)")
    assert(!PetriNet.fromTree(imd).accepts(Seq("a", "c")))
    assert(PetriNet.fromTree(mineLit(traces)).accepts(Seq("a", "c")))
  }

  test("optional parallel branch: projection emptiness under an and-cut") {
    val traces = Seq(Seq("a", "b", "c", "d"), Seq("a", "c", "b", "d"),
      Seq("a", "c", "d"))
    assert(mineLit(traces).render == "seq(a,and(c,xor(b,tau)),d)")
  }

  test("single-activity base cases: repetition and loop segmentation") {
    assert(mineLit(Seq(Seq("a", "b"), Seq("a", "b", "b")))
      .render == "seq(a,loop(b,tau))")
    assert(mineLit(Seq(Seq("a", "b", "a"), Seq("a")))
      .render == "loop(a,b)")
    assert(mineLit(Seq(Seq("a"), Seq("a"))).render == "a")
    assert(mineLit(Seq(Seq("a", "a"))).render == "loop(a,tau)")
  }

  test("empty log mines to tau") {
    assert(mineLit(Seq.empty).render == "tau")
  }

  test("xor of disconnected behaviors routes whole traces") {
    assert(mineLit(Seq(Seq("a", "b"), Seq("c", "d")))
      .render == "xor(seq(a,b),seq(c,d))")
  }

  test("perfect-fitness theorem on randomized logs (the q_inductive_log_fitness contract)") {
    val rnd = new scala.util.Random(42)
    val alphabet = Vector("a", "b", "c", "d", "e")
    (1 to 8).foreach { trial =>
      val traces = (1 to 12).map { _ =>
        (1 to (1 + rnd.nextInt(7))).map(_ => alphabet(rnd.nextInt(alphabet.size)))
      }
      val tree = mineLit(traces)
      val net = PetriNet.fromTree(tree)
      traces.distinct.foreach { v =>
        assert(net.accepts(v),
          s"trial $trial: ${tree.render} rejects ${v.mkString(",")}")
      }
    }
  }

  test("IMf-log: eta thins relations and absorbs the empty-trace share (q_inductive_imf_log closed forms)") {
    val noisy =
      Seq.fill(20)(Seq("a", "b", "c", "d")) ++
      Seq.fill(20)(Seq("a", "c", "b", "d")) ++
      Seq(Seq("a", "d"))
    val ev = litLog(noisy).cache()
    try {
      // eta = 0: the rare skip survives as a fitted xor(…,tau)
      val fit = InductiveLog.mine(ev, "caseId", "activity", "seq", "seq")
      assert(fit.render == "seq(a,xor(and(b,c),tau),d)")
      assert(PetriNet.fromTree(fit).accepts(Seq("a", "d")))
      // eta = 0.3: the a→d edge (1 vs max-out 20) and the single empty
      // middle sublog trace (1 of 41) are both under threshold
      val clean = InductiveLog.mineFiltered(ev, "caseId", "activity",
        "seq", "seq", eta = 0.3)
      assert(clean.render == "seq(a,and(b,c),d)")
      assert(!PetriNet.fromTree(clean).accepts(Seq("a", "d")))
    } finally ev.unpersist()
  }

  test("IMf-log eta bounds are validated") {
    intercept[IllegalArgumentException] {
      InductiveLog.mineFiltered(litLog(Seq(Seq("a"))), "caseId", "activity",
        "seq", "seq", eta = 1.5)
    }
  }

  test("distributed path (cutoff 0) mines the identical tree as the local fold") {
    // every operator class + strip-empties + loop segmentation: the
    // r17 hybrid recursion tail must be indistinguishable from the
    // all-distributed path (same NodeStats, same split routing)
    val logs = Seq(
      Seq(Seq("a", "b", "c"), Seq("a", "b", "c"), Seq("a", "c")),
      Seq(Seq("a", "b", "c", "d"), Seq("a", "c", "b", "d"), Seq("a", "c", "d")),
      Seq(Seq("a", "b"), Seq("a", "b", "b")),
      Seq(Seq("a", "b", "a"), Seq("a")),
      Seq(Seq("a", "b"), Seq("c", "d")),
      Seq(Seq("a", "b", "c", "a", "b", "c"), Seq("a", "c", "b")))
    logs.foreach { traces =>
      val distributed = InductiveLog.mineWithCutoff(
        litLog(traces), "caseId", "activity", "seq", "seq", cutoff = 0L)
      assert(distributed.render == mineLit(traces).render,
        s"paths diverge on ${traces.map(_.mkString("")).mkString(";")}")
    }
    Seq("L1", "L2", "L3").foreach { log =>
      val ev = bookEvents(log).cache()
      try assert(
        InductiveLog.mineWithCutoff(ev, "traceIdx", "activity", "ts", "seq",
          cutoff = 0L).render ==
        InductiveLog.mine(ev, "traceIdx", "activity", "ts", "seq").render)
      finally ev.unpersist()
    }
  }

  test("IM-log fits every variant of the book corpus logs L1..L5") {
    Seq("L1", "L2", "L3", "L4", "L5").foreach { logName =>
      val ev = bookEvents(logName).cache()
      try {
        val tree = InductiveLog.mine(ev, "traceIdx", "activity", "ts", "seq")
        val net = PetriNet.fromTree(tree)
        import org.apache.spark.sql.functions._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("traceIdx")).orderBy(col("ts"), col("seq"))
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)
        val variants = ev
          .select(col("traceIdx"), collect_list(col("activity")).over(w).as("v"))
          .groupBy("traceIdx").agg(first(col("v")).as("v"))
          .select("v").distinct().as[Seq[String]].collect()
        variants.foreach { v =>
          assert(net.accepts(v),
            s"$logName: ${tree.render} rejects ${v.mkString(",")}")
        }
      } finally ev.unpersist()
    }
  }
}
