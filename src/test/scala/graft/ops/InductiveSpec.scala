package graft.ops

import graft.SparkSpec
import graft.xes.{XesCorpus, XesReader}

/** Inductive miner (IMd) against the textbook oracles: L1 and L2 are
  * the worked examples of the process-mining book the corpus comes
  * from, with known closed-form inductive-miner results. The compiled
  * Petri net ([[PetriNet.fromTree]]) must accept every variant of the
  * log it was mined from wherever the model is exact. */
class InductiveSpec extends SparkSpec {

  private def bookEvents(name: String) =
    XesReader.read(spark, s"${XesCorpus.book}/$name.xes").eventsDf

  private def variantsOf(name: String): Seq[Seq[String]] = {
    import org.apache.spark.sql.functions._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("traceIdx")).orderBy(col("ts"), col("seq"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    import spark.implicits._
    bookEvents(name)
      .select(col("traceIdx"), collect_list(col("activity")).over(w).as("v"))
      .groupBy("traceIdx").agg(first(col("v")).as("v"))
      .select("v").distinct().as[Seq[String]].collect().toSeq
  }

  test("IM discovers the textbook tree for L1: seq(a, xor(and(b,c), e), d)") {
    val tree = Inductive.mine(bookEvents("L1"), "traceIdx", "activity", "ts", "seq")
    assert(tree.render == "seq(a,xor(and(b,c),e),d)")
  }

  test("IM discovers the textbook tree for L2: seq(a, loop(and(b,c), seq(e,f)), d)") {
    val tree = Inductive.mine(bookEvents("L2"), "traceIdx", "activity", "ts", "seq")
    assert(tree.render == "seq(a,loop(and(b,c),seq(e,f)),d)")
  }

  test("compiled nets accept every variant of the mined log (L1..L5)") {
    Seq("L1", "L2", "L3", "L4", "L5").foreach { log =>
      val tree = Inductive.mine(bookEvents(log), "traceIdx", "activity", "ts", "seq")
      val net = PetriNet.fromTree(tree)
      variantsOf(log).foreach { v =>
        assert(net.accepts(v), s"$log: ${tree.render} rejects ${v.mkString(",")}")
      }
    }
  }

  test("compiled net rejects out-of-language traces") {
    val tree = Inductive.mine(bookEvents("L1"), "traceIdx", "activity", "ts", "seq")
    val net = PetriNet.fromTree(tree)
    assert(!net.accepts(Seq("a", "b", "d")))        // and(b,c) incomplete
    assert(!net.accepts(Seq("b", "c", "d")))        // missing start
    assert(!net.accepts(Seq("a", "e", "e", "d")))   // e not repeatable
    assert(!net.accepts(Seq.empty))                 // empty not in L(L1)
  }

  test("single repeated activity mines to a self-loop; flower accepts anything over its alphabet") {
    val g = Inductive.Graph(Set("a"), Set(("a", "a")), Set("a"), Set("a"))
    val t = Inductive.mineGraph(g)
    assert(t.render == "loop(a,tau)")
    val net = PetriNet.fromTree(t)
    assert(net.accepts(Seq("a")) && net.accepts(Seq("a", "a", "a")))
    assert(!net.accepts(Seq.empty))

    // a graph with no clean cut falls through to the flower model:
    // one SCC (no xor/seq), no bidirectional pair (no and), and the
    // redo candidate is entered from a non-end activity (no loop)
    val tangled = Inductive.Graph(
      Set("x", "y", "z"),
      Set(("x", "y"), ("y", "z"), ("z", "x")),
      Set("x"), Set("z"))
    val f = Inductive.mineGraph(tangled)
    assert(f.render == "loop(tau,x,y,z)", f.render)
    val fn = PetriNet.fromTree(f)
    assert(fn.accepts(Seq.empty) && fn.accepts(Seq("z", "z", "x", "y")))
  }

  test("noise filtering (IMf-d): a polluted log recovers the textbook tree") {
    import spark.implicits._
    // 10× each L1 variant + ONE noisy trace with an extra c (c>c loop)
    val clean = Seq(Seq("a", "b", "c", "d"), Seq("a", "c", "b", "d"),
      Seq("a", "e", "d"))
    val rows =
      (for {
        (v, vi) <- clean.zipWithIndex
        c <- 0 until 10
        (act, i) <- v.zipWithIndex
      } yield (s"c${vi}_$c", act, i.toLong, i.toLong)) ++
        Seq("a", "b", "c", "c", "d").zipWithIndex.map {
          case (act, i) => ("noise", act, i.toLong, i.toLong)
        }
    val log = rows.toDF("case_id", "activity", "ts", "seq")
      .withColumn("ts", org.apache.spark.sql.functions
        .timestamp_micros(org.apache.spark.sql.functions.col("ts") * 1000000L))

    // unfiltered: the c self-loop blocks the clean and-cut
    val dirty = Inductive.mine(log, "case_id", "activity", "ts", "seq")
    assert(dirty.render != "seq(a,xor(and(b,c),e),d)", dirty.render)
    // eta = 0.2 drops the frequency-1 c>c edge (max out of c is 11)
    val clean20 = Inductive.mineFiltered(log, "case_id", "activity", "ts",
      "seq", eta = 0.2)
    assert(clean20.render == "seq(a,xor(and(b,c),e),d)", clean20.render)
    // eta = 0 keeps everything: identical to the unfiltered result
    val eta0 = Inductive.mineFiltered(log, "case_id", "activity", "ts",
      "seq", eta = 0.0)
    assert(eta0.render == dirty.render)
  }

  test("IMd on the full event table stays alphabet-bounded and fits") {
    // the synthetic events table: 5 activity types, unordered behavior
    // -> IM degrades gracefully (flower-ish), still accepts observed
    // variants by construction of the fallthrough
    val events = graft.Tables(spark, "/root/testdata/sf0.001", "events")
    val tree = Inductive.mine(events, "user_id", "event_type", "ts", "event_id")
    assert(tree.activities.size <= 5)
  }
}
