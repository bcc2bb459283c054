package graft.dsl

import graft.SparkSpec
import graft.xes.{XesCorpus, XesReader}

/** Working-together org mining on the one multi-resource corpus file
  * (`/root/reference/static/xes/test/extension_full.xes`): six traces
  * with disjoint resource sets {A,B,C}, {D..G}, {H..K}, {L..O},
  * {P..S}, {T..W} — so the expected pair set is exactly the
  * within-trace combinations, each shared by one trace. The book
  * corpus is single-resource (UNDEFINED), which is why the driver
  * gate carries the activity instantiation (q_cooccurrence) and this
  * spec pins the org-resource one.
  */
class OrgMiningSpec extends SparkSpec {

  import spark.implicits._

  test("workingTogether on extension_full: within-trace pairs only, one trace each") {
    val ev = XesReader.readEvents(spark,
      XesCorpus.reference("xes/test/extension_full.xes")).toDF()
    val wt = Org.workingTogether(ev, "traceIdx", "resource")
      .as[(String, String, Long)].collect().toSeq

    // C(3,2) + 5 * C(4,2) = 3 + 30
    assert(wt.size == 33, wt.sorted.mkString(", "))
    assert(wt.forall(_._3 == 1L))
    val pairs = wt.map(p => (p._1, p._2)).toSet
    assert(pairs.contains(("A", "B")) && pairs.contains(("B", "C")))
    assert(pairs.contains(("T", "W")))
    // never across traces
    assert(!pairs.contains(("A", "D")) && !pairs.contains(("C", "D")))
  }

  test("similarTask: cosine of task profiles, sparse (zero-dot pairs absent)") {
    // r1: {x:2, y:1}, r2: {x:1}, r3: {y:3} — r2/r3 share no task.
    val df = Seq(
      ("r1", "x"), ("r1", "x"), ("r1", "y"),
      ("r2", "x"),
      ("r3", "y"), ("r3", "y"), ("r3", "y")
    ).toDF("res", "task")
    val out = Org.similarTask(df, "res", "task")
      .as[(String, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap

    assert(math.abs(out(("r1", "r2")) - 2.0 / math.sqrt(5.0)) < 1e-12)
    assert(math.abs(out(("r1", "r3")) - 3.0 / (math.sqrt(5.0) * 3.0)) < 1e-12)
    // inverted index: the no-shared-task pair is never materialized
    assert(!out.contains(("r2", "r3")) && out.size == 2)
  }

  test("similarTask on extension_full: fully disjoint profiles yield no pairs") {
    // Every resource in extension_full performs exactly one activity
    // unique to it, so no two profiles share a task — the sparse
    // inverted-index formulation must emit nothing (not zeros).
    val ev = XesReader.readEvents(spark,
      XesCorpus.reference("xes/test/extension_full.xes")).toDF()
    val st = Org.similarTask(ev, "resource", "activity")
      .as[(String, String, Double)].collect()
    assert(st.isEmpty)
  }

  test("subcontracting: strict a->b->a triples, b != a, overlaps counted") {
    // case 1: A B A B A  -> A sub B twice (pos 0-2, 2-4 overlap),
    //                       B sub A once (pos 1-3)
    // case 2: A A A      -> continuation, never subcontracting
    // case 3: A B C A    -> no triple returns to its head
    val df = Seq(
      ("c1", "A", 1L), ("c1", "B", 2L), ("c1", "A", 3L),
      ("c1", "B", 4L), ("c1", "A", 5L),
      ("c2", "A", 6L), ("c2", "A", 7L), ("c2", "A", 8L),
      ("c3", "A", 9L), ("c3", "B", 10L), ("c3", "C", 11L), ("c3", "A", 12L)
    ).map(t => (t._1, t._2, t._3, t._3)).toDF("case_id", "res", "ts", "seq")
    val out = Org.subcontracting(df, "case_id", "res", "ts", "seq")
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(out === Map(("A", "B") -> 2L, ("B", "A") -> 1L))
  }

  test("subcontracting on extension_full: single-resource-per-activity traces yield none") {
    // every trace's resources are distinct per event and never return
    // within two steps in this corpus shape — guard against phantom
    // pairs from cross-case leakage (window partitioned by trace)
    val ev = XesReader.readEvents(spark,
      XesCorpus.reference("xes/test/extension_full.xes")).toDF()
    val out = Org.subcontracting(ev, "traceIdx", "resource",
      "tsMicros", "seq").collect()
    assert(out.isEmpty)
  }
}
