package graft.tools

import graft.{SparkEntry, SparkSpec}

/** The scale audit's references. The twins are derived from the oracle
  * bodies; the tool-local references of the gates without a twin must
  * equal the gate's own output at sf0.01, which the oracle verifies. */
class StreamScaleLocalRefSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"

  test("every sf-dir gate has exactly one reference: a twin or a local one") {
    import StreamScaleBench._
    assert(Gates.size == 29)
    assert(Twins.size == 22)
    assert(LocalRefs.keySet == Gates.toSet -- Twins.keySet)
    Twins.foreach { case (g, t) =>
      assert(SparkEntry.oracleSql(g) == SparkEntry.oracleSql(t), g)
    }
  }

  for (g <- StreamScaleBench.LocalRefs.keys.toSeq.sorted)
    test(s"the local reference of $g equals the gate at sf0.01") {
      val got = SparkEntry.queries(g)(spark, sf)
      val ref = StreamScaleBench.LocalRefs(g)(spark, sf)
      assert(ref.columns.sorted.toSeq == got.columns.sorted.toSeq)
      val fp = StreamScaleBench.fingerprint(got)
      assert(fp._1 > 0L)
      assert(StreamScaleBench.fingerprint(ref) == fp)
    }
}
