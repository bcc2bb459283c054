package graft.ops

import graft.SparkSpec
import graft.xes.{XesCorpus, XesReader}

/** Four-dimension quality report on the textbook log/model pairs. */
class QualitySpec extends SparkSpec {

  private def l1 = XesReader.read(spark,
    s"${XesCorpus.book}/L1.xes").eventsDf

  test("L1 vs its own alpha net: perfect fitness, high precision") {
    val net = Alpha.mine(l1, "traceIdx", "activity", "ts", "seq")
    val r = Quality.report(spark, l1, "traceIdx", "activity", "ts", "seq", net)
    assert(r.fitness == 1.0)
    assert(r.precision > 0.8, r.toString)
    // tiny textbook log: few executions per activity keeps
    // frequency-based generalization mid-range
    assert(r.generalization > 0.3 && r.generalization < 1.0, r.toString)
    assert(r.simplicity > 0.4 && r.simplicity <= 1.0, r.toString)
  }

  test("cross-log: L1's net scores worse on L2's behavior") {
    val l2 = XesReader.read(spark,
      s"${XesCorpus.book}/L2.xes").eventsDf
    val net = Alpha.mine(l1, "traceIdx", "activity", "ts", "seq")
    val own = Quality.report(spark, l1, "traceIdx", "activity", "ts", "seq", net)
    val cross = Quality.report(spark, l2, "traceIdx", "activity", "ts", "seq", net)
    assert(cross.fitness < own.fitness, s"own=$own cross=$cross")
  }
}
