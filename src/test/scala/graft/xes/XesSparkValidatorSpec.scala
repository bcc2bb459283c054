package graft.xes

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Distributed validator over the corpus through the Spark read path. */
class XesSparkValidatorSpec extends SparkSpec {

  def nv = XesCorpus.reference("xes/non_validating")

  def violationsFor(path: String) = {
    val xlog = XesReader.read(spark, path)
    XesSparkValidator.violations(spark, xlog)
  }

  test("globals violation surfaces as missing_global rows (globals_violation_type)") {
    val v = violationsFor(s"$nv/globals_violation_type.xes").collect()
    assert(v.exists(r => r.getAs[String]("kind") == "missing_global" &&
      r.getAs[String]("detail").contains("lifecycle:transition")))
  }

  test("duplicate keys surface (event_identical_attributes)") {
    val v = violationsFor(s"$nv/event_identical_attributes.xes")
      .filter(col("kind") === "duplicate_key").collect()
    assert(v.exists(_.getAs[String]("detail") == "concept:name"))
  }

  test("out-of-order timestamps surface (event_incorrect_order)") {
    val v = violationsFor(s"$nv/event_incorrect_order.xes")
      .filter(col("kind") === "out_of_order").collect()
    assert(v.nonEmpty)
  }

  test("book logs produce no data-plane violations (whole dir, one plan)") {
    val v = violationsFor(s"${XesCorpus.reference("xes/book")}/*.xes")
    assert(v.count() == 0L)
  }
}
