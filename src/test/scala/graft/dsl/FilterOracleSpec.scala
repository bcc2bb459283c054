package graft.dsl

import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.xes.{XesCorpus, XesReader}

/** Sequence-string oracles ported verbatim from the reference filter
  * tests (SURVEY.md §5 technique 5): surviving events rendered as
  * per-trace token strings. Oracles from
  * `/root/reference/src/stream/extension/concept.rs:128-195`,
  * `organizational.rs:142-194`, `time.rs:213-351`.
  *
  * Cascade semantics under test (observer.rs:116-146): an event-scope
  * filter shrinks traces but keeps them (empty "[]" still renders); a
  * trace-scope filter drops the trace AND its events.
  */
class FilterOracleSpec extends SparkSpec {

  val book = XesCorpus.book
  def full = XesCorpus.reference("xes/test/extension_full.xes")

  /** Token string per surviving trace, in trace order: "[tok tok…]…".
    * `tokenCol` is evaluated per event; traces with no surviving
    * events render "[]". */
  def render(traces: DataFrame, events: DataFrame, tokenCol: Column): String = {
    val toks = events
      .select(col("traceIdx"), col("seq"), coalesce(tokenCol, lit("?")).as("_tok"))
      .groupBy("traceIdx")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("seq"), col("_tok")))),
        x => x.getField("_tok")), "").as("_s"))
    traces.select(col("traceIdx")).distinct()
      .join(toks, Seq("traceIdx"), "left")
      .orderBy("traceIdx")
      .collect()
      .map(r => "[" + Option(r.getString(1)).getOrElse("") + "]")
      .mkString
  }

  def log(path: String): (DataFrame, DataFrame) = {
    val xlog = XesReader.read(spark, path)
    (xlog.traces.toDF(), xlog.eventsDf)
  }

  test("Concept event filter eq/in CNF (concept.rs:128-161)") {
    val expected = Map(
      "L1.xes" -> "[d][cbd][bcd][bcd][bcd][cbd]",
      "L2.xes" -> "[cbd][cbbcd][cbbcd][cbd][cbd][cbd][bcbcd][bcbcd][bcd][bccbd][bcd][bcd][cbbccbd]",
      "L3.xes" -> "[bcdbcdbdc][bdc][bcdbdc][bdc]",
      "L5.xes" -> "[bcdb][bcdb][bcdb][bcdb][bcdb][bcdb][bcdb][bcdb][bcdb][bcdb][bcdb][bcdb][b][b]")
    val cnf = Cnf(
      Seq(Concept.filterIn(Seq("a", "b"), "activity"),
        Concept.filterEq("c", "activity"),
        Concept.filterEq("d", "activity")),
      Seq(Concept.filterEq("b", "activity"),
        Concept.filterEq("c", "activity"),
        Concept.filterIn(Seq("d", "e"), "activity")))
    expected.foreach { case (f, want) =>
      val (traces, events) = log(s"$book/$f")
      val got = render(traces, events.filter(cnf), col("activity"))
      assert(got == want, s"$f")
    }
  }

  test("Concept trace filter match drops traces AND their events (concept.rs:163-195)") {
    val expected = Map(
      "L1.xes" -> "[acbd][acbd]",
      "L2.xes" -> "[acbd][acbd][acbd][acbd]",
      "L3.xes" -> "[abdceg][abdceg]",
      "L5.xes" -> "[abecdbf][abecdbf][abecdbf]")
    val cnf = Cnf(
      Seq(Concept.filterMatch("Case1\\.\\d", "caseId"),
        Concept.filterMatch("Case2\\.\\d", "caseId")),
      Seq(Concept.filterMatch("Case2\\.\\d", "caseId"),
        Concept.filterMatch("Case3\\.\\d", "caseId")))
    expected.foreach { case (f, want) =>
      val (traces, events) = log(s"${XesCorpus.reference("xes/book")}/$f")
      val kept = traces.filter(cnf)
      val cascaded = events.join(broadcast(kept.select("traceIdx")), Seq("traceIdx"), "left_semi")
      assert(render(kept, cascaded, col("activity")) == want, s"$f")
    }
  }

  test("Org event filter eq/in (organizational.rs:142-169)") {
    val (traces, events) = log(full)
    val cnf = Cnf(
      Seq(Org.filterIn("resource", Seq("A", "B")),
        Org.filterEq("resource", "C"),
        Org.filterEq("resource", "D")),
      Seq(Org.filterEq("resource", "B"),
        Org.filterEq("resource", "C"),
        Org.filterIn("resource", Seq("D", "E"))))
    assert(render(traces, events.filter(cnf), col("resource")) == "[BC][D][][][][]")
  }

  test("Org role/group match with drop_err (organizational.rs:171-194)") {
    val (traces, events) = log(full)
    val cnf = Cnf(
      Seq(Cnf.dropErr(Org.filterMatch("role", "[123]"))),
      Seq(Cnf.dropErr(Org.filterMatch("group", "[678]"))))
    assert(render(traces, events.filter(cnf), col("role")) == "[][23][][][][]")
  }

  // ---- time filters: self = event (ts,ts) or trace (first,last) ----

  def ts(s: String): Column = lit(Instant.parse(s))
  val a = ts("1987-07-28T13:37:42.000Z")
  val b = ts("1987-07-28T13:40:42.000Z")
  val a2 = ts("1987-07-29T13:37:42.000Z")
  val b2 = ts("1987-07-30T13:40:42.000Z")
  val b3 = ts("1987-07-30T13:38:42.000Z")
  val c = ts("1987-07-29T13:39:12.000Z")
  val d = ts("1987-07-30T13:39:12.000Z")

  /** Events viewed as degenerate intervals so trace predicates apply. */
  def asIntervals(events: DataFrame): DataFrame =
    events.withColumn(Time.DefaultStart, col("ts"))
      .withColumn(Time.DefaultEnd, col("ts"))

  def traceFiltered(pred: Column): String = {
    val (traces, events) = log(full)
    val kept = Time.traceIntervals(events, "traceIdx", "ts").filter(pred)
    val cascaded = events.join(broadcast(kept.select("traceIdx")), Seq("traceIdx"), "left_semi")
    render(kept, cascaded, col("activity"))
  }

  def eventFiltered(pred: Column): String = {
    val (traces, events) = log(full)
    render(traces, asIntervals(events).filter(pred), col("activity"))
  }

  test("time filter_eq (time.rs:213-244)") {
    assert(eventFiltered(Cnf(Seq(Time.isEq(a, a), Time.isEq(b, b)))) == "[][dg][][][][]")
    assert(traceFiltered(Time.isEq(a, b)) == "[defg]")
  }

  test("time filter_eq_tol (time.rs:246-276)") {
    assert(eventFiltered(Cnf(Seq(
      Time.isEqTol(a2, a2, 90), Time.isEqTol(b2, b2, 90)))) == "[][][hi][no][][]")
    assert(traceFiltered(Time.isEqTol(a2, a2, 300)) == "[hijk]")
  }

  test("time filter_before/after (time.rs:278-304)") {
    assert(eventFiltered(Cnf(Seq(
      Time.isBefore(a2), Time.isAfter(b3)))) == "[abc][defg][][no][pqrs][tuvw]")
    assert(traceFiltered(Cnf(Seq(
      Time.isBefore(a2), Time.isAfter(b3)))) == "[abc][defg][pqrs][tuvw]")
  }

  test("time filter_in / starts_in / ends_in (time.rs:306-351)") {
    assert(eventFiltered(Cnf(Seq(Time.isIn(a, a), Time.isIn(b, c)))) == "[][dg][hi][][][]")
    assert(traceFiltered(Time.isIn(a, d)) == "[defg][hijk]")
    assert(eventFiltered(Time.startsIn(c, d)) == "[][][jk][lm][][]")
    assert(traceFiltered(Time.startsIn(c, d)) == "[lmno]")
    assert(eventFiltered(Time.endsIn(c, d)) == "[][][jk][lm][][]")
    assert(traceFiltered(Time.endsIn(c, d)) == "[hijk]")
  }
}
