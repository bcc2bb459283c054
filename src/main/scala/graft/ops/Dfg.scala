package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Directly-follows graph + footprint matrix miners — the reference's
  * aspirational `DFGGenerator`/`FootprintGenerator`
  * (`/root/reference/src/lib.rs:11-22`, no implementation exists there;
  * semantics per the process-mining textbook the reference's corpus
  * comes from).
  *
  * Scale shape: one shuffle to co-locate each case's events
  * (window partitionBy case), then a partial-aggregated pair count —
  * the same two-exchange plan at 60k rows and at 100 TB. Per-case data
  * is never materialized on the driver; [[collectFootprint]] folds the
  * per-variant [[Variants]] table instead.
  */
object Dfg {

  /** Edge list `(act_from, act_to, n)`: a &gt; b iff b directly follows a
    * in some case. Order within a case = (ts, tieBreak) — order is
    * semantically load-bearing (reference component.rs:155-160), and
    * the tie-break makes the window total, hence deterministic.
    */
  def edges(events: DataFrame, caseCol: String, activityCol: String,
      tsCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(caseCol)).orderBy(col(tsCol), col(tieBreak))
    events
      .select(col(caseCol), col(activityCol), col(tsCol), col(tieBreak))
      .withColumn("act_to", lead(col(activityCol), 1).over(w))
      .filter(col("act_to").isNotNull)
      .groupBy(col(activityCol).as("act_from"), col("act_to"))
      .agg(count(lit(1)).as("n"))
  }

  /** The collected abstraction the driver-side miners ([[Alpha]],
    * [[Inductive]]) run on: activity frequencies, directly-follows
    * edge counts, and start/end activity counts per case. */
  case class Footprint(
      activities: Map[String, Long],
      edges: Map[(String, String), Long],
      starts: Map[String, Long],
      ends: Map[String, Long])

  /** [[Footprint]] of `events`, a fold over its [[Variants]] table:
    * each variant adds its case count to every activity, to every
    * directly-follows pair with a non-null successor, and to its first
    * and last activity. Equals [[edges]], `distinct` over the
    * activities, [[startActivities]] and [[endActivities]], which cost
    * four actions. On the driver when the table is; above the bound,
    * one aggregate over the cached table. Where (ts, tieBreak) is not
    * unique within a case the first and last events are arbitrary
    * there too, and the two may resolve such ties differently.
    */
  def collectFootprint(events: DataFrame, caseCol: String,
      activityCol: String, tsCol: String, tieBreak: String): Footprint =
    footprintOf(Variants.of(events, caseCol, activityCol, tsCol, tieBreak))

  private[ops] def footprintOf(t: Variants.Table): Footprint = {
    // (kind, a, b) -> cases: kind 0 is a position and its successor
    // (null at the end), 2 the first and 3 the last activity
    val counts: Seq[((Int, String, String), Long)] = t.local match {
      case Some(vs) =>
        vs.flatMap { v =>
          val s = v.seq
          (s.indices.map(i => (0, s(i), s.lift(i + 1).orNull)) :+
            ((2, s.head, null: String)) :+ ((3, s.last, null: String)))
            .map(_ -> v.nCases)
        }.groupMapReduce(_._1)(_._2)(_ + _).toSeq
      case None =>
        val s = col("seq")
        val none = lit(null).cast("string")
        def tag(kind: Int, a: Column, b: Column): Column =
          struct(lit(kind).as("k"), a.as("a"), b.as("b"))
        t.frame
          .select(col("n_cases"), explode(concat(
            zip_with(s, slice(s, lit(2), size(s)), tag(0, _, _)),
            array(tag(2, element_at(s, 1), none), tag(3, element_at(s, -1), none))))
            .as("_t"))
          .groupBy(col("_t.k"), col("_t.a"), col("_t.b"))
          .agg(sum(col("n_cases")))
          .collect().toSeq
          .map(r => (r.getInt(0), r.getString(1), r.getString(2)) -> r.getLong(3))
    }
    def of(kind: Int) = counts.collect { case ((`kind`, a, _), n) => a -> n }
    Footprint(of(0).groupMapReduce(_._1)(_._2)(_ + _),
      counts.collect { case ((0, a, b), n) if b != null => (a, b) -> n }.toMap,
      of(2).toMap, of(3).toMap)
  }

  /** Footprint matrix (alpha-miner relations) derived from the DFG:
    * for each activity pair (a,b):
    *   `-&gt;` iff a&gt;b and not b&gt;a;  `&lt;-` iff b&gt;a and not a&gt;b;
    *   `||` iff both;  `#` iff neither.
    * Emitted as a long-form table (a, b, rel) over the cross product of
    * observed activities.
    */
  def footprint(events: DataFrame, caseCol: String, activityCol: String,
      tsCol: String, tieBreak: String): DataFrame = {
    val e = edges(events, caseCol, activityCol, tsCol, tieBreak)
      .select(col("act_from"), col("act_to")).distinct()
    val acts = events.select(col(activityCol).as("a")).distinct()
    val pairs = acts.crossJoin(acts.select(col("a").as("b")))
    val fwd = e.select(col("act_from").as("a"), col("act_to").as("b"),
      lit(true).as("_fwd"))
    val rev = e.select(col("act_to").as("a"), col("act_from").as("b"),
      lit(true).as("_rev"))
    pairs
      .join(broadcast(fwd), Seq("a", "b"), "left")
      .join(broadcast(rev), Seq("a", "b"), "left")
      .select(col("a"), col("b"),
        when(col("_fwd").isNotNull && col("_rev").isNotNull, lit("||"))
          .when(col("_fwd").isNotNull, lit("->"))
          .when(col("_rev").isNotNull, lit("<-"))
          .otherwise(lit("#")).as("rel"))
  }

  /** Start/end activity profiles — first and last activity per case,
    * counted. Common companions of the DFG for discovery algorithms.
    */
  def startActivities(events: DataFrame, caseCol: String, activityCol: String,
      tsCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(caseCol)).orderBy(col(tsCol), col(tieBreak))
    events
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .groupBy(col(activityCol).as("activity"))
      .agg(count(lit(1)).as("n"))
  }

  /** Heuristics-miner dependency measure over the DFG (the classic
    * Weijters formula): for a ≠ b,
    * `dep(a,b) = (|a>b| − |b>a|) / (|a>b| + |b>a| + 1)`; for loops,
    * `dep(a,a) = |a>a| / (|a>a| + 1)`. Emitted for every observed
    * directly-follows pair. One self-join of the (tiny) edge list on
    * the reversed pair — the heavy lifting stays in [[edges]]' one
    * case-key shuffle.
    */
  def dependencyMeasures(events: DataFrame, caseCol: String,
      activityCol: String, tsCol: String, tieBreak: String): DataFrame = {
    val e = edges(events, caseCol, activityCol, tsCol, tieBreak)
    val rev = e.select(col("act_from").as("act_to"),
      col("act_to").as("act_from"), col("n").as("_n_rev"))
    e.join(rev, Seq("act_from", "act_to"), "left")
      .select(col("act_from"), col("act_to"),
        when(col("act_from") === col("act_to"),
          col("n").cast("double") / (col("n") + 1).cast("double"))
        .otherwise(
          (col("n") - coalesce(col("_n_rev"), lit(0L))).cast("double") /
            (col("n") + coalesce(col("_n_rev"), lit(0L)) + 1).cast("double"))
        .as("dependency"))
  }

  /** Eventually-follows graph: for each activity pair (a,b), the
    * number of (event of a, later event of b) pairs within the same
    * case — the performance-spectrum companion of the DFG.
    *
    * Scale shape: NOT a per-case self-join (quadratic in case length —
    * one mega-case melts a reducer). Each event is paired with each
    * alphabet activity `a` (|A| copies — the activity alphabet is
    * small and bounded, and this bound is the documented cost), then
    * one window per (case, a) accumulates the running count of `a`
    * strictly before the row; summing that prefix per (a, row-activity)
    * yields exactly the pair counts. Work is O(|events|·|A|), linear
    * per case.
    */
  def eventuallyFollows(events: DataFrame, caseCol: String,
      activityCol: String, tsCol: String, tieBreak: String): DataFrame = {
    val acts = events.select(col(activityCol).as("_a")).distinct()
    val w = Window.partitionBy(col(caseCol), col("_a"))
      .orderBy(col(tsCol), col(tieBreak))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col(caseCol), col(activityCol), col(tsCol), col(tieBreak))
      .crossJoin(broadcast(acts))
      .withColumn("_prefix",
        sum(when(col(activityCol) === col("_a"), 1L).otherwise(0L)).over(w))
      .groupBy(col("_a").as("act_from"), col(activityCol).as("act_to"))
      .agg(sum(coalesce(col("_prefix"), lit(0L))).as("n"))
      .filter(col("n") > 0)
  }

  def endActivities(events: DataFrame, caseCol: String, activityCol: String,
      tsCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(caseCol))
      .orderBy(col(tsCol).desc, col(tieBreak).desc)
    events
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .groupBy(col(activityCol).as("activity"))
      .agg(count(lit(1)).as("n"))
  }

  /** Performance-annotated DFG (the waiting-time view every
    * process-mining tool layers over the frequency DFG): per
    * directly-follows edge, the count and the sum/min/max of the
    * gap between the two events, in integer microseconds so the
    * result is bit-exact (means are a trivial downstream division).
    *
    * Same plan as [[edges]] — ONE case-key shuffle, partial-agg pair
    * rollup; the gap is map-side window arithmetic.
    */
  def edgePerformance(events: DataFrame, caseCol: String,
      activityCol: String, tsCol: String, tieBreak: String): DataFrame =
    transitionDelays(events, caseCol, activityCol, tsCol, tieBreak)
      .groupBy(col("act_from"), col("act_to"))
      .agg(count(lit(1)).as("n"),
        sum(col("wait_us")).as("sum_wait_us"),
        min(col("wait_us")).as("min_wait_us"),
        max(col("wait_us")).as("max_wait_us"))

  /** Per-transition waiting times, unaggregated: one row per
    * directly-follows occurrence `(act_from, act_to, wait_us)` — the
    * raw material of the performance spectrum (per-edge latency
    * DISTRIBUTIONS rather than [[edgePerformance]]'s sum/min/max).
    * Same single case-key window shuffle; feed into
    * [[Quantiles.exactByGroup]] for exact per-edge percentiles. */
  def transitionDelays(events: DataFrame, caseCol: String,
      activityCol: String, tsCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(caseCol)).orderBy(col(tsCol), col(tieBreak))
    events
      .select(col(caseCol), col(activityCol), col(tsCol), col(tieBreak))
      .withColumn("act_to", lead(col(activityCol), 1).over(w))
      .withColumn("wait_us",
        unix_micros(lead(col(tsCol), 1).over(w)) - unix_micros(col(tsCol)))
      .filter(col("act_to").isNotNull)
      .select(col(activityCol).as("act_from"), col("act_to"), col("wait_us"))
  }

  /** Model simplification (the frequency-threshold slider of
    * Disco-style DFG tools): keep activities whose total event count
    * is ≥ `minActivityN`, then edges between two kept activities with
    * count ≥ `minEdgeN`. The activity profile is alphabet-sized, so
    * both threshold joins broadcast; the heavy pass is still the one
    * [[edges]] shuffle.
    */
  def simplify(events: DataFrame, caseCol: String, activityCol: String,
      tsCol: String, tieBreak: String, minActivityN: Long,
      minEdgeN: Long): DataFrame = {
    val kept = events.groupBy(col(activityCol).as("_act"))
      .agg(count(lit(1)).as("_cnt"))
      .filter(col("_cnt") >= minActivityN)
      .select(col("_act"))
    edges(events, caseCol, activityCol, tsCol, tieBreak)
      .filter(col("n") >= minEdgeN)
      .join(broadcast(kept.select(col("_act").as("act_from"))), Seq("act_from"),
        "left_semi")
      .join(broadcast(kept.select(col("_act").as("act_to"))), Seq("act_to"),
        "left_semi")
      .select("act_from", "act_to", "n")
  }
}
