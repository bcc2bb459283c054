package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch sessionization + trace-variant analysis — the two classic
  * event-log reshapes the reference's trace model implies (a "trace"
  * IS a session; variants are the classifier-identity sequences,
  * component.rs:76-81 / 155-160).
  *
  * Scale shape: both are one shuffle on the case key (window
  * partitionBy), then pure map-side arithmetic; the variant views read
  * the [[Variants]] table, one partial-agg shuffle on the sequence
  * and one on the (small) variant string.
  */
object Sessionize {

  /** Splits each case's event stream into sessions on inactivity gaps:
    * a new session starts when the gap from the previous event exceeds
    * `gapSeconds`. Adds `session_idx` (0-based per case). */
  def byGap(events: DataFrame, caseCol: String, tsCol: String,
      tieBreak: String, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(caseCol)).orderBy(col(tsCol), col(tieBreak))
    events
      .withColumn("_prev", lag(col(tsCol), 1).over(w))
      .withColumn("_new_session",
        when(col("_prev").isNull, lit(0))
          .when(unix_micros(col(tsCol)) - unix_micros(col("_prev")) >
            gapSeconds * 1000000L, lit(1))
          .otherwise(lit(0)))
      .withColumn("session_idx",
        sum(col("_new_session")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .drop("_prev", "_new_session")
  }

  /** Throttle-style windowed dedup: flags each event as kept iff no
    * event with the same key preceded it within `gapSeconds` (the
    * debounce every click/telemetry pipeline applies before counting —
    * double-fires and retry storms collapse to the first event).
    * Relative-to-previous-event semantics (lag-based): deterministic,
    * one window, and expressible identically in any SQL engine.
    * Adds a boolean `kept` column.
    *
    * SEMANTICS NOTE — this is DEBOUNCE, not classical rate-limit
    * throttle: each event is judged against the PREVIOUS event (kept
    * or not), so a steady sub-gap stream keeps only its first event.
    * The classical throttle judges against the last KEPT event
    * (keeping one event per gap-length window of a steady stream);
    * that variant needs a running scan rather than a lag, and is NOT
    * what this operator (or its streaming twin
    * [[graft.streaming.StreamingThrottle]]) computes.
    *
    * Scale shape: ONE shuffle on the key columns (window partitionBy),
    * then pure map-side lag arithmetic — no join, no second exchange;
    * downstream aggregations on the same keys reuse the partitioning.
    */
  def throttleDedup(events: DataFrame, keyCols: Seq[String], tsCol: String,
      tieBreak: String, gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(tieBreak))
    events
      .withColumn("_prev", lag(col(tsCol), 1).over(w))
      .withColumn("kept",
        col("_prev").isNull ||
          unix_micros(col(tsCol)) - unix_micros(col("_prev")) >
            gapSeconds * 1000000L)
      .drop("_prev")
  }

  /** Input row for [[throttleClassicCounts]] (typed kernel — the
    * scan is inherently sequential per key). */
  case class ThrottleIn(caseId: Long, label: String, tsMicros: Long, tie: Long)

  /** CLASSICAL rate-limit throttle — the keep-relative-to-last-KEPT
    * semantics that [[throttleDedup]]'s scaladoc contrasts with
    * debounce: an event is kept iff it is strictly more than
    * `gapSeconds` after the last KEPT event of its (case, label) key, so a steady sub-gap
    * stream keeps one event per gap window (debounce keeps only the
    * first). The recurrence `lastKept' = f(lastKept, ts)` is not
    * expressible as a fixed window lag, so the kernel is a per-key
    * sorted scan (`groupByKey` + `mapGroups` — ONE key shuffle;
    * per-key memory = that key's events, the same bound every
    * per-trace operator in this engine carries).
    *
    * Returns per-label totals `(label, n_total, n_kept)`; the
    * per-key partials fold in-plan.
    */
  def throttleClassicCounts(spark: org.apache.spark.sql.SparkSession,
      events: org.apache.spark.sql.Dataset[ThrottleIn],
      gapSeconds: Long): DataFrame = {
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L
    events.groupByKey(e => (e.caseId, e.label))
      .mapGroups { (key, it) =>
        val rows = it.toArray.sortInPlaceBy(e => (e.tsMicros, e.tie))
        var lastKept = Long.MinValue
        var kept = 0L
        rows.foreach { e =>
          if (lastKept == Long.MinValue || e.tsMicros - lastKept > gapUs) {
            kept += 1L; lastKept = e.tsMicros
          }
        }
        (key._2, rows.length.toLong, kept)
      }
      .toDF("label", "n_total", "n_kept")
      .groupBy(col("label"))
      .agg(sum(col("n_total")).as("n_total"), sum(col("n_kept")).as("n_kept"))
  }

  /** Run-length interval collapse (gaps-and-islands): per case,
    * consecutive events with the same label — in (ts, tieBreak)
    * order — collapse into one interval row. The SCD2-style "validity
    * history" reshape: per (case, run) the label, its start/end
    * timestamps, and the event count.
    *
    * Scale shape: ONE shuffle on the case key; the run index is a
    * lag-flag + running sum over the same window partitioning (no
    * second exchange on (case, label), which the row_number-difference
    * formulation would need), then a partial-agg groupBy on
    * (case, run_idx) that reuses the case hash partitioning.
    */
  def runs(events: DataFrame, caseCol: String, labelCol: String,
      tsCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(caseCol)).orderBy(col(tsCol), col(tieBreak))
    events
      .withColumn("_prev_label", lag(col(labelCol), 1).over(w))
      .withColumn("_new_run",
        when(col("_prev_label").isNull ||
          col("_prev_label") =!= col(labelCol), lit(1L)).otherwise(lit(0L)))
      .withColumn("run_idx",
        sum(col("_new_run")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(caseCol), col("run_idx"))
      .agg(min(col(labelCol)).as(labelCol), // constant within a run
        min(col(tsCol)).as("run_start"),
        max(col(tsCol)).as("run_end"),
        count(lit(1)).as("n_events"))
  }

  /** Per-case variant strings — the per-case rows
    * [[filterTopKVariants]] needs: one partition-level sort (window) +
    * once-per-case collect_list, no interpreted comparators. */
  def caseVariants(events: DataFrame, caseCol: String, activityCol: String,
      tsCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(caseCol))
      .orderBy(col(tsCol), col(tieBreak))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    events
      .select(col(caseCol),
        array_join(collect_list(col(activityCol)).over(w), ">").as("variant"))
      .groupBy(col(caseCol)).agg(first(col("variant")).as("variant"))
  }

  /** Variant log: one representative case per distinct variant (the
    * min case id) with its frequency — the standard reduction of a
    * huge log to its unique behaviors. The string view of the frame's
    * [[Variants]] table, so a cached table serves it. */
  def variantRepresentatives(events: DataFrame, caseCol: String,
      activityCol: String, tsCol: String, tieBreak: String): DataFrame =
    Variants.strings(Variants.frame(events, caseCol, activityCol, tsCol, tieBreak))

  /** Keeps only the events of cases whose variant is among the k most
    * frequent (count desc, variant string tiebreak — total order).
    * The dominant-behavior filter: a broadcast semi-join cascade, same
    * shape as the trace-filter cascade. */
  def filterTopKVariants(events: DataFrame, caseCol: String,
      activityCol: String, tsCol: String, tieBreak: String, k: Int): DataFrame = {
    // case-variant table materialized ONCE (r17): it feeds both the
    // top-k ranking and the kept-case projection — uncached, each
    // reference re-ran the case window + collect_list over the full
    // event log. One row per case, so the checkpoint is case-sized.
    val cv = caseVariants(events, caseCol, activityCol, tsCol, tieBreak)
      .localCheckpoint(true)
    val top = cv.groupBy("variant").agg(count(lit(1)).as("_n"))
      .withColumn("_rnk", row_number().over(
        Window.orderBy(col("_n").desc, col("variant").asc)))
      .filter(col("_rnk") <= k).select("variant")
    val keepCases = cv.join(broadcast(top), "variant").select(col(caseCol))
    events.join(broadcast(keepCases), Seq(caseCol), "left_semi")
  }

  /** Trace variants: the ordered activity sequence per case, counted.
    * The sequence string is the trace's classifier identity — the
    * [[variantRepresentatives]] projection. */
  def variants(events: DataFrame, caseCol: String, activityCol: String,
      tsCol: String, tieBreak: String): DataFrame =
    variantRepresentatives(events, caseCol, activityCol, tsCol, tieBreak)
      .drop("rep_case")
}
