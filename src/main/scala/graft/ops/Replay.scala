package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Token-replay conformance checking (Rozinat/van der Aalst fitness)
  * of a log against a workflow net — the "check" half of the
  * discover→check pipeline that [[Alpha]] opens. Beyond the
  * reference's scope (like the miners themselves, lib.rs:11-22 lists
  * the direction only).
  *
  * Scale shape: replay is per-VARIANT, not per-trace — it maps over
  * the replay view of the frame's [[Variants]] table (the distinct
  * null-free activity sequences, usually orders of magnitude fewer
  * than the traces), each replayed once and weighted by its case
  * count. A table of at most [[Variants.SampleN]] variants replays on
  * the driver into a local frame, which [[logFitness]] sums with no
  * job; a larger one replays as a typed `map` over the cached table —
  * the documented last-resort tier, applied to the already-tiny side
  * of the data.
  *
  * Replay semantics: implicit source place (feeds the start
  * activities) and sink place (fed by the end activities); firing an
  * activity consumes one token from every place that feeds it
  * (missing tokens are minted and counted) and produces one into
  * every place it feeds; the final sink consumption and leftover
  * tokens complete the standard fitness formula
  * `1/2(1 − missing/consumed) + 1/2(1 − remaining/produced)`.
  */
object Replay {

  case class VariantFitness(
    variant: Seq[String], nCases: Long,
    produced: Long, consumed: Long, missing: Long, remaining: Long,
    fitness: Double)

  def replayVariant(net: Alpha.WorkflowNet, acts: Seq[String]): VariantFitness = {
    // place ids: 0 = source, 1 = sink, 2.. = mined places
    val mined = net.places.toSeq
    val tokens = scala.collection.mutable.Map.empty[Int, Long].withDefaultValue(0L)
    var produced = 0L; var consumed = 0L; var missing = 0L

    def feedersOf(a: String): Seq[Int] =
      (if (net.startActivities.contains(a)) Seq(0) else Nil) ++
        mined.zipWithIndex.collect { case (p, i) if p.outputs.contains(a) => i + 2 }
    def fedBy(a: String): Seq[Int] =
      (if (net.endActivities.contains(a)) Seq(1) else Nil) ++
        mined.zipWithIndex.collect { case (p, i) if p.inputs.contains(a) => i + 2 }

    tokens(0) = 1L; produced += 1        // initial marking: source
    acts.foreach { a =>
      feedersOf(a).foreach { p =>
        consumed += 1
        if (tokens(p) > 0) tokens(p) -= 1 else missing += 1
      }
      fedBy(a).foreach { p => tokens(p) += 1; produced += 1 }
    }
    consumed += 1                        // final marking: consume sink
    if (tokens(1) > 0) tokens(1) -= 1 else missing += 1
    val remaining = tokens.values.sum
    val fitness =
      0.5 * (1.0 - missing.toDouble / consumed.toDouble) +
        0.5 * (1.0 - remaining.toDouble / produced.toDouble)
    VariantFitness(acts, 0L, produced, consumed, missing, remaining, fitness)
  }

  /** Per-variant fitness table for a log against `net`. */
  def variantFitness(spark: SparkSession, events: DataFrame, caseCol: String,
      activityCol: String, tsCol: String, tieBreak: String,
      net: Alpha.WorkflowNet): Dataset[VariantFitness] =
    fitnessOf(Variants.of(events, caseCol, activityCol, tsCol, tieBreak), net)

  private[ops] def fitnessOf(t: Variants.Table,
      net: Alpha.WorkflowNet): Dataset[VariantFitness] = {
    val spark = t.frame.sparkSession
    import spark.implicits._
    Variants.mapSequences(t) { case (seq, n) =>
      replayVariant(net, seq).copy(nCases = n) }
  }

  /** Case-weighted log fitness in [0,1]. */
  def logFitness(fitness: Dataset[VariantFitness]): Double =
    Variants.caseWeighted(fitness.toDF(), "fitness")
}
