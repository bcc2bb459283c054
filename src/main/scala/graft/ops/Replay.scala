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

  /** A workflow net compiled to place-indexed firing tables: for each
    * activity, the places it consumes from (`feeders`) and produces
    * into (`fedBy`). Place ids: 0 = source, 1 = sink, 2.. = mined
    * places. Compiled once per replay call; the batch variant replay
    * and the streaming fold (`StreamingConformance`) both read it. */
  final case class Net(nPlaces: Int, feeders: Map[String, Array[Int]],
      fedBy: Map[String, Array[Int]])

  def compile(net: Alpha.WorkflowNet): Net = {
    val mined = net.places.toSeq.zipWithIndex
    val alphabet = net.startActivities ++ net.endActivities ++
      mined.flatMap { case (p, _) => p.inputs ++ p.outputs }
    def table(port: Int, ends: Set[String],
        side: Alpha.Place => Set[String]): Map[String, Array[Int]] =
      alphabet.map { a =>
        a -> ((if (ends.contains(a)) Seq(port) else Nil) ++
          mined.collect { case (p, i) if side(p).contains(a) => i + 2 }).toArray
      }.toMap
    Net(mined.size + 2, table(0, net.startActivities, _.outputs),
      table(1, net.endActivities, _.inputs))
  }

  private val NoPlaces = new Array[Int](0)

  /** Fires `acts` in order into the marking `toks` (updated in place)
    * and returns the (produced, consumed, missing) it adds: firing
    * consumes one token from every feeding place (a missing token is
    * minted and counted) and produces one into every fed place. The
    * streaming fold resumes it slice by slice. */
  def fire(net: Net, toks: Array[Long], acts: Iterator[String]): (Long, Long, Long) = {
    var produced = 0L; var consumed = 0L; var missing = 0L
    acts.foreach { a =>
      net.feeders.getOrElse(a, NoPlaces).foreach { p =>
        consumed += 1
        if (toks(p) > 0) toks(p) -= 1 else missing += 1
      }
      net.fedBy.getOrElse(a, NoPlaces).foreach { p =>
        toks(p) += 1; produced += 1
      }
    }
    (produced, consumed, missing)
  }

  /** A fresh marking: one token on the source (`produced` counts it). */
  def initialMarking(net: Net): Array[Long] = {
    val toks = new Array[Long](net.nPlaces)
    toks(0) = 1L
    toks
  }

  /** Settles a replayed trace: consumes the sink token from `toks`
    * (updated in place), counts the leftovers and applies the fitness
    * formula to the trace's running counters. */
  def settle(acts: Seq[String], toks: Array[Long], produced: Long,
      consumed: Long, missing: Long): VariantFitness = {
    val miss = if (toks(1) > 0) { toks(1) -= 1; missing } else missing + 1
    val remaining = toks.sum
    val fitness =
      0.5 * (1.0 - miss.toDouble / (consumed + 1).toDouble) +
        0.5 * (1.0 - remaining.toDouble / produced.toDouble)
    VariantFitness(acts, 0L, produced, consumed + 1, miss, remaining, fitness)
  }

  def replayVariant(net: Net, acts: Seq[String]): VariantFitness = {
    val toks = initialMarking(net)
    val (produced, consumed, missing) = fire(net, toks, acts.iterator)
    settle(acts, toks, 1L + produced, consumed, missing)
  }

  def replayVariant(net: Alpha.WorkflowNet, acts: Seq[String]): VariantFitness =
    replayVariant(compile(net), acts)

  /** Per-variant fitness table for a log against `net`. */
  def variantFitness(spark: SparkSession, events: DataFrame, caseCol: String,
      activityCol: String, tsCol: String, tieBreak: String,
      net: Alpha.WorkflowNet): Dataset[VariantFitness] =
    fitnessOf(Variants.of(events, caseCol, activityCol, tsCol, tieBreak), net)

  private[ops] def fitnessOf(t: Variants.Table,
      net: Alpha.WorkflowNet): Dataset[VariantFitness] = {
    val spark = t.frame.sparkSession
    import spark.implicits._
    val c = compile(net)
    Variants.mapSequences(t) { case (seq, n) =>
      replayVariant(c, seq).copy(nCases = n) }
  }

  /** Case-weighted log fitness in [0,1]. */
  def logFitness(fitness: Dataset[VariantFitness]): Double =
    Variants.caseWeighted(fitness.toDF(), "fitness")
}
