package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Optimal-alignment conformance checking (Adriansyah/van der Aalst;
  * public algorithm family) — the exact counterpart of the heuristic
  * [[Replay]]: the minimum-cost sequence of moves turning a trace into
  * a run of the net. Completes the discover→check pipeline for models
  * with silent transitions ([[PetriNet.fromTree]] nets), where token
  * replay's implicit-place bookkeeping does not apply.
  *
  * Move costs (the standard unit cost function):
  *  - synchronous move (trace event + matching labeled firing): 0
  *  - model move on a τ transition: 0 (silent routing is free)
  *  - model move on a labeled transition: 1 (the model did something
  *    the trace missed)
  *  - log move (trace event the model cannot mirror): 1
  *
  * Search: Dijkstra over (marking, trace position) — uniform-cost, so
  * the first settled goal state is optimal; τ-cycles are handled by
  * the settled-set. Nets compiled from discovered trees are safe and
  * alphabet-sized, so the product state space is tiny; `maxStates`
  * guards degenerate inputs.
  *
  * Scale shape — same split as [[Replay]]: alignment is per-VARIANT
  * (distinct null-free activity sequence of the frame's [[Variants]]
  * table), not per-trace, each aligned once and weighted by case
  * count — on the driver into a local frame when the table is there,
  * else in executors over the cached table. The imperative search
  * runs on the already-tiny variant side (documented last-resort
  * tier), never on the event mass.
  */
object Alignments {

  case class Alignment(cost: Int, syncMoves: Int, modelMoves: Int,
      tauMoves: Int, logMoves: Int)

  case class VariantAlignment(variant: Seq[String], nCases: Long,
      cost: Int, syncMoves: Int, modelMoves: Int, logMoves: Int,
      fitness: Double)

  /** Minimum-cost alignment of one trace against the net. */
  def align(net: PetriNet, trace: IndexedSeq[String],
      maxStates: Int = 500000): Alignment = {
    type State = (Map[String, Int], Int)
    // moves: per-state back-pointer-free accounting — carry the move
    // counters in the queue entry (states are tiny; the counters make
    // the result self-describing without path reconstruction)
    case class Entry(cost: Int, state: State, sync: Int, model: Int,
        tau: Int, log: Int)
    implicit val ord: Ordering[Entry] = Ordering.by(e => -e.cost)

    def canon(m: Map[String, Int]): Map[String, Int] = m.filter(_._2 > 0)
    val target = canon(net.finalMarking)
    val start: State = (canon(net.initialMarking), 0)

    val best = scala.collection.mutable.Map[State, Int](start -> 0)
    val settled = scala.collection.mutable.Set.empty[State]
    val pq = scala.collection.mutable.PriorityQueue(
      Entry(0, start, 0, 0, 0, 0))

    while (pq.nonEmpty) {
      val e = pq.dequeue()
      val (m, pos) = e.state
      if (!settled(e.state)) {
        settled += e.state
        if (settled.size > maxStates)
          throw new IllegalStateException(s"alignment exceeds $maxStates states")
        if (pos == trace.length && m == target)
          return Alignment(e.cost, e.sync, e.model, e.tau, e.log)

        def push(cost: Int, s: State, sync: Int, model: Int, tau: Int,
            log: Int): Unit =
          if (!settled(s) && best.getOrElse(s, Int.MaxValue) > cost) {
            best(s) = cost
            pq.enqueue(Entry(cost, s, sync, model, tau, log))
          }

        // log move: skip the trace event
        if (pos < trace.length)
          push(e.cost + 1, (m, pos + 1), e.sync, e.model, e.tau, e.log + 1)
        // model / sync moves
        net.transitions.foreach { t =>
          if (net.enabled(m, t.id)) {
            val fired = canon(net.fire(m, t.id))
            t.label match {
              case None =>
                push(e.cost, (fired, pos), e.sync, e.model, e.tau + 1, e.log)
              case Some(a) =>
                // sync if it matches the next trace event
                if (pos < trace.length && a == trace(pos))
                  push(e.cost, (fired, pos + 1),
                    e.sync + 1, e.model, e.tau, e.log)
                // model move always available
                push(e.cost + 1, (fired, pos),
                  e.sync, e.model + 1, e.tau, e.log)
            }
          }
        }
      }
    }
    throw new IllegalStateException(
      "net has no run reaching the final marking")
  }

  /** Cost of the cheapest model run (empty-trace alignment) — the
    * denominator's model half in the standard fitness normalization. */
  def shortestModelRunCost(net: PetriNet): Int =
    align(net, Vector.empty).cost

  /** Per-variant optimal alignments for a log against `net`, with
    * the standard normalized fitness
    * `1 − cost / (|trace| + shortestModelRun)`. */
  def variantAlignments(spark: SparkSession, events: DataFrame,
      caseCol: String, activityCol: String, tsCol: String, tieBreak: String,
      net: PetriNet): Dataset[VariantAlignment] =
    alignmentsOf(Variants.of(events, caseCol, activityCol, tsCol, tieBreak), net)

  private[ops] def alignmentsOf(t: Variants.Table,
      net: PetriNet): Dataset[VariantAlignment] = {
    val spark = t.frame.sparkSession
    import spark.implicits._
    val emptyCost = shortestModelRunCost(net)
    Variants.mapSequences(t) { case (seq, n) =>
      val a = align(net, seq.toIndexedSeq)
      val worst = seq.length + emptyCost
      val fit = if (worst == 0) 1.0 else 1.0 - a.cost.toDouble / worst
      VariantAlignment(seq, n, a.cost, a.syncMoves, a.modelMoves,
        a.logMoves, fit)
    }
  }

  /** Case-weighted alignment fitness in [0,1]. */
  def logFitness(aligned: Dataset[VariantAlignment]): Double =
    Variants.caseWeighted(aligned.toDF(), "fitness")
}
