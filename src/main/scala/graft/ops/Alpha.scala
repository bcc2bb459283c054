package graft.ops

import org.apache.spark.sql.DataFrame

/** Alpha miner (van der Aalst) — discovers a workflow net from the
  * directly-follows relations. The reference lists miners as its
  * capability direction (`/root/reference/src/lib.rs:11-22`, no
  * implementation); the book corpus (L1…) is the textbook's worked
  * example for exactly this algorithm.
  *
  * Scale shape: the heavy part (directly-follows pairs, alphabet,
  * start/end activities) is ONE distributed action over the full log,
  * [[Dfg.collectFootprint]]; the place search runs driver-side over
  * the collected footprint, which is |activities|² — small by
  * construction (an activity alphabet is human-scale even when the log
  * is 100 TB). The subset search is capped by `maxActivities`.
  */
object Alpha {

  case class Place(inputs: Set[String], outputs: Set[String])

  case class WorkflowNet(
    activities: Set[String],
    startActivities: Set[String],
    endActivities: Set[String],
    places: Set[Place])

  /** Runs the alpha algorithm. `events` as in [[Dfg.edges]]. */
  def mine(events: DataFrame, caseCol: String, activityCol: String,
      tsCol: String, tieBreak: String, maxActivities: Int = 20): WorkflowNet = {
    val fp = Dfg.collectFootprint(events, caseCol, activityCol, tsCol, tieBreak)
    val edges = fp.edges.keySet
    val acts = fp.activities.keySet
    require(acts.size <= maxActivities,
      s"alpha miner subset search capped at $maxActivities activities (got ${acts.size})")
    val starts = fp.starts.keySet
    val ends = fp.ends.keySet

    def follows(a: String, b: String) = edges.contains((a, b))
    def causal(a: String, b: String) = follows(a, b) && !follows(b, a)
    def choice(a: String, b: String) = !follows(a, b) && !follows(b, a)

    // candidate (A, B): all causal across, all #-independent within
    def valid(as: Set[String], bs: Set[String]): Boolean =
      as.nonEmpty && bs.nonEmpty &&
        as.forall(a => bs.forall(b => causal(a, b))) &&
        as.forall(a1 => as.forall(a2 => choice(a1, a2))) &&
        bs.forall(b1 => bs.forall(b2 => choice(b1, b2)))

    val actSeq = acts.toSeq
    def subsets(xs: Seq[String]): Iterator[Set[String]] =
      (1 to xs.size).iterator.flatMap(n => xs.combinations(n).map(_.toSet))

    // grow from causal pairs: for tractability enumerate subsets of the
    // causal-connected neighborhoods only
    val candidates = (for {
      as <- subsets(actSeq.filter(a => actSeq.exists(b => causal(a, b))))
      outs = actSeq.filter(b => as.forall(a => causal(a, b)))
      if outs.nonEmpty
      bs <- subsets(outs)
      if valid(as, bs)
    } yield Place(as, bs)).toSet

    // maximal only
    val places = candidates.filter(p => !candidates.exists(q =>
      q != p && p.inputs.subsetOf(q.inputs) && p.outputs.subsetOf(q.outputs)))

    WorkflowNet(acts, starts, ends, places)
  }
}
