package graft.ops

import org.apache.spark.sql.DataFrame

/** Alpha miner (van der Aalst) — discovers a workflow net from the
  * directly-follows relations. The reference lists miners as its
  * capability direction (`/root/reference/src/lib.rs:11-22`, no
  * implementation); the book corpus (L1…) is the textbook's worked
  * example for exactly this algorithm.
  *
  * Scale shape: the heavy part (directly-follows pairs, alphabet,
  * start/end activities) is [[Dfg.collectFootprint]], a fold over the
  * frame's [[Variants]] table — at most one action over the full log;
  * the place search runs driver-side over the collected footprint,
  * which is |activities|² — small by construction (an activity
  * alphabet is human-scale even when the log is 100 TB). The search
  * grows only #-independent sets with a common causal neighbour, and
  * is capped by `maxActivities`.
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
    // (each activity with itself too). Sets grow one activity at a time
    // and stop where they break that, or where `ok` fails — `ok` holds
    // for every subset of a set it holds for — so exactly the valid
    // candidates are visited, not every subset of the alphabet.
    def grow(xs: List[String], ok: Set[String] => Boolean,
        chosen: Set[String] = Set.empty): Iterator[Set[String]] =
      xs.tails.flatMap {
        case x :: rest if choice(x, x) && chosen.forall(choice(x, _)) && ok(chosen + x) =>
          Iterator.single(chosen + x) ++ grow(rest, ok, chosen + x)
        case _ => Iterator.empty
      }
    val actList = acts.toList
    val candidates = (for {
      as <- grow(actList, as => actList.exists(b => as.forall(causal(_, b))))
      bs <- grow(actList.filter(b => as.forall(causal(_, b))), _ => true)
    } yield Place(as, bs)).toSet

    // maximal only
    val places = candidates.filter(p => !candidates.exists(q =>
      q != p && p.inputs.subsetOf(q.inputs) && p.outputs.subsetOf(q.outputs)))

    WorkflowNet(acts, starts, ends, places)
  }
}
