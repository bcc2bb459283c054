package graft.ops

import org.apache.spark.sql.DataFrame

import ProcessTree._

/** Inductive miner, directly-follows variant (IMd) — discovers a
  * block-structured process tree from the DFG, start and end
  * activities (public algorithm family: Leemans et al.; the reference
  * lists miners as its capability direction only,
  * `/root/reference/src/lib.rs:11-22`). Completes this engine's
  * discovery family next to [[Alpha]] (footprint place search) and
  * [[Dfg.dependencyMeasures]] (heuristics measures).
  *
  * Scale shape — same split as [[Alpha]]: the single heavy pass is
  * [[Dfg.collectFootprint]], a fold over the frame's [[Variants]]
  * table (one action, shared with every other variant reader of the
  * frame); the recursive cut
  * search then runs driver-side over the collected graph, which is
  * |activities|² — alphabet-sized no matter how many terabytes of
  * events produced it.
  *
  * Cut rules (tried in the standard order: base, ×, →, ∧, ⟲; flower
  * fallthrough):
  *  - ×   connected components of the undirected DFG;
  *  - →   strongly-connected components, pairwise-unreachable groups
  *        merged, remaining groups totally ordered by reachability;
  *  - ∧   components of the "not both directions" graph, every group
  *        holding ≥1 start and ≥1 end activity (invalid groups merge);
  *  - ⟲   body = the component structure around start∪end; a redo
  *        component is valid iff every edge into it leaves from an end
  *        activity and every edge out of it enters a start activity.
  *
  * IMd sees only the DFG abstraction (no log splitting), so unlike
  * full IM it does not guarantee perfect replay fitness on every log;
  * the specs pin the textbook results where they are exact and the
  * accepted-variant behavior elsewhere. [[InductiveLog]] is the full
  * IM: the same cut rules ([[findCut]]) driven through distributed
  * log splitting, with the perfect-fitness guarantee.
  */
object Inductive {

  /** The collected abstraction the recursion runs on. */
  case class Graph(
      activities: Set[String],
      edges: Set[(String, String)],
      starts: Set[String],
      ends: Set[String])

  /** Distributed extraction: the unweighted view of
    * [[collectWeightedGraph]]. */
  def collectGraph(events: DataFrame, caseCol: String, activityCol: String,
      tsCol: String, tieBreak: String): Graph = {
    val g = collectWeightedGraph(events, caseCol, activityCol, tsCol, tieBreak)
    Graph(g.activities, g.edges.keySet, g.starts.keySet, g.ends.keySet)
  }

  def mine(events: DataFrame, caseCol: String, activityCol: String,
      tsCol: String, tieBreak: String): ProcessTree =
    mineGraph(collectGraph(events, caseCol, activityCol, tsCol, tieBreak))

  /** Weighted abstraction for the noise-filtered variant (IMf-d):
    * edge/start/end frequencies kept so infrequent behavior can be
    * thresholded out before the cut search. One action:
    * [[Dfg.collectFootprint]]. */
  case class WeightedGraph(
      activities: Set[String],
      edges: Map[(String, String), Long],
      starts: Map[String, Long],
      ends: Map[String, Long])

  def collectWeightedGraph(events: DataFrame, caseCol: String,
      activityCol: String, tsCol: String, tieBreak: String): WeightedGraph = {
    val fp = Dfg.collectFootprint(events, caseCol, activityCol, tsCol, tieBreak)
    WeightedGraph(fp.activities.keySet, fp.edges, fp.starts, fp.ends)
  }

  /** The IMf relative-noise filter (Leemans et al., IMf family): drop
    * edge a→b when its frequency is below `eta` × the strongest edge
    * leaving a; starts/ends filtered against their own maxima the
    * same way. Activities always survive — only relations thin out.
    */
  def filterNoise(g: WeightedGraph, eta: Double): Graph = {
    val maxOut = g.edges.groupBy(_._1._1).view.mapValues(_.values.max).toMap
    // filter + keySet, NOT collect-to-pairs: Map.collect rebuilding
    // (source, target) tuples re-keys by source and silently keeps one
    // edge per activity
    val edges = g.edges.filter {
      case ((a, _), n) => n.toDouble >= eta * maxOut(a)
    }.keySet
    def keep(m: Map[String, Long]): Set[String] =
      if (m.isEmpty) Set.empty
      else { val mx = m.values.max
        m.filter { case (_, n) => n.toDouble >= eta * mx }.keySet }
    Graph(g.activities, edges, keep(g.starts), keep(g.ends))
  }

  /** Noise-tolerant mining: threshold the weighted DFG, then the
    * standard cut search. `eta` ∈ [0,1]; 0 = plain [[mine]]. */
  def mineFiltered(events: DataFrame, caseCol: String, activityCol: String,
      tsCol: String, tieBreak: String, eta: Double): ProcessTree =
    mineGraph(filterNoise(
      collectWeightedGraph(events, caseCol, activityCol, tsCol, tieBreak), eta))

  def mineGraph(g: Graph): ProcessTree = {
    if (g.activities.isEmpty) return Tau
    if (g.activities.size == 1) {
      val a = g.activities.head
      return if (g.edges.contains((a, a))) Loop(Seq(Leaf(a), Tau)) else Leaf(a)
    }
    findCut(g) match {
      case Some((CutKind.XorK, comps)) =>
        Xor(comps.map(c =>
          mineGraph(Graph(c, within(g, c), g.starts & c, g.ends & c))))
      case Some((CutKind.SeqK, ordered)) =>
        Sequence(ordered.zipWithIndex.map { case (grp, i) =>
          val before = ordered.take(i).flatten.toSet
          val after = ordered.drop(i + 1).flatten.toSet
          val starts = (g.starts & grp) ++
            grp.filter(a => g.edges.exists(e => before(e._1) && e._2 == a))
          val ends = (g.ends & grp) ++
            grp.filter(a => g.edges.exists(e => e._1 == a && after(e._2)))
          mineGraph(Graph(grp, within(g, grp), starts, ends))
        })
      case Some((CutKind.AndK, groups)) =>
        And(groups.map(grp =>
          mineGraph(Graph(grp, within(g, grp), g.starts & grp, g.ends & grp))))
      case Some((CutKind.LoopK, body +: redos)) =>
        val bodyTree = mineGraph(Graph(body, within(g, body), g.starts, g.ends))
        val redoTrees = redos.map { r =>
          val starts = r.filter(a => g.edges.exists(e => g.ends(e._1) && e._2 == a))
          val ends = r.filter(a => g.edges.exists(e => e._1 == a && g.starts(e._2)))
          mineGraph(Graph(r, within(g, r), starts, ends))
        }
        Loop(bodyTree +: redoTrees)
      case _ => flower(g)
    }
  }

  /** The four IM cut rules in standard order, detection only — the
    * partition of the alphabet, not the recursion. [[mineGraph]] (IMd)
    * recurses on derived sub-GRAPHS; [[InductiveLog.mine]] (full IM)
    * routes the EVENTS through the same partition and re-derives each
    * child's DFG from its actual sublog. For [[CutKind.SeqK]] groups
    * are in sequence order; for [[CutKind.LoopK]] the body group is
    * first, redo groups after. */
  private[ops] sealed trait CutKind
  private[ops] object CutKind {
    case object XorK extends CutKind
    case object SeqK extends CutKind
    case object AndK extends CutKind
    case object LoopK extends CutKind
  }

  private[ops] def findCut(g: Graph): Option[(CutKind, Seq[Set[String]])] =
    xorGroups(g).map(gs => (CutKind.XorK: CutKind, gs))
      .orElse(seqGroups(g).map(gs => (CutKind.SeqK: CutKind, gs)))
      .orElse(andGroups(g).map(gs => (CutKind.AndK: CutKind, gs)))
      .orElse(loopGroups(g).map(gs => (CutKind.LoopK: CutKind, gs)))

  // ---- cut machinery (driver-side, alphabet-sized) ----

  private def components(nodes: Set[String],
      undirected: Set[(String, String)]): Seq[Set[String]] = {
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      r
    }
    def union(a: String, b: String): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    undirected.foreach { case (a, b) =>
      if (nodes(a) && nodes(b)) union(a, b)
    }
    nodes.groupBy(find).values.toSeq.sortBy(_.min)
  }

  private def within(g: Graph, group: Set[String]): Set[(String, String)] =
    g.edges.filter(e => group(e._1) && group(e._2))

  private def xorGroups(g: Graph): Option[Seq[Set[String]]] = {
    val comps = components(g.activities, g.edges)
    if (comps.size < 2) None else Some(comps)
  }

  private def seqGroups(g: Graph): Option[Seq[Set[String]]] = {
    // reachability closure over the (small) alphabet
    val acts = g.activities.toSeq.sorted
    val idx = acts.zipWithIndex.toMap
    val n = acts.size
    val reach = Array.fill(n, n)(false)
    g.edges.foreach { case (a, b) => reach(idx(a))(idx(b)) = true }
    for (k <- 0 until n; i <- 0 until n if reach(i)(k); j <- 0 until n)
      if (reach(k)(j)) reach(i)(j) = true

    // SCCs: mutual reachability classes
    var groups: Seq[Set[String]] = acts.groupBy(a => acts.filter(b =>
      a == b || (reach(idx(a))(idx(b)) && reach(idx(b))(idx(a)))).toSet)
      .values.map(_.toSet).toSeq
    def gReach(x: Set[String], y: Set[String]): Boolean =
      x.exists(a => y.exists(b => reach(idx(a))(idx(b))))
    // merge pairwise-unreachable groups until the order is total
    var merged = true
    while (merged) {
      merged = false
      val pair = (for {
        i <- groups.indices.iterator; j <- (i + 1 until groups.size).iterator
        if !gReach(groups(i), groups(j)) && !gReach(groups(j), groups(i))
      } yield (i, j)).nextOption()
      pair.foreach { case (i, j) =>
        groups = groups.updated(i, groups(i) ++ groups(j)).patch(j, Nil, 1)
        merged = true
      }
    }
    if (groups.size < 2) return None
    Some(groups.sortWith((x, y) => gReach(x, y) && !gReach(y, x)))
  }

  private def andGroups(g: Graph): Option[Seq[Set[String]]] = {
    // H-graph: connect a—b unless BOTH a→b and b→a exist
    val acts = g.activities.toSeq
    val h = for {
      a <- acts; b <- acts if a < b
      if !(g.edges.contains((a, b)) && g.edges.contains((b, a)))
    } yield (a, b)
    var groups = components(g.activities, h.toSet)
    if (groups.size < 2) return None
    def valid(grp: Set[String]) =
      (g.starts & grp).nonEmpty && (g.ends & grp).nonEmpty
    // a group without a start or end activity cannot run concurrently
    // on its own — merge it into the smallest other group (merging
    // preserves the pairwise-bidirectional cross condition)
    while (groups.size > 1 && groups.exists(!valid(_))) {
      val bad = groups.find(!valid(_)).get
      val rest = groups.filterNot(_ == bad)
      val host = rest.minBy(_.size)
      groups = rest.filterNot(_ == host) :+ (host ++ bad)
    }
    if (groups.size < 2 || groups.exists(!valid(_))) None
    else Some(groups.sortBy(_.min))
  }

  private def loopGroups(g: Graph): Option[Seq[Set[String]]] = {
    val seed = g.starts ++ g.ends
    if (seed == g.activities) return None
    val rest = g.activities -- seed
    val cands = components(rest, within(g, rest))
    // valid redo: entered only from end activities, left only into
    // start activities; everything else folds into the body
    val (redos, intoBody) = cands.partition { r =>
      g.edges.forall { case (a, b) =>
        val in = !r(a) && r(b)
        val out = r(a) && !r(b)
        (!in || g.ends(a)) && (!out || g.starts(b))
      }
    }
    if (redos.isEmpty) return None
    val body = seed ++ intoBody.flatten
    Some(body +: redos)
  }

  /** Fallthrough: the flower model ⟲(τ, a₁,…,aₙ) — any sequence over
    * the alphabet. */
  private def flower(g: Graph): ProcessTree =
    Loop(Tau +: g.activities.toSeq.sorted.map(Leaf(_)))
}
