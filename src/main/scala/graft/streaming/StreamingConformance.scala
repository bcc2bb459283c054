package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ops.{Alignments, Alpha, PetriNet, Replay}

/** Streaming conformance checking: fitness per trace against a
  * broadcast reference model — the online "check" half next to
  * [[StreamingDfg]]'s online "discover".
  *
  * Token replay is a LEFT FOLD over the trace: the replay state after
  * a prefix is exactly (marking, produced/consumed/missing counters),
  * and firing the next activity reads nothing else — so the keyed
  * state compacts to a place-indexed token vector (net-sized, i.e.
  * alphabet-bounded) plus three counters, NEVER the trace itself.
  * The watermark-prefix argument ([[StreamingTemporal]] /
  * [[StreamingFunnel]] / [[StreamingDfg]]): events below the watermark
  * are immutable and each micro-batch's foldable slice sits at-or-above
  * every previously folded one (a late row would have been dropped
  * before the state op), and a (ts, activity) tie group never
  * straddles the strict `ts < wm` cut — so folding the below-watermark
  * prefix each batch and buffering only in-horizon events reproduces
  * [[Replay.replayVariant]] over the fully sorted trace bit-for-bit —
  * both fire the same compiled net ([[Replay.compile]], [[Replay.fire]]).
  * Per-case state: token vector + counters + the in-horizon buffer
  * (gap × rate), independent of trace length — the 100 TB-stream shape
  * for arbitrarily long-running cases.
  *
  * Alignment-based fitness ([[alignmentFitness]]) stays trace-buffered
  * by construction: optimal alignment is a shortest path over the
  * (trace × model) product space — the prefix of an optimal alignment
  * is NOT an optimal alignment of the prefix (a cheap early deviation
  * can beat an expensive later one), so no sublinear-in-trace summary
  * is sufficient and [[TraceAssembly]]'s open-session bound is the
  * honest state floor for it.
  */
object StreamingConformance extends Serializable {

  case class TraceFitness(caseId: String, nEvents: Long,
      fitness: Double, missing: Long, remaining: Long)

  case class TraceAlignment(caseId: String, nEvents: Long,
      cost: Int, fitness: Double)

  /** Keyed replay state: `toks` is the marking (tokens per place id);
    * `tss`/`acts` buffer only in-horizon (at-or-above watermark)
    * events; counters mirror [[Replay.replayVariant]]'s. */
  case class RpSt(toks: Seq[Long], produced: Long, consumed: Long,
      missing: Long, nEvents: Long,
      tss: Seq[Long], acts: Seq[String], lastMicros: Long)

  /** Token-replay fitness per closed trace against a workflow net.
    * Emission is still at case close (fitness of a half-open trace is
    * not a fact), but the state carried until then is the compact fold
    * summary, not the trace. */
  def replayFitness(spark: SparkSession,
      events: Dataset[TraceAssembly.InEvent], gapSeconds: Long,
      net: Alpha.WorkflowNet): Dataset[TraceFitness] = {
    import spark.implicits._
    val bNet = spark.sparkContext.broadcast(Replay.compile(net))

    // fire one sorted slice into the marking — Replay.fire, resumable
    // because it reads only the state
    def fold(st: RpSt, sorted: Seq[(Long, String)]): RpSt = {
      if (sorted.isEmpty) return st
      val toks = st.toks.toArray
      val (p, c, m) = Replay.fire(bNet.value, toks, sorted.iterator.map(_._2))
      RpSt(toks.toSeq, st.produced + p, st.consumed + c, st.missing + m,
        st.nEvents + sorted.size, st.tss, st.acts, st.lastMicros)
    }

    // final-marking settlement and fitness of Replay.replayVariant
    def close(caseId: String, st0: RpSt): TraceFitness = {
      val st = fold(st0, st0.tss.zip(st0.acts).sortBy(e => (e._1, e._2)))
      val vf = Replay.settle(Nil, st.toks.toArray, st.produced, st.consumed,
        st.missing)
      TraceFitness(caseId, st.nEvents, vf.fitness, vf.missing, vf.remaining)
    }

    def update(caseId: String, in: Iterator[TraceAssembly.InEvent],
        state: GroupState[RpSt]): Iterator[TraceFitness] = {
      if (state.hasTimedOut) {
        val st = state.get
        state.remove()
        Iterator(close(caseId, st))
      } else {
        val wmMicros = state.getCurrentWatermarkMs() * 1000L
        val old = state.getOption.getOrElse( // produced counts the source
          RpSt(Replay.initialMarking(bNet.value).toSeq, 1L, 0L, 0L, 0L,
            Nil, Nil, 0L))
        var last = old.lastMicros
        val fresh = scala.collection.mutable.ListBuffer.empty[(Long, String)]
        in.foreach { e =>
          last = math.max(last, e.tsMicros)
          fresh += ((e.tsMicros, e.activity))
        }
        val buffered = old.tss.zip(old.acts) ++ fresh
        val (done, rest) = buffered.partition(_._1 < wmMicros)
        val folded =
          if (done.isEmpty) old
          else fold(old, done.sortBy(e => (e._1, e._2)))
        state.update(RpSt(folded.toks, folded.produced, folded.consumed,
          folded.missing, folded.nEvents,
          rest.map(_._1), rest.map(_._2), last))
        state.setTimeoutTimestamp(last / 1000L + gapSeconds * 1000L)
        Iterator.empty
      }
    }

    events.groupByKey(_.caseId)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(update)
  }

  /** Optimal-alignment fitness per closed trace against a Petri net
    * (τ-aware, so discovered process-tree models work unchanged).
    * Trace-buffered BY NECESSITY — see the class doc: alignment is a
    * shortest path over the product space and has no
    * prefix-composable summary, so [[TraceAssembly]]'s open-session
    * buffer is its irreducible state. */
  def alignmentFitness(spark: SparkSession,
      events: Dataset[TraceAssembly.InEvent], gapSeconds: Long,
      net: PetriNet): Dataset[TraceAlignment] = {
    import spark.implicits._
    val bNet = spark.sparkContext.broadcast(net)
    val emptyCost = Alignments.shortestModelRunCost(net)
    TraceAssembly.assemble(spark, events, gapSeconds).map { t =>
      val a = Alignments.align(bNet.value, t.activities.toIndexedSeq)
      val worst = t.activities.length + emptyCost
      val fit = if (worst == 0) 1.0 else 1.0 - a.cost.toDouble / worst
      TraceAlignment(t.caseId, t.nEvents, a.cost, fit)
    }
  }
}
