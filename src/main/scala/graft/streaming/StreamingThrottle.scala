package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.ops.Sessionize.throttleDedup]]: per
  * (case, label) key an event survives iff no same-key event preceded
  * it within the gap — the debounce applied online, at ingest, instead
  * of in the nightly batch. Same lag-relative semantics (each event is
  * judged against the PREVIOUS event, kept or not), so the batch and
  * streaming operators agree row-for-row when batch boundaries respect
  * per-key event-time order (the file-drop / Kafka-partition
  * contract); within a micro-batch arrival order doesn't matter — the
  * group's rows are sorted by (ts, tie) before the scan.
  *
  * Row-for-row agreement needs more than per-key order: the arrival
  * stream must be GLOBALLY watermark-compatible — no event may lag
  * the stream's maximum seen event time by more than the watermark
  * delay, because flatMapGroupsWithState drops rows at-or-below the
  * watermark BEFORE the handler sees them (a cross-key skew larger
  * than the delay silently undercounts that key). Time-ordered
  * ingestion (range-partitioned file drops, per-source offsets with
  * bounded skew + a matching watermark delay) satisfies this; both
  * parity feed does (`ParityFeed`: time-range slices, one data batch
  * for the oracle gate, several per trigger bound in the scale
  * audit).
  *
  * State is ONE timestamp per key, and a key whose last event has
  * fallen `gapSeconds` behind the watermark is evicted by event-time
  * timeout — a later event at that key would be kept regardless, and
  * re-creating empty state yields exactly that verdict. Live state is
  * therefore bounded by keys ACTIVE within the gap horizon, not by
  * stream length (observer.rs:90-100's bounded-state discipline).
  *
  * Emits per-(key, micro-batch) partial counts (label, n_total,
  * n_kept); fold with a downstream groupBy(label).sum.
  */
object StreamingThrottle {

  case class InEvent(caseId: Long, label: String, tsMicros: Long, tie: Long)

  /** Per-key partial tallies for one micro-batch. */
  case class KeyCounts(label: String, nTotal: Long, nKept: Long)

  /** Last-seen event time per key (public for state-store codegen). */
  case class LastTs(us: Long)

  def keptCounts(spark: SparkSession, events: Dataset[InEvent],
      gapSeconds: Long): Dataset[KeyCounts] = {
    import spark.implicits._
    val gapUs = gapSeconds * 1000000L

    def update(key: (Long, String), in: Iterator[InEvent],
        state: GroupState[LastTs]): Iterator[KeyCounts] = {
      if (state.hasTimedOut) { // idle past the gap horizon: forget
        state.remove()
        Iterator.empty
      } else {
        val rows = in.toArray.sortInPlaceBy(e => (e.tsMicros, e.tie))
        var last = state.getOption.map(_.us).getOrElse(Long.MinValue)
        var kept = 0L
        rows.foreach { e =>
          if (last == Long.MinValue || e.tsMicros - last > gapUs) kept += 1L
          // max, not assignment: a cross-batch out-of-order row (above
          // the watermark but below the stored timestamp — outside the
          // per-key-order contract) must not rewind state, or later
          // rows are judged against the rewound time and over-kept.
          // With the max the late row itself is dropped (ts - last < 0
          // <= gap) and the verdict degrades toward the sorted-batch
          // rule; it also keeps the timeout timestamp monotone (Spark
          // rejects a timeout at-or-below the current watermark).
          last = math.max(last, e.tsMicros)
        }
        state.update(LastTs(last))
        state.setTimeoutTimestamp(last / 1000L + gapSeconds * 1000L)
        Iterator.single(KeyCounts(key._2, rows.length.toLong, kept))
      }
    }

    events.groupByKey(e => (e.caseId, e.label))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(update)
  }
}
