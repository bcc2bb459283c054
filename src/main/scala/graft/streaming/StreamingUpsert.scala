package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming changelog compaction (CDC apply / latest-wins upsert) —
  * the online twin of the batch `max(struct(ts, event_id, value))`
  * per-key aggregate (EventLogQueries `q_upsert_latest`): every
  * incremental pipeline's merge-into primitive, maintained as it
  * arrives instead of recomputed per snapshot.
  *
  * Order-free by the same argument as [[StreamingSketches]]: the
  * lexicographic max over (tsMicros, eventId, value) — the batch
  * struct's full field order — is a commutative idempotent monoid, so
  * the flushed rows are BIT-EQUAL to the batch aggregate under any
  * batching, partitioning, or arrival order — the parity gate shares
  * the batch oracle verbatim. One pass, NO replay;
  * keyed state is ONE (ts, event_id, value) triple per live key —
  * proportional to the key space (exactly the batch shuffle's reducer
  * state), never to stream length.
  *
  * Same sentinel discipline as every twin: far-future rows route to
  * the ignore type, are dropped inside the fold, and their watermark
  * advance fires the flush timers. The winning row's tsMicros IS the
  * key's max event time (ts leads the sort key), so the state carries
  * no separate horizon field.
  */
object StreamingUpsert {

  /** One changelog row: key columns, total-order tiebreak columns
    * (tsMicros, then eventId, then value — the FULL struct order of
    * the batch `max(struct(ts, event_id, value))`, so even duplicate
    * (ts, id) rows with amended payloads resolve identically on both
    * paths), and the carried value. */
  case class UItem(userId: Long, eventType: String, eventId: Long,
      value: Double, tsMicros: Long)

  case class UpState(tsMicros: Long, eventId: Long, value: Double)

  /** One compacted key: its latest row. */
  case class ULatest(userId: Long, eventType: String, tsMicros: Long,
      eventId: Long, value: Double)

  /** `items` must carry a watermark on its event-time column.
    *
    * CONTRACT: `gapSeconds` must exceed the stream's event-time span.
    * A key quiet for longer than the gap flushes mid-stream and, if
    * touched again, re-creates its state and flushes a SECOND row for
    * the same key — the output is then a changelog segment list, not
    * one latest row per key. The parity gate passes its staged feed's
    * whole-history gap (`ParityFeed.FileFeed.gapSeconds`, span plus a
    * day); other callers must size the gap the same way. */
  def latest(spark: SparkSession, items: Dataset[UItem], gapSeconds: Long,
      ignoreType: String): Dataset[ULatest] = {
    import spark.implicits._
    val gapMs = gapSeconds * 1000L

    // full struct order (ts, id, value): value compares via
    // java.lang.Double.compare — the same total order (-0.0 < 0.0,
    // NaN greatest) Spark's struct max applies to a DoubleType field
    def better(a: UpState, ts: Long, id: Long, v: Double): Boolean =
      ts > a.tsMicros || (ts == a.tsMicros && (id > a.eventId ||
        (id == a.eventId && java.lang.Double.compare(v, a.value) > 0)))

    def update(key: (Long, String), in: Iterator[UItem],
        state: GroupState[UpState]): Iterator[ULatest] = {
      val (userId, eventType) = key
      if (state.hasTimedOut) {
        val st = state.get
        state.remove()
        Iterator.single(ULatest(userId, eventType, st.tsMicros, st.eventId,
          st.value))
      } else {
        var best = state.getOption.orNull
        in.foreach { e =>
          if (e.eventType != ignoreType &&
              (best == null || better(best, e.tsMicros, e.eventId, e.value)))
            best = UpState(e.tsMicros, e.eventId, e.value)
        }
        if (best == null) Iterator.empty // sentinel-only key
        else {
          val horizonMs = best.tsMicros / 1000L + gapMs
          val wmMs = state.getCurrentWatermarkMs()
          if (wmMs > horizonMs) {
            state.remove()
            Iterator.single(ULatest(userId, eventType, best.tsMicros,
              best.eventId, best.value))
          } else {
            state.update(best)
            state.setTimeoutTimestamp(math.max(horizonMs, wmMs + 1L))
            Iterator.empty
          }
        }
      }
    }

    items
      .groupByKey(e => (e.userId, e.eventType))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(update)
  }
}
