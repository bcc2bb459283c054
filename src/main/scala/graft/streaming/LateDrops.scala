package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery

/** Late-data observability for the stateful streaming operators.
  *
  * Every watermarked stateful operator in Spark silently discards
  * input rows at-or-below the current watermark BEFORE the operator
  * logic sees them — so a stream whose cross-key skew exceeds the
  * watermark delay undercounts, with no error anywhere (contrast the
  * reference's in-band error propagation, component.rs:247-256, which
  * never drops silently). The engine DOES count the drops per state
  * operator in `StreamingQueryProgress.stateOperators
  * .numRowsDroppedByWatermark`; this helper folds that counter over a
  * query's retained progress history so harnesses and gates can turn
  * "silently lossy" into a loud failure.
  *
  * Progress retention: Spark keeps the last
  * `spark.sql.streaming.numRecentProgressUpdates` (default 100)
  * progress entries — a query with more micro-batches than that
  * would evict its early entries and [[count]] would silently
  * undercount the very loss it guards against. Callers must either
  * raise the conf before starting the query (the scale audit
  * [[graft.tools.StreamScaleBench]] sets it to 4096, far above the
  * batch count of any of its rows) or sample [[count]] at least once
  * per retention window.
  */
object LateDrops {

  /** Rows dropped at-or-below the watermark, summed over all state
    * operators and all RETAINED progress entries of `q`. Valid after
    * `processAllAvailable`; the counter survives `q.stop()`. */
  def count(q: StreamingQuery): Long =
    q.recentProgress.iterator
      .flatMap(_.stateOperators.iterator.map(_.numRowsDroppedByWatermark))
      .sum

  /** Loud-failure gate: the batch↔stream parity contract REQUIRES a
    * watermark-compatible feed (nothing late), so any nonzero drop
    * count means the harness fed data the operator never saw and the
    * hash gate would be comparing against a silently lossy stream.
    */
  def assertNone(q: StreamingQuery, tag: String): Unit = {
    val n = count(q)
    require(n == 0L,
      s"$tag: $n input rows were dropped at the watermark before the " +
        "stateful operator saw them — the stream result silently " +
        "undercounts (feed is not watermark-compatible)")
  }
}
