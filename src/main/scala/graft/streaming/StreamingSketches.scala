package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.HllSketch

/** Streaming twins for the ORDER-FREE sketch family (HyperLogLog
  * registers, Bloom filter words, count-min cells) — the easy end of
  * the streaming spectrum, and worth gating precisely because of WHY
  * it is easy: all three sketches are commutative-monoid folds
  * (register MAX, bit OR, bucket SUM), so the streaming result is
  * BIT-EQUAL to the batch aggregate
  * under any batching, any partitioning, any arrival order — the
  * parity gates share the batch queries' DuckDB oracles verbatim, no
  * audit-style weakening needed (contrast
  * [[graft.ops.SketchQuantiles]], whose merge-order-dependent
  * estimates force an error-bound oracle).
  *
  * Like [[StreamingSketchQuantiles]] these are ONE-PASS, NO-replay
  * operators: keyed state is the fixed-size sketch itself (m ints per
  * group / w longs per hash row), the no-retention-regime member of
  * each family. Same sentinel discipline as every twin: far-future
  * rows route to the ignore key, are dropped inside the fold, and
  * their watermark advance fires the flush timers; the data-branch
  * inline flush covers ignore-pinned keys.
  */
object StreamingSketches {

  // ---- HyperLogLog registers per group ----

  /** One stream row: group key, the PORTABLE hash (charHash — computed
    * in-plan upstream so the codegen kernel is exercised), event-time
    * micros. */
  case class HItem(group: String, h: Long, tsMicros: Long)

  case class HllState(regs: Array[Int], maxTsMicros: Long)

  /** One flushed register vector. */
  case class HllRow(group: String, regs: Array[Int])

  /** `items` must carry a watermark on its event-time column. The fold
    * applies [[HllSketch.updateRegister]] — the SAME per-value update
    * the batch aggregate runs, so registers cannot drift. */
  def hllRegisters(spark: SparkSession, items: Dataset[HItem], m: Int,
      budgetBits: Int, gapSeconds: Long,
      ignoreGroup: String): Dataset[HllRow] = {
    import spark.implicits._
    require(m >= 1, s"register count must be >= 1: $m")
    val gapMs = gapSeconds * 1000L

    def update(group: String, in: Iterator[HItem],
        state: GroupState[HllState]): Iterator[HllRow] = {
      if (state.hasTimedOut) {
        val st = state.get
        state.remove()
        Iterator.single(HllRow(group, st.regs))
      } else {
        val old = state.getOption
        val regs = old.map(_.regs.clone()).getOrElse(new Array[Int](m))
        var maxTs = old.map(_.maxTsMicros).getOrElse(Long.MinValue)
        var saw = false
        in.foreach { e =>
          if (e.group != ignoreGroup) {
            HllSketch.updateRegister(regs, e.h, m, budgetBits)
            saw = true
            maxTs = math.max(maxTs, e.tsMicros)
          }
        }
        if (!saw && old.isEmpty) Iterator.empty // sentinel-only group
        else {
          val horizonMs = maxTs / 1000L + gapMs
          val wmMs = state.getCurrentWatermarkMs()
          if (wmMs > horizonMs) {
            state.remove()
            Iterator.single(HllRow(group, regs))
          } else {
            state.update(HllState(regs, maxTs))
            state.setTimeoutTimestamp(math.max(horizonMs, wmMs + 1L))
            Iterator.empty
          }
        }
      }
    }

    items
      .groupByKey(_.group)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(update)
  }

  // ---- Bloom filter words ----

  /** One stream row: the 32-bit word index of a set bit, the single-bit
    * mask inside that word, event-time micros. Both come out of
    * [[graft.dedup.Bloom.positions]]' in-plan arithmetic (the batch
    * build's exact bit layout); sentinels route as `word = ignoreWord`.
    */
  case class BItem(word: Long, mask: Long, tsMicros: Long)

  case class BloomState(bits: Long, maxTsMicros: Long)

  /** One flushed non-empty filter word — [[graft.dedup.Bloom.build]]'s
    * (word, bits) row contract, so the flushed table IS the filter the
    * batch [[graft.dedup.Bloom.probe]] broadcasts. */
  case class BloomWord(word: Long, bits: Long)

  /** `items` must carry a watermark on its event-time column. Bit OR
    * commutes, so the flushed words are BIT-EQUAL to the batch
    * `bit_or` group-by under any batching/arrival order. State is one
    * long per touched word — ≤ mBits/32 keys total (2048 at the
    * default 65536 bits) regardless of stream length: the online
    * "have we ingested this before?" ledger a drop-dir ingest keeps
    * warm between batch probes.
    *
    * CONTRACT: `gapSeconds` must exceed the stream's event-time span.
    * A word quiet for longer than the gap flushes mid-stream and, if
    * touched again, re-creates its state and flushes a SECOND row for
    * the same word — the flushed table is then an OR-decomposition of
    * the filter, not the filter itself. A violation fails loudly
    * downstream (duplicate words break the probe's word-count
    * fingerprint), so callers size the gap from the data: the parity
    * gates pass their staged feed's whole-history gap
    * (`ParityFeed.FileFeed.gapSeconds`, span plus a day). */
  def bloomWords(spark: SparkSession, items: Dataset[BItem],
      gapSeconds: Long, ignoreWord: Long = -1L): Dataset[BloomWord] = {
    import spark.implicits._
    val gapMs = gapSeconds * 1000L

    def update(word: Long, in: Iterator[BItem],
        state: GroupState[BloomState]): Iterator[BloomWord] = {
      if (state.hasTimedOut) {
        val st = state.get
        state.remove()
        Iterator.single(BloomWord(word, st.bits))
      } else {
        val old = state.getOption
        var bits = old.map(_.bits).getOrElse(0L)
        var maxTs = old.map(_.maxTsMicros).getOrElse(Long.MinValue)
        var saw = false
        in.foreach { e =>
          if (e.word != ignoreWord) {
            bits |= e.mask
            saw = true
            maxTs = math.max(maxTs, e.tsMicros)
          }
        }
        if (!saw && old.isEmpty) Iterator.empty // sentinel-only key
        else {
          val horizonMs = maxTs / 1000L + gapMs
          val wmMs = state.getCurrentWatermarkMs()
          if (wmMs > horizonMs) {
            state.remove()
            Iterator.single(BloomWord(word, bits))
          } else {
            state.update(BloomState(bits, maxTs))
            state.setTimeoutTimestamp(math.max(horizonMs, wmMs + 1L))
            Iterator.empty
          }
        }
      }
    }

    items
      .groupByKey(_.word)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(update)
  }

  // ---- count-min cells per hash row ----

  /** One stream row: the hash-row index (the d dimension; computed
    * in-plan with [[graft.text.CmSketch.bucket]]'s column so the
    * arithmetic is the batch kernel's), the bucket, event-time micros.
    * Sentinels route as `row = ignoreRow`. */
  case class CItem(row: Int, bucket: Int, tsMicros: Long)

  case class CmState(cells: Array[Long], maxTsMicros: Long)

  /** One flushed non-empty cell — the batch kernel's (row, bucket, n)
    * cell-table contract. */
  case class CmCell(row: Int, bucket: Int, n: Long)

  /** `items` must carry a watermark on its event-time column. State is
    * one Array[Long](w) per hash row — d keys total, the whole sketch
    * d·w longs regardless of stream length. */
  def cmCells(spark: SparkSession, items: Dataset[CItem], w: Int,
      gapSeconds: Long, ignoreRow: Int = -1): Dataset[CmCell] = {
    import spark.implicits._
    require(w >= 1, s"bucket count must be >= 1: $w")
    val gapMs = gapSeconds * 1000L

    def flush(row: Int, st: CmState): Iterator[CmCell] =
      st.cells.iterator.zipWithIndex.collect {
        case (n, b) if n > 0L => CmCell(row, b, n)
      }

    def update(row: Int, in: Iterator[CItem],
        state: GroupState[CmState]): Iterator[CmCell] = {
      if (state.hasTimedOut) {
        val st = state.get
        state.remove()
        flush(row, st)
      } else {
        val old = state.getOption
        val cells = old.map(_.cells.clone()).getOrElse(new Array[Long](w))
        var maxTs = old.map(_.maxTsMicros).getOrElse(Long.MinValue)
        var saw = false
        in.foreach { e =>
          if (e.row != ignoreRow) {
            cells(e.bucket) += 1L
            saw = true
            maxTs = math.max(maxTs, e.tsMicros)
          }
        }
        if (!saw && old.isEmpty) Iterator.empty // sentinel-only key
        else {
          val horizonMs = maxTs / 1000L + gapMs
          val wmMs = state.getCurrentWatermarkMs()
          if (wmMs > horizonMs) {
            state.remove()
            flush(row, CmState(cells, maxTs))
          } else {
            state.update(CmState(cells, maxTs))
            state.setTimeoutTimestamp(math.max(horizonMs, wmMs + 1L))
            Iterator.empty
          }
        }
      }
    }

    items
      .groupByKey(_.row)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(update)
  }
}
