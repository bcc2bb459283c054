package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** ETC-style precision (escaping-edges; Muñoz-Gama/Carmona family,
  * public literature) — the companion metric to alignment/replay
  * fitness: how much MORE behavior the model allows than the log
  * exhibits. For every observed prefix state, compare the activities
  * the model enables (`en_M`, after τ-closure) with the activities the
  * log actually continues with (`en_L`):
  *
  * `precision = 1 − Σ_s w(s)·|en_M(s) \ en_L(s)| / Σ_s w(s)·|en_M(s)|`
  *
  * A model that allows exactly the observed behavior scores 1; a
  * flower model scores near 0 on any non-trivial log.
  *
  * Scale shape: prefix states are generated per VARIANT (the replay
  * view of the frame's [[Variants]] table; each variant of length L
  * yields its L proper prefixes weighted by case count) and grouped
  * by prefix; each distinct prefix then computes `en_M` once (BFS
  * with τ-closure over the alphabet-sized safe net). On the driver
  * into a local frame when the table is there; otherwise the prefixes
  * aggregate in one partial-agg shuffle over the cached table —
  * prefix rows ≤ event rows, usually far fewer — and `en_M` runs in
  * executors. Unreplayable prefixes (non-fitting log) contribute
  * nothing, per the standard ETC assumption.
  */
object Precision {

  case class PrefixPrecision(prefix: Seq[String], w: Long,
      enabledModel: Int, escaping: Int)

  /** Markings reachable by consuming `prefix` (any interleaving of τ
    * firings), then τ-closed — the automaton state set behind the
    * prefix. Empty iff the prefix is not replayable. */
  private[ops] def reachableMarkings(net: PetriNet,
      prefix: Seq[String]): Set[Map[String, Int]] = {
    def canon(m: Map[String, Int]) = m.filter(_._2 > 0)

    def tauClose(ms: Set[Map[String, Int]]): Set[Map[String, Int]] = {
      val seen = scala.collection.mutable.Set.empty[Map[String, Int]]
      val queue = scala.collection.mutable.Queue.empty[Map[String, Int]]
      ms.foreach { m => if (seen.add(m)) queue += m }
      while (queue.nonEmpty) {
        val m = queue.dequeue()
        net.transitions.foreach { t =>
          if (t.label.isEmpty && net.enabled(m, t.id)) {
            val f = canon(net.fire(m, t.id))
            if (seen.add(f)) queue += f
          }
        }
      }
      seen.toSet
    }

    var cur = tauClose(Set(canon(net.initialMarking)))
    prefix.foreach { a =>
      val next = cur.flatMap { m =>
        net.transitions.collect {
          case t if t.label.contains(a) && net.enabled(m, t.id) =>
            canon(net.fire(m, t.id))
        }
      }
      cur = tauClose(next)
      if (cur.isEmpty) return Set.empty
    }
    cur
  }

  /** Activities the model enables after `prefix` (∅ if unreplayable). */
  private[ops] def enabledAfter(net: PetriNet,
      prefix: Seq[String]): Set[String] =
    reachableMarkings(net, prefix).flatMap { m =>
      net.transitions.collect {
        case t if t.label.isDefined && net.enabled(m, t.id) => t.label.get
      }
    }

  /** Per-prefix escaping-edge table: weight, |en_M|, |en_M \ en_L|. */
  def prefixTable(spark: SparkSession, events: DataFrame, caseCol: String,
      activityCol: String, tsCol: String, tieBreak: String,
      net: PetriNet): Dataset[PrefixPrecision] =
    prefixTableOf(Variants.of(events, caseCol, activityCol, tsCol, tieBreak), net)

  private[ops] def prefixTableOf(t: Variants.Table,
      net: PetriNet): Dataset[PrefixPrecision] = {
    val spark = t.frame.sparkSession
    import spark.implicits._
    Variants.sequences(t) match {
      case Left(seqs) => spark.createDataset(seqs.flatMap(steps).groupBy(_._1)
        .toSeq.map { case (p, rs) => row(net, p, rs.map(_._2).toSet, rs.map(_._3).sum) })
      case Right(seqs) => seqs.flatMap(steps)
        .toDF("_prefix", "_next", "_n")
        .groupBy(col("_prefix"))
        .agg(collect_set(col("_next")).as("_enLog"), sum(col("_n")).as("_w"))
        .as[(Seq[String], Seq[String], Long)]
        .map { case (p, enLog, w) => row(net, p, enLog.toSet, w) }
    }
  }

  /** Each proper prefix of a variant with the activity that follows it. */
  private def steps(v: (Seq[String], Long)): Seq[(Seq[String], String, Long)] =
    v._1.indices.map(i => (v._1.take(i), v._1(i), v._2))

  private def row(net: PetriNet, prefix: Seq[String], enLog: Set[String],
      w: Long): PrefixPrecision = {
    val enM = enabledAfter(net, prefix)
    PrefixPrecision(prefix, w, enM.size, (enM -- enLog).size)
  }

  /** The scalar ETC precision in [0,1]. Prefixes the model cannot
    * replay are excluded (their `enabledModel` is 0). */
  def precision(table: Dataset[PrefixPrecision]): Double = {
    val (esc, en) =
      if (Variants.isLocal(table)) table.collect().foldLeft((0L, 0L)) {
        case ((e, m), p) => (e + p.w * p.escaping, m + p.w * p.enabledModel) }
      else {
        val row = table.toDF()
          .agg(sum(col("w") * col("escaping")).as("esc"),
            sum(col("w") * col("enabledModel")).as("en")).head()
        (row.getLong(0), row.getLong(1))
      }
    if (en == 0L) 1.0 else 1.0 - esc.toDouble / en.toDouble
  }
}
