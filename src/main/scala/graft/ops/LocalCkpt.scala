package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Deterministic release of `localCheckpoint` storage (r17, guide §5
  * memory hygiene): `Dataset.unpersist` only clears CacheManager
  * entries, so the blocks behind a checkpointed frame otherwise live
  * until the ContextCleaner GC-collects the RDD — under a bench run
  * that is long enough for stale generations of an iterative
  * operator's edge lists to stack up and pressure the executor store.
  * Unpersists a checkpoint's RDD directly. Call ONLY on frames no
  * downstream plan will read again. */
object LocalCkpt {

  /** Frees `df`'s checkpoint blocks when `df` IS a checkpoint: its
    * plan root is the `LogicalRDD` its `localCheckpoint` compiled to.
    * Any other shape is left alone and returns false — the
    * not-yet-checkpointed first generation of an iterative loop, and
    * every composite plan: a freed checkpoint has TRUNCATED lineage,
    * so unpersisting a leaf reachable from a composite plan could fail
    * a live frame that shares it, unrecoverably. The legal argument is
    * a shape of the plan, so a wrong one frees nothing instead of
    * throwing mid-query. */
  def free(df: DataFrame): Boolean = df.queryExecution.logical match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false); true
    case _ => false
  }

  /** Row-count cutoff for materializing a reused intermediate
    * (`SPARK_GRAFT_CKPT_MAX_ROWS`, default 2^25 ≈ 33.5M rows), parsed
    * once and validated loudly (advisor pattern). The r17 rule:
    * checkpoint a fan-out intermediate ONLY when it is orders of
    * magnitude smaller than its input — an O(input)-row checkpoint
    * pins a corpus-sized frame in non-replicated executor storage and,
    * because localCheckpoint truncates lineage, makes the query
    * unrecoverable on executor loss. Above the cutoff callers keep
    * the lazy plan: consumers re-scan with column pruning instead. */
  val maxRows: Long = {
    val raw = sys.env.getOrElse("SPARK_GRAFT_CKPT_MAX_ROWS", (1L << 25).toString)
    try raw.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"SPARK_GRAFT_CKPT_MAX_ROWS must be a long, got '$raw'")
    }
  }

  /** `df.localCheckpoint(eager = true)` when `rows` (a count the
    * caller already has, typically of the base table feeding `df`) is
    * within [[maxRows]]; the unmodified lazy `df` otherwise. */
  def ifSmall(df: DataFrame, rows: Long): DataFrame =
    if (rows <= maxRows) df.localCheckpoint(true) else df
}
