package graft.ops

import java.lang.ref.WeakReference

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** The variant table of an event frame: one row per distinct activity
  * sequence — `seq` (a case's activities in (ts, tieBreak) order),
  * `n_cases` and `rep_case` (the smallest case id). The footprint
  * miners, replay, precision, alignments, trace clustering and the
  * Sessionize variant views all read it.
  *
  * Scale shape: one window on the case key and one aggregate on the
  * sequence, from plain column expressions, so every call on a frame
  * matches one CacheManager entry. [[of]] runs ONE action, a one-task
  * `limit(SampleN + 1)`, and registers the table's cache entry: a
  * table of at most [[SampleN]] variants comes back whole and its
  * consumers run on the driver, returning local frames. A driver memo,
  * weakly keyed by the identity of the entry's `CachedRDDBuilder`,
  * hands those rows to later callers on the frame with no job; after
  * `clearCache()` or `unpersist` a new entry has a new builder and the
  * next call recomputes. Above the bound, or when a variant is longer
  * than `MaxSlots / (SampleN + 1)` activities, the consumers run
  * distributed over the cached table, which fills on first scan.
  *
  * Null activities stay in `seq`: in [[Dfg]] a null is an alphabet
  * entry and an edge source, and a null successor ends the edge. The
  * replay view ([[sequences]]: replay, precision, alignments) drops
  * them and merges the variants that then become equal, as
  * `collect_list` does. The string view ([[strings]]: clustering,
  * Sessionize) joins the non-null activities with `>`, so `["a>b"]`
  * and `["a", "b"]` are one variant there and two in the replay view.
  */
object Variants {

  /** The most variants a table may hold to be collected to the driver. */
  val SampleN = 1001

  /** The most activity slots one table collect carries. */
  private val MaxSlots = 1 << 20

  /** One variant: activities (nulls kept), case count, smallest case id. */
  final case class Variant(seq: IndexedSeq[String], nCases: Long, repCase: Any)

  /** The cached table `frame`, with its rows when they fit the bound. */
  final case class Table(frame: DataFrame, local: Option[IndexedSeq[Variant]])

  /** (cache builder, bound, rows); entries whose builder is gone drop out. */
  private val memo = scala.collection.mutable.ArrayBuffer
    .empty[(WeakReference[AnyRef], Int, Option[IndexedSeq[Variant]])]

  /** The table plan of `events` — lazy and uncached. */
  def frame(events: DataFrame, caseCol: String, activityCol: String,
      tsCol: String, tieBreak: String): DataFrame = {
    val w = Window.partitionBy(col(caseCol)).orderBy(col(tsCol), col(tieBreak))
    events
      .select(col(caseCol).as("_case"),
        collect_list(struct(col(activityCol).as("a"))).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
          .as("_seq"),
        row_number().over(w).as("_rn"))
      .filter(col("_rn") === 1)
      .groupBy(col("_seq.a").as("seq"))
      .agg(count(lit(1)).as("n_cases"), min(col("_case")).as("rep_case"))
  }

  /** The cached table of `events`; its rows come to the driver when it
    * holds at most `bound` variants. */
  private[ops] def of(events: DataFrame, caseCol: String, activityCol: String,
      tsCol: String, tieBreak: String, bound: Int = SampleN): Table = {
    val table = frame(events, caseCol, activityCol, tsCol, tieBreak)
    val cm = table.sparkSession.sharedState.cacheManager
    def builder: Option[AnyRef] =
      cm.lookupCachedData(table).map(_.cachedRepresentation.cacheBuilder)
    val hit = builder.flatMap(b => memo.synchronized(
      memo.collectFirst { case (r, `bound`, rows) if r.get eq b => rows }))
    val local = hit.getOrElse {
      // collected before the entry is registered: a table that fits
      // on the driver never fills its cache
      val rows = table
        .select(when(size(col("seq")) <= MaxSlots / (bound + 1), col("seq")),
          col("n_cases"), col("rep_case"))
        .coalesce(1).limit(bound + 1).collect() // one task: one result job
      val got =
        if (rows.length > bound || rows.exists(_.isNullAt(0))) None
        else Some(rows.toIndexedSeq.map(r =>
          Variant(r.getSeq[String](0).toIndexedSeq, r.getLong(1), r.get(2))))
      if (builder.isEmpty) table.cache()
      val b = builder.get
      memo.synchronized {
        memo.filterInPlace(e => e._1.get != null && !(e._1.get.eq(b) && e._2 == bound))
        memo += ((new WeakReference(b), bound, got))
      }
      got
    }
    Table(table, local)
  }

  /** The replay view: each variant's non-null activities with its case
    * count, equal sequences merged — on the driver (`Left`) or over
    * the cached table (`Right`). */
  private[ops] def sequences(t: Table)
      : Either[Seq[(Seq[String], Long)], Dataset[(Seq[String], Long)]] =
    t.local match {
      case Some(vs) =>
        Left(vs.groupMapReduce(v => v.seq.filter(_ != null): Seq[String])(_.nCases)(_ + _)
          .toSeq)
      case None =>
        val spark = t.frame.sparkSession
        import spark.implicits._
        Right(t.frame.groupBy(filter(col("seq"), _.isNotNull))
          .agg(sum(col("n_cases"))).as[(Seq[String], Long)])
    }

  /** `f` over the replay view: a local frame on the driver path. */
  private[ops] def mapSequences[T: Encoder](t: Table)(
      f: ((Seq[String], Long)) => T): Dataset[T] =
    sequences(t).fold(s => t.frame.sparkSession.createDataset(s.map(f)), _.map(f))

  /** The string view of a table frame: `(variant, rep_case, n_cases)`
    * with `variant` the `>`-joined non-null activities. */
  private[ops] def strings(table: DataFrame): DataFrame =
    table.groupBy(array_join(col("seq"), ">").as("variant"))
      .agg(min(col("rep_case")).as("rep_case"), sum(col("n_cases")).as("n_cases"))

  /** [[strings]] on the driver, with `rep_case` as a long — None above
    * the bound or when case ids are not integral. */
  private[ops] def localStrings(t: Table): Option[Seq[(String, Long, Long)]] =
    t.local.filter(_ => Seq(LongType, IntegerType, ShortType, ByteType)
        .contains(t.frame.schema("rep_case").dataType))
      .map(_.groupMapReduce(_.seq.filter(_ != null).mkString(">"))(v =>
          (v.repCase.asInstanceOf[Number].longValue, v.nCases)) {
          case ((r1, n1), (r2, n2)) => (math.min(r1, r2), n1 + n2) }
        .toSeq.map { case (s, (rep, n)) => (s, rep, n) })

  /** True when `ds` is a local frame, so reducing it needs no job. */
  private[ops] def isLocal(ds: Dataset[_]): Boolean =
    ds.queryExecution.logical.isInstanceOf[LocalRelation]

  /** The `nCases`-weighted mean of `value` over a per-variant frame:
    * summed on the driver when the frame is local, else one aggregate. */
  private[ops] def caseWeighted(df: DataFrame, value: String): Double = {
    val (w, n) =
      if (isLocal(df)) df.collect().foldLeft((0.0, 0L)) { case ((w, n), r) =>
        (w + r.getAs[Double](value) * r.getAs[Long]("nCases"), n + r.getAs[Long]("nCases")) }
      else {
        val r = df.agg(sum(col(value) * col("nCases")), sum(col("nCases"))).head()
        (r.getDouble(0), r.getLong(1))
      }
    w / n.toDouble
  }
}
