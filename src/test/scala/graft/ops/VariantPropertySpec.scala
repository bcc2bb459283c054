package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.{Prop, Test}
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.dedup.Dedup

/** Differential properties of every [[Variants]] consumer. On random
  * logs ([[VariantLogGen]]) each driver-side result equals (1) the
  * result forced past the bound through `Variants.of(..., bound = 0)`,
  * (2) a brute force over the generated traces, and (3) the former
  * per-operator window formulation, kept below as
  * [[VariantPropertySpec.Windowed]]. A fixed seed and eight logs keep
  * the suite deterministic and cheap.
  */
class VariantPropertySpec extends SparkSpec {
  import VariantLogGen._
  import VariantPropertySpec._
  import spark.implicits._

  private val Cases = 8
  private val MaxDist = 2

  private val frames = scala.collection.mutable.LinkedHashMap.empty[Log, DataFrame]
  private def events(log: Log): DataFrame = frames.getOrElseUpdate(log, {
    val df = log.events.map(e => (e.caseId, e.act, e.ts, e.tie))
      .toDF("case_id", "activity", "ts", "tie")
    if (log.stringIds) df.withColumn("case_id", format_string("%05d", col("case_id")))
    else df
  })
  private def table(log: Log, bound: Int = Variants.SampleN) =
    Variants.of(events(log), "case_id", "activity", "ts", "tie", bound)

  override def afterAll(): Unit =
    frames.values.foreach { ev =>
      Variants.frame(ev, "case_id", "activity", "ts", "tie").unpersist()
      ev.filter(col("activity").isNotNull).unpersist()
      Variants.frame(ev.filter(col("activity").isNotNull),
        "case_id", "activity", "ts", "tie").unpersist()
    }

  /** `body` on [[Cases]] logs from one fixed seed, without shrinking
    * (each case runs Spark jobs). */
  private def forLogs(body: Log => Unit): Unit = {
    val params = Test.Parameters.default.withMinSuccessfulTests(Cases)
      .withWorkers(1).withInitialSeed(Seed(20261019L))
    val res = Test.check(params,
      Prop.forAllNoShrink(VariantLogGen.log) { log => body(log); true })
    assert(res.passed, res.status)
  }

  /** The driver path, the forced path and the window formulation agree,
    * and equal `brute` when given. */
  private def agree[T](driver: T, forced: T, windowed: T, brute: Option[T] = None): Unit = {
    assert(driver == forced, "driver vs forced past the bound")
    assert(driver == windowed, "driver vs window formulation")
    brute.foreach(b => assert(driver == b, "driver vs brute force"))
  }

  /** Non-null sequences of the generated traces with their case counts. */
  private def bruteSeqs(log: Log): Seq[(Seq[String], Long)] =
    log.traces.values.toSeq.map(_.filter(_ != null))
      .groupMapReduce(identity)(_ => 1L)(_ + _).toSeq

  private val nets = scala.collection.mutable.Map.empty[Log, (Alpha.WorkflowNet, PetriNet)]
  /** Alpha and inductive nets mined from the log's non-null events;
    * None when every activity is null. */
  private def netsOf(log: Log): Option[(Alpha.WorkflowNet, PetriNet)] =
    if (log.events.forall(_.act == null)) None
    else Some(nets.getOrElseUpdate(log, {
      val clean = events(log).filter(col("activity").isNotNull).cache()
      (Alpha.mine(clean, "case_id", "activity", "ts", "tie"),
        PetriNet.fromTree(Inductive.mine(clean, "case_id", "activity", "ts", "tie")))
    }))

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-12

  test("generated logs cover nulls, `>` names, non-BMP names, one-event traces and both id types") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Log]
    forLogs(seen += _)
    val acts = seen.flatMap(_.events.map(_.act)).toSet
    assert(acts.contains(null) && acts.exists(a => a != null && a.contains(">")) &&
      acts.exists(a => a != null && a.codePointCount(0, a.length) < a.length))
    assert(seen.exists(_.traces.values.exists(_.size == 1)))
    assert(seen.exists(_.stringIds) && seen.exists(!_.stringIds))
    assert(seen.forall(l => table(l).local.isDefined))
  }

  test("footprint: driver = forced = window pass = Dfg.edges + start/end activities") {
    forLogs { log =>
      val ev = events(log)
      def profile(df: DataFrame) = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val brute = Dfg.Footprint(
        ev.groupBy("activity").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
        Dfg.edges(ev, "case_id", "activity", "ts", "tie").collect()
          .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap,
        profile(Dfg.startActivities(ev, "case_id", "activity", "ts", "tie")),
        profile(Dfg.endActivities(ev, "case_id", "activity", "ts", "tie")))
      agree(Dfg.footprintOf(table(log)), Dfg.footprintOf(table(log, 0)),
        Windowed.footprint(ev), Some(brute))
    }
  }

  test("replay: fitness table and log fitness agree on every path") {
    forLogs { log =>
      netsOf(log).foreach { case (net, _) =>
        def rows(ds: Dataset[Replay.VariantFitness]) = ds.collect().toSeq.sortBy(r => key(r.variant))
        val (d, f) = (Replay.fitnessOf(table(log), net), Replay.fitnessOf(table(log, 0), net))
        val w = Windowed.fitness(spark, events(log), net)
        val brute = bruteSeqs(log).map { case (s, n) => Replay.replayVariant(net, s).copy(nCases = n) }
        agree(rows(d), rows(f), rows(w), Some(brute.sortBy(r => key(r.variant))))
        val fit = Replay.logFitness(d)
        val bruteFit = brute.map(v => v.fitness * v.nCases).sum / brute.map(_.nCases).sum
        assert(Variants.isLocal(d) && !Variants.isLocal(f))
        assert(Seq(Replay.logFitness(f), Replay.logFitness(w), bruteFit).forall(close(fit, _)))
      }
    }
  }

  test("precision: prefix table and precision agree on every path") {
    forLogs { log =>
      netsOf(log).foreach { case (_, net) =>
        def rows(ds: Dataset[Precision.PrefixPrecision]) =
          ds.collect().toSeq.map(p => p.copy(prefix = p.prefix.toList)).sortBy(r => key(r.prefix))
        val d = Precision.prefixTableOf(table(log), net)
        val f = Precision.prefixTableOf(table(log, 0), net)
        val w = Windowed.prefixTable(spark, events(log), net)
        val brute = bruteSeqs(log)
          .flatMap { case (s, n) => s.indices.map(i => (s.take(i).toList, s(i), n)) }
          .groupBy(_._1).toSeq.map { case (p, rs) =>
            val enM = Precision.enabledAfter(net, p)
            Precision.PrefixPrecision(p, rs.map(_._3).sum, enM.size,
              (enM -- rs.map(_._2)).size)
          }
        agree(rows(d), rows(f), rows(w), Some(brute.sortBy(r => key(r.prefix))))
        agree(Precision.precision(d), Precision.precision(f), Precision.precision(w))
      }
    }
  }

  test("alignments: variant table and log fitness agree on every path") {
    forLogs { log =>
      netsOf(log).foreach { case (_, net) =>
        def rows(ds: Dataset[Alignments.VariantAlignment]) = ds.collect().toSeq.sortBy(r => key(r.variant))
        val d = Alignments.alignmentsOf(table(log), net)
        val f = Alignments.alignmentsOf(table(log, 0), net)
        val w = Windowed.alignments(spark, events(log), net)
        val empty = Alignments.shortestModelRunCost(net)
        val brute = bruteSeqs(log).map { case (s, n) =>
          val a = Alignments.align(net, s.toIndexedSeq)
          val worst = s.length + empty
          Alignments.VariantAlignment(s, n, a.cost, a.syncMoves, a.modelMoves, a.logMoves,
            if (worst == 0) 1.0 else 1.0 - a.cost.toDouble / worst)
        }
        agree(rows(d), rows(f), rows(w), Some(brute.sortBy(r => key(r.variant))))
        val fit = Alignments.logFitness(d)
        assert(Seq(Alignments.logFitness(f), Alignments.logFitness(w)).forall(close(fit, _)))
      }
    }
  }

  test("clusters and Sessionize views: labels agree on every path and with all-pairs edit distance") {
    forLogs { log =>
      val ev = events(log)
      def rows(df: DataFrame) = df.as[(String, Long, Long, Long)].collect().toSet
      // brute force: `>`-joined non-null strings, min case id, all-pairs
      // code-point edit distance ≤ MaxDist, components labeled by min id
      val inv = log.traces.toSeq.groupBy(_._2.filter(_ != null).mkString(">")).toSeq
        .map { case (s, cs) => (s, cs.map(_._1).min, cs.size.toLong) }
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = parent.get(x).filter(_ != x).map(find).getOrElse(x)
      for (a <- inv; b <- inv if a._2 < b._2 && lev(a._1, b._1) <= MaxDist) {
        val (ra, rb) = (find(a._2), find(b._2))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val brute = inv.map { case (s, vid, n) => (s, vid, find(vid), n) }.toSet
      agree(rows(TraceCluster.clusterTable(table(log), MaxDist)),
        rows(TraceCluster.clusterTable(table(log, 0), MaxDist)),
        rows(Windowed.clusters(ev, MaxDist)), Some(brute))
      val reps = Sessionize.variantRepresentatives(ev, "case_id", "activity", "ts", "tie")
      assert(reps.collect().toSet == Windowed.representatives(ev).collect().toSet)
    }
  }
}

object VariantPropertySpec {

  /** Sort key of an activity sequence. */
  def key(s: Seq[String]): String = s.mkString("\u0000")

  /** Unit-cost edit distance over code points. */
  def lev(x: String, y: String): Int = {
    val (a, b) = (x.codePoints.toArray, y.codePoints.toArray)
    val dp = Array.tabulate(a.length + 1)(identity)
    for (j <- 1 to b.length) {
      var prev = dp(0); dp(0) = j
      for (i <- 1 to a.length) {
        val cur = dp(i)
        dp(i) = math.min(math.min(dp(i) + 1, dp(i - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
    }
    dp(a.length)
  }

  /** The per-operator formulations the variant table replaced: each
    * derived the case sequences of the frame with its own window pass
    * (columns `case_id`, `activity`, `ts`, `tie`). */
  object Windowed {
    private def byCase = Window.partitionBy(col("case_id")).orderBy(col("ts"), col("tie"))

    private def inventory(spark: SparkSession, ev: DataFrame): Dataset[(Seq[String], Long)] = {
      import spark.implicits._
      ev.select(col("case_id"), collect_list(col("activity")).over(
          byCase.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)).as("_seq"))
        .groupBy(col("case_id")).agg(first(col("_seq")).as("_seq"))
        .groupBy(col("_seq")).agg(count(lit(1)).as("_n"))
        .as[(Seq[String], Long)]
    }

    def footprint(ev: DataFrame): Dfg.Footprint = {
      val act = col("activity")
      val none = lit(null).cast("string")
      def tag(kind: Int, cond: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        when(cond, struct(lit(kind).as("k"), act.as("a"), b.as("b")))
      val rows = ev
        .select(act, lead(act, 1).over(byCase).as("_next"),
          lead(lit(true), 1).over(byCase).isNull.as("_last"),
          lag(lit(true), 1).over(byCase).isNull.as("_first"))
        .select(explode(array(
          tag(0, col("_next").isNotNull, col("_next")),
          tag(1, lit(true), none),
          tag(2, col("_first"), none),
          tag(3, col("_last"), none))).as("_t"))
        .filter(col("_t").isNotNull)
        .groupBy(col("_t.k"), col("_t.a"), col("_t.b"))
        .agg(count(lit(1)))
        .collect()
      def of(kind: Int) = rows.iterator.filter(_.getInt(0) == kind)
      def counts(kind: Int) = of(kind).map(r => r.getString(1) -> r.getLong(3)).toMap
      Dfg.Footprint(counts(1),
        of(0).map(r => (r.getString(1), r.getString(2)) -> r.getLong(3)).toMap,
        counts(2), counts(3))
    }

    def fitness(spark: SparkSession, ev: DataFrame,
        net: Alpha.WorkflowNet): Dataset[Replay.VariantFitness] = {
      import spark.implicits._
      inventory(spark, ev).map { case (s, n) => Replay.replayVariant(net, s).copy(nCases = n) }
    }

    def prefixTable(spark: SparkSession, ev: DataFrame,
        net: PetriNet): Dataset[Precision.PrefixPrecision] = {
      import spark.implicits._
      inventory(spark, ev)
        .flatMap { case (s, n) => s.indices.map(i => (s.take(i), s(i), n)) }
        .toDF("_prefix", "_next", "_n")
        .groupBy(col("_prefix"))
        .agg(collect_set(col("_next")).as("_enLog"), sum(col("_n")).as("_w"))
        .as[(Seq[String], Seq[String], Long)]
        .map { case (prefix, enLog, w) =>
          val enM = Precision.enabledAfter(net, prefix)
          Precision.PrefixPrecision(prefix, w, enM.size, (enM -- enLog.toSet).size)
        }
    }

    def alignments(spark: SparkSession, ev: DataFrame,
        net: PetriNet): Dataset[Alignments.VariantAlignment] = {
      import spark.implicits._
      val emptyCost = Alignments.shortestModelRunCost(net)
      inventory(spark, ev).map { case (s, n) =>
        val a = Alignments.align(net, s.toIndexedSeq)
        val worst = s.length + emptyCost
        val fit = if (worst == 0) 1.0 else 1.0 - a.cost.toDouble / worst
        Alignments.VariantAlignment(s, n, a.cost, a.syncMoves, a.modelMoves, a.logMoves, fit)
      }
    }

    def representatives(ev: DataFrame): DataFrame =
      ev.select(col("case_id"), array_join(collect_list(col("activity")).over(
          byCase.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)), ">")
          .as("variant"))
        .groupBy(col("case_id")).agg(first(col("variant")).as("variant"))
        .groupBy("variant")
        .agg(min(col("case_id")).as("rep_case"), count(lit(1)).as("n_cases"))

    /** The distributed clustering path over the window-built inventory. */
    def clusters(ev: DataFrame, maxDist: Int): DataFrame = {
      val reps = representatives(ev)
      val comp = Dedup.clusters(TraceCluster.editPairs(reps, maxDist), "vid_a", "vid_b")
        .select(col("doc_id").as("_vid"), col("cluster_id"))
      reps.withColumn("vid", col("rep_case").cast("long"))
        .join(broadcast(comp), col("vid") === col("_vid"), "left")
        .select(col("variant"), col("vid"),
          coalesce(col("cluster_id"), col("vid")).as("cluster_id"), col("n_cases"))
    }
  }
}
