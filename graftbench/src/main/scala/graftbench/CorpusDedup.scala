package graftbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.dedup.Dedup
import graft.text.{Shards, TextOps}

/** corpus_dedup: a training-data engineer, closed loop, one full pass
  * over a seeded corpus per iteration.
  *
  * Pass: quality filter + language ID + PII redaction, exact dedup,
  * MinHash-LSH near-duplicate pairs, exact prefix-filtered Jaccard
  * pairs, union-find clusters over both pair sets, and a sharded
  * parquet write of the surviving documents. No XES and few calls per
  * pass: the time goes to string-similarity joins, shuffles, union-find
  * and the write, so this is the workload on which changes to the
  * per-call floor or the XES path should show no change.
  */
final class CorpusDedup extends Workload {
  import CorpusDedup._

  private var main: Corpus = _
  private var warm: Corpus = _
  private var seed: Long = 0L

  def prepare(spark: SparkSession, seed: Long, dir: Path): Unit = {
    this.seed = seed
    main = write(spark, Gen.corpus(seed, Docs, ExactFrac, NearFrac, EditRate), dir.resolve("corpus"))
    warm = write(spark, Gen.corpus(~seed, WarmDocs, ExactFrac, NearFrac, EditRate), dir.resolve("warm"))
  }

  private def write(spark: SparkSession, truth: Gen.CorpusTruth, path: Path): Corpus = {
    import spark.implicits._
    spark.sparkContext.parallelize(truth.docs.map(d => (d.id, d.text)),
        Runtime.getRuntime.availableProcessors())
      .toDF("doc_id", "text").write.parquet(path.toString)
    Corpus(path.toString, truth)
  }

  def run(spark: SparkSession, seconds: Double, trace: Boolean, dir: Path): Outcome = {
    val shards = dir.resolve("work").resolve("shards").toString
    val plain = new Tracer(spark.sparkContext, enabled = false)
    // warm-up, untimed: a pass over a small corpus fills class, JIT and
    // codegen caches
    pass(spark, plain, warm, shards)

    if (!trace) {
      val done = ClosedLoop(seconds, PassesPerCycle)(_ => Seq(pass(spark, plain, main, shards)))
      Outcome(done.size, done.count(_.failures.nonEmpty), throughput(done),
        done.map(_.seconds), Map.empty, notes(done))
    } else {
      val r = Tracing.closedLoop(spark, seconds, PassesPerCycle, dir, Root, Layers.CorpusSpans)(
        (_, t) => pass(spark, t, main, shards))
      Outcome(r.done.size, r.done.count(_.failures.nonEmpty), throughput(r.traced),
        r.traced.map(_.seconds), r.layers, notes(r.done) :+ ("span_coverage" -> r.coverage))
    }
  }

  private def throughput(ps: Seq[Done]): Double = Docs * ps.size / ps.map(_.seconds).sum

  private def notes(ps: Seq[Done]): Seq[(String, Any)] = Seq(
    "docs" -> Docs,
    "pass_seconds" -> ps.map(_.seconds),
    "near_recall" -> ps.map(_.recall),
    "failures" -> ps.flatMap(_.failures).take(20))

  private def pass(spark: SparkSession, t: Tracer, c: Corpus, shards: String): Done = {
    val truth = c.truth
    t.request += 1
    import spark.implicits._
    val t0 = System.nanoTime()
    val (cleaned, nKept, dupRows, pairs, clusters) = t.span(Root) {
      val docs = spark.read.parquet(c.path)
      val (cleaned, nKept) = t.span("text.quality") {
        val c = docs.filter(TextOps.qualityKeep(col("text")))
          .withColumn("lang", TextOps.langPredict(col("text")))
          .withColumn("text", TextOps.piiRedact(col("text")))
          .persist(StorageLevel.MEMORY_AND_DISK)
        (c, c.count())
      }
      val dupRows = t.span("dedup.exact") {
        Dedup.exact(cleaned, "doc_id", "text").filter(col("group_size") > 1)
          .select("doc_id", "canonical_id").as[(Long, Long)].collect()
      }
      val unique = cleaned.join(
        broadcast(dupRows.collect { case (id, c) if id != c => id }.toSeq.toDF("doc_id")),
        Seq("doc_id"), "left_anti")
      val lsh = t.span("dedup.minhash") {
        Dedup.minhashLshPairs(unique, "doc_id", "text", Shingle, Tau)
          .select("id_a", "id_b").as[(Long, Long)].collect()
      }
      val prefix = t.span("dedup.jaccard_prefix") {
        Dedup.jaccardPairsPrefix(unique, "doc_id", "text", Shingle, TauNum, TauDen)
          .select("id_a", "id_b").as[(Long, Long)].collect()
      }
      val pairs = (lsh ++ prefix).distinct
      val clusters = t.span("dedup.clusters") {
        Dedup.clusters(pairs.toSeq.toDF("id_a", "id_b"), "id_a", "id_b")
          .select("doc_id", "cluster_id").as[(Long, Long)].collect()
      }
      val kept = unique.join(
        broadcast(clusters.collect { case (id, c) if id != c => id }.toSeq.toDF("doc_id")),
        Seq("doc_id"), "left_anti")
      t.span("text.shards")(Shards.write(kept, "doc_id", NShards, seed, shards))
      (cleaned, nKept, dupRows, (lsh.toSet, prefix.toSet), clusters)
    }
    val secs = (System.nanoTime() - t0) / 1e9

    val check = new Checks
    check(nKept == truth.keptIds.size, s"quality filter kept $nKept != ${truth.keptIds.size}")
    val groups = dupRows.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    check(groups == truth.exactGroups,
      s"${groups.size} exact groups != ${truth.exactGroups.size} planted")
    val clusterOf = clusters.toMap
    val found = truth.nearPairs.count { case (a, b) =>
      clusterOf.get(a).exists(c => clusterOf.get(b).contains(c))
    }
    val recall = found.toDouble / truth.nearPairs.size
    check(recall >= RecallFloor, f"near-dup recall $recall%.3f < $RecallFloor")
    val family = truth.nearPairs.map { case (src, dup) => dup -> src }.toMap
    val mixed = clusters.groupBy(_._2).values.count(m => m.map(x => family.getOrElse(x._1, x._1)).distinct.length > 1)
    check(mixed == 0, s"$mixed clusters join documents from different planted families")
    val lshMissed = pairs._1.count(p => !pairs._2.contains(p))
    check(lshMissed == 0, s"$lshMissed MinHash pairs above the threshold missing from the exact join")
    val written = spark.read.parquet(shards).count()
    val expected = truth.keptIds.size - truth.exactGroups.toSeq.map(_.size - 1).sum -
      clusters.count { case (id, c) => id != c }
    check(written == expected, s"shards hold $written rows, expected $expected")
    cleaned.unpersist()
    Done(secs, recall, check.failures, t.enabled)
  }
}

object CorpusDedup {
  val Root = "bench.pass"
  val Docs = 5000
  val WarmDocs = 1500
  val ExactFrac = 0.05
  val NearFrac = 0.05
  val EditRate = 0.03
  val Shingle = 3
  val Tau = 0.7
  val TauNum = 7L
  val TauDen = 10L
  val NShards = 8
  /** Passes in one cycle of the closed loop: a median needs two. */
  val PassesPerCycle = 2
  /** Planted near duplicates edit about 3 % of their tokens, so their
    * 3-shingle Jaccard to the source is about 0.8, above `Tau`. */
  val RecallFloor = 0.9

  final case class Corpus(path: String, truth: Gen.CorpusTruth)
  final case class Done(seconds: Double, recall: Double, failures: Seq[String],
      traced: Boolean) extends Timed
}
