package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.dsl.{Cnf, Concept, Org, Time}
import graft.flow.FlowRunner
import graft.ops.{Alpha, Dfg, Inductive, LogStats, Replay, TraceCluster}
import graft.xes.{XesParser, XesReader, XesWriter}

/** log_mining: a process-mining analyst, closed loop with one client.
  *
  * One request per generated XES log, one cycle over every log in the
  * fixed order of [[Gen.LogSizes]] (whole cycles only, so every run
  * measures the same logs): the reference flow (parse → Repair → Validator →
  * Statistics → Sample → Split → XesWriter), then a direct read with a
  * Concept/Org/Time CNF filter, the statistics triple, the DFG, the
  * inductive miner, alpha + token replay, variant clustering, and an
  * XES render of the whole log. Small logs are bound by the per-call
  * floor (planning plus jobs); large ones by StAX parse and render
  * throughput.
  */
final class LogMining extends Workload {
  import LogMining._

  private var logs: Vector[Gen.LogTruth] = Vector.empty

  def prepare(spark: SparkSession, seed: Long, dir: Path): Unit =
    logs = Gen.xesLogs(seed, dir)

  def run(spark: SparkSession, seconds: Double, trace: Boolean, dir: Path): Outcome = {
    val work = Files.createDirectories(dir.resolve("work"))
    val plain = new Tracer(spark.sparkContext, enabled = false)
    // warm-up, untimed: the first pass through the code paths is
    // 1.5-2x slower (class loading, JIT, codegen caches)
    WarmUp.foreach(i => request(spark, plain, i, work))

    if (!trace) {
      val done = ClosedLoop(seconds, logs.size)(i => Seq(request(spark, plain, i, work)))
      Outcome(done.size, done.count(_.failures.nonEmpty), throughput(done),
        done.map(_.seconds), Map.empty, notes(done))
    } else {
      val r = Tracing.closedLoop(spark, seconds, logs.size, dir, Root, Layers.LogSpans)(
        (i, t) => request(spark, t, i, work))
      Outcome(r.done.size, r.done.count(_.failures.nonEmpty), throughput(r.traced),
        r.traced.map(_.seconds), r.layers, notes(r.done) :+ ("span_coverage" -> r.coverage))
    }
  }

  private def throughput(rs: Seq[Done]): Double =
    rs.map(r => logs(r.log).nEvents).sum / rs.map(_.seconds).sum

  private def notes(rs: Seq[Done]): Seq[(String, Any)] = Seq(
    "requests" -> rs.map(r => Seq(r.log.toDouble, logs(r.log).nEvents.toDouble, r.seconds)),
    "failures" -> rs.flatMap(r => r.failures.map(f => s"log ${r.log}: $f")).take(20))

  /** One request on log `li`: its wall time and the correctness misses
    * found by checking its outputs (checks run after the clock stops). */
  private def request(spark: SparkSession, t: Tracer, li: Int, work: Path): Done = {
    val log = logs(li)
    t.request += 1
    val flowJson = LogMining.flowJson(log.path, work.toString)
    val cnf = Cnf(
      Seq(Concept.filterIn(log.filterActs.toSeq.sorted, "activity"),
        Org.filterEq("resource", log.filterResource)),
      Seq(Time.eventAfter("ts", timestamp_micros(lit(log.filterAfterMicros)))))

    val t0 = System.nanoTime()
    val (flow, stats, nFiltered, edges, tree, fitness, clusters, xml) =
      t.span(Root) {
        val flow = t.span("flow.run")(FlowRunner.runJson(spark, flowJson))
        val xlog = t.span("xes.read") {
          val l = XesReader.read(spark, log.path)
          l.metas
          l
        }
        val (filtered, nFiltered) = t.span("dsl.filter") {
          val f = xlog.eventsDf.filter(cnf)
          (f, f.count())
        }
        val stats = t.span("ops.stats")(LogStats.collect(xlog.events.toDF(), Case))
        val edges = t.span("ops.dfg") {
          Dfg.edges(filtered, Case, Act, Ts, Tie).collect()
            .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
        }
        val tree = t.span("ops.inductive")(Inductive.mine(filtered, Case, Act, Ts, Tie))
        val fitness = t.span("ops.replay") {
          val net = Alpha.mine(filtered, Case, Act, Ts, Tie)
          Replay.logFitness(Replay.variantFitness(spark, filtered, Case, Act, Ts, Tie, net))
        }
        val clusters = t.span("ops.trace_cluster") {
          TraceCluster.clusterVariants(filtered, Case, Act, Ts, Tie, MaxEditDistance).collect()
        }
        val xml = t.span("xes.write")(XesWriter.toXmlStrings(spark, xlog).collect())
        (flow, stats, nFiltered, edges, tree, fitness, clusters, xml)
      }
    val secs = (System.nanoTime() - t0) / 1e9

    val check = new Checks
    val truth = Seq(log.nTraces, log.nEvents, log.nEvents)
    val raw = flow.artifacts("raw_stats").asInstanceOf[FlowRunner.Statistics]
    check(raw.counts == truth, s"flow raw stats ${raw.counts} != generated $truth")
    check(stats.counts == raw.counts, s"LogStats ${stats.counts} != flow stats ${raw.counts}")
    Seq("train", "test").foreach { part =>
      val st = flow.artifacts(s"${part}_stats").asInstanceOf[FlowRunner.Statistics]
      val parsed = XesParser.parse(s"$part.xes", Files.readAllBytes(work.resolve(s"$part.xes")))
      check(parsed.counts == st.counts, s"$part.xes re-parses to ${parsed.counts} != ${st.counts}")
    }
    check(nFiltered == log.filteredEvents, s"filter kept $nFiltered != ${log.filteredEvents}")
    check(edges == log.filteredDfg, s"DFG has ${edges.size} edges, generated ${log.filteredDfg.size}")
    check(tree != null, "inductive miner returned no tree")
    check(fitness > 0.0 && fitness <= 1.0, s"replay fitness $fitness outside (0, 1]")
    check(clusters.length.toLong == log.filteredVariants,
      s"${clusters.length} clustered variants != ${log.filteredVariants}")
    check(xml.length == 1 && sameEvents(XesParser.parseString("out.xes", xml.head._2), log),
      "rendered XES does not re-parse to the generated events")

    flow.unpersist()
    spark.catalog.clearCache()
    Done(li, secs, check.failures, t.enabled)
  }

  private def sameEvents(p: graft.xes.XesModel.ParsedLog, log: Gen.LogTruth): Boolean = {
    val byTrace = p.events.groupBy(_.traceIdx.getOrElse(-1L))
    p.events.forall(_.traceIdx.isDefined) && p.traces.size == log.traces.size &&
      log.traces.indices.forall { i =>
        val got = byTrace.getOrElse(i.toLong, Nil).sortBy(_.seq).map { e =>
          Gen.Ev(e.activity.orNull, e.resource.orNull, e.tsMicros.getOrElse(-1L),
            e.attrs.find(_.key == "cost").map(_.value.toInt).getOrElse(-1))
        }
        got == log.traces(i).events
      }
  }
}

object LogMining {
  val Root = "bench.request"
  val Case = "traceIdx"
  val Act = "activity"
  val Ts = "tsMicros"
  val Tie = "seq"
  val MaxEditDistance = 2
  /** Untimed warm-up requests: indices into [[Gen.LogSizes]]. */
  val WarmUp: Seq[Int] = Seq(0)

  final case class Done(log: Int, seconds: Double, failures: Seq[String], traced: Boolean)
      extends Timed

  def flowJson(in: String, out: String): String =
    s"""{"pipes": [
       |  {"name": "Train",
       |   "source": {"name": "XesReader", "attributes": {"path": {"String": ${Json.quote(in)}}}},
       |   "streams": [
       |     {"name": "Repair"},
       |     {"name": "Validator"},
       |     {"name": "Statistics", "artifact_sender": ["raw_stats"]},
       |     {"name": "Sample", "attributes": {"ratio": {"Float": 0.5}, "seed": {"Int": 0}}},
       |     {"name": "Split", "attributes": {"ratio": {"Float": 0.8}, "seed": {"Int": 0}},
       |      "stream_sender": ["test"]},
       |     {"name": "Statistics", "artifact_sender": ["train_stats"]}],
       |   "sink": {"name": "XesWriter", "attributes": {"path": {"String": ${Json.quote(out + "/train.xes")}}}}},
       |  {"name": "Test",
       |   "source": {"name": "Receiver", "stream_receiver": ["test"]},
       |   "streams": [{"name": "Statistics", "artifact_sender": ["test_stats"]}],
       |   "sink": {"name": "XesWriter", "attributes": {"path": {"String": ${Json.quote(out + "/test.xes")}}}}}
       |]}""".stripMargin
}
