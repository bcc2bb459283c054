package graft.flow

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.NativeExpressions
import graft.xes.{XesReader, XesValidator, XesWriter}
import graft.xes.XesModel.XesMeta

import FlowSpec._

/** Executes a declarative flow over Spark — the analogue of the
  * reference's `Graph::execute` + plugin registry
  * (`/root/reference/src/stream/flow/graph.rs:97-225`,
  * `plugin.rs:354-371`). The reference's channel/toposort/thread
  * machinery collapses into lazy DataFrame composition (SURVEY.md
  * §3.3): named streams become handles in a registry, pipes run in
  * dependency order, and Spark's scheduler provides the parallelism.
  *
  * Built-in segments (default plugin registry, plugin.rs:354-371 —
  * all ten): XesReader, XesWriter, Void, Duplicator, Repair,
  * Validator, Statistics, Sample, Split, Sender/Receiver (named
  * streams). Segments may also declare `artifact_receiver` channels
  * (segment.rs:35-102); the runner holds the pipe until those
  * artifacts exist and hands them to the segment.
  *
  * A stream value is an [[XesReader.XLog]]; artifacts land in
  * [[FlowResult.artifacts]] keyed by channel name.
  */
object FlowRunner {

  case class Statistics(nTraces: Long, nEventsInTraces: Long, nEventsTotal: Long) {
    def counts: Seq[Long] = Seq(nTraces, nEventsInTraces, nEventsTotal)
  }

  case class FlowResult(artifacts: Map[String, Any],
    streams: Map[String, XesReader.XLog],
    cached: Seq[Dataset[_]] = Nil) {
    /** Releases executor storage pinned by the flow: each XesReader
      * source's component cache, the Duplicator caches at the tee and
      * the variant tables the miner segments cached;
      * call when the flow's outputs are no longer needed so repeated
      * runs in one long-lived session don't accumulate cached blocks. */
    def unpersist(): Unit = cached.foreach(_.unpersist())
  }

  /** One declared parameter of a segment: name, human description,
    * and the default value's rendering when the parameter is optional
    * (the reference's `default_attr`, plugin.rs:84-99). */
  case class AttrDecl(name: String, description: String,
      default: Option[String] = None)

  /** Registry introspection row — the reference's `log_plugins` table
    * (plugin.rs:374-411) as data: per segment its kind, declared
    * attributes, consumed/produced streams, artifacts, and sinks. */
  case class SegmentInfo(name: String, description: String, kind: String,
      attributes: Seq[AttrDecl] = Nil,
      streams: Seq[(String, String)] = Nil,
      artifacts: Seq[(String, String)] = Nil,
      sinks: Seq[(String, String)] = Nil)

  /** The installed-segment table ([[run]]'s dispatch, introspectable):
    * names, descriptions, and declarations mirror the reference
    * registry (plugin.rs:354-371 and each plugin's `Declaration`) for
    * the ten builtins; the miner segments are the aspirational
    * lib.rs:11-22 plugins this engine implements for real, and
    * AssertStats is the artifact-receiver consistency gate. Kept in
    * lockstep with `applySegment`/`runPipe` — FlowRunnerSpec fails if
    * a dispatcher case has no row here or vice versa. */
  def describeSegments: Seq[SegmentInfo] = Seq(
    SegmentInfo("XesReader", "Parse the XES format from a file", "source",
      attributes = Seq(AttrDecl("path", "Location of the XES file"))),
    SegmentInfo("Receiver", "Receiving stream channel endpoint", "source",
      streams = Seq("acquire" -> "The stream to be received")),
    SegmentInfo("Void", "A stream source that yields no items / a sink that discards all items",
      "transform"),
    SegmentInfo("Duplicator", "Create an exact copy of an event stream", "transform",
      streams = Seq("inner" -> "The stream to be copied"),
      sinks = Seq("copy" -> "The sink that consumes the copy")),
    SegmentInfo("Repair",
      "Applies a number of methods in order to fix broken items such as invalid names",
      "transform", streams = Seq("inner" -> "The stream to be repaired")),
    SegmentInfo("Validator", "Validate stream semantics", "transform",
      streams = Seq("inner" -> "The stream to be validated")),
    SegmentInfo("Statistics", "Compute basic statistics of an event stream",
      "transform",
      streams = Seq("inner" -> "The stream to be analyzed"),
      artifacts = Seq("out" -> "The [nTraces, nEventsInTraces, nEventsTotal] triple")),
    SegmentInfo("Sample", "Sample from a stream", "transform",
      attributes = Seq(
        AttrDecl("ratio", "Share of events/traces that are sampled"),
        AttrDecl("seed", "Optional seed", Some("0"))),
      streams = Seq("inner" -> "The stream to be sampled from")),
    SegmentInfo("Split", "Split stream into two new ones at random", "transform",
      attributes = Seq(
        AttrDecl("ratio", "Share of events/traces that are kept"),
        AttrDecl("seed", "Optional seed", Some("0"))),
      streams = Seq("inner" -> "The stream to be split"),
      sinks = Seq("sink" -> "The sink that consumes one part of the stream")),
    SegmentInfo("XesWriter", "Render the stream into the XES format", "sink",
      attributes = Seq(
        AttrDecl("path", "Location of the XES file"),
        // the reference defaults indent to 0 AND drops newlines
        // (quick-xml single-line mode); this renderer always keeps
        // newlines, so the default is one tab per level
        AttrDecl("indent", "Indentation", Some("1")))),
    SegmentInfo("Sender", "Sending stream channel endpoint", "sink",
      sinks = Seq("emit" -> "The sending sink")),
    SegmentInfo("AssertStats", "Gate the pipe on statistics received from another pipe",
      "transform",
      attributes = Seq(AttrDecl("min_traces", "Minimum trace count", Some("0"))),
      artifacts = Seq("in" -> "The Statistics artifact to check")),
    SegmentInfo("DFGGenerator", "Mine the directly-follows graph", "transform",
      artifacts = Seq("out" -> "The (from, to, n) edge list")),
    SegmentInfo("FootprintGenerator", "Mine the alpha footprint matrix", "transform",
      artifacts = Seq("out" -> "The (a, b, relation) footprint table")),
    SegmentInfo("AlphaMiner", "Mine a workflow net with the alpha algorithm",
      "transform", artifacts = Seq("out" -> "The WorkflowNet")),
    SegmentInfo("HeuristicMiner", "Mine a causal net with dependency thresholds",
      "transform",
      attributes = Seq(
        AttrDecl("dependency_threshold", "Minimum dependency measure", Some("0.9")),
        AttrDecl("min_edge_n", "Minimum edge frequency", Some("1"))),
      artifacts = Seq("out" -> "The causal-net edge table")),
    SegmentInfo("InductiveMiner", "Mine a process tree with the inductive miner",
      "transform", artifacts = Seq("out" -> "The ProcessTree")),
    SegmentInfo("TokenReplay", "Replay the log against a received net", "transform",
      artifacts = Seq(
        "in" -> "The WorkflowNet artifact to replay against",
        "out" -> "The log fitness")))

  def runJson(spark: SparkSession, json: String): FlowResult =
    run(spark, FlowSpec.parseJson(json))

  def runYaml(spark: SparkSession, yaml: String): FlowResult =
    run(spark, FlowSpec.parseYaml(yaml))

  def runFile(spark: SparkSession, path: String): FlowResult =
    run(spark, FlowSpec.parseFile(path))

  private def allSegments(p: Pipe): Seq[Segment] =
    (p.source +: p.streams) ++ p.sink.toSeq

  /** Test seam: invoked with the pipe name on the executing thread as
    * each pipe begins — the concurrency spec parks both independent
    * pipes here to prove they really overlap. */
  @volatile private[flow] var pipeStartHook: String => Unit = _ => ()

  def run(spark: SparkSession, flow: Flow): FlowResult = {
    var artifacts = Map.empty[String, Any]
    var namedStreams = Map.empty[String, XesReader.XLog]
    val cached = Seq.newBuilder[Dataset[_]]
    val registerCached: Dataset[_] => Unit =
      ds => cached.synchronized { cached += ds }

    // Dependency order: run pipes whose stream receivers AND artifact
    // receivers are all available (the reference acquires artifact
    // channels before building segments, pipe.rs:100-131 /
    // segment.rs:35-102); a cycle or missing channel fails
    // (graph.rs:149-152).
    var pending = flow.pipes
    while (pending.nonEmpty) {
      val (ready, blocked) = pending.partition { p =>
        p.source.streamReceiver.forall(namedStreams.contains) &&
          allSegments(p).flatMap(_.artifactReceiver).forall(artifacts.contains)
      }
      if (ready.isEmpty) {
        val waits = blocked.flatMap(p =>
          p.source.streamReceiver.filterNot(namedStreams.contains) ++
            allSegments(p).flatMap(_.artifactReceiver).filterNot(artifacts.contains))
        throw new IllegalStateException(
          s"flow deadlock: pipes ${blocked.map(_.name).mkString(", ")} wait on " +
            s"channels ${waits.distinct.mkString(", ")}")
      }
      // A generation's ready pipes are mutually independent BY
      // CONSTRUCTION (every channel they consume already exists), so
      // they run CONCURRENTLY — the reference's ThreadExecutor spawns
      // one thread per pipe the same way (executor.rs:53-68), and a
      // SparkSession accepts jobs from multiple threads (that is how
      // the scheduler pools executor slots across them). Results merge
      // in declaration order regardless of completion order, so
      // channel-name collisions resolve exactly as the sequential
      // runner did and outputs stay byte-identical.
      val results: Seq[(Map[String, Any], Map[String, XesReader.XLog])] =
        if (ready.size == 1)
          ready.map(p => runPipe(spark, p, namedStreams, artifacts,
            registerCached))
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(ready.size)
          try {
            val futs = ready.map { p =>
              val (ns, as) = (namedStreams, artifacts) // immutable snapshots
              pool.submit(new java.util.concurrent.Callable[
                  (Map[String, Any], Map[String, XesReader.XLog])] {
                def call() = runPipe(spark, p, ns, as, registerCached)
              })
            }
            futs.map { f =>
              try f.get()
              catch { case e: java.util.concurrent.ExecutionException =>
                throw e.getCause }
            }
          } finally pool.shutdown()
        }
      results.foreach { case (arts, streams) =>
        artifacts ++= arts
        namedStreams ++= streams
      }
      pending = blocked
    }
    FlowResult(artifacts, namedStreams, cached.result())
  }

  private def runPipe(spark: SparkSession, pipe: Pipe,
      named: Map[String, XesReader.XLog], globalArtifacts: Map[String, Any],
      registerCached: Dataset[_] => Unit)
      : (Map[String, Any], Map[String, XesReader.XLog]) = {
    pipeStartHook(pipe.name)
    var artifacts = Map.empty[String, Any]
    var streams = Map.empty[String, XesReader.XLog]

    var current: XesReader.XLog = pipe.source.name match {
      case "XesReader" =>
        val log = XesReader.read(spark, pipe.source.attributes("path").toString)
        log.cached.foreach(registerCached)
        log
      case "Receiver" =>
        named(pipe.source.streamReceiver.head)
      case other =>
        throw new IllegalArgumentException(s"unknown source segment '$other'")
    }

    (pipe.streams ++ pipe.sink.toSeq).zipWithIndex.foreach { case (seg, i) =>
      val received = seg.artifactReceiver.map(ch => ch -> globalArtifacts(ch)).toMap
      current = applySegment(spark, seg, i, current, received,
        a => artifacts ++= a, s => streams ++= s, registerCached)
    }
    (artifacts, streams)
  }

  /** Deterministic component-granular bucket in [0,1000): traces split
    * as whole units (key = file#traceIdx, shared by their events),
    * standalone events split independently (key = file#e&lt;seq&gt;) —
    * the reference's per-component split granularity (split.rs:65-72).
    * Meta goes to both branches (split.rs:59-64). */
  private[flow] def traceBucket(seed: Long) =
    graft.ops.Split.bucket(NativeExpressions.charHash(traceKey, 7L), seed)

  private[flow] def eventBucket(seed: Long) =
    graft.ops.Split.bucket(NativeExpressions.charHash(eventKey, 7L), seed)

  /** The bucket keys: `file#traceIdx` for traces and their events,
    * `file#e<seq>` for standalone events. The hash is the compiled
    * code-point hash; it equals `Portable.charHash` on every nonempty
    * string, and a key always holds the file name or an index. */
  private[flow] val traceKey = concat_ws("#", col("file"), col("traceIdx"))
  private[flow] val eventKey = concat_ws("#", col("file"),
    coalesce(col("traceIdx").cast("string"), concat(lit("e"), col("seq"))))

  private def applySegment(spark: SparkSession, seg: Segment, segIndex: Int,
      in: XesReader.XLog, received: Map[String, Any],
      emitArtifacts: Map[String, Any] => Unit,
      emitStreams: Map[String, XesReader.XLog] => Unit,
      registerCached: Dataset[_] => Unit): XesReader.XLog = {
    import spark.implicits._
    // Alpha, Inductive and TokenReplay cache the events' variant table
    // (graft.ops.Variants); the flow releases it on unpersist
    def minedEvents(): DataFrame = {
      val ev = minerEvents(in)
      registerCached(graft.ops.Variants.frame(ev, "_case", "activity", "tsMicros", "seq"))
      ev
    }
    seg.name match {
      case "Void" => in

      case "Duplicator" =>
        // duplicator.rs:12-92 (default registry, plugin.rs:354-371):
        // forward the stream unchanged while an exact copy goes to the
        // sink acquired from the named channel. Lazy-plan world: the
        // copy IS the same plan; cache at the fan-out so the two
        // consumers share one evaluation of the segments upstream of
        // the tee (the Buffer subsumption, SURVEY §7.5).
        val shared = in.copy(traces = in.traces.cache(), events = in.events.cache())
        registerCached(shared.traces)
        registerCached(shared.events)
        seg.streamSender.foreach(ch => emitStreams(Map(ch -> shared)))
        shared

      case "Repair" =>
        in.withMetas(in.metas.map(repairMeta))

      case "Validator" =>
        // Meta-level checks run driver-side; the data-plane checks run
        // distributed through the parsed rows (ingestion already
        // enforced parse classes).
        in.metas.foreach { m =>
          val v = validateMeta(m)
          if (v.nonEmpty) throw new IllegalStateException(
            s"validation failed for ${m.file}: ${v.mkString("; ")}")
        }
        in

      case "Statistics" =>
        // ONE action: a single aggregation over the union of the trace
        // rows and the event rows counts traces, in-trace events and
        // all events in the same pass, instead of an events agg plus a
        // separate traces count.
        val row = in.traces.toDF()
          .select(lit(true).as("_trace"), lit(null).cast("long").as("_case"))
          .unionByName(in.events.toDF()
            .select(lit(false).as("_trace"), col("traceIdx").as("_case")))
          .agg(count(when(col("_trace"), 1)), count(col("_case")),
            count(when(!col("_trace"), 1)))
          .head()
        val stats = Statistics(row.getLong(0), row.getLong(1), row.getLong(2))
        seg.artifactSender.foreach(ch => emitArtifacts(Map(ch -> stats)))
        in

      case "Sample" =>
        val keep = permille(seg.attributes.getOrElse("ratio", 1.0))
        val seed = opSeed(seg, segIndex)
        in.copy(
          traces = in.traces.filter(traceBucket(seed) < lit(keep)),
          events = in.events.filter(eventBucket(seed) < lit(keep)))

      case "Split" =>
        val train = permille(seg.attributes.getOrElse("ratio", 0.5))
        val seed = opSeed(seg, segIndex)
        val testLog = in.copy(
          traces = in.traces.filter(traceBucket(seed) >= lit(train)),
          events = in.events.filter(eventBucket(seed) >= lit(train)))
        seg.streamSender.foreach(ch => emitStreams(Map(ch -> testLog)))
        in.copy(
          traces = in.traces.filter(traceBucket(seed) < lit(train)),
          events = in.events.filter(eventBucket(seed) < lit(train)))

      case "XesWriter" =>
        val path = seg.attributes("path").toString
        // indent attribute (xes.rs:799-856): n tabs per level. The
        // reference defaults to 0 AND drops newlines (quick-xml
        // single-line mode); our renderer always keeps newlines, so we
        // default to 1 tab and map indent=0 to flush-left.
        val indent = long(seg.attributes.getOrElse("indent", 1L)).toInt
        val tab = "\t" * indent
        val out = new java.io.File(path)
        // layout decided from the (small, driver-side) meta list: one
        // input log → `path` is the file; many → `path` is a directory
        val single = in.metas.size <= 1
        if (single) Option(out.getParentFile).foreach(_.mkdirs())
        else out.mkdirs()
        val target = out.getAbsolutePath
        // rendered logs are written FROM THE EXECUTORS that hold them —
        // collecting every rendered XML to the driver is an OOM for any
        // log set that doesn't fit driver memory
        XesWriter.toXmlStrings(spark, in, tab).foreach { kv: (String, String) =>
          val file = if (single) new java.io.File(target)
                     else new java.io.File(target, kv._1)
          java.nio.file.Files.writeString(file.toPath, kv._2)
          ()
        }
        in

      case "Sender" =>
        seg.streamSender.foreach(ch => emitStreams(Map(ch -> in)))
        in

      // Beyond the reference registry (its builtins never consume
      // artifacts — receivers are generic plugin plumbing,
      // plugin.rs:38-45): a dev-util-flavored consumer in the spirit
      // of the reference's consistency testers (dev_util.rs) that
      // makes the artifact-delivery path observable — gates the pipe
      // on statistics received from another pipe.
      case "AssertStats" =>
        val minTraces = long(seg.attributes.getOrElse("min_traces", 0L))
        received.collect { case (ch, s: Statistics) =>
          if (s.nTraces < minTraces)
            throw new IllegalStateException(
              s"AssertStats: channel '$ch' has ${s.nTraces} traces < $minTraces")
        }
        in

      // ---- the reference's ASPIRATIONAL miner plugins ----
      // lib.rs:3-27 sketches `… > Log | InductiveMiner`,
      // `DFGGenerator | HeuristicMiner`, `FootprintGenerator |
      // AlphaMiner`, and a `TokenReplay` observer in its application
      // scenarios, but none exist in its code (the structs in
      // lib.rs:11-22 are name-only). Here they run for real over the
      // engine's ops, emitting driver-side model artifacts in the
      // reference's artifact idiom (models are alphabet-sized).

      case "DFGGenerator" =>
        val edges = graft.ops.Dfg.edges(minerEvents(in),
          "_case", "activity", "tsMicros", "seq")
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          .toSeq
        seg.artifactSender.foreach(ch => emitArtifacts(Map(ch -> edges)))
        in

      case "FootprintGenerator" =>
        val fp = graft.ops.Dfg.footprint(minerEvents(in),
          "_case", "activity", "tsMicros", "seq")
          .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
          .toSeq
        seg.artifactSender.foreach(ch => emitArtifacts(Map(ch -> fp)))
        in

      case "AlphaMiner" =>
        val net = graft.ops.Alpha.mine(minedEvents(),
          "_case", "activity", "tsMicros", "seq")
        seg.artifactSender.foreach(ch => emitArtifacts(Map(ch -> net)))
        in

      case "HeuristicMiner" =>
        val theta = seg.attributes.getOrElse("dependency_threshold", 0.9) match {
          case d: Double => d; case l: Long => l.toDouble
          case n: Number => n.doubleValue()
        }
        val minN = long(seg.attributes.getOrElse("min_edge_n", 1L))
        val net = graft.ops.Heuristics.net(minerEvents(in),
          "_case", "activity", "tsMicros", "seq", theta, minN)
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getDouble(3), r.getString(4))).toSeq
        seg.artifactSender.foreach(ch => emitArtifacts(Map(ch -> net)))
        in

      case "InductiveMiner" =>
        val tree = graft.ops.Inductive.mine(minedEvents(),
          "_case", "activity", "tsMicros", "seq")
        seg.artifactSender.foreach(ch => emitArtifacts(Map(ch -> tree)))
        in

      case "TokenReplay" =>
        val net = received.values.collectFirst {
          case n: graft.ops.Alpha.WorkflowNet => n
        }.getOrElse(throw new IllegalArgumentException(
          "TokenReplay needs a WorkflowNet artifact on a receiver channel"))
        val fitness = graft.ops.Replay.logFitness(
          graft.ops.Replay.variantFitness(spark, minedEvents(),
            "_case", "activity", "tsMicros", "seq", net))
        seg.artifactSender.foreach(ch => emitArtifacts(Map(ch -> fitness)))
        in

      case other =>
        throw new IllegalArgumentException(s"unknown segment '$other'")
    }
  }

  /** Event view for the miner segments: in-trace events keyed by the
    * (file, trace) case identity. */
  private def minerEvents(in: XesReader.XLog): DataFrame =
    in.events.toDF()
      .filter(col("traceIdx").isNotNull)
      .withColumn("_case", concat_ws("#", col("file"), col("traceIdx")))

  /** The user seed salted with the segment's position in the pipe.
    * Two sampling segments with the same user seed must draw
    * independently (the reference gets this from sequential RNG state,
    * split.rs:22-38; a pure hash scheme needs an explicit per-operator
    * salt or a Sample(0.1) feeding a Split(0.8) would send every
    * sampled trace to the train branch). */
  private def opSeed(seg: Segment, segIndex: Int): Long =
    long(seg.attributes.getOrElse("seed", 0L)) + 7919L * (segIndex + 1)

  private def permille(v: Any): Int = v match {
    case d: Double => (d * 1000).round.toInt
    case l: Long => (l * 1000).toInt
    case i: Int => i * 1000
    case s => (s.toString.toDouble * 1000).round.toInt
  }

  private def long(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case d: Double => d.toLong
    case s => s.toString.toLong
  }

  private def repairMeta(m: XesMeta): XesMeta =
    m.copy(classifiers = m.classifiers.map { c =>
      if (!graft.xes.XmlLexical.isNcName(c.name))
        c.copy(name = c.name.replaceAll("\\s", ""))
      else c
    })

  private def validateMeta(m: XesMeta): Seq[String] =
    m.classifiers.collect {
      case c if !graft.xes.XmlLexical.isNcName(c.name) =>
        s"classifier name '${c.name}' is no valid xs:NCName"
    }
}
