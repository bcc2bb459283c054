package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.Instant
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT64}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.ops.{Alpha, Dfg}
import graft.streaming.{LateDrops, StreamingConformance, StreamingDfg, StreamingStats, TraceAssembly}

/** stream_monitor: an operator watching a live event stream.
  *
  * Set-up stages seeded parquet event slices (event-time ordered) and
  * mines an alpha net from a prefix of them. Three concurrent queries
  * read a drop directory on [[StreamMonitor.TriggerMs]] processing-time
  * triggers: trace assembly → streaming DFG, streaming token-replay
  * conformance against the net, and running statistics. Untimed
  * warm-up rounds come first, since a query's first batches plan and
  * compile its code. A closed-loop phase then moves a staged backlog in,
  * in equal rounds, and times each round's drain. Then, for
  * `openSeconds`, a generator thread only renames slices atomically
  * into the drop directory, on a fixed schedule at
  * [[StreamMonitor.SlicesPerSecond]] (an open loop: a slow engine gets
  * no relief). Each slice's lag runs from its due time to the commit of
  * the first batch that contains it, per query. Two sentinel slices
  * finally advance the watermark so every case closes, and the outputs
  * are checked against the generator and the batch operators.
  */
final class StreamMonitor(openSeconds: Double) extends Workload {
  import StreamMonitor._

  private var spark: SparkSession = _
  private var stage: Path = _
  private var slices: Vector[Slice] = Vector.empty
  private var sentinels: Seq[Path] = Seq.empty
  private var truth: Map[(String, String), Long] = Map.empty
  private var nOpen: Int = 0
  private var maxTs: Long = 0L
  private var net: Alpha.WorkflowNet = _

  def prepare(spark: SparkSession, seed: Long, dir: Path): Unit = {
    this.spark = spark
    stage = Files.createDirectories(dir.resolve("stage"))
    nOpen = math.round(openSeconds * SlicesPerSecond).toInt
    val nSlices = WarmSlices + nOpen + BacklogSlices
    val rnd = new SplittableRandom(seed)
    val events = Gen.traces(rnd, Gen.slotModel(ModelSlot), nSlices * EventsPerSlice)
      .zipWithIndex.flatMap { case (t, c) => t.events.map(e => (s"c$c", e.activity, e.tsMicros)) }
      .sortBy(_._3).take(nSlices * EventsPerSlice)
    truth = Gen.dfg(events.groupBy(_._1).values.map(_.sortBy(_._3).map(_._2)))
    maxTs = events.last._3
    val groups = events.grouped(EventsPerSlice).toVector
    slices = groups.zipWithIndex.map { case (rows, i) =>
      Slice(i, stage.resolve(f"slice_$i%05d.parquet"), rows.size.toLong)
    }
    // staging is input generation: it may use every core
    java.util.stream.IntStream.range(0, groups.size).parallel()
      .forEach(i => writeSlice(slices(i).path, groups(i)))
    sentinels = Seq(1L, 2L).map(sentinel)
    // the net is mined from a prefix of the stream, as an operator
    // would mine it from yesterday's log
    val prefix = spark.read.schema(Schema)
      .parquet(slices.take(NetSlices).map(_.path.toString): _*)
    net = Alpha.mine(prefix, "caseId", "activity", "tsMicros", "activity")
  }

  def run(spark: SparkSession, seconds: Double, trace: Boolean, dir: Path): Outcome = {
    val drop = Files.createDirectories(dir.resolve("work").resolve("drop"))
    val ckpt = dir.resolve("checkpoints")
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    // event-time order: warm-up, backlog, open loop
    val warm = slices.take(WarmSlices)
    val backlog = slices.slice(WarmSlices, WarmSlices + BacklogSlices)
    val open = slices.drop(WarmSlices + BacklogSlices)

    val edges = new java.util.concurrent.ConcurrentHashMap[(String, String), Long]()
    val fitness = new ConcurrentLinkedQueue[(Long, Long, Double, Double)]()
    @volatile var lastStats: Option[(Long, Long)] = None
    val queries = Seq(
      start("dfg", drop, ckpt, OutputMode.Append()) { src =>
        StreamingDfg.edges(spark, src.as[TraceAssembly.InEvent](inEnc), GapSeconds).toDF()
      } { (df, _) =>
        df.filter(col("actFrom") =!= Sentinel && col("actTo") =!= Sentinel)
          .groupBy("actFrom", "actTo").count().collect()
          .foreach(r => edges.merge((r.getString(0), r.getString(1)), r.getLong(2), (a, b) => a + b))
      },
      start("conformance", drop, ckpt, OutputMode.Append()) { src =>
        StreamingConformance.replayFitness(spark, src.as[TraceAssembly.InEvent](inEnc),
          GapSeconds, net).toDF()
      } { (df, _) =>
        val r = df.filter(col("caseId") =!= Sentinel)
          .agg(count(lit(1)), coalesce(sum("nEvents"), lit(0L)),
            coalesce(min("fitness"), lit(1.0)), coalesce(max("fitness"), lit(0.0))).head()
        fitness.add((r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
      },
      start("stats", drop, ckpt, OutputMode.Complete()) { src =>
        StreamingStats.running(src.filter(col("activity") =!= Sentinel), "caseId")
      } { (df, _) =>
        df.collect().headOption.foreach(r => lastStats = Some((r.getLong(1), r.getLong(2))))
      })

    try {
      // closed loop: warm-up rounds, then the backlog in equal rounds,
      // each moved in at once just before a trigger and timed until
      // every query has committed it, so a round's time is its
      // batches', not a wait for a trigger
      def move(p: Path): Unit =
        Files.move(p, drop.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)
      var fedRows = 0L
      def round(part: Seq[Slice]): Double = {
        val moveAt = nextTrigger(System.currentTimeMillis() + 2 * MoveLeadMs) - MoveLeadMs
        Thread.sleep(math.max(0L, moveAt - System.currentTimeMillis()))
        val d0 = System.currentTimeMillis()
        part.foreach(s => move(s.path))
        fedRows += part.map(_.events).sum
        awaitRows(queries, progress, fedRows)
        val done = queries.map(q => progress.committedAt(q.id.toString, fedRows)).max
        part.map(_.events).sum / ((done - d0) / 1000.0)
      }
      warm.grouped(WarmSlices / WarmRounds).foreach(round)
      val drains = backlog.grouped(BacklogSlices / DrainRounds).map(round).toVector

      // open loop: renames on a fixed absolute schedule, never waiting
      // on the engine. The schedule starts half a slice period after a
      // trigger instant, so every run places its slices at the same
      // offsets from the triggers.
      val period = 1000.0 / SlicesPerSecond
      val t0 = nextTrigger(System.currentTimeMillis() + 500L) + math.round(period / 2)
      val due = open.zipWithIndex.map { case (s, k) => s.index -> (t0 + math.round(k * period)) }.toMap
      val moved = new ConcurrentLinkedQueue[(Int, Long)]()
      val gen = new Thread(() => open.foreach { s =>
        val wait = due(s.index) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        move(s.path)
        moved.add(s.index -> System.currentTimeMillis())
      }, "graftbench-slice-generator")
      gen.start()
      gen.join()
      val openEnd = System.currentTimeMillis()
      fedRows += open.map(_.events).sum

      // flush: the first sentinel, moved in with the last slices, moves
      // the watermark past every case's gap; the second fires the
      // timeouts it set up
      move(sentinels(0))
      awaitRows(queries, progress, fedRows, 1)

      move(sentinels(1))
      awaitRows(queries, progress, fedRows, 2)
      val lateDrops = queries.map(LateDrops.count)
      queries.foreach(_.stop())
      spark.streams.removeListener(progress)

      // lags: slice -> its entry in the file source's own log -> the
      // first batch whose source offset reaches that entry -> that
      // batch's commit time (its progress event). The log's offsets
      // are not batch ids: batches without new files do not add one.
      val measured = open.map(_.index).toSet
      val lags = ArrayBuffer.empty[Double]
      var undelivered = 0L
      queries.zip(QueryNames).foreach { case (q, name) =>
        val offsetOf = sourceLog(ckpt.resolve(name))
        val batches = progress.of(q.id.toString)
        measured.foreach { i =>
          offsetOf.get(i).flatMap(o => batches.find(logOffset(_) >= o)) match {
            case Some(p) => lags += (committed(p) - due(i)) / 1000.0
            case None => undelivered += 1
          }
        }
      }

      val check = new Checks
      val fed = slices.map(_.events).sum
      val fedSlices = slices.map(s => drop.resolve(s.path.getFileName).toString)
      val batchEdges = Dfg.edges(spark.read.schema(Schema).parquet(fedSlices: _*),
          "caseId", "activity", "tsMicros", "activity").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val streamEdges = edges.asScala.toMap
      check(streamEdges == batchEdges,
        s"streaming DFG (${streamEdges.size} edges) != batch Dfg.edges (${batchEdges.size})")
      check(batchEdges == truth, "batch Dfg.edges != generated DFG")
      check(lastStats.contains((fed, 0L)), s"StreamingStats totals $lastStats != ($fed, 0)")
      val fit = fitness.asScala.toSeq
      val fitEvents = fit.map(_._2).sum
      check(fitEvents == fed, s"conformance replayed $fitEvents events of $fed fed")
      check(fit.forall(x => x._1 == 0 || (x._3 >= 0.0 && x._4 <= 1.0)), "fitness outside [0, 1]")
      check(lateDrops.forall(_ == 0L), s"late drops ${lateDrops.mkString(",")}")

      // operations: every (slice, query) delivery plus every result check
      val attempted = measured.size.toLong * queries.size + check.count
      val failed = undelivered + check.failures.size
      val genLate = moved.asScala.toSeq.filter(m => measured.contains(m._1))
        .map(m => (m._2 - due(m._1)).toDouble)
      val window = progress.all.filter(p => Instant.parse(p.timestamp).toEpochMilli >= due(open.head.index) &&
        Instant.parse(p.timestamp).toEpochMilli <= openEnd)
      val layers = QueryNames.zip(queries).flatMap { case (name, q) =>
        phaseMetrics(name, window.filter(_.id.toString == q.id.toString),
          progress.of(q.id.toString), lateDrops(queries.indexOf(q)))
      }.toMap ++ Map(
        "streaming.useful_batch_frac" ->
          window.count(_.numInputRows > 0).toDouble / math.max(1, window.size),
        "bench.gen_late_ms" -> genLate.sum / math.max(1, genLate.size),
        // streaming layer metrics come from the engine's own progress
        // events, which every run records: tracing adds nothing here
        "bench.trace_overhead_frac" -> 0.0)
      Outcome(attempted, failed, Stats.median(drains), lags.toSeq,
        if (trace) layers else Map.empty,
        Seq("slices_per_second" -> SlicesPerSecond, "events_per_slice" -> EventsPerSlice,
          "open_slices" -> nOpen, "backlog_events" -> backlog.map(_.events).sum,
          "drain_events_per_s" -> drains, "batches" -> progress.all.size,
          "open_batch_ms" -> window.filter(_.numInputRows > 0)
            .map(_.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)),
          "undelivered" -> undelivered, "failures" -> check.failures))
    } finally {
      queries.foreach(q => if (q.isActive) q.stop())
    }
  }

  private def inEnc = org.apache.spark.sql.Encoders.product[TraceAssembly.InEvent]

  private def start(name: String, drop: Path, ckpt: Path, mode: OutputMode)(
      mk: DataFrame => DataFrame)(sink: (DataFrame, Long) => Unit): StreamingQuery = {
    val src = spark.readStream.schema(Schema).parquet(drop.toString)
      .withColumn("ts", timestamp_micros(col("tsMicros")))
      .withWatermark("ts", WatermarkDelay)
    mk(src).writeStream.queryName(name).outputMode(mode)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", ckpt.resolve(name).toString)
      .foreachBatch(sink).start()
  }

  /** Bounded wait until every query has committed batches holding
    * `rows` event rows and `sentinels` sentinel rows in all; fails with
    * the query's error or last progress otherwise. The stats query
    * filters sentinels out in its scan, so it reads no row of them. */
  private def awaitRows(queries: Seq[StreamingQuery], progress: ProgressLog, rows: Long,
      sentinels: Long = 0L): Unit = {
    val deadline = System.currentTimeMillis() + AwaitMs
    queries.foreach { q =>
      val target = if (q.name == "stats") rows else rows + sentinels
      while (progress.rows(q.id.toString) < target) {
        if (q.exception.isDefined || System.currentTimeMillis() > deadline)
          throw new IllegalStateException(
            s"query ${q.name} did not commit $target rows within $AwaitMs ms: ${q.exception
              .map(_.toString).getOrElse(String.valueOf(q.lastProgress))}")
        Thread.sleep(5L)
      }
    }
  }

  /** Stages sentinel `k`, one event far enough past `maxTs` to move
    * the watermark past every case's gap. */
  private def sentinel(k: Long): Path = {
    val path = stage.resolve(s"sentinel_$k.parquet")
    writeSlice(path, Seq((Sentinel, Sentinel, maxTs + k * (GapSeconds + 86400L) * 1000000L)))
    path
  }

  /** One slice as one parquet file, written directly with parquet-mr:
    * staging is input generation, not engine work. */
  private def writeSlice(path: Path, rows: Seq[(String, String, Long)]): Unit = {
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path.toUri))
      .withConf(spark.sparkContext.hadoopConfiguration)
      .withType(ParquetSchema)
      .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
      .build()
    try rows.foreach { case (c, a, ts) =>
      val g = new SimpleGroup(ParquetSchema)
      g.add("caseId", c)
      g.add("activity", a)
      g.add("tsMicros", ts)
      w.write(g)
    } finally w.close()
  }

  /** Slice index -> the first file-source log offset that lists it. */
  private def sourceLog(ckpt: Path): Map[Int, Long] = {
    val dir = ckpt.resolve("sources").resolve("0").toFile
    val entry = "\"path\":\"[^\"]*slice_(\\d+)\\.parquet\".*\"batchId\":(\\d+)".r
    Option(dir.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("."))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toList)
      .flatMap(l => entry.findFirstMatchIn(l).map(m => m.group(1).toInt -> m.group(2).toLong))
      .groupBy(_._1).map { case (i, xs) => i -> xs.map(_._2).min }
  }

  private def phaseMetrics(q: String, window: Seq[StreamingQueryProgress],
      all: Seq[StreamingQueryProgress], lateDrops: Long): Seq[(String, Double)] = {
    def mean(key: String): Double =
      window.map(_.durationMs.asScala.get(key).map(_.doubleValue).getOrElse(0.0)).sum /
        math.max(1, window.size)
    val rows = all.map(_.stateOperators.map(_.numRowsTotal).sum)
    val mem = all.map(_.stateOperators.map(_.memoryUsedBytes).sum)
    Seq(
      "trigger_ms" -> mean("triggerExecution"), "add_batch_ms" -> mean("addBatch"),
      "query_planning_ms" -> mean("queryPlanning"), "wal_commit_ms" -> mean("walCommit"),
      "commit_offsets_ms" -> mean("commitOffsets"), "latest_offset_ms" -> mean("latestOffset"),
      "get_batch_ms" -> mean("getBatch"),
      "state_rows" -> (if (rows.isEmpty) 0.0 else rows.max.toDouble),
      "state_mem_mb" -> (if (mem.isEmpty) 0.0 else mem.max / 1048576.0),
      "late_drops" -> lateDrops.toDouble
    ).map { case (k, v) => s"streaming.$q.$k" -> v }
  }
}

object StreamMonitor {
  val QueryNames: Seq[String] = Seq("dfg", "conformance", "stats")
  /** Open-loop rate: 4 slices of 4,000 events per second, 16,000
    * events/s, fixed once at about half of the drain throughput
    * measured when the benchmark was defined (about 32,000 events/s
    * in 48,000-event rounds on 4 cores). Never re-derived per run. */
  val SlicesPerSecond = 4.0
  val EventsPerSlice = 4000
  /** The prefix the alpha net is mined from. */
  val NetSlices = 5
  /** Warm-up, fed in three untimed rounds of 32,000 events before the
    * backlog: a query's first batches plan and compile its code, and
    * the drain rounds still speed up after three small ones. */
  val WarmSlices = 24
  val WarmRounds = 3
  /** The drain phase: four rounds of 12 slices (48,000 events); the
    * throughput is their median. */
  val BacklogSlices = 48
  val DrainRounds = 4
  val ModelSlot = 100
  /** Case gap: larger than any in-case event spacing the generator
    * draws (at most 601 s), so no case is split. */
  val GapSeconds = 900L
  val WatermarkDelay = "10 seconds"
  /** Processing-time trigger interval. Spark fires such triggers on
    * epoch multiples of the interval, so the schedule can be placed at
    * fixed offsets from them, and a batch's size does not depend on how
    * long the one before it took. */
  val TriggerMs = 2000L
  /** How long before a trigger a drain round is moved in. */
  val MoveLeadMs = 100L
  val Sentinel = "_s"
  val AwaitMs = 60000L

  /** The first trigger instant after `t` (epoch ms). */
  def nextTrigger(t: Long): Long = (t / TriggerMs + 1) * TriggerMs

  /** The file-source log offset a batch has read up to (-1 before any). */
  def logOffset(p: StreamingQueryProgress): Long =
    "\"logOffset\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(String.valueOf(p.sources.head.endOffset))
      .map(_.group(1).toLong).getOrElse(-1L)

  /** When a batch committed: its trigger start plus its duration. */
  def committed(p: StreamingQueryProgress): Long =
    Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)

  val ParquetSchema: MessageType = Types.buildMessage()
    .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("caseId")
    .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("activity")
    .required(INT64).named("tsMicros")
    .named("spark_schema")

  val Schema: StructType = StructType(Seq(
    StructField("caseId", StringType), StructField("activity", StringType),
    StructField("tsMicros", LongType)))

  final case class Slice(index: Int, path: Path, events: Long)

  /** Every progress event of every query, in arrival order. */
  final class ProgressLog extends StreamingQueryListener {
    private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def all: Seq[StreamingQueryProgress] = events.asScala.toSeq
    def of(id: String): Seq[StreamingQueryProgress] = all.filter(_.id.toString == id)
    /** Input rows query `id` has committed so far. */
    def rows(id: String): Long = of(id).map(_.numInputRows).sum
    /** Commit time of query `id`'s batch that brought its input rows to `n`. */
    def committedAt(id: String, n: Long): Long =
      of(id).scanLeft((0L, 0L)) { case ((acc, _), p) => (acc + p.numInputRows, committed(p)) }
        .find(_._1 >= n).map(_._2).getOrElse(Long.MaxValue)
  }
}
