package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec
import graft.ops.{PetriNet, ProcessTree}

/** Streaming conformance: closed traces scored online against a
  * broadcast model; deviating traces surface as low-fitness rows. */
class StreamingConformanceSpec extends SparkSpec {

  import spark.implicits._

  private def sec(s: Long): Long = s * 1000000L

  // the L1 model: seq(a, xor(and(b,c), e), d)
  private val net = PetriNet.fromTree(ProcessTree.Sequence(Seq(
    ProcessTree.Leaf("a"),
    ProcessTree.Xor(Seq(
      ProcessTree.And(Seq(ProcessTree.Leaf("b"), ProcessTree.Leaf("c"))),
      ProcessTree.Leaf("e"))),
    ProcessTree.Leaf("d"))))

  test("alignment fitness per closed trace: conforming 1.0, deviating < 1.0") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TraceAssembly.InEvent]
    val events = input.toDS()
      .withColumn("ts", timestamp_micros(col("tsMicros")))
      .withWatermark("ts", "10 seconds")
      .as[TraceAssembly.InEvent]

    val scored = StreamingConformance.alignmentFitness(
      spark, events, gapSeconds = 30, net)
    val query = scored.writeStream
      .format("memory").queryName("conformance")
      .outputMode(OutputMode.Append()).start()
    try {
      // OK: a,c,b,d (valid and-interleaving), BAD: a,b,d (missing c),
      // out-of-order arrival inside OK
      input.addData(
        TraceAssembly.InEvent("OK", "a", sec(10)),
        TraceAssembly.InEvent("OK", "b", sec(14)),
        TraceAssembly.InEvent("OK", "c", sec(12)),
        TraceAssembly.InEvent("OK", "d", sec(16)),
        TraceAssembly.InEvent("BAD", "a", sec(10)),
        TraceAssembly.InEvent("BAD", "b", sec(12)),
        TraceAssembly.InEvent("BAD", "d", sec(14)))
      query.processAllAvailable()
      input.addData(TraceAssembly.InEvent("LATE", "x", sec(300)))
      query.processAllAvailable()
      input.addData(TraceAssembly.InEvent("LATE", "y", sec(301)))
      query.processAllAvailable()

      val rows = spark.table("conformance")
        .as[StreamingConformance.TraceAlignment].collect()
        .map(t => t.caseId -> t).toMap
      assert(rows.contains("OK") && rows.contains("BAD"))
      assert(rows("OK").cost == 0 && rows("OK").fitness == 1.0)
      // BAD pays one model move: fitness = 1 - 1/(3 + 3)
      assert(rows("BAD").cost == 1)
      assert(math.abs(rows("BAD").fitness - (1.0 - 1.0 / 6.0)) < 1e-12)
    } finally query.stop()
  }

  test("replay fitness works on alpha-mined nets in the same stream shape") {
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.xes.XesReader.read(spark,
      s"${graft.xes.XesCorpus.book}/L1.xes").eventsDf
    val wf = graft.ops.Alpha.mine(ev, "traceIdx", "activity", "ts", "seq")

    val input = MemoryStream[TraceAssembly.InEvent]
    val events = input.toDS()
      .withColumn("ts", timestamp_micros(col("tsMicros")))
      .withWatermark("ts", "10 seconds")
      .as[TraceAssembly.InEvent]
    val scored = StreamingConformance.replayFitness(
      spark, events, gapSeconds = 30, wf)
    val query = scored.writeStream
      .format("memory").queryName("replay_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        TraceAssembly.InEvent("T1", "a", sec(1)),
        TraceAssembly.InEvent("T1", "e", sec(2)),
        TraceAssembly.InEvent("T1", "d", sec(3)))
      query.processAllAvailable()
      input.addData(TraceAssembly.InEvent("Z", "a", sec(500)))
      query.processAllAvailable()
      input.addData(TraceAssembly.InEvent("Z", "b", sec(501)))
      query.processAllAvailable()

      val rows = spark.table("replay_stream")
        .as[StreamingConformance.TraceFitness].collect()
        .map(t => t.caseId -> t).toMap
      assert(rows.contains("T1"))
      assert(math.abs(rows("T1").fitness - 1.0) < 1e-12)
      assert(rows("T1").missing == 0L && rows("T1").remaining == 0L)
    } finally query.stop()
  }

  test("compact replay state folds across >=3 watermark advances, tie group at a cut") {
    implicit val sqlCtx = spark.sqlContext
    val ev = graft.xes.XesReader.read(spark,
      s"${graft.xes.XesCorpus.book}/L1.xes").eventsDf
    val wf = graft.ops.Alpha.mine(ev, "traceIdx", "activity", "ts", "seq")

    val input = MemoryStream[TraceAssembly.InEvent]
    val events = input.toDS()
      .withColumn("ts", timestamp_micros(col("tsMicros")))
      .withWatermark("ts", "10 seconds")
      .as[TraceAssembly.InEvent]
    val scored = StreamingConformance.replayFitness(
      spark, events, gapSeconds = 3600, wf)
    val query = scored.writeStream
      .format("memory").queryName("replay_fold")
      .outputMode(OutputMode.Append()).start()
    try {
      def add(evs: TraceAssembly.InEvent*): Unit = {
        input.addData(evs: _*); query.processAllAvailable()
      }
      // T folds piecewise while open: wm afterwards 120 / 150 / 185;
      // the (b,c) tie group sits EXACTLY at the 120 cut (strict
      // ts < wm keeps it whole on the buffered side, then folds it
      // as one sorted unit), and T receives input in every batch so
      // each advance actually folds.
      // the (c,b) tie arrives OUT OF ORDER before the wm reaches it
      add(TraceAssembly.InEvent("T", "a", sec(100)),
        TraceAssembly.InEvent("T", "c", sec(120)),
        TraceAssembly.InEvent("T", "b", sec(120)),
        TraceAssembly.InEvent("W", "x", sec(130)))   // wm -> 120: AT the tie
      add(TraceAssembly.InEvent("T", "d", sec(155)),
        TraceAssembly.InEvent("W", "x", sec(160)))   // folds {a}, tie held; wm -> 150
      add(TraceAssembly.InEvent("T", "e", sec(190)),
        TraceAssembly.InEvent("W", "x", sec(195)))   // folds {b,c} whole; wm -> 185
      // close folds the {d,e} residue
      // flush: timers fire against the advanced watermark
      add(TraceAssembly.InEvent("F", "_s", sec(7200)))
      add(TraceAssembly.InEvent("F2", "_s", sec(14400)))

      val rows = spark.table("replay_fold")
        .as[StreamingConformance.TraceFitness].collect()
        .map(t => t.caseId -> t).toMap
      assert(rows.contains("T"), s"T not closed: ${rows.keys}")
      val got = rows("T")
      // ground truth: the batch kernel over the fully sorted trace
      val exp = graft.ops.Replay.replayVariant(
        wf, Seq("a", "b", "c", "d", "e"))
      assert(got.nEvents == 5L)
      assert(got.missing == exp.missing && got.remaining == exp.remaining,
        s"got $got vs batch $exp")
      assert(math.abs(got.fitness - exp.fitness) < 1e-12,
        s"got ${got.fitness} vs batch ${exp.fitness}")
    } finally query.stop()
    spark.catalog.dropTempView("replay_fold")
  }
}
