package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSpec

/** Streaming layer driven through MemoryStream: session-window trace
  * assembly with event-time timeouts, stateful stats, windowed rates. */
class StreamingSpec extends SparkSpec {

  import spark.implicits._

  def sec(s: Long): Long = s * 1000000L // micros

  test("trace assembly closes sessions on event-time gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TraceAssembly.InEvent]
    val events = input.toDS()
      .withColumn("ts", timestamp_micros(col("tsMicros")))
      .withWatermark("ts", "10 seconds")
      .as[TraceAssembly.InEvent]

    val traces = TraceAssembly.assemble(spark, events, gapSeconds = 30)
    val query = traces.writeStream
      .format("memory").queryName("closed_traces")
      .outputMode(OutputMode.Append()).start()
    try {
      // two cases interleaved, out of order within case A
      input.addData(
        TraceAssembly.InEvent("A", "a1", sec(10)),
        TraceAssembly.InEvent("B", "b1", sec(12)),
        TraceAssembly.InEvent("A", "a3", sec(20)),
        TraceAssembly.InEvent("A", "a2", sec(15)))
      query.processAllAvailable()
      // advance watermark far past A/B last event + gap
      input.addData(TraceAssembly.InEvent("C", "c1", sec(200)))
      query.processAllAvailable()
      // one more batch so the timeout fires after watermark update
      input.addData(TraceAssembly.InEvent("C", "c2", sec(201)))
      query.processAllAvailable()

      val closed = spark.table("closed_traces")
        .as[TraceAssembly.ClosedTrace].collect()
        .map(t => t.caseId -> t).toMap
      assert(closed.contains("A") && closed.contains("B"))
      assert(closed("A").activities == Seq("a1", "a2", "a3")) // sorted at close
      assert(closed("A").nEvents == 3L)
      assert(closed("A").startMicros == sec(10) && closed("A").endMicros == sec(20))
      assert(closed("B").activities == Seq("b1"))
      assert(!closed.contains("C")) // still open
    } finally query.stop()
  }

  test("streaming DFG edges == batch Dfg.edges under out-of-order arrival") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TraceAssembly.InEvent]
    val events = input.toDS()
      .withColumn("ts", timestamp_micros(col("tsMicros")))
      .withWatermark("ts", "10 seconds")
      .as[TraceAssembly.InEvent]
    val query = StreamingDfg.edges(spark, events, gapSeconds = 30)
      .writeStream.format("memory").queryName("stream_dfg")
      .outputMode(OutputMode.Append()).start()
    try {
      val data = Seq(
        TraceAssembly.InEvent("A", "x", sec(10)),
        TraceAssembly.InEvent("A", "z", sec(30)),   // out of order
        TraceAssembly.InEvent("A", "y", sec(20)),
        TraceAssembly.InEvent("B", "x", sec(11)),
        TraceAssembly.InEvent("B", "y", sec(21)))
      input.addData(data: _*)
      query.processAllAvailable()
      input.addData(TraceAssembly.InEvent("C", "w", sec(500)))
      query.processAllAvailable()
      input.addData(TraceAssembly.InEvent("C", "w2", sec(501)))
      query.processAllAvailable()
      val streamed = spark.table("stream_dfg")
        .as[(String, String)].collect().groupBy(identity).view.mapValues(_.length).toMap
      // batch reference on the same (closed) cases
      val batch = data.map(e => (e.caseId, e.activity, e.tsMicros))
        .toDF("case", "act", "t")
        .withColumn("ts", timestamp_micros(col("t")))
      val expect = graft.ops.Dfg.edges(batch, "case", "act", "ts", "t")
        .as[(String, String, Long)].collect()
        .map { case (a, b, n) => (a, b) -> n.toInt }.toMap
      assert(streamed.map { case ((a, b), n) => (a, b) -> n } == expect)
      assert(expect(("x", "y")) == 2) // non-vacuous, includes the reordered edge
    } finally query.stop()
  }

  test("streaming DFG compaction: a trace folded across many watermark advances == batch") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TraceAssembly.InEvent]
    val events = input.toDS()
      .withColumn("ts", timestamp_micros(col("tsMicros")))
      .withWatermark("ts", "10 seconds")
      .as[TraceAssembly.InEvent]
    val query = StreamingDfg.edges(spark, events, gapSeconds = 3600)
      .writeStream.format("memory").queryName("stream_dfg_c")
      .outputMode(OutputMode.Append()).start()
    try {
      // one long trace with repeated edges and ties, delivered in four
      // batches while the watermark advances THROUGH the trace — each
      // batch's below-watermark slice compacts into (last event, edge
      // counts) long before the trace closes; the repeat x->y edge
      // spans a fold boundary, and the (ts 40) tie group arrives split
      // across batches but lands entirely on one side of every cut
      val all = scala.collection.mutable.ListBuffer[TraceAssembly.InEvent]()
      def add(evs: TraceAssembly.InEvent*): Unit = {
        all ++= evs; input.addData(evs: _*); query.processAllAvailable()
      }
      add(TraceAssembly.InEvent("T", "x", sec(10)),
        TraceAssembly.InEvent("T", "y", sec(20)))             // wm -> 10
      add(TraceAssembly.InEvent("T", "x", sec(30)),
        TraceAssembly.InEvent("T", "b", sec(40)))             // wm -> 30: folds 10,20
      add(TraceAssembly.InEvent("T", "y", sec(35)),           // repeats x->y
        TraceAssembly.InEvent("T", "a", sec(40)),             // tie at 40
        TraceAssembly.InEvent("T", "y", sec(50)))             // wm -> 40: folds 30,35
      add(TraceAssembly.InEvent("T", "z", sec(60)),
        TraceAssembly.InEvent("U", "w", sec(70)))             // wm -> 60
      // flush far past gap, twice (timers fire vs the prior watermark)
      add(TraceAssembly.InEvent("F", "_s", sec(7200)))
      add(TraceAssembly.InEvent("F2", "_s", sec(14400)))
      val streamed = spark.table("stream_dfg_c")
        .as[(String, String)].collect().toSeq
        .filter(e => e._1 != "_s" && e._2 != "_s")
        .groupBy(identity).view.mapValues(_.length).toMap
      val batch = all.toSeq.map(e => (e.caseId, e.activity, e.tsMicros))
        .toDF("case", "act", "t")
        .withColumn("ts", timestamp_micros(col("t")))
      // tie-break on activity — the stream fold's (ts, activity) sort
      // and the bench's batch truth both pin this total order
      val expect = graft.ops.Dfg.edges(batch, "case", "act", "ts", "act")
        .as[(String, String, Long)].collect()
        .filter(e => e._1 != "_s" && e._2 != "_s")
        .map { case (a, b, n) => (a, b) -> n.toInt }.toMap
      assert(streamed == expect, s"streamed=$streamed expect=$expect")
      assert(expect(("x", "y")) == 2) // the repeated edge spans a fold cut
    } finally query.stop()
    spark.catalog.dropTempView("stream_dfg_c")
  }

  test("streaming DFG: activity names containing \\u0001 survive the state round-trip") {
    // r15 keyed the compacted edge-count map on from+"\u0001"+to and
    // split on the FIRST separator — an activity named "p\u0001q"
    // would re-split as ("p", "q\u0001…") and emit wrong pairs. The
    // r16 state carries structured (from, to, n) parallel columns;
    // this pins the exact adversarial name, across a fold boundary.
    implicit val sqlCtx = spark.sqlContext
    val evil = "p\u0001q"   // contains the old separator
    val input = MemoryStream[TraceAssembly.InEvent]
    val events = input.toDS()
      .withColumn("ts", timestamp_micros(col("tsMicros")))
      .withWatermark("ts", "10 seconds")
      .as[TraceAssembly.InEvent]
    val query = StreamingDfg.edges(spark, events, gapSeconds = 30)
      .writeStream.format("memory").queryName("stream_dfg_sep")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        TraceAssembly.InEvent("A", evil, sec(10)),
        TraceAssembly.InEvent("A", "r", sec(20)))
      query.processAllAvailable()
      // watermark advance folds the prefix INTO the structured map,
      // then a later event extends it before the close
      input.addData(TraceAssembly.InEvent("A", evil, sec(30)))
      query.processAllAvailable()
      input.addData(TraceAssembly.InEvent("F", "_s", sec(500)))
      query.processAllAvailable()
      input.addData(TraceAssembly.InEvent("F2", "_s", sec(600)))
      query.processAllAvailable()
      val streamed = spark.table("stream_dfg_sep")
        .as[(String, String)].collect().toSeq
        .filter(e => e._1 != "_s" && e._2 != "_s")
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(streamed == Map((evil, "r") -> 1, ("r", evil) -> 1),
        s"streamed=$streamed")
    } finally query.stop()
    spark.catalog.dropTempView("stream_dfg_sep")
  }

  test("running stats update incrementally (stats.rs as stateful agg)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val df = input.toDS().toDF("case_id", "v")
    val query = StreamingStats.running(df, "case_id").writeStream
      .format("memory").queryName("running_stats")
      .outputMode(OutputMode.Complete()).start()
    try {
      input.addData(("x", 1L), ("x", 2L), ("y", 3L))
      query.processAllAvailable()
      val r1 = spark.table("running_stats").collect().head
      assert(r1.getLong(1) == 3L)
      input.addData(("z", 4L))
      query.processAllAvailable()
      val r2 = spark.table("running_stats").collect().head
      assert(r2.getLong(1) == 4L && r2.getLong(0) == 3L)
    } finally query.stop()
  }

  test("streaming XES source picks up files as they arrive") {
    val dir = java.nio.file.Files.createTempDirectory("xes_stream")
    val book = java.nio.file.Paths.get(graft.xes.XesCorpus.book)
    java.nio.file.Files.copy(book.resolve("L1.xes"), dir.resolve("L1.xes"))

    val events = graft.xes.XesReader.readEventsStream(spark, dir.toString)
    val query = events.writeStream.format("memory").queryName("xes_stream")
      .outputMode(OutputMode.Append()).start()
    try {
      query.processAllAvailable()
      assert(spark.table("xes_stream").count() == 23L) // L1
      java.nio.file.Files.copy(book.resolve("L3.xes"), dir.resolve("L3.xes"))
      query.processAllAvailable()
      assert(spark.table("xes_stream").count() == 23L + 39L) // + L3
      // events carry the REAL file name (batch-reader contract), not a
      // content-hash tag that would conflate identical files
      val files = spark.table("xes_stream").select("file")
        .distinct().as[String].collect().toSet
      assert(files == Set("L1.xes", "L3.xes"))
    } finally query.stop()
  }

  test("streaming per-case stats converge to the batch answer on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val rows = (1L to 40L).flatMap(c => (0 until 3).map(i => (c, c * 100 + i)))
    val input = MemoryStream[(Long, Long)]
    val df = input.toDS().toDF("case_id", "t")
      .withColumn("ts", timestamp_micros(col("t")))
    val query = StreamingStats.perCase(df, "case_id", "ts").writeStream
      .format("memory").queryName("percase_eq")
      .outputMode(OutputMode.Complete()).start()
    try {
      // feed in two arbitrary chunks — incremental state must not care
      input.addData(rows.take(70): _*)
      query.processAllAvailable()
      input.addData(rows.drop(70): _*)
      query.processAllAvailable()
      val streaming = spark.table("percase_eq")
        .select("case_id", "n_events").as[(Long, Long)].collect().toMap
      val batch = rows.toDF("case_id", "t")
        .groupBy("case_id").agg(count(lit(1)).as("n"))
        .as[(Long, Long)].collect().toMap
      assert(streaming == batch) // incremental == one-shot
    } finally query.stop()
  }

  test("streaming dedup drops duplicates within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val df = input.toDS().toDF("id", "t")
      .withColumn("ts", timestamp_micros(col("t")))
      .withWatermark("ts", "10 seconds")
    val query = StreamingStats.dedup(df, Seq("id")).writeStream
      .format("memory").queryName("deduped")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData((1L, sec(10)), (2L, sec(11)), (1L, sec(12)), (1L, sec(13)))
      query.processAllAvailable()
      input.addData((2L, sec(14)), (3L, sec(15)))
      query.processAllAvailable()
      val ids = spark.table("deduped").select("id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally query.stop()
  }

  test("streaming near-dup: planted near-duplicates collide, unique docs do not") {
    implicit val sqlCtx = spark.sqlContext
    // long doc: one changed word leaves nearly all shingles intact, so
    // at least one of the 8 LSH bands provably stays identical
    val near = ("alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra " +
      "tango uniform victor whiskey xray yankee zulu one two three four " +
      "five six seven eight nine ten lazy eleven twelve thirteen")
    val input = MemoryStream[StreamingNearDup.Doc]
    val hits = StreamingNearDup.bucketHits(spark, input.toDS(),
        k = 3, numHashes = 32, bands = 8, seed = 42L)
      .withColumn("ts", timestamp_micros(col("tsMicros")))
      .withWatermark("ts", "10 seconds")
      .as[StreamingNearDup.BucketHit]
    val query = StreamingNearDup.collisions(spark, hits, ttlSeconds = 600L)
      .writeStream.format("memory").queryName("near_dup")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        StreamingNearDup.Doc(1L, near, sec(10)),
        StreamingNearDup.Doc(2L, "completely different content about spark engines", sec(11)))
      query.processAllAvailable()
      // a near-copy of doc 1 arrives later (one word changed)
      input.addData(
        StreamingNearDup.Doc(3L, near.replace("lazy", "sleepy"), sec(20)),
        StreamingNearDup.Doc(4L, "yet another unrelated piece of text entirely", sec(21)))
      query.processAllAvailable()
      val coll = spark.table("near_dup")
        .as[StreamingNearDup.Collision].collect()
      assert(coll.nonEmpty)
      assert(coll.forall(c => c.docId == 3L && c.firstDocId == 1L),
        coll.mkString(", "))      // only the planted near-dup collides
      assert(coll.map(_.band).distinct.length >= 1)
    } finally query.stop()
  }

  test("builtin session_window stats agree with TraceAssembly's session closes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long)]
    val df = input.toDS().toDF("case_id", "t")
      .withColumn("ts", timestamp_micros(col("t")))
      .withWatermark("ts", "5 seconds")
    val query = StreamingStats.sessionStats(df, "case_id", "ts", gapSeconds = 30)
      .writeStream.format("memory").queryName("session_stats")
      .outputMode(OutputMode.Append()).start()
    try {
      // case A: two sessions separated by > gap; case B: one session
      input.addData(("A", sec(10)), ("A", sec(20)), ("B", sec(15)),
        ("A", sec(100)), ("A", sec(110)))
      query.processAllAvailable()
      input.addData(("C", sec(500)))
      query.processAllAvailable()
      input.addData(("C", sec(501)))
      query.processAllAvailable()
      val rows = spark.table("session_stats")
        .select("case_id", "n_events").as[(String, Long)].collect().toSeq
      assert(rows.count(_._1 == "A") == 2)            // two closed A-sessions
      assert(rows.filter(_._1 == "A").map(_._2).sorted == Seq(2L, 2L))
      assert(rows.filter(_._1 == "B").map(_._2) == Seq(1L))
    } finally query.stop()
  }

  test("windowed activity rates with watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[TraceAssembly.InEvent]
    val events = input.toDS()
      .withColumn("ts", timestamp_micros(col("tsMicros")))
      .withWatermark("ts", "5 seconds")
    val query = StreamingStats.windowedRates(events.toDF(), "ts", "activity", 60)
      .writeStream.format("memory").queryName("rates")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        TraceAssembly.InEvent("A", "click", sec(10)),
        TraceAssembly.InEvent("B", "click", sec(20)),
        TraceAssembly.InEvent("A", "buy", sec(30)))
      query.processAllAvailable()
      input.addData(TraceAssembly.InEvent("C", "click", sec(200)))
      query.processAllAvailable()
      input.addData(TraceAssembly.InEvent("C", "click", sec(300)))
      query.processAllAvailable()
      val rows = spark.table("rates")
        .select(unix_timestamp(col("w_start")), col("activity"), col("n"))
        .as[(Long, String, Long)].collect()
        .map { case (w, a, n) => (w, a) -> n }.toMap
      assert(rows((0L, "click")) == 2L && rows((0L, "buy")) == 1L) // first window flushed
    } finally query.stop()
  }
}
