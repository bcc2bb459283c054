package graft.flow

import java.nio.file.Files

import graft.SparkSpec
import graft.xes.{XesCorpus, XesParser}

/** End-to-end flow execution mirroring the reference's doc-test
  * pipeline (`/root/reference/src/stream/flow/mod.rs:3-64`):
  * read bigger-example → repair → validate → stats → sample(0.1) →
  * stats → split(0.8, test branch to second pipe) → stats; second pipe
  * receives the test stream, takes stats, writes XES.
  *
  * Exact sampled memberships are engine-specific (SURVEY.md §7.4.5);
  * the portable contracts are the raw counts, ratio convergence,
  * train+test=sample, and the written files re-parsing.
  */
class FlowRunnerSpec extends SparkSpec {

  private val book = XesCorpus.book

  def spec(tmp: String): String =
    s"""{
       |  "pipes": [
       |    {
       |      "name": "Train",
       |      "source": {"name": "XesReader", "attributes":
       |        {"path": {"String": "$book/bigger-example.xes"}}},
       |      "streams": [
       |        {"name": "Repair"},
       |        {"name": "Validator"},
       |        {"name": "Statistics", "artifact_sender": ["raw_stats"]},
       |        {"name": "Sample", "attributes": {"ratio": {"Float": 0.1}, "seed": {"Int": 0}}},
       |        {"name": "Statistics", "artifact_sender": ["sample_stats"]},
       |        {"name": "Split", "attributes": {"ratio": {"Float": 0.8}, "seed": {"Int": 0}},
       |         "stream_sender": ["test"]},
       |        {"name": "Statistics", "artifact_sender": ["train_stats"]}
       |      ],
       |      "sink": {"name": "XesWriter", "attributes": {"path": {"String": "$tmp/train.xes"}}}
       |    },
       |    {
       |      "name": "Test",
       |      "source": {"name": "Receiver", "stream_receiver": ["test"]},
       |      "streams": [{"name": "Statistics", "artifact_sender": ["test_stats"]}],
       |      "sink": {"name": "XesWriter", "attributes": {"path": {"String": "$tmp/test.xes"}}}
       |    }
       |  ]
       |}""".stripMargin

  // Repair → Validator act only on the reference's bigger-example. The
  // in-repo copy (XesCorpus.book) declares no classifiers or globals, so
  // on it both stages pass the log through unchanged and this test
  // checks the counts, ratios and re-parses alone.
  test("reference flow.json pipeline runs end-to-end with consistent stats") {
    val tmp = Files.createTempDirectory("flow").toString
    val result = FlowRunner.runJson(spark, spec(tmp))

    val raw = result.artifacts("raw_stats").asInstanceOf[FlowRunner.Statistics]
    assert(raw.counts == Seq(1391L, 7539L, 7539L)) // flow/mod.rs:51-55

    val sample = result.artifacts("sample_stats").asInstanceOf[FlowRunner.Statistics]
    val train = result.artifacts("train_stats").asInstanceOf[FlowRunner.Statistics]
    val test = result.artifacts("test_stats").asInstanceOf[FlowRunner.Statistics]

    // ratio convergence, not exact membership (split.rs:161-224)
    assert(math.abs(sample.nTraces / 1391.0 - 0.1) < 0.03, s"sample=${sample.counts}")
    assert(train.nTraces + test.nTraces == sample.nTraces)
    assert(train.nEventsTotal + test.nEventsTotal == sample.nEventsTotal)
    assert(math.abs(train.nTraces.toDouble / sample.nTraces - 0.8) < 0.05,
      s"train=${train.counts} sample=${sample.counts}")

    // written logs re-parse with the split counts
    val trainLog = XesParser.parse("train.xes",
      Files.readAllBytes(java.nio.file.Paths.get(s"$tmp/train.xes")))
    assert(trainLog.counts == train.counts)
    val testLog = XesParser.parse("test.xes",
      Files.readAllBytes(java.nio.file.Paths.get(s"$tmp/test.xes")))
    assert(testLog.counts == test.counts)
  }

  test("flow deadlock is detected (graph.rs:149-152)") {
    val bad =
      """{"pipes": [{"name": "P", "source": {"name": "Receiver",
        |  "stream_receiver": ["never"]}, "streams": []}]}""".stripMargin
    assertThrows[IllegalStateException](FlowRunner.runJson(spark, bad))
  }

  test("the reference's flow.yml executes verbatim (YAML spec surface)") {
    val tmp = Files.createTempDirectory("flowyml").toString
    // the reference spec verbatim, with its relative corpus path and
    // /tmp sinks anchored for the test environment — structure,
    // segments, channels, and the indent attribute untouched
    val yml = new String(Files.readAllBytes(
        java.nio.file.Paths.get(XesCorpus.reference("flow/flow.yml"))))
      .replace("static/xes/book/bigger-example.xes",
        s"$book/bigger-example.xes")
      .replace("/tmp/train.xes", s"$tmp/train.xes")
      .replace("/tmp/test.xes", s"$tmp/test.xes")
    val result = FlowRunner.runYaml(spark, yml)
    val raw = result.artifacts("raw_stats").asInstanceOf[FlowRunner.Statistics]
    assert(raw.counts == Seq(1391L, 7539L, 7539L))
    val train = result.artifacts("train_stats").asInstanceOf[FlowRunner.Statistics]
    val test = result.artifacts("test_stats").asInstanceOf[FlowRunner.Statistics]
    val trainLog = XesParser.parse("train.xes",
      Files.readAllBytes(java.nio.file.Paths.get(s"$tmp/train.xes")))
    assert(trainLog.counts == train.counts)
    val testLog = XesParser.parse("test.xes",
      Files.readAllBytes(java.nio.file.Paths.get(s"$tmp/test.xes")))
    assert(testLog.counts == test.counts)
  }

  test("independent pipes in one generation run CONCURRENTLY (executor.rs:53-68)") {
    // Two pipes with no channel between them — the reference's
    // ThreadExecutor runs such pipes on separate threads. The start
    // hook parks EACH pipe until BOTH have begun: under the old
    // sequential runner pipe A would wait out the full timeout with
    // pipe B never started; under the threaded runner both arrive at
    // the latch immediately and the flow completes.
    val l1 = s"$book/L1.xes"
    val two =
      s"""{
         |  "pipes": [
         |    {"name": "A",
         |     "source": {"name": "XesReader", "attributes":
         |       {"path": {"String": "$l1"}}},
         |     "streams": [{"name": "Statistics", "artifact_sender": ["a_stats"]}]},
         |    {"name": "B",
         |     "source": {"name": "XesReader", "attributes":
         |       {"path": {"String": "$l1"}}},
         |     "streams": [{"name": "Statistics", "artifact_sender": ["b_stats"]}]}
         |  ]
         |}""".stripMargin
    val latch = new java.util.concurrent.CountDownLatch(2)
    FlowRunner.pipeStartHook = { _ =>
      latch.countDown()
      if (!latch.await(60, java.util.concurrent.TimeUnit.SECONDS))
        throw new IllegalStateException(
          "independent pipes did not overlap: the second pipe never started " +
            "while the first was running")
    }
    try {
      val result = FlowRunner.runJson(spark, two)
      val a = result.artifacts("a_stats").asInstanceOf[FlowRunner.Statistics]
      val b = result.artifacts("b_stats").asInstanceOf[FlowRunner.Statistics]
      assert(a == b && a.nTraces == 6L, s"a=${a.counts} b=${b.counts}")
    } finally FlowRunner.pipeStartHook = _ => ()
  }

  test("a failing concurrent pipe surfaces its own exception, not a wrapper") {
    val two =
      s"""{
         |  "pipes": [
         |    {"name": "OK",
         |     "source": {"name": "XesReader", "attributes":
         |       {"path": {"String": "$book/L1.xes"}}},
         |     "streams": [{"name": "Statistics", "artifact_sender": ["ok_stats"]}]},
         |    {"name": "BAD",
         |     "source": {"name": "XesReader", "attributes":
         |       {"path": {"String": "$book/L1.xes"}}},
         |     "streams": [{"name": "NoSuchSegment"}]}
         |  ]
         |}""".stripMargin
    val e = intercept[IllegalArgumentException](FlowRunner.runJson(spark, two))
    assert(e.getMessage.contains("NoSuchSegment"))
  }

  test("Duplicator fan-out: copy channel sees the identical stream (duplicator.rs:12-92)") {
    val flow =
      s"""pipes:
        |  - name: Main
        |    source:
        |      name: XesReader
        |      attributes:
        |        path:
        |          String: $book/L1.xes
        |    streams:
        |      - name: Duplicator
        |        stream_sender:
        |          - copy
        |      - name: Statistics
        |        artifact_sender:
        |          - orig_stats
        |  - name: Copy
        |    source:
        |      name: Receiver
        |      stream_receiver:
        |        - copy
        |    streams:
        |      - name: Statistics
        |        artifact_sender:
        |          - copy_stats
        |""".stripMargin
    val result = FlowRunner.runYaml(spark, flow)
    val orig = result.artifacts("orig_stats").asInstanceOf[FlowRunner.Statistics]
    val copy = result.artifacts("copy_stats").asInstanceOf[FlowRunner.Statistics]
    assert(orig.counts == Seq(6L, 23L, 23L))
    assert(copy.counts == orig.counts)

    // the fan-out cache is tracked and releasable: long-lived sessions
    // running many flows must not accumulate executor storage
    assert(result.cached.nonEmpty)
    assert(result.cached.forall(_.storageLevel.useMemory))
    result.unpersist()
    assert(result.cached.forall(ds =>
      ds.storageLevel == org.apache.spark.storage.StorageLevel.NONE))
  }

  test("artifact receivers gate pipe scheduling (segment.rs:35-102, pipe.rs:119-131)") {
    // consumer pipe listed FIRST: it must wait for the producer pipe's
    // raw_stats artifact, not deadlock or run early
    val flow =
      s"""{"pipes": [
        |  {"name": "Consumer",
        |   "source": {"name": "XesReader", "attributes":
        |     {"path": {"String": "$book/L2.xes"}}},
        |   "streams": [{"name": "Void", "artifact_receiver": ["stats_a"]},
        |               {"name": "Statistics", "artifact_sender": ["stats_b"]}]},
        |  {"name": "Producer",
        |   "source": {"name": "XesReader", "attributes":
        |     {"path": {"String": "$book/L1.xes"}}},
        |   "streams": [{"name": "Statistics", "artifact_sender": ["stats_a"]}]}
        |]}""".stripMargin
    val result = FlowRunner.runJson(spark, flow)
    assert(result.artifacts("stats_a").asInstanceOf[FlowRunner.Statistics]
      .counts == Seq(6L, 23L, 23L))
    assert(result.artifacts("stats_b").asInstanceOf[FlowRunner.Statistics]
      .counts == Seq(13L, 80L, 80L))

    // a received artifact is actually DELIVERED and usable: AssertStats
    // passes on a satisfied bound and fails the flow on a violated one
    def assertFlow(minTraces: Int): String =
      s"""{"pipes": [
         |  {"name": "P",
         |   "source": {"name": "XesReader", "attributes":
         |     {"path": {"String": "$book/L1.xes"}}},
         |   "streams": [{"name": "Statistics", "artifact_sender": ["s1"]}]},
         |  {"name": "C",
         |   "source": {"name": "XesReader", "attributes":
         |     {"path": {"String": "$book/L2.xes"}}},
         |   "streams": [{"name": "AssertStats", "artifact_receiver": ["s1"],
         |     "attributes": {"min_traces": {"Int": $minTraces}}}]}
         |]}""".stripMargin
    FlowRunner.runJson(spark, assertFlow(6))  // L1 has exactly 6 traces
    val violated = intercept[IllegalStateException](
      FlowRunner.runJson(spark, assertFlow(7)))
    assert(violated.getMessage.contains("6 traces < 7"))

    // a receiver on a channel nobody produces is a detected deadlock
    val bad =
      s"""{"pipes": [{"name": "P",
        |  "source": {"name": "XesReader", "attributes":
        |    {"path": {"String": "$book/L1.xes"}}},
        |  "streams": [{"name": "Void", "artifact_receiver": ["ghost"]}]}]}""".stripMargin
    val e = intercept[IllegalStateException](FlowRunner.runJson(spark, bad))
    assert(e.getMessage.contains("ghost"))
  }

  test("XesWriter sink: multi-log directory layout + executor-side write") {
    val tmp = Files.createTempDirectory("floww").toString
    val flow =
      s"""{"pipes": [{"name": "W",
         |  "source": {"name": "XesReader", "attributes":
         |    {"path": {"String": "$book/*.xes"}}},
         |  "sink": {"name": "XesWriter", "attributes":
         |    {"path": {"String": "$tmp/out"}}}}]}""".stripMargin
    FlowRunner.runJson(spark, flow)
    val written = new java.io.File(s"$tmp/out").listFiles()
      .filter(_.getName.endsWith(".xes")).sortBy(_.getName)
    assert(written.length == 13) // regression: out dir was never mkdirs()'d
    val l1 = XesParser.parse("L1.xes",
      Files.readAllBytes(written.find(_.getName == "L1.xes").get.toPath))
    assert(l1.counts == Seq(6L, 23L, 23L))
  }

  test("XesWriter indent attribute: flush-left output still re-parses identically") {
    val tmp = Files.createTempDirectory("flowi").toString
    val flow =
      s"""{"pipes": [{"name": "I",
         |  "source": {"name": "XesReader", "attributes":
         |    {"path": {"String": "$book/L1.xes"}}},
         |  "sink": {"name": "XesWriter", "attributes":
         |    {"path": {"String": "$tmp/flat.xes"}, "indent": {"Int": 0}}}}]}""".stripMargin
    FlowRunner.runJson(spark, flow)
    val text = new String(Files.readAllBytes(java.nio.file.Paths.get(s"$tmp/flat.xes")))
    assert(!text.contains("\t<event>")) // flush-left, no indentation
    val log = XesParser.parse("flat.xes", text.getBytes)
    assert(log.counts == Seq(6L, 23L, 23L))
  }

  test("Statistics segment runs one aggregation job over events, not three scans") {
    def flow(streams: String) =
      s"""{"pipes": [{"name": "S",
        |  "source": {"name": "XesReader", "attributes":
        |    {"path": {"String": "$book/L1.xes"}}},
        |  "streams": [$streams]}]}""".stripMargin
    val stats = """{"name": "Statistics", "artifact_sender": ["s"]}"""
    // ONE action: an aggregation over the union of traces and events.
    // On a fresh parse cache each union branch's cache scan submits
    // its own materialization job under AQE, then the count exchange
    // and the result stage ⇒ ≤4 jobs; an events agg plus a separate
    // traces count made 2 actions and ≤5 jobs, and separate
    // events.count + filtered count + traces.count actions ≥7
    var result: FlowRunner.FlowResult = null
    val fresh = graft.JobProbe(spark) { result = FlowRunner.runJson(spark, flow(stats)) }
    result.unpersist()
    assert(fresh.actions == 1 && fresh.jobs <= 4, fresh)
    // after a metas read (Validator) has materialized the cache: the
    // metas collect (1 job) + the aggregation (≤2 jobs) ⇒ ≤3
    val warm = graft.JobProbe(spark) {
      result = FlowRunner.runJson(spark, flow(s"""{"name": "Validator"}, $stats"""))
    }
    result.unpersist()
    assert(warm.actions == 2 && warm.jobs <= 3, warm)
    assert(result.artifacts("s") == FlowRunner.Statistics(6L, 23L, 23L))
  }

  test("Sample/Split buckets: the compiled hash equals the portable one on ASCII, accented, CJK and supplementary-plane file names") {
    import spark.implicits._
    import graft.functions.{NativeExpressions, Portable}
    val files = Seq("L1.xes", "café-Ñandú.xes", "日志文件.xes", "𝔘𝔫𝔦𝔠𝔬𝔡𝔢-😀.xes")
    val df = (for (f <- files; t <- Seq(Some(0L), Some(17L), None); s <- Seq(0L, 3L))
      yield (f, t, s)).toDF("file", "traceIdx", "seq")
    val keys = Seq(FlowRunner.traceKey, FlowRunner.eventKey)
    val hashes = df.select(keys.flatMap(k =>
      Seq(NativeExpressions.charHash(k, 7L), Portable.charHash(k))): _*).collect()
    assert(hashes.forall(r => r.getLong(0) == r.getLong(1) && r.getLong(2) == r.getLong(3)))
    assert(hashes.map(_.getLong(2)).distinct.length ==
      df.select(FlowRunner.eventKey).distinct().count())
    Seq(7919L, 15838L).foreach { seed =>
      val buckets = df.select(FlowRunner.traceBucket(seed), FlowRunner.eventBucket(seed),
        graft.ops.Split.bucket(Portable.charHash(FlowRunner.traceKey), seed),
        graft.ops.Split.bucket(Portable.charHash(FlowRunner.eventKey), seed)).collect()
      assert(buckets.forall(r => r.get(0) == r.get(2) && r.get(1) == r.get(3)), seed)
    }
  }

  test("describeSegments: complete registry table, reference declarations match") {
    val infos = FlowRunner.describeSegments
    val byName = infos.map(i => i.name -> i).toMap
    // exactly the dispatcher's handled set — a new `case` in
    // applySegment/runPipe without a registry row (or vice versa)
    // fails here
    assert(infos.map(_.name).sorted == Seq("AlphaMiner", "AssertStats",
      "DFGGenerator", "Duplicator", "FootprintGenerator", "HeuristicMiner",
      "InductiveMiner", "Receiver", "Repair", "Sample", "Sender", "Split",
      "Statistics", "TokenReplay", "Validator", "Void", "XesReader",
      "XesWriter"))
    // reference registry parity (plugin.rs:354-371 + each Declaration):
    // attribute/stream/sink names and descriptions as log_plugins prints
    assert(byName("XesReader").attributes ==
      Seq(FlowRunner.AttrDecl("path", "Location of the XES file")))
    assert(byName("Receiver").streams ==
      Seq("acquire" -> "The stream to be received"))
    assert(byName("Sender").sinks == Seq("emit" -> "The sending sink"))
    assert(byName("Duplicator").streams ==
      Seq("inner" -> "The stream to be copied"))
    assert(byName("Duplicator").sinks ==
      Seq("copy" -> "The sink that consumes the copy"))
    assert(byName("Repair").streams ==
      Seq("inner" -> "The stream to be repaired"))
    assert(byName("Validator").streams ==
      Seq("inner" -> "The stream to be validated"))
    assert(byName("Statistics").streams ==
      Seq("inner" -> "The stream to be analyzed"))
    assert(byName("Split").attributes.map(_.name) == Seq("ratio", "seed"))
    assert(byName("Split").attributes.head.description ==
      "Share of events/traces that are kept")
    assert(byName("Sample").attributes.map(_.name) == Seq("ratio", "seed"))
    assert(byName("Sample").attributes.head.description ==
      "Share of events/traces that are sampled")
    assert(byName("XesWriter").attributes.map(_.name) == Seq("path", "indent"))
    // every optional attribute declares its default, as log_plugins does
    assert(byName("Split").attributes.find(_.name == "seed")
      .flatMap(_.default).contains("0"))
    assert(byName("XesWriter").attributes.find(_.name == "indent")
      .flatMap(_.default).contains("1"))
    // the miner segments produce artifacts (lib.rs:11-22 made real)
    Seq("DFGGenerator", "FootprintGenerator", "AlphaMiner",
      "HeuristicMiner", "InductiveMiner", "TokenReplay").foreach { m =>
      assert(byName(m).artifacts.exists(_._1 == "out"), m)
    }
  }
}
