package graft.xes

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.flow.FlowRunner

/** A log handle ([[XesReader.read]]) parses each file once: its metas,
  * traces and events are projections of one cached component scan
  * that `CacheManager` tracks, so the usual cache-release calls free
  * it, and a new handle over a rewritten file parses the new bytes.
  */
class XesReadOnceSpec extends SparkSpec {

  private val fixture = Paths.get("fixtures/lifecycle.xes").toAbsolutePath

  /** Runs `body`, returning XesParser.parse calls per file name. */
  private def parses(body: => Unit): Map[String, Int] = {
    val seen = new ConcurrentHashMap[String, AtomicInteger]()
    XesParser.parseHook = f => seen.computeIfAbsent(f, _ => new AtomicInteger).incrementAndGet()
    try body finally XesParser.parseHook = _ => ()
    seen.asScala.map { case (f, n) => f -> n.get }.toMap
  }

  private def copies(names: String*): Path = {
    val dir = Files.createTempDirectory("xes-read-once")
    names.foreach(n => Files.copy(fixture, dir.resolve(n)))
    dir
  }

  /** Standalone events, log attributes, globals, a classifier and
    * nested / list attributes: the component rows must carry them all.
    * The event without `concept:name` violates the event global. */
  private val rich =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<log xes.version="1.0" xes.features="nested-attributes">
      |  <extension name="Concept" prefix="concept" uri="http://www.xes-standard.org/concept.xesext"/>
      |  <global scope="event"><string key="concept:name" value="?"/></global>
      |  <classifier name="Activity" keys="concept:name"/>
      |  <string key="source" value="spec"/>
      |  <trace>
      |    <string key="concept:name" value="c1"/>
      |    <event>
      |      <string key="concept:name" value="a"/>
      |      <date key="time:timestamp" value="2024-01-01T00:00:00.000+01:00"/>
      |      <list key="tags"><values><string key="t" value="x"/><int key="n" value="2"/></values></list>
      |      <string key="org:resource" value="r1"><int key="level" value="3"/></string>
      |    </event>
      |    <event><int key="n" value="1"/></event>
      |  </trace>
      |  <event><string key="concept:name" value="loose"/></event>
      |</log>
      |""".stripMargin

  test("handle projections equal the direct full parse") {
    import spark.implicits._
    val dir = copies("lifecycle.xes")
    Files.writeString(dir.resolve("rich.xes"), rich)
    val direct = Seq("lifecycle.xes", "rich.xes")
      .map(f => XesParser.parse(f, Files.readAllBytes(dir.resolve(f))))
    val log = XesReader.read(spark, s"$dir/*.xes")
    try {
      assert(log.metas.sortBy(_.file) === direct.map(_.meta))
      assert(log.metaFor("rich.xes") === Some(direct(1).meta))
      assert(log.traces.collect().toSet === direct.flatMap(_.traces).toSet)
      assert(log.events.collect().toSet === direct.flatMap(_.events).toSet)
      assert(log.events.count() === direct.map(_.events.size).sum.toLong)
      assert(log.eventsDf.filter($"ts".isNotNull).count() === 16L)
      assert(XesReader.readTraces(spark, s"$dir/*.xes").collect().toSet ===
        direct.flatMap(_.traces).toSet)
      // a data-plane consumer sees the same log through either form
      val local = XesReader.XLog(direct.map(_.meta).toDS(),
        direct.flatMap(_.traces).toDS(), direct.flatMap(_.events).toDS())
      val found = XesSparkValidator.violations(spark, log).collect().toSet
      assert(found.nonEmpty)
      assert(found === XesSparkValidator.violations(spark, local).collect().toSet)
    } finally log.unpersist()
  }

  test("metas, a trace count, an events agg and the writer parse each file once") {
    val dir = copies("a.xes", "b.xes")
    var xml = Array.empty[(String, String)]
    val counts = parses {
      val log = XesReader.read(spark, s"$dir/*.xes")
      try {
        assert(log.metas.map(_.file).sorted === Seq("a.xes", "b.xes"))
        assert(log.traces.count() === 6L)
        val row = log.events.toDF()
          .agg(count(lit(1)), count(col("traceIdx"))).head()
        assert((row.getLong(0), row.getLong(1)) === ((30L, 30L)))
        xml = XesWriter.toXmlStrings(spark, log).collect()
      } finally log.unpersist()
    }
    assert(counts === Map("a.xes" -> 1, "b.xes" -> 1))
    assert(xml.map(_._1).sorted.toSeq === Seq("a.xes", "b.xes"))
    xml.foreach { case (f, x) =>
      assert(XesParser.parseString(f, x).counts === Seq(3L, 15L, 15L)) }
  }

  test("a new read handle sees a rewritten file's new content") {
    val dir = copies("log.xes")
    val file = dir.resolve("log.xes")
    val old = XesReader.read(spark, file.toString)
    assert(old.traces.count() === 3L)
    val p = XesParser.parse("log.xes", Files.readAllBytes(file))
    val fewer = p.copy(traces = p.traces.filter(_.traceIdx < 2),
      events = p.events.filter(_.traceIdx.exists(_ < 2)))
    val tmp = dir.resolve("log.tmp")
    Files.writeString(tmp, XesWriter.render(fewer))
    Files.move(tmp, file, StandardCopyOption.REPLACE_EXISTING)
    val fresh = XesReader.read(spark, file.toString)
    try {
      assert(fresh.traces.count() === 2L)
      assert(fresh.events.count() === fewer.events.size.toLong)
    } finally {
      old.unpersist()
      fresh.unpersist()
    }
  }

  test("FlowResult.unpersist then XLog.unpersist leave the CacheManager empty") {
    spark.catalog.clearCache()
    val out = Files.createTempDirectory("xes-read-once-flow")
    val flow = FlowRunner.runJson(spark,
      s"""{"pipes": [{"name": "P",
         |  "source": {"name": "XesReader", "attributes": {"path": {"String": "$fixture"}}},
         |  "streams": [{"name": "Repair"}, {"name": "Validator"},
         |    {"name": "Statistics", "artifact_sender": ["s"]}],
         |  "sink": {"name": "XesWriter", "attributes": {"path": {"String": "$out/o.xes"}}}}]}"""
        .stripMargin)
    assert(flow.artifacts("s").asInstanceOf[FlowRunner.Statistics].counts ===
      Seq(3L, 15L, 15L))
    val log = XesReader.read(spark, fixture.toString)
    assert(log.events.count() === 15L)
    val cm = spark.sharedState.cacheManager
    assert(!cm.isEmpty)
    flow.unpersist()
    log.unpersist()
    assert(cm.isEmpty)
  }
}
