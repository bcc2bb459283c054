package graft.xes

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.LogStats

/** End-to-end Spark path: binaryFile scan → executor-side parse →
  * typed Datasets → DataFrame ops, against the reference corpus. */
class XesSparkSpec extends SparkSpec {

  val book = XesCorpus.book

  test("Spark read of L1 matches the count oracle [6,23,23]") {
    val xlog = XesReader.read(spark, s"$book/L1.xes")
    assert(xlog.metas.size == 1)
    assert(xlog.traces.count() == 6L)
    assert(xlog.events.count() == 23L)
    assert(xlog.events.filter(_.traceIdx.isEmpty).count() == 0L)
  }

  test("whole book dir reads distributed; stats per file match oracles") {
    val events = XesReader.readEvents(spark, s"$book/*.xes")
    val perFile = events.groupBy("file").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perFile("L1.xes") == 23L)
    assert(perFile("L2.xes") == 80L)
    assert(perFile("bigger-example.xes") == 7539L)
  }

  test("eventsDf exposes a usable ts column + the minimum-slice query (SURVEY §7.2)") {
    val xlog = XesReader.read(spark, s"$book/L1.xes")
    val df = xlog.eventsDf
    // filter concept:name ∈ {b,c,d} then stats — the reference's
    // concept.rs:128-161 test over L1.
    val kept = df.filter(col("activity").isin("b", "c", "d"))
    assert(kept.count() > 0)
    val stats = LogStats.collect(df.withColumn("case",
      concat(col("file"), lit("#"), col("traceIdx"))), "case")
    assert(stats.counts == Seq(6L, 23L, 23L))
  }

  test("tolerant read quarantines bad files instead of failing the job") {
    // a dir mixing parseable and non-parsing files
    val tmp = java.nio.file.Files.createTempDirectory("mix")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$book/L1.xes"), tmp.resolve("L1.xes"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(XesCorpus.reference("xes/non_parsing/broken_xml.xes")),
      tmp.resolve("broken_xml.xes"))
    val (events, quarantine) = XesReader.readEventsTolerant(spark, s"$tmp/*.xes")
    assert(events.count() == 23L) // L1 only
    val q = quarantine.collect()
    assert(q.length == 1 && q.head._1 == "broken_xml.xes")
  }

  test("distributed writer round-trips through Spark") {
    val xlog = XesReader.read(spark, s"$book/L1.xes")
    val rendered = XesWriter.toXmlStrings(spark, xlog).collect().toMap
    val reparsed = XesParser.parseString("L1.xes", rendered("L1.xes"))
    assert(reparsed.counts == Seq(6L, 23L, 23L))
  }

  test("toParquet writes the file-partitioned at-scale layout and reads back whole") {
    val out = java.nio.file.Files.createTempDirectory("xes2pq").toString
    XesReader.toParquet(spark, s"$book/*.xes", out)
    // hive-style partition dirs per source log → per-log pruning
    val dirs = new java.io.File(s"$out/events.parquet").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs.contains("file=L1.xes") && dirs.contains("file=bigger-example.xes"))
    val ev = spark.read.parquet(s"$out/events.parquet")
    assert(ev.count() == 9402L)
    // partition pruning reaches the scan for a per-log query
    val pruned = ev.filter(col("file") === "L1.xes")
    assert(pruned.count() == 23L)
    val tr = spark.read.parquet(s"$out/traces.parquet")
    assert(tr.count() == 1391L + 13L + 4L + 147L + 14L + 6L +
      55L + 50L + 200L + 11L + 8L + 6L + 87L)
  }
}
