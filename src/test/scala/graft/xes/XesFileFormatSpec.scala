package graft.xes

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

import XesParser.Keep

/** `spark.read.format("xes")`: the registered file source must be
  * value-identical to a full StAX parse, push column pruning into the
  * parser (SURVEY.md §4's attribute-key pushdown), and classify every
  * corpus file exactly like the unpruned parser.
  */
class XesFileFormatSpec extends SparkSpec {

  private val book = XesCorpus.book

  private def listXes(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".xes"))
      .sortBy(_.getName).toSeq

  test("format path equals the direct parse row-for-row (full schema)") {
    import spark.implicits._
    val viaFormat = spark.read.format("xes").load(s"$book/*.xes")
      .as[XesModel.XesEvent].collect()
    val direct = listXes(book).flatMap { f =>
      XesParser.parse(f.getName, Files.readAllBytes(f.toPath)).events
    }
    assert(viaFormat.length === direct.length)
    assert(viaFormat.toSet === direct.toSet)
  }

  test("2-column projection reaches the scan: ReadSchema is pruned") {
    val two = spark.read.format("xes").load(s"$book/*.xes")
      .select("file", "activity")
    val p = two.queryExecution.executedPlan.toString
    assert(p.contains("ReadSchema: struct<file:string,activity:string>"),
      p.take(600))
    // and the pruned values still match the full read's projection
    val full = spark.read.format("xes").load(s"$book/*.xes")
    assert(two.exceptAll(full.select("file", "activity")).count() === 0L)
    assert(full.select("file", "activity").exceptAll(two).count() === 0L)
  }

  test("pruned parse materializes only the projected keys (attrs stay empty)") {
    val f = listXes(book).head
    val bytes = Files.readAllBytes(f.toPath)
    val keep = Keep(Set("concept:name"), all = false)
    val pruned = XesParser.parse(f.getName, bytes, keep).events
    val fullP = XesParser.parse(f.getName, bytes).events
    assert(pruned.size === fullP.size)
    // only the kept key is materialized...
    assert(pruned.forall(_.attrs.forall(_.key == "concept:name")))
    // ...the full parse carries more
    assert(fullP.exists(_.attrs.exists(_.key != "concept:name")))
    // promoted column agrees between modes
    assert(pruned.map(_.activity) === fullP.map(_.activity))
    // unreferenced promoted keys are NOT materialized in pruned mode
    assert(pruned.forall(_.resource.isEmpty) || keep.keys.contains("org:resource"))
  }

  test("pruned and full parse classify every corpus file identically") {
    for (dir <- Seq("correct", "recoverable", "non_parsing");
         f <- listXes(XesCorpus.reference(s"xes/$dir"))) {
      val bytes = Files.readAllBytes(Paths.get(f.getPath))
      val full = try { XesParser.parse(f.getName, bytes); None }
        catch { case e: XesModel.XesParseException => Some(e.message) }
      val pruned = try {
        XesParser.parse(f.getName, bytes, Keep(Set("concept:name"), all = false)); None
      } catch { case e: XesModel.XesParseException => Some(e.message) }
      assert(full === pruned, s"${f.getName}: full=$full pruned=$pruned")
    }
  }

  test("tolerant option: non-parsing corpus yields zero rows, no failure") {
    val df = spark.read.format("xes").option("tolerant", "true")
      .load(s"${XesCorpus.reference("xes/non_parsing")}/*.xes")
    assert(df.count() === 0L)
  }

  test("oversized-file guard: loud named contract, exact boundary") {
    // the source reads a whole XML file per task — an oversized log
    // must fail with a named exception carrying file + limit, not die
    // opaquely in array allocation (or silently WRAP pf.length.toInt
    // past 2 GiB and parse a truncated prefix). Limit-parameterized:
    // a real 2 GiB fixture is not testable.
    val e = intercept[XesModel.XesParseException] {
      XesFileFormat.checkSize("big.xes", 1001L, limit = 1000L)
    }
    assert(e.file === "big.xes")
    assert(e.message.contains("1001 bytes") && e.message.contains("1000 bytes"))
    // at-limit and under-limit pass
    XesFileFormat.checkSize("ok.xes", 1000L, limit = 1000L)
    XesFileFormat.checkSize("ok.xes", 1L, limit = 1000L)
    // the production bound rejects what the JVM array cannot hold
    val big = intercept[XesModel.XesParseException] {
      XesFileFormat.checkSize("huge.xes", Int.MaxValue.toLong + 1L)
    }
    assert(big.message.contains(XesFileFormat.MaxXmlBytes.toString))
  }

  test("keepFor maps required columns to extension keys; attrs disables pruning") {
    import org.apache.spark.sql.types._
    val two = StructType(Seq(StructField("file", StringType),
      StructField("tsMicros", LongType), StructField("resource", StringType)))
    assert(XesFileFormat.keepFor(two) ===
      Keep(Set("time:timestamp", "org:resource"), all = false))
    val withAttrs = StructType(two.fields :+ StructField("attrs", StringType))
    assert(XesFileFormat.keepFor(withAttrs) === Keep.All)
  }
}
