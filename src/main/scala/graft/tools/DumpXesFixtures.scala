package graft.tools

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.{Instant, OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.time.temporal.ChronoUnit

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession
import graft.queries.XesQueries
import graft.xes.XesModel._
import graft.xes.XesWriter

/** Regenerates the committed XES oracle fixtures (dev tool).
  *
  * The driver's DuckDB oracle cannot parse XES, so the XES queries'
  * expected results are materialized as single-file parquet under
  * `fixtures/` and the oracles scan them by absolute path. The fixture
  * content is NOT self-certifying — its row/event counts are pinned
  * independently by XesCorpusSpec against the reference's published
  * corpus statistics (`/root/reference/src/stream/stats.rs:178-186`),
  * and XesFixtureSpec asserts fixture ↔ spec-count agreement.
  *
  * The parquet oracles are parsed from the reference checkout and are
  * left as they are where it is absent. The last step always rewrites
  * `xes/book/`, the in-repo copy of the book logs, from the event
  * fixture alone ([[bookLogs]]).
  *
  * Run after any intentional parser behavior change:
  * `sbt "runMain graft.tools.DumpXesFixtures [outDir]"`
  * (`outDir` defaults to `fixtures/` under the working directory).
  */
object DumpXesFixtures {

  /** The reference checkout the XES queries parse. */
  private val referenceStatic = Paths.get("/root/reference/static")

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse(graft.Fixtures.dir)
    val spark = GraftSession.get("8")
    new File(out).mkdirs()
    if (Files.isDirectory(referenceStatic)) writeOracles(spark, out)
    else println(s"$referenceStatic is absent: parquet oracles left as they are")
    val bookDir = Paths.get(out, "xes", "book")
    Files.createDirectories(bookDir)
    bookLogs(spark.read.parquet(s"$out/xes_book_events.parquet")).foreach {
      case (file, xml) => Files.writeString(bookDir.resolve(file), xml)
    }
    spark.stop()
  }

  private def writeOracles(spark: SparkSession, out: String): Unit = {
    writeSingle(XesQueries.queries("q_xes_read_events")(spark, ""),
      s"$out/xes_book_events.parquet")
    writeSingle(XesQueries.queries("q_xes_log_stats")(spark, ""),
      s"$out/xes_book_log_stats.parquet")
    writeSingle(XesQueries.queries("q_xes_quarantine")(spark, ""),
      s"$out/xes_quarantine.parquet")
    writeSingle(XesQueries.queries("q_xes_validate")(spark, ""),
      s"$out/xes_validate.parquet")
    // events-level dump of the committed synthetic lifecycle log — the
    // oracle recomputes service times from these rows in SQL
    writeSingle(
      graft.xes.XesReader.readEvents(spark, s"$out/lifecycle.xes").toDF()
        .select("file", "traceIdx", "seq", "activity", "lifecycle", "tsMicros"),
      s"$out/xes_lifecycle_events.parquet")
  }

  /** Header of every rebuilt book log: the four extensions whose keys
    * the event fixture carries. The fixture pins no trace names,
    * globals, classifiers or log attributes, so none are written. */
  private val bookExtensions = Seq(
    ExtensionDecl("Concept", "concept", "http://www.xes-standard.org/concept.xesext"),
    ExtensionDecl("Lifecycle", "lifecycle", "http://www.xes-standard.org/lifecycle.xesext"),
    ExtensionDecl("Organizational", "org", "http://www.xes-standard.org/org.xesext"),
    ExtensionDecl("Time", "time", "http://www.xes-standard.org/time.xesext"))

  /** The book corpus's lexical timestamp form: milliseconds and an
    * explicit `±hh:mm` offset. */
  private val tsFormat = DateTimeFormatter.ofPattern("uuuu-MM-dd'T'HH:mm:ss.SSSxxx")

  private def timestamp(tsMicros: Long, tzOffsetMin: Int): String = {
    require(tsMicros % 1000L == 0L, s"sub-millisecond timestamp $tsMicros")
    OffsetDateTime.ofInstant(Instant.EPOCH.plus(tsMicros, ChronoUnit.MICROS),
      ZoneOffset.ofTotalSeconds(tzOffsetMin * 60)).format(tsFormat)
  }

  /** Renders each log of the book event fixture (`xes_book_events`
    * rows) as XES, one (file name, XML) pair per log in file-name
    * order: one `<trace>` per (file, traceIdx) in traceIdx order,
    * events in `seq` order, each with `concept:name`,
    * `lifecycle:transition`, `org:resource` and `time:timestamp`
    * (written with its source offset). */
  def bookLogs(events: DataFrame): Seq[(String, String)] = {
    import events.sparkSession.implicits._
    val rows = events
      .select("file", "traceIdx", "seq", "activity", "lifecycle", "resource",
        "tsMicros", "tzOffsetMin")
      .as[(String, Long, Long, String, String, String, Long, Int)].collect()
    rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (file, fileRows) =>
      val evs = fileRows.toSeq.map { case (_, t, seq, act, lc, res, ts, tz) =>
        XesEvent(file, Some(t), t, seq, Some(act), None, Some(lc), Some(res),
          None, None, Some(ts), Some(tz), Seq(
            XAttr("concept:name", "string", act),
            XAttr("lifecycle:transition", "string", lc),
            XAttr("org:resource", "string", res),
            XAttr("time:timestamp", "date", timestamp(ts, tz))))
      }
      val traces = evs.groupBy(_.traceIdx.get).toSeq.map { case (t, es) =>
        XesTrace(file, t, t, None, es.size.toLong, Nil)
      }
      val meta = XesMeta(file, Map("xes.version" -> "1.0"), bookExtensions,
        Nil, Nil, Nil)
      file -> XesWriter.render(ParsedLog(meta, traces, evs))
    }
  }

  /** Writes a DataFrame as ONE plain parquet file (not a directory) so
    * DuckDB can scan it by bare path. */
  private def writeSingle(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
    val tmp = path + ".tmpdir"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles()
      .find(f => f.getName.endsWith(".parquet")).get
    Files.move(part.toPath, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
    new File(tmp).listFiles().foreach(_.delete())
    Files.deleteIfExists(Paths.get(tmp))
  }
}
