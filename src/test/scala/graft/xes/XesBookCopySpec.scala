package graft.xes

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.tools.DumpXesFixtures

/** The in-repo book logs (`fixtures/xes/book/`) stand in for the
  * reference's `xes/book/` wherever the specs read the book corpus
  * ([[XesCorpus.book]]). They are rebuilt from the event fixture, so
  * this spec checks that they carry exactly its rows and, where the
  * reference checkout exists, the same rows as the reference files.
  */
class XesBookCopySpec extends SparkSpec {

  import spark.implicits._

  private val fixtures = Paths.get("fixtures").toAbsolutePath.toString
  private val copy = XesCorpus.inRepoBook

  /** The columns the event fixture holds. */
  private val cols = Seq("file", "traceIdx", "seq", "activity", "lifecycle",
    "resource", "tsMicros", "tzOffsetMin")

  private def fixtureRows: DataFrame =
    spark.read.parquet(s"$fixtures/xes_book_events.parquet")

  private def xesFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".xes"))
      .sortBy(_.getName).toSeq

  private def parsed(dir: String): Seq[XesModel.ParsedLog] =
    xesFiles(dir).map(f => XesParser.parse(f.getName, Files.readAllBytes(f.toPath)))

  /** Direct StAX parse of every log in `dir`, as fixture-shaped rows. */
  private def parsedRows(dir: String): DataFrame =
    spark.createDataset(parsed(dir).flatMap(_.events)).select(cols.head, cols.tail: _*)

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() === 0L)
    assert(want.exceptAll(got).count() === 0L)
  }

  test("the copy holds the 13 book logs, rebuilt byte for byte from the event fixture") {
    val rebuilt = DumpXesFixtures.bookLogs(fixtureRows)
    assert(rebuilt.map(_._1) === xesFiles(copy).map(_.getName))
    assert(rebuilt.size === 13)
    rebuilt.foreach { case (file, xml) =>
      assert(Files.readString(Paths.get(copy, file)) === xml, file)
    }
  }

  test("XesParser reads the copy to exactly the event fixture rows") {
    assertSameRows(parsedRows(copy), fixtureRows)
  }

  test("the copy parses to the same rows as the reference's book logs") {
    val reference = XesCorpus.reference("xes/book")
    assert(xesFiles(reference).map(_.getName) === xesFiles(copy).map(_.getName))
    assertSameRows(parsedRows(copy), parsedRows(reference))
  }
}
