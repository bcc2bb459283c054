package graft.xes

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import XesModel._

/** Golden-corpus classification tests (SURVEY.md §5): the reference's
  * XES corpus is the parse-behavior spec. Count oracles from
  * `/root/reference/src/stream/stats.rs:178-186` and
  * `flow/mod.rs:51-55`.
  */
class XesCorpusSpec extends AnyFunSuite {

  def parseFile(p: Path): ParsedLog =
    XesParser.parse(p.getFileName.toString, Files.readAllBytes(p))

  def filesIn(dir: String): Seq[Path] =
    Files.list(Paths.get(dir)).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".xes")).sortBy(_.toString)

  test("book corpus count oracles") {
    val expected = Map(
      "L1.xes" -> Seq(6L, 23L, 23L),
      "L2.xes" -> Seq(13L, 80L, 80L),
      "L3.xes" -> Seq(4L, 39L, 39L),
      "L4.xes" -> Seq(147L, 441L, 441L),
      "L5.xes" -> Seq(14L, 92L, 92L),
      "bigger-example.xes" -> Seq(1391L, 7539L, 7539L))
    expected.foreach { case (name, counts) =>
      val log = parseFile(Paths.get(XesCorpus.reference("xes/book"), name))
      assert(log.counts == counts, s"$name: got ${log.counts}")
    }
  }

  test("all book files parse") {
    filesIn(XesCorpus.reference("xes/book")).foreach(parseFile)
  }

  test("correct files parse") {
    filesIn(XesCorpus.reference("xes/correct")).foreach(parseFile)
  }

  test("recoverable files parse") {
    filesIn(XesCorpus.reference("xes/recoverable")).foreach(parseFile)
  }

  test("non_validating files parse (validation failures come later)") {
    filesIn(XesCorpus.reference("xes/non_validating")).foreach(parseFile)
  }

  test("non_parsing files all fail") {
    filesIn(XesCorpus.reference("xes/non_parsing")).foreach { p =>
      assertThrows[XesParseException](parseFile(p))
    }
  }

  test("extension_full fixture parses with typed columns populated") {
    val log = parseFile(Paths.get(XesCorpus.reference("xes/test/extension_full.xes")))
    assert(log.events.nonEmpty)
    assert(log.events.forall(e => e.activity.isDefined))
  }

  test("trace event order and seq are preserved from file position") {
    val log = parseFile(Paths.get(XesCorpus.book, "L1.xes"))
    val t0 = log.events.filter(_.traceIdx.contains(0L)).sortBy(_.seq)
    assert(t0.map(_.seq) == (0L until t0.size).toSeq)
    // L1 trace 0 (Case3.0) is the a-e-d sequence from the textbook.
    assert(t0.flatMap(_.activity).mkString == "aed")
  }

  test("timestamps preserve source offset") {
    val log = parseFile(Paths.get(XesCorpus.book, "L1.xes"))
    val e = log.events.head
    assert(e.tzOffsetMin.contains(120)) // +02:00
  }
}
