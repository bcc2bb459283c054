package graft.xes

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Round-trip identity (reference xes.rs:966-1005): read → write →
  * read preserves semantics; successive writes are byte-identical. */
class XesRoundTripSpec extends AnyFunSuite {

  def parseableFiles: Seq[java.nio.file.Path] =
    (XesCorpus.book +: Seq("correct", "recoverable", "non_validating")
        .map(d => XesCorpus.reference(s"xes/$d"))).flatMap { d =>
      Files.list(Paths.get(d)).iterator().asScala.toSeq
        .filter(_.toString.endsWith(".xes"))
    }.sortBy(_.toString)

  test("parse → render → parse is semantically the identity; writes are stable") {
    parseableFiles.foreach { p =>
      val name = p.getFileName.toString
      val log1 = XesParser.parse(name, Files.readAllBytes(p))
      val xml1 = XesWriter.render(log1)
      val log2 = XesParser.parseString(name, xml1)
      assert(log2.counts == log1.counts, s"$name counts drift")
      assert(log2.meta.extensions == log1.meta.extensions, s"$name extensions drift")
      assert(log2.meta.globals == log1.meta.globals, s"$name globals drift")
      assert(log2.meta.attrs == log1.meta.attrs, s"$name log attrs drift")
      assert(log2.traces.map(t => (t.traceIdx, t.caseId, t.attrs)) ==
        log1.traces.map(t => (t.traceIdx, t.caseId, t.attrs)), s"$name traces drift")
      assert(log2.events.map(e => (e.traceIdx, e.seq, e.attrs)) ==
        log1.events.map(e => (e.traceIdx, e.seq, e.attrs)), s"$name events drift")
      val xml2 = XesWriter.render(log2)
      assert(xml1 == xml2, s"$name successive writes differ")
    }
  }

  test("typed event columns survive the round trip") {
    val p = Paths.get(XesCorpus.book, "L1.xes")
    val log1 = XesParser.parse("L1.xes", Files.readAllBytes(p))
    val log2 = XesParser.parseString("L1.xes", XesWriter.render(log1))
    assert(log2.events.map(_.activity) == log1.events.map(_.activity))
    assert(log2.events.map(_.tsMicros) == log1.events.map(_.tsMicros))
    assert(log2.events.map(_.tzOffsetMin) == log1.events.map(_.tzOffsetMin))
    assert(log2.events.map(_.resource) == log1.events.map(_.resource))
  }
}
