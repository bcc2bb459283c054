package graft.xes

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Validator classification over the reference corpus
  * (SURVEY.md §5 table; xes.rs:911-916, validator.rs:125-149). */
class XesValidatorSpec extends AnyFunSuite {

  def parse(p: Path): XesModel.ParsedLog =
    XesParser.parse(p.getFileName.toString, Files.readAllBytes(p))

  def filesIn(dir: String): Seq[Path] =
    Files.list(Paths.get(XesCorpus.reference(s"xes/$dir"))).iterator().asScala.toSeq
      .filter(_.toString.endsWith(".xes")).sortBy(_.toString)

  /** The two feature-declaration cases the reference Validator also
    * passes (see XesValidator scaladoc). */
  val notEnforced = Set("string_not_nested_but_declared.xes",
    "log_no_nested_attributes.xes")

  test("book logs validate after repair (the reference pipeline order: parse → repair → validate, flow/mod.rs:3-64)") {
    filesIn("book").foreach { p =>
      val v = XesValidator.validate(XesValidator.repair(parse(p)))
      assert(v.isEmpty, s"${p.getFileName}: $v")
    }
  }

  test("correct files validate") {
    filesIn("correct").foreach { p =>
      val v = XesValidator.validate(parse(p))
      assert(v.isEmpty, s"${p.getFileName}: $v")
    }
  }

  test("recoverable files validate") {
    filesIn("recoverable").foreach { p =>
      val v = XesValidator.validate(parse(p))
      assert(v.isEmpty, s"${p.getFileName}: $v")
    }
  }

  test("extension_full validates") {
    assert(XesValidator.validate(
      parse(Paths.get(XesCorpus.reference("xes/test/extension_full.xes")))).isEmpty)
  }

  test("non_validating files are rejected (except documented feature-flag cases)") {
    filesIn("non_validating").foreach { p =>
      val name = p.getFileName.toString
      val v = XesValidator.validate(parse(p))
      if (notEnforced(name)) assert(v.isEmpty, s"$name unexpectedly rejected: $v")
      else assert(v.nonEmpty, s"$name unexpectedly validated")
    }
  }

  test("globals violation error text names the missing key (validator.rs:134-147)") {
    val v = XesValidator.validate(
      parse(Paths.get(XesCorpus.reference("xes/non_validating/globals_violation_type.xes"))))
    assert(v.exists(_.contains("lifecycle:transition")))
  }

  test("repair fixes invalid classifier names (repair.rs:69-83)") {
    val log = parse(Paths.get(XesCorpus.reference("xes/non_validating/classifier_incorrect_names.xes")))
    assert(XesValidator.validate(log).nonEmpty)
    val repaired = XesValidator.repair(log)
    assert(XesValidator.validate(repaired).isEmpty)
    assert(repaired.meta.classifiers.head.name == "InvalidName")
  }
}
