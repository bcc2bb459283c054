package graft.xes

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** External-schema conformance (reference xes.rs:918-964 + the
  * corpus's validate.sh): our writer's output must validate against
  * the official IEEE 1849-2016 XSD with xmllint. Run over the
  * standards-compliant corpus class (the same set validate.sh checks).
  */
class XesSchemaConformanceSpec extends AnyFunSuite {

  test("serialized output validates against the IEEE XSD (xmllint)") {
    assume(("which xmllint" #> new java.io.File("/dev/null")).! == 0)
    val xsd = XesCorpus.reference("xes/xes-ieee-1849-2016.xsd")
    val tmp = Files.createTempDirectory("xsd")
    val files = Files.list(Paths.get(XesCorpus.reference("xes/correct"))).iterator().asScala
      .filter(_.toString.endsWith(".xes")).toSeq.sortBy(_.toString)
    files.foreach { p =>
      val name = p.getFileName.toString
      val log = XesParser.parse(name, Files.readAllBytes(p))
      val out = tmp.resolve(name)
      Files.writeString(out, XesWriter.render(log))
      val code = Seq("xmllint", "--noout", "--schema", xsd, out.toString).!
      assert(code == 0, s"$name: writer output fails XSD validation")
    }
  }
}
