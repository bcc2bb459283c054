package graft.xes

import java.nio.file.{Files, Paths}

import org.scalatest.Assertions.assume

/** Where the specs find XES corpus files (FIXTURES.md §1).
  *
  * The book logs come from the reference checkout where it exists, else
  * from the in-repo copy `fixtures/xes/book/` that
  * [[graft.tools.DumpXesFixtures]] rebuilds from the event fixture. Every
  * other corpus file exists only in the reference checkout: [[reference]]
  * cancels the calling test where it is absent.
  */
object XesCorpus {

  private val referenceStatic = Paths.get("/root/reference/static")

  /** The in-repo copy of the book logs, resolved against the project
    * directory. */
  val inRepoBook: String = graft.Fixtures.path("xes/book")

  /** The reference's `xes/book` directory where it exists, else
    * [[inRepoBook]] ([[graft.Fixtures.book]]). */
  val book: String = graft.Fixtures.book

  /** `<reference static>/<sub>`. Call inside a test body: it cancels the
    * test, naming the path, where the reference checkout lacks it. */
  def reference(sub: String): String = {
    val p = referenceStatic.resolve(sub)
    assume(Files.exists(p), s"reference corpus file $p is absent")
    p.toString
  }
}
