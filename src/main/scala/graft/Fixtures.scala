package graft

import java.nio.file.{Files, Paths}

/** Where the committed fixtures live: `fixtures/` resolved against the
  * project directory (the working directory of sbt and of the tools'
  * JVMs), so a checkout anywhere reads its own files. */
object Fixtures {

  val dir: String = Paths.get("fixtures").toAbsolutePath.toString

  /** `<fixtures dir>/<name>`. */
  def path(name: String): String = Paths.get(dir, name).toString

  /** The book logs: the reference checkout's `xes/book` where it
    * exists, else the in-repo copy `fixtures/xes/book` (FIXTURES.md
    * §1.0). The reference wins so that a run next to it still checks
    * the in-repo copy's oracles against the original files. */
  val book: String = {
    val ref = Paths.get("/root/reference/static/xes/book")
    if (Files.isDirectory(ref)) ref.toString else path("xes/book")
  }
}
