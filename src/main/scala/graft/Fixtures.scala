package graft

import java.nio.file.Paths

/** Where the committed fixtures live: `fixtures/` resolved against the
  * project directory (the working directory of sbt and of the tools'
  * JVMs), so a checkout anywhere reads its own files. */
object Fixtures {

  val dir: String = Paths.get("fixtures").toAbsolutePath.toString

  /** `<fixtures dir>/<name>`. */
  def path(name: String): String = Paths.get(dir, name).toString
}
