package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The main source tree as (path relative to `src/main`, text) pairs, for
  * the audit specs that keep one mechanism in one place.
  */
object MainSources {
  def all(): Seq[(String, String)] = {
    val root = Paths.get("src/main")
    require(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root)
    try files.iterator().asScala.filter(Files.isRegularFile(_)).map { p: Path =>
      (root.relativize(p).toString, new String(Files.readAllBytes(p), UTF_8))
    }.toList
    finally files.close()
  }
}
