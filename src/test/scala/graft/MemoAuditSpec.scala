package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Shared pipeline stages are memoized in ONE place, [[StageMemo]]. A
  * hand-rolled session map elsewhere would bring back its own lifetime
  * and staleness rules, so this scans the main sources for one.
  */
class MemoAuditSpec extends AnyFunSuite {
  test("no main source other than StageMemo.scala declares a WeakHashMap") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root)
    val offenders =
      try files.iterator().asScala.filter { p: Path =>
        Files.isRegularFile(p) && p.getFileName.toString != "StageMemo.scala" &&
          new String(Files.readAllBytes(p), UTF_8).contains("WeakHashMap")
      }.map(root.relativize(_).toString).toList
      finally files.close()
    assert(offenders.isEmpty, s"hand-rolled session memos in: ${offenders.mkString(", ")}")
  }
}
