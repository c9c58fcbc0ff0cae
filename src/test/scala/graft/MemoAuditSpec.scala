package graft

import java.nio.file.Paths
import org.scalatest.funsuite.AnyFunSuite

/** Shared pipeline stages are memoized in ONE place, [[StageMemo]]. A
  * hand-rolled session map elsewhere would bring back its own lifetime
  * and staleness rules, so this scans the main sources for one.
  */
class MemoAuditSpec extends AnyFunSuite {
  test("no main source other than StageMemo.scala declares a WeakHashMap") {
    val offenders = MainSources.all().collect {
      case (path, text) if Paths.get(path).getFileName.toString != "StageMemo.scala" &&
          text.contains("WeakHashMap") => path
    }
    assert(offenders.isEmpty, s"hand-rolled session memos in: ${offenders.mkString(", ")}")
  }
}
