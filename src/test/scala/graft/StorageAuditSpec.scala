package graft

import java.nio.file.Paths

import org.scalatest.funsuite.AnyFunSuite

/** Every durable archive mutation and listing goes through ONE seam,
  * [[graft.sources.ArchiveFs]]. A scheme branch, a bare delete, a second
  * directory walker or a direct java.nio write anywhere else would be a
  * durable step the seam (and its crash plan) cannot see, so this scans
  * the archive's main sources for one. Calls to the seam itself
  * (`ArchiveFs.delete(`) are allowed.
  */
class StorageAuditSpec extends AnyFunSuite {
  private val archiveCode = Seq("scala/graft/archive/", "scala/graft/commands/", "scala/graft/sources/")
  private val forbidden = Seq("getScheme", ".delete(", "FileContext", "listFiles(",
    "listStatusIterator", "java.nio.file.Files.")

  private def name(path: String) = Paths.get(path).getFileName.toString

  test("only ArchiveFs.scala branches on the scheme, deletes, renames, walks or writes with java.nio") {
    val offenders = for {
      (path, text) <- MainSources.all()
      if archiveCode.exists(path.startsWith) && name(path) != "ArchiveFs.scala"
      word <- forbidden
      if text.replace("ArchiveFs.delete(", "").contains(word)
    } yield s"$path: $word"
    assert(offenders.isEmpty, s"storage access outside ArchiveFs: ${offenders.mkString(", ")}")
  }

  test("StageMemo fingerprints through the seam's walk, not its own listing") {
    val memo = MainSources.all().collect { case (p, t) if name(p) == "StageMemo.scala" => t }
    assert(memo.size === 1)
    assert(!memo.head.contains("listStatus"))
  }
}
