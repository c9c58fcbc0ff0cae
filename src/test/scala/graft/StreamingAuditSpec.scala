package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every micro-batch body runs through ONE seam,
  * [[graft.streaming.Streams.eachBatch]], which runs it in the session that
  * started the query. A `.foreachBatch` anywhere else would run its body in
  * the query's session clone, where every query compiles its generated code
  * again, so this scans the main sources for one.
  */
class StreamingAuditSpec extends AnyFunSuite {
  test("only Streams.eachBatch calls foreachBatch") {
    val hits = for {
      (path, text) <- MainSources.all()
      (line, n) <- text.linesIterator.zipWithIndex
      if line.contains(".foreachBatch")
    } yield (path, n, text)
    assert(hits.map(_._1) === Seq("scala/graft/streaming/Streams.scala"),
      s"foreachBatch outside the seam: ${hits.map(h => s"${h._1}:${h._2 + 1}").mkString(", ")}")
    val (_, n, text) = hits.head
    val enclosing = text.linesIterator.take(n + 1).toSeq.reverse.find(_.trim.startsWith("def "))
    assert(enclosing.exists(_.trim.startsWith("def eachBatch(")),
      s"foreachBatch sits in ${enclosing.getOrElse("no def")}")
  }
}
