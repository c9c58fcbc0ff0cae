package graft

import org.scalatest.funsuite.AnyFunSuite

/** An Avro archive container is written in ONE place: the `DataWriter` of
  * the `avro-archive` DataSourceV2 write, committed serially by its
  * `BatchWrite` on the driver. A second write loop (an RDD pass over a
  * query's rows) would bring back its own commit placement and failure
  * behaviour, so this scans the main sources for one.
  */
class WritePathAuditSpec extends AnyFunSuite {
  private val v2Writer = "scala/graft/sources/v2/AvroArchiveDataSource.scala"

  /** The text of the top-level definition that starts with `header`, up
    * to its closing brace in column 0.
    */
  private def definition(text: String, header: String): String = {
    val start = text.indexOf(header)
    assert(start >= 0, s"$header not found")
    text.substring(start, text.indexOf("\n}", start))
  }

  test("only the V2 DataWriter constructs a temp container") {
    val constructs = """new\s+(AvroArchiveSink\s*\.\s*)?TempContainer\b""".r
    val builders = MainSources.all().collect {
      case (path, text) if constructs.findFirstIn(text).isDefined => path
    }
    assert(builders === Seq(v2Writer))
    val text = MainSources.all().collectFirst { case (`v2Writer`, t) => t }.get
    assert(constructs.findAllIn(text).size ===
      constructs.findAllIn(definition(text, "final class AvroArchiveWriterFactory")).size)
  }

  test("only AvroArchiveBatchWrite calls ArchiveFs.commit") {
    val commits = """ArchiveFs\s*\.\s*commit\s*\(""".r
    val callers = MainSources.all().collect {
      case (path, text) if commits.findFirstIn(text).isDefined => path
    }
    assert(callers === Seq(v2Writer))
    val text = MainSources.all().collectFirst { case (`v2Writer`, t) => t }.get
    assert(commits.findAllIn(text).size === 1)
    assert(commits.findFirstIn(definition(text, "final class AvroArchiveBatchWrite")).isDefined)
  }

  test("only AvroArchiveSink constructs an AvroArchiveTable with a layout") {
    // a layout is the fifth argument, by name or by position; the sink's one
    // construction sits in the `append` every wrapper runs, so a second
    // layout (a second co-located write, say) cannot grow beside it
    val sink = "scala/graft/sources/AvroArchiveSink.scala"
    def arguments(text: String, from: Int): Seq[String] = {
      var (depth, i, last) = (1, from, from)
      val args = Seq.newBuilder[String]
      while (depth > 0) {
        text(i) match {
          case '(' | '[' => depth += 1
          case ')' | ']' => depth -= 1
          case ',' if depth == 1 => args += text.substring(last, i); last = i + 1
          case _ =>
        }
        i += 1
      }
      (args += text.substring(last, i - 1)).result()
    }
    val constructs = """new\s+(\w+\s*\.\s*)*AvroArchiveTable\s*\(""".r
    val withLayout = MainSources.all().flatMap { case (path, text) =>
      constructs.findAllMatchIn(text).map(m => arguments(text, m.end))
        .filter(args => args.size >= 5 || args.exists(_.trim.startsWith("layout")))
        .map(_ => path)
    }
    assert(withLayout === Seq(sink))
    val text = MainSources.all().collectFirst { case (`sink`, t) => t }.get
    val append = text.indexOf("private def append(")
    assert(append >= 0)
    assert(constructs.findAllMatchIn(text).forall(m =>
      m.start > append && m.start < text.indexOf("\n  }", append)))
  }

  test("no source under graft/sources runs an RDD pass over a query's rows") {
    // calls, not prose: a scaladoc may name the connector seam's mapPartitions
    val offenders = for {
      (path, text) <- MainSources.all()
      if path.startsWith("scala/graft/sources/")
      call <- Seq("""queryExecution\s*\.\s*toRdd""".r, """\.\s*mapPartitions""".r)
      if call.findFirstIn(text).isDefined
    } yield s"$path: $call"
    assert(offenders.isEmpty, s"a second Avro write loop in: ${offenders.mkString(", ")}")
  }
}
