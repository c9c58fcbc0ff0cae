package graft

import org.scalatest.funsuite.AnyFunSuite

/** An Avro archive container becomes rows in ONE place: the partition
  * reader of the `avro-archive` DataSourceV2 scan, through the one decode
  * loop. A second read mechanism (an RDD of decoded rows turned into a
  * DataFrame) would bring back its own planner and partitioning, so this
  * scans the main sources for one.
  */
class ReadPathAuditSpec extends AnyFunSuite {
  private val v2Reader = "scala/graft/sources/v2/AvroArchiveDataSource.scala"

  test("no main source reads through binaryFiles or an RDD-built DataFrame") {
    val offenders = MainSources.all().collect {
      case (path, text) if text.contains("binaryFiles") ||
          text.contains("internalCreateDataFrame") => path
    }
    assert(offenders.isEmpty, s"a second Avro read path in: ${offenders.mkString(", ")}")
  }

  test("only the V2 partition reader constructs the Avro decode loop") {
    val constructs = """new\s+(AvroArchiveSource\s*\.\s*)?Decoder\b""".r
    val builders = MainSources.all().collect {
      case (path, text) if constructs.findFirstIn(text).isDefined => path
    }
    assert(builders === Seq(v2Reader))
  }
}
