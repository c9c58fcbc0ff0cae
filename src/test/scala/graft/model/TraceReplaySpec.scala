package graft.model

import graft.SparkSpec

/** Golden test of the block-replay → per-tx trace-record splitter against
  * the reference's own fixture (testdata/blockTraces-1.json).
  */
class TraceReplaySpec extends SparkSpec {
  import spark.implicits._

  private def fixtureJson = new String(java.nio.file.Files.readAllBytes(
    java.nio.file.Paths.get(graft.ReferenceFixtures("blockTraces-1.json"))), "UTF-8")

  test("splits the reference's replay fixture into per-tx trace records") {
    val in = Seq((15437941L, "0xblock", new java.sql.Timestamp(1000L), fixtureJson))
      .toDF("height", "blockId", "timestamp", "replayJson")
    val out = TraceReplay.toTraceRecords(in, "ETH")
    val rows = out.orderBy("index").collect()
    assert(rows.length === 3)
    assert(rows.map(_.getAs[Long]("index")).toSeq === Seq(0L, 1L, 2L))
    assert(rows.map(_.getAs[String]("txid")).distinct.length === 3)
    assert(rows.forall(_.getAs[String]("txid").startsWith("0x")))
    // re-serialized subtrees stay valid JSON and keep their content
    val sd = new String(rows.head.getAs[Array[Byte]]("stateDiffJson"), "UTF-8")
    assert(sd.contains("0x11b815efb8f581194ae79006d24e0d814b7697f6"))
    assert(rows.forall(_.getAs[Array[Byte]]("traceJson") != null))
    // and the records land as real trace singles that read back
    val dir = java.nio.file.Files.createTempDirectory("trace-replay").toString
    graft.sources.AvroArchiveSink.writeSingles(out, "traces", dir)
    val back = graft.sources.AvroArchiveSource.readArchive(spark, dir, "traces")
    assert(back.count() === 3)
    assert(back.select("txid").collect().map(_.getString(0)).toSet ===
      rows.map(_.getAs[String]("txid")).toSet)
  }

  test("fields.trace exclusion nulls the excluded side, like the reference options") {
    val in = Seq((1L, "0xb", new java.sql.Timestamp(0L), fixtureJson))
      .toDF("height", "blockId", "timestamp", "replayJson")
    val out = TraceReplay.toTraceRecords(in, "ETH", includeStateDiff = false)
      .collect()
    assert(out.forall(_.getAs[Array[Byte]]("traceJson") != null))
    assert(out.forall(_.getAs[Array[Byte]]("stateDiffJson") == null))
    intercept[IllegalArgumentException] {
      TraceReplay.toTraceRecords(
        Seq((1L, "0xb", new java.sql.Timestamp(0L), fixtureJson))
          .toDF("height", "blockId", "timestamp", "replayJson"),
        "ETH", includeTrace = false, includeStateDiff = false)
    }
  }
}
