package graft.sources

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.model.Schemas

/** Round-trip: engine-written Avro archives decode back identically, and
  * reference-written golden files re-encode losslessly.
  */
class AvroArchiveSinkSpec extends SparkSpec {

  private def blockRow(h: Long): Row = Row(
    "BITCOIN", "BTC", new Timestamp(1700000000000L), h,
    s"hash-$h", s"hash-${h - 1}", new Timestamp(1600000000000L + h),
    s"""{"height":$h}""".getBytes("UTF-8"), 0, null, null)

  test("write then read round-trips records and codecs") {
    // parallelize splits contiguously, so the 4 partitions carry disjoint
    // height ranges → 4 discoverable range files
    val rows = spark.createDataFrame(
      spark.sparkContext.parallelize((0L to 99L).map(blockRow), 4), Schemas.block)
    for (codec <- Seq("snappy", "zstd", "deflate")) {
      val out = Files.createTempDirectory(s"graft-avro-$codec").toString
      val n = AvroArchiveSink.write(rows, "blocks", out, codec)
      assert(n === 100L)
      // files land under the reference's L1 layout with parseable names
      // (the filename IS the metadata — src/archiver/filenames.rs:69-83)
      val files = AvroArchiveSource.listAvroFiles(spark, out)
      assert(files.size === 4)
      assert(files.forall(_.contains("/000000000/range-")), files.mkString(","))
      assert(files.forall(f =>
        graft.archive.Filenames.parseKindS(f).contains("blocks")))
      val back = AvroArchiveSource.readArchive(spark, out, "blocks")
      assert(back.count() === 100L)
      val r = back.filter(col("height") === 42L).head()
      assert(r.getAs[String]("blockId") === "hash-42")
      assert(new String(r.getAs[Array[Byte]]("json"), "UTF-8") === """{"height":42}""")
      assert(r.getAs[Timestamp]("archiveTimestamp").getTime === 1700000000000L)
      assert(r.isNullAt(r.fieldIndex("uncle0Json")))
    }
  }

  test("reference golden file re-encodes losslessly to a reference name") {
    val golden = AvroArchiveSource.read(spark,
      graft.ReferenceFixtures("fullAvroFiles/000723744.txes.avro"), "txes")
    val out = Files.createTempDirectory("graft-avro-reenc").toString
    val n = AvroArchiveSink.write(golden.coalesce(1), "txes", out, "snappy")
    assert(n === 423L)
    // one height → a single-file name the reference's parser accepts
    val files = AvroArchiveSource.listAvroFiles(spark, out)
    assert(files.size === 1)
    assert(files.head.endsWith("000000000/000723000/000723744.txes.avro"), files.head)
    val back = AvroArchiveSource.readArchive(spark, out, "txes")
    assert(back.count() === 423L)
    // content-level equality: same txid set, same per-record payload sizes
    val origAgg = golden.agg(
      countDistinct("txid"), sum(length(col("json"))), sum(length(col("raw")))).head()
    val backAgg = back.agg(
      countDistinct("txid"), sum(length(col("json"))), sum(length(col("raw")))).head()
    assert(origAgg === backAgg)
  }

  test("writeChunked splits co-located chunks into separate range files") {
    // 40 chunks into 32 shuffle partitions: the pigeonhole guarantees some
    // task holds several chunks — the in-partition split must still emit
    // one range file per chunk, never a merged file spanning two
    val rows = spark.createDataFrame(
      spark.sparkContext.parallelize((0L to 399L).map(blockRow), 8), Schemas.block)
    val out = Files.createTempDirectory("graft-avro-chunked").toString
    val n = AvroArchiveSink.writeChunked(
      rows.withColumn("chunk", org.apache.spark.sql.functions.floor(col("height") / 10)
        .cast("long")),
      "blocks", out, "chunk")
    assert(n === 400L)
    val files = AvroArchiveSource.listAvroFiles(spark, out)
      .map(p => p.substring(p.lastIndexOf('/') + 1))
    assert(files.size === 40)
    assert(files.forall(_.matches("range-\\d{9}_\\d{9}\\.blocks\\.avro")), files.take(3))
    // every file covers exactly one aligned 10-height chunk
    val spans = files.map { f =>
      val m = "range-(\\d+)_(\\d+)".r.findFirstMatchIn(f).get
      (m.group(1).toLong, m.group(2).toLong)
    }
    assert(spans.forall { case (s, e) => e - s === 9 && s % 10 === 0 })
    assert(AvroArchiveSource.readArchive(spark, out, "blocks").count() === 400L)
  }

  test("explicit file:// scheme routes through the Hadoop FileSystem end to end") {
    // the sink resolves the FS from the path URI (objects.rs's S3 backend
    // mounts the same way); an explicit scheme must behave identically to
    // a bare local path — including idempotent singles and the recursive
    // listing on the read side
    val out = "file://" + Files.createTempDirectory("graft-avro-hfs").toString
    val rows = spark.createDataFrame(
      spark.sparkContext.parallelize((0L to 19L).map(blockRow), 2), Schemas.block)
    val n = AvroArchiveSink.writeSingles(rows, "blocks", out)
    assert(n === 20L)
    // replay: every target exists → all skipped, nothing overwritten
    assert(AvroArchiveSink.writeSingles(rows, "blocks", out) === 0L)
    val files = AvroArchiveSource.listAvroFiles(spark, out)
    assert(files.size === 20)
    assert(files.forall(f => f.startsWith("file:") || f.startsWith("/")), files.head)
    // no temp orphans left behind under the scheme'd dir
    assert(!files.exists(_.contains(".graft-tmp-")))
    assert(AvroArchiveSource.readArchive(spark, out, "blocks").count() === 20L)
  }

  /** Files under `out` whose names mark a hidden temp container. */
  private def temps(out: String): Seq[String] =
    ArchiveFs.files(ArchiveFs.fs(spark, out), new Path(out)).map(_.getPath.getName)
      .filter(_.startsWith(".graft-tmp-")).toSeq

  test("colliding file ranges are never overwritten") {
    // two partitions holding the same single height would produce the same
    // path — the write must refuse, like the reference's create(overwrite
    // = false) (src/storage/fs.rs:33-39). The driver commits, so the
    // refusal arrives as itself, not wrapped in a task failure.
    val rows = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(blockRow(7L), blockRow(7L)), 2), Schemas.block)
    val out = Files.createTempDirectory("graft-avro-collide").toString
    val e = intercept[IllegalStateException] {
      AvroArchiveSink.write(rows, "blocks", out, "snappy")
    }
    assert(e.getMessage.contains("never overwritten"))
    // the first container landed and stays intact; the loser left no temp
    val files = AvroArchiveSource.listAvroFiles(spark, out)
    assert(files.size === 1 && files.head.endsWith("/000000007.block.avro"), files)
    val back = AvroArchiveSource.readArchive(spark, out, "blocks").collect()
    assert(back.map(_.getAs[Long]("height")).toSeq === Seq(7L))
    assert(temps(out).isEmpty)
  }

  test("a failed write leaves no temp container behind") {
    // one partition of 40 blocks whose json fails at height 25: the task
    // dies with a temp container open, and its abort must discard it
    val bad = spark.createDataFrame(
      spark.sparkContext.parallelize((0L until 40L).map(blockRow), 1), Schemas.block)
      .withColumn("json",
        when(col("height") === 25L, raise_error(lit("boom"))).otherwise(col("json")))
    val writes = Seq[(String, String => Unit)](
      "write" -> (AvroArchiveSink.write(bad, "blocks", _)),
      "writeSingles" -> (AvroArchiveSink.writeSingles(bad, "blocks", _)),
      "writeChunked" -> (AvroArchiveSink.writeChunked(
        bad.withColumn("chunk", floor(col("height") / 10).cast("long")), "blocks", _, "chunk")),
      "save" -> (bad.write.format("avro-archive").option("kind", "blocks")
        .mode("append").save(_)))
    writes.foreach { case (name, writeTo) =>
      val out = Files.createTempDirectory(s"graft-avro-fail-$name").toString
      val e = intercept[Exception](writeTo(out))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("boom")), name)
      assert(temps(out).isEmpty, s"$name left ${temps(out)}")
      assert(AvroArchiveSource.listAvroFiles(spark, out).isEmpty, name)
    }
  }

  test("a co-located singles write whose (height, fork) spans two partitions claims nothing") {
    // height 7's two rows sit in two partitions: both would form the same
    // single, and dropping the second as taken would lose its row, so the
    // commit fails before its first claim and the abort discards every temp
    val rows = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(blockRow(6L), blockRow(7L), blockRow(7L), blockRow(8L)), 2), Schemas.block)
    val out = Files.createTempDirectory("graft-avro-colocated").toString
    val e = intercept[IllegalStateException] {
      AvroArchiveSink.writeColocatedSingles(rows, "blocks", out, forkHashCol = Some("blockId"))
    }
    assert(e.getMessage.contains("000000007.hash-7.block.avro"), e.getMessage)
    assert(AvroArchiveSource.listAvroFiles(spark, out).isEmpty)
    assert(temps(out).isEmpty)
    // co-located, the same rows land as one single per height
    val (landed, formed) = AvroArchiveSink.writeColocatedSingles(
      rows.coalesce(1), "blocks", out, forkHashCol = Some("blockId"))
    assert(landed === 4L)
    assert(formed === Seq(6L, 7L, 8L).map(h => (h, Some(s"hash-$h"))))
  }
}
