package graft.archive

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Mirrors the reference's compact-command scenarios
  * (src/command/compact.rs:502-1120): complete chunks compacted, partial
  * chunks left alone, validation catches dup/gap.
  */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  test("validateChunks: complete, gappy, duplicated, misaligned") {
    // chunk 0 complete; chunk 1 has a gap; chunk 2 has a duplicate height.
    val heights = (0L to 9L) ++ ((10L to 19L).filter(_ != 13L)) ++ ((20L to 29L) :+ 25L)
    val v = Compaction.validateChunks(heights.toDF("height"), "height", 10L)
      .orderBy("chunk").collect().toSeq
    // the same table through the driver-side statement of the rule
    val driver = Compaction.chunkVerdicts(
      heights.groupBy(identity).map { case (h, hs) => h -> hs.size.toLong }.toSeq, 10L)
    Seq(v, driver).foreach { rows =>
      assert(rows.map(_.getLong(0)) === Seq(0L, 1L, 2L))
      assert(rows.map(_.getBoolean(5)) === Seq(true, false, false))
    }
    assert(driver === v) // n, n_distinct, mn and mx too
  }

  test("compactAndClean deletes only fully-copied source files") {
    val srcDir = Files.createTempDirectory("graft-cc-src").toString
    val outDir = Files.createTempDirectory("graft-cc-out").toString
    // one source file per 10-height bucket; chunk 1 (10..19) is partial
    val heights = ((0L to 9L) ++ (10L to 17L) ++ (20L to 29L)).toDF("height")
      .withColumn("payload", md5(col("height").cast("string")))
      .withColumn("bucket", floor(col("height") / 10).cast("long"))
    heights.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(srcDir)
    val before = spark.read.parquet(srcDir).count()
    assert(before === 28L)

    val (verdicts, deleted) = Compaction.compactAndClean(
      spark, srcDir, "height", 10L, outDir)
    assert(verdicts.filter(col("complete")).count() === 2)
    // files of buckets 0 and 2 deleted; bucket 1 (partial chunk) survives
    assert(deleted.nonEmpty)
    assert(deleted.forall(f => !f.contains("bucket=1")))
    val remaining = spark.read.parquet(srcDir)
    assert(remaining.select("height").as[Long].collect().sorted.toSeq === (10L to 17L))
    // compacted output holds exactly the complete chunks
    assert(spark.read.parquet(outDir).count() === 20L)
  }

  test("compactAndClean deletes through the source path's filesystem (mocks3://)") {
    graft.sources.MockS3FileSystem.install(spark.sparkContext.hadoopConfiguration)
    val srcDir = "mocks3:" + Files.createTempDirectory("graft-cc-s3src").toString
    val outDir = "mocks3:" + Files.createTempDirectory("graft-cc-s3out").toString
    val heights = ((0L to 9L) ++ (10L to 17L)).toDF("height")
      .withColumn("payload", md5(col("height").cast("string")))
      .withColumn("bucket", floor(col("height") / 10).cast("long"))
    heights.repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(srcDir)
    val (_, deleted) = Compaction.compactAndClean(spark, srcDir, "height", 10L, outDir)
    assert(deleted.nonEmpty && deleted.forall(_.startsWith("mocks3:")), deleted)
    assert(spark.read.parquet(srcDir).select("height").as[Long].collect().sorted.toSeq ===
      (10L to 17L))
    assert(spark.read.parquet(outDir).count() === 10L)
  }

  test("compact writes only complete chunks and keeps sources intact") {
    val out = Files.createTempDirectory("graft-compact").toString
    val heights = ((0L to 9L) ++ (10L to 17L) ++ (20L to 29L)).toDF("height")
      .withColumn("payload", md5(col("height").cast("string")))
    val verdicts = Compaction.compact(spark, heights, "height", 10L, out)
    val complete = verdicts.filter(col("complete")).select("chunk")
      .collect().map(_.getLong(0)).sorted
    assert(complete.toSeq === Seq(0L, 2L))
    val written = spark.read.parquet(out)
    assert(written.count() === 20L) // chunks 0 and 2 only; partial chunk 1 skipped
    assert(written.select("height").as[Long].collect().toSet ===
      ((0L to 9L) ++ (20L to 29L)).toSet)
    // payload survives the rewrite byte-for-byte
    val r = written.filter(col("height") === 5L).select("payload").head().getString(0)
    assert(r === heights.filter(col("height") === 5L).select("payload").head().getString(0))
  }

  test("incremental re-run preserves earlier compacted chunks (never overwrite)") {
    // Run 1 compacts chunks 0 and 2 and cleans their sources. Run 2 sees a
    // source holding ONLY the now-complete chunk 1 — the reference only
    // ever ADDS range files (compact.rs:89-106), so chunks 0/2 must
    // survive even though their sources no longer exist.
    val srcDir = Files.createTempDirectory("graft-inc-src").toString
    val outDir = Files.createTempDirectory("graft-inc-out").toString
    def writeSrc(hs: Seq[Long]): Unit =
      hs.toDF("height")
        .withColumn("payload", md5(col("height").cast("string")))
        .withColumn("bucket", floor(col("height") / 10).cast("long"))
        .repartition(col("bucket"))
        .write.mode("append").partitionBy("bucket").parquet(srcDir)

    writeSrc((0L to 9L) ++ (10L to 17L) ++ (20L to 29L))
    val (v1, deleted1) = Compaction.compactAndClean(spark, srcDir, "height", 10L, outDir)
    assert(v1.filter(col("complete")).count() === 2)
    assert(deleted1.nonEmpty)
    assert(spark.read.parquet(outDir).count() === 20L)

    // heights 18..19 arrive, completing chunk 1
    writeSrc(Seq(18L, 19L))
    val (v2, deleted2) = Compaction.compactAndClean(spark, srcDir, "height", 10L, outDir)
    assert(v2.filter(col("complete")).count() === 1) // only chunk 1 in source now
    assert(deleted2.nonEmpty)

    val out = spark.read.parquet(outDir)
    assert(out.count() === 30L) // chunks 0 and 2 SURVIVED, chunk 1 added once
    assert(out.select("height").as[Long].collect().sorted.toSeq === (0L to 29L))

    // run 3 over an emptied source: nothing new, nothing destroyed
    val (_, deleted3) = Compaction.compactAndClean(spark, srcDir, "height", 10L, outDir)
    assert(deleted3.isEmpty)
    assert(spark.read.parquet(outDir).count() === 30L)
  }

  test("compactAvro merges settled singles into range files and cleans them") {
    import java.sql.Timestamp
    import org.apache.spark.sql.Row
    import graft.model.Schemas
    import graft.sources.{AvroArchiveSink, AvroArchiveSource}
    def h64(n: Long) = f"$n%064x"
    def blockRow(h: Long, hash: String): Row =
      Row("BITCOIN", "BTC", new Timestamp(0L), h, hash, h64(h - 1),
        new Timestamp(h), s"""{"height":$h}""".getBytes("UTF-8"), 0, null, null)
    // 1–3 txes per height: a txes chunk holds more rows than heights
    def txRows(h: Long): Seq[Row] = (0 to (h % 3).toInt).map { i =>
      Row("BITCOIN", "BTC", new Timestamp(0L), h, h64(h), new Timestamp(h),
        i.toLong, h64(h * 10 + i), s"""{"tx":$i}""".getBytes("UTF-8"),
        Array[Byte](1), null, null, null)
    }
    val dir = Files.createTempDirectory("graft-compact-avro").toString
    // settled singles 0..249 of both kinds (chunks 0 and 1 complete at size
    // 100; chunk 2 partial) + a FORKED height 260 with two hash-named files
    val settled = spark.createDataFrame(
      spark.sparkContext.parallelize((0L to 249L).map(h => blockRow(h, h64(h))), 8),
      Schemas.block)
    AvroArchiveSink.writeSingles(settled, "blocks", dir)
    val txes = (0L to 249L).flatMap(txRows)
    AvroArchiveSink.writeSingles(spark.createDataFrame(
      spark.sparkContext.parallelize(txes, 8), Schemas.transaction), "txes", dir)
    Seq(h64(8260), h64(9260)).foreach { hash =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(blockRow(260L, hash)), 1), Schemas.block)
      AvroArchiveSink.writeSingles(df, "blocks", dir, forkHashCol = Some("blockId"))
    }
    assert(AvroArchiveSource.listAvroFiles(spark, dir).size === 502)

    val (verdicts, deleted) = Compaction.compactAvro(spark, dir, chunkSize = 100L)
    assert(verdicts.filter(col("complete")).select("kind", "chunk").as[(String, Long)]
      .collect().sorted.toSeq === Seq(("blocks", 0L), ("blocks", 1L), ("txes", 0L), ("txes", 1L)))
    assert(deleted.size === 400) // exactly the singles of chunks 0 and 1, per kind
    val files = AvroArchiveSource.listAvroFiles(spark, dir)
      .map(p => p.substring(p.lastIndexOf('/') + 1))
    assert(files.filter(_.startsWith("range-")).sorted === Seq(
      "range-000000000_000000099.blocks.avro", "range-000000000_000000099.txes.avro",
      "range-000000100_000000199.blocks.avro", "range-000000100_000000199.txes.avro"))
    // 200..249 of each kind + 2 forks
    assert(files.count(f => !f.startsWith("range-")) === 102)
    // content survives intact through the rewrite
    assert(AvroArchiveSource.readArchive(spark, dir, "blocks").count() === 252L)
    assert(AvroArchiveSource.readArchive(spark, dir, "txes").count() === txes.size.toLong)

    // idempotent re-run: chunks with range files skip, nothing else settles
    val (_, deleted2) = Compaction.compactAvro(spark, dir, chunkSize = 100L)
    assert(deleted2.isEmpty)
    assert(AvroArchiveSource.listAvroFiles(spark, dir).size === 106)
  }

  test("a compactAvro crash between claim and publish never costs a chunk its singles") {
    import graft.model.Schemas
    import graft.sources.{ArchiveFs, AvroArchiveSink, AvroArchiveSource}
    import org.apache.spark.sql.Row
    val dir = Files.createTempDirectory("graft-compact-crash").toString
    val rows = (0L to 19L).map(h => Row("BITCOIN", "BTC", new java.sql.Timestamp(0L), h,
      s"hash-$h", s"hash-${h - 1}", new java.sql.Timestamp(h), s"{}".getBytes("UTF-8"),
      0, null, null))
    AvroArchiveSink.writeSingles(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Schemas.block), "blocks", dir)
    val crash = new ArchiveFs.Crash(ArchiveFs.Step.Publish, _.getName.startsWith("range-"))
    ArchiveFs.crashWith(Some(crash))
    try intercept[Exception](Compaction.compactAvro(spark, dir, chunkSize = 10L))
    finally ArchiveFs.crashWith(None)
    assert(crash.fired)
    // the crash left empty claims at the range names; the rerun keeps them
    // (never overwrite) and must keep every single they do not hold
    Compaction.compactAvro(spark, dir, chunkSize = 10L)
    val nonEmpty = ArchiveFs.files(ArchiveFs.fs(spark, dir), new org.apache.hadoop.fs.Path(dir))
      .filter(f => f.getLen > 0 && f.getPath.getName.endsWith(".avro"))
      .map(_.getPath.toString).toSeq
    val heights = AvroArchiveSource.readArchiveFiles(spark, nonEmpty, "blocks")
      .select("height").as[Long].collect().sorted.toSeq
    assert(heights.distinct === (0L to 19L))
  }

  test("compactAvro leaves no persisted RDD or cached plan behind, also when it fails") {
    import graft.model.Schemas
    import graft.sources.{ArchiveFs, AvroArchiveSink}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.graft.CacheProbe
    def state = (spark.sparkContext.getPersistentRDDs.keySet.toSet, CacheProbe.cachedPlans(spark))
    val dir = Files.createTempDirectory("graft-compact-state").toString
    val rows = (0L to 19L).map(h => Row("BITCOIN", "BTC", new java.sql.Timestamp(0L), h,
      s"hash-$h", s"hash-${h - 1}", new java.sql.Timestamp(h), s"{}".getBytes("UTF-8"),
      0, null, null))
    AvroArchiveSink.writeSingles(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), Schemas.block), "blocks", dir)
    val before = state
    // the first range publish fails, like a kill
    val crash = new ArchiveFs.Crash(ArchiveFs.Step.Publish, _.getName.startsWith("range-"))
    ArchiveFs.crashWith(Some(crash))
    try intercept[Exception](Compaction.compactAvro(spark, dir, chunkSize = 10L))
    finally ArchiveFs.crashWith(None)
    assert(crash.fired)
    assert(state === before)
    Compaction.compactAvro(spark, dir, chunkSize = 10L)
    assert(state === before)
  }
}
