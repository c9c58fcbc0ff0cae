package graft.commands

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** End-to-end lifecycle over a temp archive: archive (with a planted gap)
  * → verify flags it → fix heals it → verify clean → compact → stream
  * appends a live tail idempotently.
  */
class CommandsSpec extends SparkSpec {
  import spark.implicits._

  private def rawChain(hs: Seq[Long]) = {
    def h(x: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.toString.getBytes).map("%02x".format(_)).mkString
    hs.map(x => (x, h(x), h(x - 1), s"payload-$x"))
      .toDF("height", "blockId", "parentId", "payload")
  }

  test("archive -> verify -> fix -> verify -> compact lifecycle") {
    val dir = Files.createTempDirectory("graft-arch").toString
    val raw = rawChain(0L to 299L)

    // archive with a planted gap (skip 120..129)
    val gappy = raw.filter(!col("height").between(120, 129))
    val summary = Commands.archive(spark, gappy, dir, 0L, 299L, chunkSize = 100L)
    assert(summary.filter(col("complete")).count() === 2) // chunks 0 and 2

    val v1 = Commands.verify(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v1("missing-heights") === 10L)
    assert(v1("chain-breaks") === 1L) // the gap breaks the chain once
    assert(v1("dup-heights") === 0L)

    // fix re-archives exactly the missing heights
    val missing = Commands.fix(spark, raw, dir, dir, 0L, 299L)
      .orderBy("height").as[Long].collect()
    assert(missing.toSeq === (120L to 129L))

    val v2 = Commands.verify(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v2("missing-heights") === 0L)
    assert(v2("chain-breaks") === 0L)
    assert(v2("total-blocks") === 300L)

    // compact: all three chunks now complete
    val out = Files.createTempDirectory("graft-compacted").toString
    val verdicts = Commands.compact(spark, dir, out, chunkSize = 100L)
    assert(verdicts.filter(col("complete")).count() === 3)
    assert(spark.read.parquet(out).count() === 300L)
  }

  test("verify audits an Avro-format archive (the reference's own format)") {
    import org.apache.spark.sql.Row
    import java.sql.Timestamp
    def blockRow(h: Long, parent: Long): Row = {
      def md5s(x: Long) = java.security.MessageDigest.getInstance("MD5")
        .digest(x.toString.getBytes).map("%02x".format(_)).mkString
      Row("BITCOIN", "BTC", new Timestamp(0L), h, md5s(h), md5s(parent),
        new Timestamp(h), Array.emptyByteArray, 0, null, null)
    }
    // gap at 15, plus a parent-hash corruption at 18
    val rows = ((10L to 20L).filterNot(_ == 15L)).map(h =>
      if (h == 18L) blockRow(h, 999L) else blockRow(h, h - 1))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), graft.model.Schemas.block)
    val dir = Files.createTempDirectory("graft-avro-verify").toString
    graft.sources.AvroArchiveSink.write(df, "blocks", dir, "snappy")
    val v = Commands.verify(spark, dir, format = "avro")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v("total-blocks") === 10L)
    assert(v("missing-heights") === 1L)
    assert(v("chain-breaks") === 2L) // the gap at 15→16 AND the bad parent at 18
    assert(v("dup-heights") === 0L)
  }

  test("stream appends live heads into the archive") {
    val dir = Files.createTempDirectory("graft-stream-arch").toString
    val heads = Files.createTempDirectory("graft-heads2").toString
    val ckpt = Files.createTempDirectory("graft-ckpt2").toString
    rawChain(500L to 509L).coalesce(1).write.mode("append").parquet(heads)
    val schema = StructType(Seq(
      StructField("height", LongType), StructField("blockId", StringType),
      StructField("parentId", StringType), StructField("payload", StringType)))
    Commands.stream(spark, heads, schema, dir, ckpt)
    val v = Commands.verify(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v("total-blocks") === 10L)
    assert(v("chain-breaks") === 0L)

    // replay: a fresh checkpoint re-delivers every batch (the worst-case
    // at-least-once recovery) — idempotent writes must not duplicate
    // heights (reference stream.rs:49-52 never overwrites)
    val ckpt2 = Files.createTempDirectory("graft-ckpt2b").toString
    Commands.stream(spark, heads, schema, dir, ckpt2)
    val v2 = Commands.verify(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v2("total-blocks") === 10L)
    assert(v2("dup-heights") === 0L)
  }

  test("archive emits one notification line per written file") {
    val dir = Files.createTempDirectory("graft-arch-notify").toString
    val notifyDir = Files.createTempDirectory("graft-notify").toString
    Commands.archive(spark, rawChain(0L to 199L), dir, 0L, 199L, chunkSize = 100L,
      opts = Commands.RunOptions(notifyDir = Some(notifyDir), blockchain = "BTC"))
    val written = spark.read.parquet(s"$dir/blocks")
      .select(input_file_name()).distinct().count()
    val lines = spark.read.text(notifyDir).collect().map(_.getString(0))
    assert(lines.length === written) // one line per written file
    // the reference's exact field set (src/notify/mod.rs:12-46)
    assert(lines.forall(_.contains("\"version\":\"https://schema.emrld.io/dshackle-archive/notify\"")))
    assert(lines.forall(_.contains("\"blockchain\":\"BTC\"")))
    assert(lines.forall(_.contains("\"run\":\"archive\"")))
    assert(lines.forall(_.contains("\"type\":\"blocks\"")))
    assert(lines.forall(_.contains("\"heightStart\":")))
    assert(lines.exists(_.contains("\"heightStart\":0")))
    assert(lines.exists(_.contains("\"heightEnd\":199")))
  }

  test("dry-run leaves the filesystem untouched for every command") {
    val dir = Files.createTempDirectory("graft-dry-arch").toString
    val dry = Commands.RunOptions(dryRun = true)
    val raw = rawChain(0L to 99L)

    // archive: verdicts computed, nothing written
    val summary = Commands.archive(spark, raw, dir, 0L, 99L, chunkSize = 100L, opts = dry)
    assert(summary.filter(col("complete")).count() === 1)
    assert(!new java.io.File(s"$dir/blocks").exists())

    // a real archive, then dry-run fix over a gap: missing reported, not healed
    Commands.archive(spark, raw.filter(!col("height").between(40, 49)), dir, 0L, 99L)
    val missing = Commands.fix(spark, raw, dir, dir, 0L, 99L, opts = dry)
      .orderBy("height").as[Long].collect()
    assert(missing.toSeq === (40L to 49L))
    val still = Commands.verify(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(still("missing-heights") === 10L) // dry-run healed nothing

    // dry-run compact: verdicts only, no output dir
    val out = Files.createTempDirectory("graft-dry-compact").toString + "/x"
    val verdicts = Commands.compact(spark, dir, out, chunkSize = 10L, opts = dry)
    assert(verdicts.count() === 9) // chunk 4 (the 40..49 gap) has no rows at all
    assert(!new java.io.File(out).exists())
  }

  test("stream -> reorg -> verifyFull fork lifecycle over Avro singles") {
    import graft.sources.AvroArchiveSource
    import graft.model.Schemas
    import java.sql.Timestamp
    def h64(n: Long) = f"$n%064x"
    def bjson(h: Long, hash: String, parent: String, tx: String) =
      s"""{"hash":"$hash","previousblockhash":"$parent","height":$h,"tx":["$tx"],"time":$h}"""
    val dir = Files.createTempDirectory("graft-stream-avro").toString
    val heads = Files.createTempDirectory("graft-heads-avro").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-avro").toString
    // chain 100..102, then a reorg at 103: fork A gets orphaned, the chain
    // continues on fork B through 104 -- the head stream saw BOTH
    val fork103a = h64(994103)
    val fork103b = h64(103)
    val chain = Seq( // (height, hash, parent, the block's one txid)
      (100L, h64(100), h64(99), "TX100"),
      (101L, h64(101), h64(100), "TX101"),
      (102L, h64(102), h64(101), "TX102"),
      (103L, fork103a, h64(102), "TXA"),
      (103L, fork103b, h64(102), "TXB"),
      (104L, h64(104), fork103b, "TX104"))
    chain.map { case (h, hs, pr, tx) => (h, hs, pr, bjson(h, hs, pr, tx)) }
      .toDF("height", "blockId", "parentId", "payload")
      .coalesce(1).write.mode("append").parquet(heads)
    val schema = StructType(Seq(
      StructField("height", LongType), StructField("blockId", StringType),
      StructField("parentId", StringType), StructField("payload", StringType)))
    // tx source: one tx record per block INCLUDING both forks at 103
    val rawTxes = spark.createDataFrame(
      spark.sparkContext.parallelize(chain.map { case (h, hs, _, tx) =>
        org.apache.spark.sql.Row("BITCOIN", "BTC", new Timestamp(0L), h, hs,
          new Timestamp(h), 0L, tx, """{"ok":true}""".getBytes("UTF-8"),
          Array[Byte](1), null, null, null)
      }, 2), Schemas.transaction)
    Commands.streamAvro(spark, heads, schema, dir, ckpt, rawTxes = Some(rawTxes))
    assert(AvroArchiveSource.listAvroFiles(spark, dir).size === 12) // both forks, both kinds

    // replay with a fresh checkpoint: never-overwrite keeps it at 12 files
    val ckpt2 = Files.createTempDirectory("graft-ckpt-avro2").toString
    Commands.streamAvro(spark, heads, schema, dir, ckpt2, rawTxes = Some(rawTxes))
    assert(AvroArchiveSource.listAvroFiles(spark, dir).size === 12)

    // the chain settled on fork B: verify deletes the orphan's block AND
    // txes files, content-checks the rest (incl. txid reconciliation
    // against each block's declared txs) as one merged batch
    val canonical = Seq(100L -> h64(100), 101L -> h64(101), 102L -> h64(102),
      103L -> fork103b, 104L -> h64(104)).toDF("height", "hash")
    val r = Commands.verifyFull(spark, dir, graft.model.BitcoinAdapter,
      100L, 110L, canonical, VerifyFull.Options(fixClean = true))
    val left = AvroArchiveSource.listAvroFiles(spark, dir)
      .map(p => p.substring(p.lastIndexOf('/') + 1)).sorted
    assert(left === Seq(
      s"000000100.${h64(100)}.block.avro", s"000000100.${h64(100)}.txes.avro",
      s"000000101.${h64(101)}.block.avro", s"000000101.${h64(101)}.txes.avro",
      s"000000102.${h64(102)}.block.avro", s"000000102.${h64(102)}.txes.avro",
      s"000000103.$fork103b.block.avro", s"000000103.$fork103b.txes.avro",
      s"000000104.${h64(104)}.block.avro", s"000000104.${h64(104)}.txes.avro"))
    assert(r.deleted.map(_._2).forall(_ == "forked-out"))
    assert(r.deleted.size === 2) // fork A's block + txes files
    val v = r.batches.collect()
    assert(v.length === 1 && v.head.getAs[Boolean]("blocks_ok"))
    assert(v.head.getAs[Boolean]("txes_ok"))
    assert(v.head.getAs[Long]("group_s") === 100L && v.head.getAs[Long]("group_e") === 104L)
  }

  test("streamAvro archives traces companions; fixAvro heals; verifyFull checks all three kinds") {
    // the reference archives block, txes AND traces per height
    // (archiver.rs:137-154 — tx ∥ trace under one join); lifecycle:
    // stream with a lagging trace provider → fix heals the gap → full
    // verify of all three kinds comes back clean
    import graft.sources.AvroArchiveSource
    import graft.model.Schemas
    import java.sql.Timestamp
    def h64(n: Long) = f"$n%064x"
    def bjson(h: Long) =
      s"""{"hash":"${h64(h)}","previousblockhash":"${h64(h - 1)}","height":$h,"tx":["TX$h"],"time":$h}"""
    val dir = Files.createTempDirectory("graft-stream-traces").toString
    val heads = Files.createTempDirectory("graft-heads-traces").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-traces").toString
    (200L to 204L).map(h => (h, h64(h), h64(h - 1), bjson(h)))
      .toDF("height", "blockId", "parentId", "payload")
      .coalesce(1).write.mode("append").parquet(heads)
    val schema = StructType(Seq(
      StructField("height", LongType), StructField("blockId", StringType),
      StructField("parentId", StringType), StructField("payload", StringType)))
    def txRow(h: Long) = org.apache.spark.sql.Row("BITCOIN", "BTC",
      new Timestamp(0L), h, h64(h), new Timestamp(h), 0L, s"TX$h",
      """{"ok":true}""".getBytes("UTF-8"), Array[Byte](1), null, null, null)
    def traceRow(h: Long) = org.apache.spark.sql.Row("BITCOIN", "BTC",
      new Timestamp(0L), h, h64(h), new Timestamp(h), 0L, s"TX$h",
      s"""{"trace":$h}""".getBytes("UTF-8"), null)
    val rawTxes = spark.createDataFrame(
      spark.sparkContext.parallelize((200L to 204L).map(txRow), 2), Schemas.transaction)
    val allTraces = spark.createDataFrame(
      spark.sparkContext.parallelize((200L to 204L).map(traceRow), 2), Schemas.trace)
    // trace provider lags: only 200..202 available while streaming
    Commands.streamAvro(spark, heads, schema, dir, ckpt,
      rawTxes = Some(rawTxes),
      rawTraces = Some(allTraces.filter(col("height") <= 202)))
    assert(AvroArchiveSource.listAvroFiles(spark, dir).size === 13)
    // fix heals the missing traces, fork-named so they join the same
    // (range, fork) groups as their streamed blocks
    val healed = Commands.fixAvro(spark, dir, Map("traces" -> allTraces),
      200L, 204L, forkHashCol = Some("blockId"))
      .orderBy("height").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(healed.toSeq === Seq(("traces", 203L), ("traces", 204L)))
    assert(AvroArchiveSource.listAvroFiles(spark, dir).size === 15)
    // full verify of all three kinds: coverage, txid reconciliation from
    // the block JSON, trace payload non-null — one merged batch, clean
    val canonical = (200L to 204L).map(h => h -> h64(h)).toDF("height", "hash")
    val r = Commands.verifyFull(spark, dir, graft.model.BitcoinAdapter,
      200L, 204L, canonical,
      VerifyFull.Options(checkTxes = true, checkTraces = true, includeTrace = true))
    assert(r.deleted.isEmpty, r.deleted)
    val v = r.batches.collect()
    assert(v.length === 1)
    assert(v.head.getAs[Boolean]("blocks_ok"))
    assert(v.head.getAs[Boolean]("txes_ok"))
    assert(v.head.getAs[Boolean]("traces_ok"))
    assert(v.head.getAs[Long]("group_s") === 200L && v.head.getAs[Long]("group_e") === 204L)
  }

  /** Heads at `hs` (blockId = the padded height), their schema, and one tx
    * row per (height, index) of `txs`, split over two partitions in order.
    */
  private object StreamFixture {
    import graft.model.Schemas
    import java.sql.Timestamp
    def h64(n: Long) = f"$n%064x"
    val schema = StructType(Seq(
      StructField("height", LongType), StructField("blockId", StringType),
      StructField("parentId", StringType), StructField("payload", StringType)))
    def heads(hs: Seq[Long]): String = {
      val dir = Files.createTempDirectory("graft-heads-keys").toString
      hs.map(h => (h, h64(h), h64(h - 1), s"""{"height":$h}"""))
        .toDF("height", "blockId", "parentId", "payload")
        .coalesce(1).write.mode("append").parquet(dir)
      dir
    }
    def txes(txs: Seq[(Long, Long)]) = spark.createDataFrame(
      spark.sparkContext.parallelize(txs.map { case (h, i) =>
        org.apache.spark.sql.Row("BITCOIN", "BTC", new Timestamp(0L), h, h64(h),
          new Timestamp(h), i, s"TX$h-$i", """{"ok":true}""".getBytes("UTF-8"),
          Array[Byte](1), null, null, null)
      }, 2), Schemas.transaction)
  }

  test("streamAvro lands a companion whose raw rows sit in two partitions as one single") {
    import graft.sources.AvroArchiveSource
    import StreamFixture._
    val dir = Files.createTempDirectory("graft-stream-split").toString
    // the two txes of height 301 land in different partitions of the source
    val raw = txes(Seq((301L, 0L), (300L, 0L), (302L, 0L), (301L, 1L)))
    assert(raw.rdd.glom().collect().map(_.map(_.getAs[Long]("height")).toSeq).toSeq ===
      Seq(Seq(301L, 300L), Seq(302L, 301L)))
    Commands.streamAvro(spark, heads(300L to 302L), schema, dir,
      Files.createTempDirectory("graft-ckpt-split").toString, rawTxes = Some(raw))
    val txFiles = AvroArchiveSource.listAvroFiles(spark, dir).filter(_.endsWith(".txes.avro"))
    assert(txFiles.size === 3, txFiles)
    val single = txFiles.filter(_.contains(s"000000301.${h64(301)}.txes.avro"))
    assert(single.size === 1, txFiles)
    val rows = AvroArchiveSource.read(spark, single.head, "txes")
    assert(rows.select("index").as[Long].collect().sorted.toSeq === Seq(0L, 1L))
  }

  test("a replayed streamAvro batch archives the txes of blocks that already landed") {
    // the shape of a crash after the block singles landed and before the
    // txes did: the replay skips every block single, and the txes still land
    import graft.sources.{AvroArchiveSink, AvroArchiveSource}
    import StreamFixture._
    val dir = Files.createTempDirectory("graft-stream-replay").toString
    val headsDir = heads(400L to 404L)
    val blocks = spark.read.parquet(headsDir).select(
      lit("BITCOIN").as("blockchainType"), lit("BITCOIN").as("blockchainId"),
      to_timestamp(lit(0)).as("archiveTimestamp"), col("height"), col("blockId"),
      col("parentId"), to_timestamp(col("height")).as("timestamp"),
      col("payload").cast("binary").as("json"), lit(0).as("unclesCount"),
      lit(null).cast("binary").as("uncle0Json"), lit(null).cast("binary").as("uncle1Json"))
    assert(AvroArchiveSink.writeSingles(blocks, "blocks", dir, forkHashCol = Some("blockId")) === 5L)
    Commands.streamAvro(spark, headsDir, schema, dir,
      Files.createTempDirectory("graft-ckpt-replay").toString,
      rawTxes = Some(txes((400L to 404L).map(_ -> 0L))))
    val names = AvroArchiveSource.listAvroFiles(spark, dir).map(p => p.substring(p.lastIndexOf('/') + 1))
    assert(names.sorted === (400L to 404L).flatMap(h =>
      Seq(f"$h%09d.${h64(h)}.block.avro", f"$h%09d.${h64(h)}.txes.avro")).sorted)
    assert(AvroArchiveSource.readArchive(spark, dir, "txes").count() === 5L)
  }

  test("archiveAvro backfills chunk-aligned range files with notifications") {
    import graft.sources.AvroArchiveSource
    import graft.model.Schemas
    import java.sql.Timestamp
    def h64(n: Long) = f"$n%064x"
    val dir = Files.createTempDirectory("graft-archive-avro").toString
    val notifyDir = Files.createTempDirectory("graft-aa-notify").toString
    val records = spark.createDataFrame(
      spark.sparkContext.parallelize((0L to 249L).map { h =>
        org.apache.spark.sql.Row("BITCOIN", "BTC", new Timestamp(0L), h,
          h64(h), h64(h - 1), new Timestamp(h),
          s"""{"height":$h}""".getBytes("UTF-8"), 0, null, null)
      }, 8), Schemas.block)
    val n = Commands.archiveAvro(spark, records, dir, 0L, 249L, chunkSize = 100L,
      opts = Commands.RunOptions(notifyDir = Some(notifyDir)))
    assert(n === 250L)
    val files = AvroArchiveSource.listAvroFiles(spark, dir)
      .map(p => p.substring(p.lastIndexOf('/') + 1)).sorted
    assert(files === Seq(
      "range-000000000_000000099.blocks.avro",
      "range-000000100_000000199.blocks.avro",
      "range-000000200_000000249.blocks.avro")) // partial chunk covers what exists
    assert(AvroArchiveSource.readArchive(spark, dir, "blocks").count() === 250L)
    // notifications: one full-shape line per range file
    val lines = spark.read.text(notifyDir).collect().map(_.getString(0))
    assert(lines.length === 3)
    assert(lines.forall(_.contains("\"version\":\"https://schema.emrld.io/dshackle-archive/notify\"")))
    assert(lines.exists(_.contains("\"location\":\"range-000000000_000000099.blocks.avro\"")))
    // re-run: create-if-absent, nothing duplicated
    assert(Commands.archiveAvro(spark, records, dir, 0L, 249L, chunkSize = 100L) === 0L)
    assert(AvroArchiveSource.listAvroFiles(spark, dir).size === 3)
  }

  test("streamAvroContinue backfills the tail then follows; verify settles overlaps") {
    import graft.sources.{AvroArchiveSink, AvroArchiveSource}
    import graft.model.Schemas
    import java.sql.Timestamp
    def h64(n: Long) = f"$n%064x"
    def bjson(h: Long) =
      s"""{"hash":"${h64(h)}","previousblockhash":"${h64(h - 1)}","height":$h,"tx":[],"time":$h}"""
    def blockRec(h: Long) = org.apache.spark.sql.Row(
      "BITCOIN", "BTC", new Timestamp(0L), h, h64(h), h64(h - 1),
      new Timestamp(h), bjson(h).getBytes("UTF-8"), 0, null, null)
    val dir = Files.createTempDirectory("graft-continue").toString
    val heads = Files.createTempDirectory("graft-continue-heads").toString
    val ckpt = Files.createTempDirectory("graft-continue-ckpt").toString
    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize((80L to 99L).map(blockRec), 4), Schemas.block)
    // 80..89 already archived; 90..94 were missed; heads announce 95..99
    AvroArchiveSink.writeSingles(raw.filter(col("height") <= 89), "blocks", dir)
    (95L to 99L).map(h => (h, h64(h), h64(h - 1), bjson(h)))
      .toDF("height", "blockId", "parentId", "payload")
      .coalesce(1).write.mode("append").parquet(heads)
    val schema = StructType(Seq(
      StructField("height", LongType), StructField("blockId", StringType),
      StructField("parentId", StringType), StructField("payload", StringType)))

    val healed = Commands.streamAvroContinue(spark, heads, schema, dir, ckpt,
      Map("blocks" -> raw), depth = 15L)
      .orderBy("height").collect().map(_.getLong(1))
    // head=99, window [84,99]: exactly the unarchived 90..99 healed
    assert(healed.toSeq === (90L to 99L))
    // fix wrote plain singles 90..99; the follow ALSO wrote hash-named
    // 95..99 (the reference's overlap — stream never overwrites)
    assert(AvroArchiveSource.listAvroFiles(spark, dir).size === 25)

    // verify settles the contested heights to the canonical hash-named file
    val canonical = (80L to 99L).map(h => h -> h64(h)).toDF("height", "hash")
    val r = Commands.verifyFull(spark, dir, graft.model.BitcoinAdapter,
      80L, 99L, canonical, VerifyFull.Options(checkTxes = false, fixClean = true))
    assert(r.deleted.size === 5) // the plain 95..99 duplicates
    assert(r.deleted.map(_._2).forall(_ == "forked-out"))
    assert(AvroArchiveSource.listAvroFiles(spark, dir).size === 20)
    assert(r.batches.collect().forall(_.getAs[Boolean]("blocks_ok")))
  }

  test("fix --tail heals only the tail window; verify --tail audits the archive head") {
    import graft.sources.{AvroArchiveSink, AvroArchiveSource}
    import graft.model.Schemas
    import java.sql.Timestamp
    def h64(n: Long) = f"$n%064x"
    def bjson(h: Long) =
      s"""{"hash":"${h64(h)}","previousblockhash":"${h64(h - 1)}","height":$h,"tx":[],"time":$h}"""
    def blockRec(h: Long) = org.apache.spark.sql.Row(
      "BITCOIN", "BTC", new Timestamp(0L), h, h64(h), h64(h - 1),
      new Timestamp(h), bjson(h).getBytes("UTF-8"), 0, null, null)
    val dir = Files.createTempDirectory("graft-tail-fix").toString
    val raw = spark.createDataFrame(
      spark.sparkContext.parallelize((80L to 99L).map(blockRec), 4), Schemas.block)
    // archived 80..99 EXCEPT 82 (outside any tail-10 window) and 93 (inside)
    AvroArchiveSink.writeSingles(
      raw.filter(col("height") =!= 82L && col("height") =!= 93L), "blocks", dir)
    // raw head = 99, margin 4 → window [85, 95]: only 93 heals; 82 stays
    val healed = Commands.fixAvroTail(spark, dir, Map("blocks" -> raw), tailN = 10L)
      .collect().map(_.getLong(1)).sorted
    assert(healed.toSeq === Seq(93L))
    // verify --tail 10 anchors at the ARCHIVE head (99): window [89, 99]
    // is now gap-free and clean; the hole at 82 is out of scope
    val canonical = (80L to 99L).map(h => h -> h64(h)).toDF("height", "hash")
    val r = Commands.verifyFullTail(spark, dir, graft.model.BitcoinAdapter,
      tailN = 10L, canonical, VerifyFull.Options(checkTxes = false))
    assert(r.deleted.isEmpty, r.deleted)
    assert(r.batches.collect().forall(_.getAs[Boolean]("blocks_ok")))
    assert(AvroArchiveSource.listAvroFiles(spark, dir).size === 19) // 82 still missing
  }

  test("archive --tail selects the last N below head-4") {
    val dir = Files.createTempDirectory("graft-tail-arch").toString
    val raw = rawChain(0L to 299L)
    assert(Commands.tailRange(raw, 50L) === ((245L, 295L)))
    Commands.archiveTail(spark, raw, dir, 50L, chunkSize = 100L)
    val got = spark.read.parquet(s"$dir/blocks").select("height").as[Long].collect().sorted
    assert(got.toSeq === (245L to 295L))
  }
}
