package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.{Op, Tables}
import graft.archive.{Catalog, Filenames, Sinks}

/** Sources / sinks (SURVEY.md §2.1). Avro container files are the
  * reference's storage format; this engine stores parquet (the container
  * ships no spark-avro jar and the harness fixtures are parquet) — the op
  * semantics (schema-pinned scan, codec'd atomic sink, catalog listing,
  * notifications) are format-independent.
  */
object SourceSinkOps {

  // Per-JVM-run unique root so two concurrent harness runs (e.g. Verify and
  // Bench) never share side-effect directories.
  private val runRoot: String =
    Files.createTempDirectory("graft-run-").toAbsolutePath.toString

  private def tmpDir(name: String): String =
    new java.io.File(runRoot, name).getAbsolutePath

  private def clearDir(path: String): Unit = {
    val f = new java.io.File(path)
    Option(f.listFiles()).foreach(_.foreach(_.delete()))
    f.mkdirs()
  }

  /** Stream-decode REAL Avro container files with a fixed static schema —
    * never inference (reference: src/storage/avro_reader.rs:28-70): write
    * lineitem as an Avro archive once, then scan+aggregate it through the
    * container decoder.
    */
  val scanAvro: Op = Op.sql(
    "scan-avro",
    """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  ) { (s, d) =>
    val li = Tables.lineitem(s, d)
    val out = tmpDir("scan-avro")
    clearDir(out)
    // One container per partition is the sink's contract, and the fixture
    // parquet is a single ~11 MB file → ONE input partition → a
    // single-task encode AND a single container, which the scan never
    // splits (a single-task decode). Spread the row-at-a-time Avro encode
    // across the cores first — this is exactly what a real archive job
    // does by partitioning on the chunk column (write() scaladoc), spelled
    // neutrally for a chunkless table.
    val parts = s.sparkContext.defaultParallelism
    graft.sources.AvroArchiveSink.write(li.repartition(parts), "lineitem", out,
      codec = "snappy")
    graft.sources.AvroArchiveSource.read(s, s"$out/*.avro", li.schema)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
      .orderBy("l_returnflag")
  }

  /** The DataSourceV2 read path ([[graft.sources.v2.AvroArchiveDataSource]]):
    * write a height-keyed blocks archive as contiguous range files, then
    * query it through `spark.read.format("avro-archive")` with a height
    * BETWEEN predicate — the connector prunes non-intersecting container
    * FILES at plan time from the filename ranges alone (the archive's
    * filename is its zone map, reference src/archiver/filenames.rs:51-83)
    * and converts only the pruned column set. V2ConnectorSpec asserts the
    * planned container count actually shrinks; this op gates the row values.
    */
  val scanAvroPruned: Op = Op.sql(
    "scan-avro-pruned",
    """SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_h
      |FROM orders WHERE o_orderkey BETWEEN 2000 AND 4999""".stripMargin
  ) { (s, d) =>
    // fresh dir per build: the blocks layout nests under l1 subdirs, which
    // clearDir does not recurse into, and the sink's never-overwrite
    // guard (correctly) refuses a re-write of the same range file
    val out = tmpDir(
      "scan-avro-v2-" + java.util.UUID.randomUUID().toString.take(8))
    clearDir(out)
    val recs = Tables.orders(s, d).select(
      lit("BITCOIN").as("blockchainType"), lit("BTC").as("blockchainId"),
      to_timestamp(lit(0)).as("archiveTimestamp"),
      col("o_orderkey").as("height"),
      sha2(col("o_orderkey").cast("string"), 256).as("blockId"),
      sha2((col("o_orderkey") - 1).cast("string"), 256).as("parentId"),
      to_timestamp(col("o_orderkey")).as("timestamp"),
      col("o_orderkey").cast("string").cast("binary").as("json"),
      lit(0).as("unclesCount"),
      lit(null).cast("binary").as("uncle0Json"),
      lit(null).cast("binary").as("uncle1Json"))
    // contiguous height ranges → non-overlapping range-file names → the
    // connector's filename pruning has real selectivity
    graft.sources.AvroArchiveSink.write(
      recs.repartitionByRange(32, col("height")), "blocks", out)
    s.read.format("avro-archive").option("kind", "blocks").load(out)
      .where(col("height").between(2000, 4999))
      .agg(count(lit(1)).as("n"), sum("height").as("sum_h"))
  }

  /** The DataSourceV2 WRITE path through its public entry,
    * `df.write.format("avro-archive")`: the one container write the sink's
    * wrappers also plan — task temps + serial claim/rename in the driver's
    * `BatchWrite.commit` (speculative attempts can't race a claim; Spark's
    * task-commit coordination delivers one message per partition). Entry
    * roundtrip: the format's default layout lands range files and
    * `readArchive` (the V2 scan over the listed files) reads them back;
    * scan-avro-pruned covers the other pair (sink wrapper → format load).
    */
  val sinkAvroV2: Op = Op.sql(
    "sink-avro-v2",
    """SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_h,
      |       CAST(max(o_orderkey) AS BIGINT) AS max_h
      |FROM orders""".stripMargin
  ) { (s, d) =>
    val out = tmpDir(
      "sink-avro-v2-" + java.util.UUID.randomUUID().toString.take(8))
    clearDir(out)
    val recs = Tables.orders(s, d).select(
      lit("BITCOIN").as("blockchainType"), lit("BTC").as("blockchainId"),
      to_timestamp(lit(0)).as("archiveTimestamp"),
      col("o_orderkey").as("height"),
      sha2(col("o_orderkey").cast("string"), 256).as("blockId"),
      sha2((col("o_orderkey") - 1).cast("string"), 256).as("parentId"),
      to_timestamp(col("o_orderkey")).as("timestamp"),
      col("o_orderkey").cast("string").cast("binary").as("json"),
      lit(0).as("unclesCount"),
      lit(null).cast("binary").as("uncle0Json"),
      lit(null).cast("binary").as("uncle1Json"))
    recs.repartitionByRange(16, col("height"))
      .write.format("avro-archive").option("kind", "blocks")
      .mode("append").save(out)
    graft.sources.AvroArchiveSource.readArchive(s, out, "blocks")
      .agg(count(lit(1)).as("n"), sum("height").as("sum_h"),
        max("height").as("max_h"))
  }

  /** Local filesystem sink in the reference's ACTUAL format — Avro object
    * containers with zstd (reference: src/storage/fs.rs:135-219,
    * src/global.rs:34-46): write via AvroArchiveSink, decode back via
    * AvroArchiveSource, prove content parity against the source table.
    */
  val sinkAvroFs: Op = Op.sql(
    "sink-avro-fs",
    """SELECT count(*) AS n, max(o_orderkey) AS max_h,
      |       round(sum(o_totalprice), 2) AS total
      |FROM orders""".stripMargin
  ) { (s, d) =>
    val out = tmpDir("sink-fs")
    clearDir(out)
    val orders = Tables.orders(s, d)
    graft.sources.AvroArchiveSink.write(orders, "orders", out, codec = "zstd")
    graft.sources.AvroArchiveSource.read(s, s"$out/*.avro", orders.schema)
      .agg(count(lit(1)).as("n"), max("o_orderkey").as("max_h"),
        round(sum("o_totalprice"), 2).as("total"))
  }

  /** Object-store sink — same `df.write` against an object-store URI where
    * the Hadoop committer replaces the reference's hand-rolled multipart
    * pipe (src/storage/objects.rs:170-330). Offline container: exercised
    * through an explicit `file://` URI on the same committer path.
    */
  val sinkAvroS3: Op = Op.sql(
    "sink-avro-s3",
    """SELECT count(*) AS n, max(event_id) AS max_id FROM events""".stripMargin
  ) { (s, d) =>
    val out = "file://" + tmpDir("sink-s3")
    Sinks.writeArchive(Tables.events(s, d), out, codec = "snappy", overwrite = true)
    s.read.parquet(out)
      .agg(count(lit(1)).as("n"), max("event_id").as("max_id"))
  }

  /** Codec matrix round-trip (reference: snappy | zstd(9),
    * src/global.rs:34-46): content is identical through either codec.
    */
  val compress: Op = Op.sql(
    "compress",
    """SELECT 'snappy' AS codec, count(*) AS n FROM orders
      |UNION ALL
      |SELECT 'zstd' AS codec, count(*) AS n FROM orders
      |ORDER BY codec""".stripMargin
  ) { (s, d) =>
    val o = Tables.orders(s, d)
    val outs = Seq("snappy", "zstd").map { c =>
      val out = tmpDir(s"codec-$c")
      Sinks.writeArchive(o, out, codec = c, overwrite = true)
      s.read.parquet(out).agg(count(lit(1)).as("n")).select(lit(c).as("codec"), col("n"))
    }
    outs.reduce(_ union _).orderBy("codec")
  }

  /** List archive files intersecting a range, sorted — via a real
    * partitioned write + `input_file_name()` catalog read-back
    * (reference: src/storage/objects.rs:79-168, sorted_files.rs:6-44).
    */
  val listFiles: Op = Op.sql(
    "list-files",
    """SELECT CAST(floor(o_orderkey / 1000) AS BIGINT) * 1000 AS l2,
      |       count(*) AS n, 1 AS n_files
      |FROM orders GROUP BY l2 ORDER BY l2""".stripMargin
  ) { (s, d) =>
    val out = tmpDir("catalog")
    val o = Tables.orders(s, d).withColumn("l2", Filenames.l2(col("o_orderkey")))
    o.repartition(col("l2"))
      .write.mode("overwrite").partitionBy("l2").parquet(out)
    val back = s.read.parquet(out)
      .withColumn("_file", input_file_name())
    back.groupBy("l2")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("_file")).cast("int").as("n_files"))
      .select(col("l2").cast("long").as("l2"), col("n"), col("n_files"))
      .orderBy("l2")
  }

  /** One JSON notification line per written file (reference:
    * src/notify/mod.rs:12-62, fs.rs:18-46) — deterministic string build.
    */
  val sinkNotifyJsonl: Op = Op.sql(
    "sink-notify-jsonl",
    """SELECT concat('{"blockchain":"ETH","type":"blocks","run":"archive","maturity":"finalized","heightStart":',
      |              CAST(start_h AS VARCHAR),
      |              ',"heightEnd":', CAST(end_h AS VARCHAR),
      |              ',"location":"', file, '"}') AS notification
      |FROM (
      |  SELECT DISTINCT CAST(floor(o_orderkey / 100) AS BIGINT) * 100 AS start_h,
      |         CAST(floor(o_orderkey / 100) AS BIGINT) * 100 + 99 AS end_h,
      |         concat('range-', lpad(CAST(CAST(floor(o_orderkey / 100) AS BIGINT) * 100 AS VARCHAR), 9, '0'),
      |                '_', lpad(CAST(CAST(floor(o_orderkey / 100) AS BIGINT) * 100 + 99 AS VARCHAR), 9, '0'),
      |                '.blocks.avro') AS file
      |  FROM orders) t
      |ORDER BY notification""".stripMargin
  ) { (s, d) =>
    val chunk = floor(col("o_orderkey") / 100).cast("long") * 100
    val files = Tables.orders(s, d).select(
      chunk.as("start_h"), (chunk + 99).as("end_h"),
      Filenames.rangeFile(chunk, chunk + 99, "blocks").as("file"),
      lit("blocks").as("kind")).distinct()
    Sinks.notificationLines(files, "ETH", "archive", "finalized")
      .orderBy("notification")
  }

  /** Head-subscription source (reference: src/blockchain/connection.rs:113-154)
    * — batch equivalent: the ordered stream of observed head heights. The
    * live path is graft.streaming.HeadStream.
    */
  val srcHeadStream: Op = Op.sql(
    "src-head-stream",
    """SELECT epoch_us(ts) AS ts_us, event_id AS height
      |FROM events WHERE event_type = 'view'
      |ORDER BY ts_us, height""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .filter(col("event_type") === "view")
      .select(expr("ts div 1000").as("ts_us"), col("event_id").as("height"))
      .orderBy("ts_us", "height")
  }

  /** gRPC fetch boundary (reference: src/blockchain/connection.rs:53-111)
    * — modeled as a pre-fetched raw table + a `mapPartitions` connector
    * shim (the per-partition imperative seam where a production connector
    * would hold its channel + semaphore).
    */
  val srcGrpc: Op = Op.sql(
    "src-grpc",
    """SELECT o_orderkey AS height, concat('blk-', CAST(o_orderkey AS VARCHAR)) AS payload
      |FROM orders ORDER BY height""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    Tables.orders(s, d)
      .select(col("o_orderkey").as("height")).as[Long]
      .mapPartitions { heights =>
        // Connector seam: one channel per partition, bounded in-flight
        // requests (reference semaphores api=16), every fetch wrapped in
        // the reference's retry budget (exp 100ms×1.75 cap 2s, jittered,
        // 10 attempts — graft.sources.Retry mirrors ethereum.rs:27-30).
        // Offline: a deterministic flaky stand-in (every 1000th height
        // fails once) exercises the retry path without changing output.
        val delays = graft.sources.Retry.schedule()
        val failedOnce = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
        val cap = graft.sources.Concurrency.blocksParallel(
          graft.sources.Concurrency.apiParallel(16))
        graft.sources.Concurrency.boundedFetch(heights, cap, kind = "blocks") { h =>
          graft.sources.Retry.withRetries(delays, sleep = _ => ()) { () =>
            if (h % 1000 == 0 && !failedOnce.contains(h)) {
              failedOnce.add(h)
              throw new java.io.IOException(s"transient fetch error at $h")
            }
            (h, s"blk-$h")
          }
        }
      }
      .toDF("height", "payload")
      .orderBy("height")
  }

  /** End-to-end verify-command integrity check: synthesize a 50-block
    * chain (sha2 hashes, Bitcoin-shaped JSON), archive it as REAL
    * hash-named Avro singles, then run the FULL verify pipeline
    * (graft.commands.VerifyFull — preprocess, merge_small, content
    * checks, chain links, top hash). The expected verdict is fully
    * determined: one merged [0,49] batch, blocks_ok, nothing deleted —
    * so the oracle pins exactly that. Any regression anywhere in the
    * sink/reader/catalog/verify stack flips a field.
    */
  val verifyFullRoundtrip: Op = Op.sql(
    "verify-full-roundtrip",
    """SELECT CAST(0 AS BIGINT) AS group_s, CAST(49 AS BIGINT) AS group_e,
      |       TRUE AS blocks_ok, CAST(50 AS BIGINT) AS n_blocks,
      |       CAST(0 AS BIGINT) AS n_deleted""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    val dir = tmpDir("verify-full")
    clearDir(dir)
    val raw = s.range(0, 50).toDF("height")
      .withColumn("blockId", sha2(col("height").cast("string"), 256))
      .withColumn("parentId", sha2((col("height") - 1).cast("string"), 256))
      .withColumn("payload", concat(
        lit("{\"hash\":\""), col("blockId"),
        lit("\",\"previousblockhash\":\""), col("parentId"),
        lit("\",\"height\":"), col("height"),
        lit(",\"tx\":[],\"time\":"), col("height"), lit("}")))
    val records = raw.select(
      lit("BITCOIN").as("blockchainType"), lit("BTC").as("blockchainId"),
      to_timestamp(lit(0)).as("archiveTimestamp"),
      col("height"), col("blockId"), col("parentId"),
      to_timestamp(col("height")).as("timestamp"),
      col("payload").cast("binary").as("json"),
      lit(0).as("unclesCount"),
      lit(null).cast("binary").as("uncle0Json"),
      lit(null).cast("binary").as("uncle1Json"))
    graft.sources.AvroArchiveSink.writeSingles(records, "blocks", dir,
      forkHashCol = Some("blockId"))
    val canonical = raw.select(col("height"), col("blockId").as("hash"))
    val report = graft.commands.VerifyFull.run(s, dir, graft.model.BitcoinAdapter,
      0L, 49L, canonical,
      graft.commands.VerifyFull.Options(checkTxes = false))
    report.batches.select(
      col("group_s"), col("group_e"), col("blocks_ok"),
      col("b_n").as("n_blocks"), lit(report.deleted.size.toLong).as("n_deleted"))
  }

  private val promLeValues = graft.archive.Sinks.BlockTimeBuckets.zipWithIndex
    .map { case (b, i) => s"($i, '${b.toString}', ${b.toString})" }.mkString(", ")

  /** Prometheus text-exposition payload for the metrics zone (reference:
    * src/metrics/archive.rs counters+histogram; server.rs serves this
    * format at /metrics — the HTTP server is transport infra, the payload
    * is the engine's). Items/bytes counters by kind×direction from the
    * events table; blockTime histogram over value/100 seconds with the
    * reference's bucket boundaries. Every emitted value is an integer, so
    * the lines are engine-exact.
    */
  val sinkMetricsProm: Op = Op.sql(
    "sink-metrics-prom",
    s"""WITH items AS (
       |  SELECT event_type AS kind,
       |         CASE WHEN user_id % 2 = 0 THEN 'in' ELSE 'out' END AS direction,
       |         count(*) AS items,
       |         CAST(sum(CAST(round(value) AS BIGINT)) AS BIGINT) AS bytes
       |  FROM events GROUP BY 1, 2),
       |durs AS (SELECT value / 100 AS s FROM events),
       |le(idx, le, b) AS (SELECT * FROM (VALUES $promLeValues)),
       |lines AS (
       |  SELECT printf('graft_archive_items_total{type="%s",direction="%s"} %d',
       |                kind, direction, items) AS line FROM items
       |  UNION ALL
       |  SELECT printf('graft_archive_bytes_total{type="%s",direction="%s"} %d',
       |                kind, direction, bytes) FROM items
       |  UNION ALL
       |  SELECT printf('graft_archive_blockTime_seconds_bucket{le="%s"} %d',
       |                le.le, (SELECT count(*) FROM durs WHERE s <= le.b)) FROM le
       |  UNION ALL
       |  SELECT printf('graft_archive_blockTime_seconds_bucket{le="+Inf"} %d',
       |                (SELECT count(*) FROM durs))
       |  UNION ALL
       |  SELECT printf('graft_archive_blockTime_seconds_count %d',
       |                (SELECT count(*) FROM durs))
       |  UNION ALL
       |  SELECT printf('graft_archive_blockTime_milliseconds_sum %d',
       |                (SELECT CAST(sum(round(s * 1000)) AS BIGINT) FROM durs)))
       |SELECT line FROM lines ORDER BY line""".stripMargin
  ) { (s, d) =>
    val e = Tables.events(s, d)
    val items = e.groupBy(col("event_type").as("kind"),
        when(col("user_id") % 2 === 0, lit("in")).otherwise(lit("out")).as("direction"))
      .agg(count(lit(1)).as("items"),
        sum(round(col("value")).cast("long")).as("bytes"))
    val durations = e.select((col("value") / 100).as("seconds"))
    graft.archive.Sinks.prometheusLines(items, durations).orderBy("line")
  }

  val ops: Seq[Op] = Seq(scanAvro, scanAvroPruned, sinkAvroFs, sinkAvroS3,
    sinkAvroV2, compress, listFiles, sinkNotifyJsonl, srcHeadStream, srcGrpc,
    verifyFullRoundtrip, sinkMetricsProm)
}
