package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Drives the live Structured Streaming paths (reference behaviors:
  * src/command/stream.rs, src/blockchain/next_block.rs:42-100).
  */
class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private val headSchema = StructType(Seq(
    StructField("height", LongType), StructField("hash", StringType)))

  test("followHeads archives each head once via foreachBatch") {
    val dir = Files.createTempDirectory("graft-heads").toString
    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    Seq(Head(10L, "a"), Head(11L, "b"), Head(12L, "c")).toDF()
      .coalesce(1).write.mode("append").parquet(dir)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streams.followHeads(spark, dir, headSchema, ckpt) { (batch, _) =>
      seen ++= batch.select("height").as[Long].collect()
    }
    q.awaitTermination(60000)
    assert(seen.sorted.toSeq === Seq(10L, 11L, 12L))
  }

  test("followHeads stops a query that outlives its timeout and throws, naming it") {
    val dir = Files.createTempDirectory("graft-heads-slow").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-slow").toString
    Seq(Head(20L, "a")).toDF().coalesce(1).write.mode("append").parquet(dir)
    val release = new java.util.concurrent.CountDownLatch(1)
    val saved = Streams.followTimeoutMs
    Streams.followTimeoutMs = 2000L
    val ex =
      try intercept[java.util.concurrent.TimeoutException] {
        Streams.followHeads(spark, dir, headSchema, ckpt) { (_, _) =>
          release.await(60, java.util.concurrent.TimeUnit.SECONDS)
          ()
        }
      } finally {
        Streams.followTimeoutMs = saved
        release.countDown()
      }
    val running = spark.streams.active.map(_.id.toString)
    assert(running.isEmpty, s"queries still running after the timeout: ${running.mkString(", ")}")
    val named = """stream query (\S+) """.r.findFirstMatchIn(ex.getMessage).map(_.group(1))
    assert(named.exists(q => scala.util.Try(java.util.UUID.fromString(q)).isSuccess),
      s"the message must name the query id: ${ex.getMessage}")
  }

  test("finalizedFollower dedups and gap-fills oldest-first across batches") {
    // Memory-source streaming: two batches — 5 then {4 (dup), 8 (gap)}.
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Head](spark, 1)
    val out = Streams.finalizedFollower(input.toDS())
    val q = out.writeStream
      .format("memory").queryName("fin_out")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    input.addData(Head(5L, "h5"))
    q.processAllAvailable()
    input.addData(Head(4L, "h4-dup"), Head(8L, "h8"))
    q.processAllAvailable()
    val rows = spark.table("fin_out")
      .orderBy("height")
      .as[FinalizedHeight].collect().toSeq
    q.stop()
    assert(rows === Seq(
      FinalizedHeight(5L, "h5", backfilled = false),
      FinalizedHeight(6L, "", backfilled = true),
      FinalizedHeight(7L, "", backfilled = true),
      FinalizedHeight(8L, "h8", backfilled = false)))
  }

  test("finalizedFollower isolates per-chain state") {
    // two chains interleave in one stream; gap-fill and dedup must act per
    // chain key, never across (a leak would backfill the B range from A's
    // last height or swallow B's first head as a duplicate)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Head](spark, 3)
    val out = Streams.finalizedFollower(input.toDS(),
      h => if (h.hash.startsWith("a")) "A" else "B")
    val q = out.writeStream
      .format("memory").queryName("fin_multi")
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(0))
      .start()
    input.addData(Head(5L, "a5"), Head(100L, "b100"))
    q.processAllAvailable()
    input.addData(Head(7L, "a7"), Head(4L, "a4-dup"), Head(102L, "b102"))
    q.processAllAvailable()
    val rows = spark.table("fin_multi")
      .orderBy("height").as[FinalizedHeight].collect().toSeq
    q.stop()
    assert(rows === Seq(
      FinalizedHeight(5L, "a5", backfilled = false),
      FinalizedHeight(6L, "", backfilled = true),
      FinalizedHeight(7L, "a7", backfilled = false),
      FinalizedHeight(100L, "b100", backfilled = false),
      FinalizedHeight(101L, "", backfilled = true),
      FinalizedHeight(102L, "b102", backfilled = false)))
  }

  test("watermarked event-time window aggregation over a stream") {
    // the §2.4 agg-throughput semantics, live: tumbling event-time windows
    // with a watermark bounding state
    import java.sql.Timestamp
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, Double)](spark, 2)
    val agg = input.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))
    val q = agg.writeStream
      .format("memory").queryName("thr_out")
      .outputMode(OutputMode.Append)
      .start()
    def t(min: Long) = new Timestamp(3600000L + min * 60000L)
    input.addData((t(5), 1.0), (t(20), 2.0), (t(65), 4.0))
    q.processAllAvailable()
    // advance event time far enough to close the first hour's window
    input.addData((t(200), 8.0))
    q.processAllAvailable()
    val rows = spark.table("thr_out")
      .select(col("window.start").cast("long").as("w"), col("n"), col("total"))
      .orderBy("w").collect()
    q.stop()
    assert(rows.length >= 1)
    assert(rows.head.getLong(1) === 2L)      // two events in hour 1
    assert(rows.head.getDouble(2) === 3.0)
  }

  test("continueBackfill finds the un-archived tail heights") {
    val archived = (900L to 995L).filter(_ % 10 != 0).toDF("height")
    val missing = Streams.continueBackfill(spark, archived, head = 1000L, depth = 100)
      .orderBy("height").as[Long].collect().toSeq
    assert(missing === ((900L to 999L).filter(h => h % 10 == 0 || h > 995L)))
  }

  test("finalizedFollower over the real events table matches its batch op") {
    // replay testdata events (ordered by ts) as observed heads with dups
    // and gaps (event_id div 3, errors dropped) — same construction as the
    // stream-finalized batch op, so outputs must agree.
    import graft.Tables
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf())
      .filter(col("event_type") =!= "error")
      .orderBy("ts")
      .select(expr("event_id div 3").as("height"))
      .as[Long].collect()
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Head](spark, 2)
    val out = Streams.finalizedFollower(input.toDS())
    val q = out.writeStream
      .format("memory").queryName("fin_real")
      .outputMode(OutputMode.Append).start()
    // feed in three batches to exercise cross-batch state
    ev.grouped(math.max(1, ev.length / 3)).foreach { chunk =>
      input.addData(chunk.map(h => Head(h, s"h$h")).toIndexedSeq)
      q.processAllAvailable()
    }
    val streamed = spark.table("fin_real")
      .select("height", "backfilled")
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    q.stop()
    val batch = graft.ops.StreamOps.streamFinalized.build(spark, sf())
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(streamed === batch)
  }

  test("dedupIngest drops in-horizon duplicate documents, state stays bounded") {
    import java.sql.Timestamp
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, String, String)](spark, 3)
    val out = Streams.dedupIngest(
      input.toDF().toDF("ts", "source", "text"), "ts", Seq("text"))
    val q = out.writeStream
      .format("memory").queryName("dedup_ingest")
      .outputMode(OutputMode.Append).start()
    def t(s: Long) = new Timestamp(1700000000000L + s * 1000)
    // batch 1: two distinct docs + one duplicate of the first
    input.addData((t(0), "a", "the quick fox"), (t(1), "b", "lazy dog"),
      (t(2), "c", "the quick fox"))
    q.processAllAvailable()
    // batch 2: another duplicate within the horizon + one new doc
    input.addData((t(30), "d", "lazy dog"), (t(31), "e", "fresh content"))
    q.processAllAvailable()
    val rows = spark.table("dedup_ingest")
      .select("source").as[String].collect().sorted.toSeq
    q.stop()
    // first occurrences only: a (quick fox), b (lazy dog), e (fresh)
    assert(rows === Seq("a", "b", "e"))
  }

  test("dedupIngest state survives a checkpointed restart (no re-admitted dups)") {
    import java.sql.Timestamp
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ckpt-").toAbsolutePath.toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, String, String)](spark, 4)
    val out = Streams.dedupIngest(
      input.toDF().toDF("ts", "source", "text"), "ts", Seq("text"))
    def t(s: Long) = new Timestamp(1700000000000L + s * 1000)
    // the memory sink refuses recovery; foreachBatch is the recoverable
    // sink shape a real deployment uses with this checkpoint
    val admitted = new scala.collection.mutable.ArrayBuffer[String]()
    def start() = out.writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            _: Long) =>
        val srcs = batch.select("source").as[String].collect()
        admitted.synchronized { admitted ++= srcs }
        ()
      }
      .start()
    // run 1: admit two documents, then KILL the query
    val q1 = start()
    input.addData((t(0), "a", "alpha doc"), (t(1), "b", "beta doc"))
    q1.processAllAvailable()
    assert(admitted.synchronized(admitted.sorted.toSeq) == Seq("a", "b"))
    q1.stop()
    // run 2, same checkpoint: in-horizon duplicates of run-1 documents
    // MUST still be dropped — the digest state is restored from the
    // state store, not rebuilt from the (gone) run-1 micro-batches
    admitted.synchronized(admitted.clear())
    val q2 = start()
    input.addData((t(20), "c", "alpha doc"), (t(21), "d", "gamma doc"),
      (t(22), "e", "beta doc"))
    q2.processAllAvailable()
    q2.stop()
    val run2 = admitted.synchronized(admitted.sorted.toSeq)
    assert(run2 == Seq("d"),
      s"restart re-admitted documents already seen before the stop: $run2")
  }

  test("streamed session_window sessionize matches the batch op over real events") {
    import java.sql.Timestamp
    import graft.Tables
    def tsOfMicros(us: Long): Timestamp = {
      val t = new Timestamp((us / 1000000) * 1000)
      t.setNanos(((us % 1000000) * 1000).toInt)
      t
    }
    val ev = Tables.events(spark, sf())
      .select(col("user_id"), expr("ts div 1000").as("ts_us"),
        round(col("value") * 100).cast("long").as("cents"))
      .orderBy("ts_us")
      .collect()
      .map(r => (r.getLong(0), tsOfMicros(r.getLong(1)), r.getLong(2)))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Timestamp, Long)](spark, 2)
    val src = input.toDF().toDF("user_id", "tsc", "cents")
      .withWatermark("tsc", "30 minutes")
    val q = Streams.sessionize(src).writeStream
      .format("memory").queryName("sess_out")
      .outputMode(OutputMode.Append).start()
    // arrival in event-time order across several batches (cross-batch
    // session merge state), then two sentinel batches to push the
    // watermark past every real session's close
    ev.grouped(math.max(1, ev.length / 4)).foreach { chunk =>
      input.addData(chunk.toIndexedSeq); q.processAllAvailable()
    }
    val far = new Timestamp(ev.map(_._2.getTime).max + 365L * 86400000)
    input.addData((-1L, far, 0L)); q.processAllAvailable()
    input.addData((-1L, new Timestamp(far.getTime + 3600000), 0L))
    q.processAllAvailable()
    val streamed = spark.table("sess_out")
      .filter(col("user_id") >= 0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    q.stop()
    val batch = graft.ops.WindowOps.winSessionize.build(spark, sf())
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(streamed === batch,
      s"streamed ${streamed.size} sessions vs batch ${batch.size}")
  }

  test("watermarked stream-stream click attribution matches a batch recompute") {
    import java.sql.Timestamp
    import graft.Tables
    def tsOfMicros(us: Long): Timestamp = {
      val t = new Timestamp((us / 1000000) * 1000)
      t.setNanos(((us % 1000000) * 1000).toInt)
      t
    }
    val ev = Tables.events(spark, sf())
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts div 1000").as("ts_us"))
      .orderBy("ts_us")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, String, Timestamp)](spark, 2)
    val src = input.toDF().toDF("user_id", "event_id", "event_type", "tsc")
    val out = Streams.clickAttributionLive(
      src.filter(col("event_type") === "click"),
      src.filter(col("event_type") === "purchase"))
    val q = out.writeStream
      .format("memory").queryName("attr_out")
      .outputMode(OutputMode.Append).start()
    ev.grouped(math.max(1, ev.length / 3)).foreach { chunk =>
      input.addData(chunk.map { case (u, id, t, us) => (u, id, t, tsOfMicros(us)) }
        .toIndexedSeq)
      q.processAllAvailable()
    }
    val streamed = spark.table("attr_out")
      .select("purchase_id", "click_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    // batch recompute: every (purchase, click) of one user with the click
    // inside the hour before the purchase, inclusive
    val horizonUs = 3600L * 1000000
    val clicks = ev.filter(_._3 == "click").groupBy(_._1)
    val expected = (for {
      (u, pid, t, pts) <- ev if t == "purchase"
      (_, cid, _, cts) <- clicks.getOrElse(u, Array.empty)
      if cts <= pts && cts >= pts - horizonUs
    } yield (pid, cid)).toSet
    assert(streamed === expected,
      s"streamed ${streamed.size} pairs vs expected ${expected.size}")
  }

  test("streamed windowed HLL sketch folds to the batch op's estimates") {
    import java.sql.Timestamp
    import graft.Tables
    def tsOfMicros(us: Long): Timestamp = {
      val t = new Timestamp((us / 1000000) * 1000)
      t.setNanos(((us % 1000000) * 1000).toInt)
      t
    }
    val ev = Tables.events(spark, sf())
      .select(col("event_type"), col("user_id"), expr("ts div 1000").as("ts_us"))
      .orderBy("ts_us")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, Timestamp)](spark, 2)
    val src = input.toDF().toDF("event_type", "user_id", "tsc")
    val q = Streams.hllSketchLive(src).writeStream
      .format("memory").queryName("hll_out")
      .outputMode(OutputMode.Append).start()
    // event-time order across several micro-batches (cross-batch max-rho
    // merge state), then sentinel batches to close every real window
    ev.grouped(math.max(1, ev.length / 4)).foreach { chunk =>
      input.addData(chunk.map { case (t, u, us) => (t, u, tsOfMicros(us)) }
        .toIndexedSeq)
      q.processAllAvailable()
    }
    val far = ev.map(_._3).max + 365L * 86400 * 1000000
    input.addData(("sentinel", -1L, tsOfMicros(far))); q.processAllAvailable()
    input.addData(("sentinel", -1L, tsOfMicros(far + 3600L * 1000000)))
    q.processAllAvailable()
    val sketch = spark.table("hll_out").filter(col("event_type") =!= "sentinel")
    // read-time fold of the streamed sketch == the batch op end to end
    val streamed = graft.sketch.Hll
      .estimate(sketch, Seq("win_us", "event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    q.stop()
    val batch = graft.ops.StreamOps.streamHll.build(spark, sf())
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed === batch,
      s"streamed ${streamed.size} windows vs batch ${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streamed windowed counts fold to the batch stream-topk") {
    import java.sql.Timestamp
    import graft.Tables
    def tsOfMicros(us: Long): Timestamp = {
      val t = new Timestamp((us / 1000000) * 1000)
      t.setNanos(((us % 1000000) * 1000).toInt)
      t
    }
    val ev = Tables.events(spark, sf())
      .select(col("event_type"), col("user_id"), expr("ts div 1000").as("ts_us"))
      .orderBy("ts_us")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, Timestamp)](spark, 2)
    val src = input.toDF().toDF("event_type", "user_id", "tsc")
    val q = Streams.topkCountsLive(src).writeStream
      .format("memory").queryName("topk_out")
      .outputMode(OutputMode.Append).start()
    // several micro-batches so per-(window, user) counts merge across
    // batches, then sentinels past the horizon to close every window
    ev.grouped(math.max(1, ev.length / 4)).foreach { chunk =>
      input.addData(chunk.map { case (t, u, us) => (t, u, tsOfMicros(us)) }
        .toIndexedSeq)
      q.processAllAvailable()
    }
    val far = ev.map(_._3).max + 365L * 86400 * 1000000
    input.addData(("sentinel", -1L, tsOfMicros(far))); q.processAllAvailable()
    input.addData(("sentinel", -1L, tsOfMicros(far + 3600L * 1000000)))
    q.processAllAvailable()
    val counts = spark.table("topk_out").filter(col("event_type") =!= "sentinel")
    // read-time top-k fold of the streamed counts == the batch op
    val streamed = graft.functions.TopK.topkPerGroup(counts,
        Seq("win_us", "event_type"), Seq(col("n").desc, col("user_id")), 3)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    q.stop()
    val batch = graft.ops.StreamOps.streamTopk.build(spark, sf())
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed === batch,
      s"streamed ${streamed.size} rows vs batch ${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("nearDupIngestLive drops cross-batch near-dups via the persisted band index") {
    val indexDir = Files.createTempDirectory("graft-nd-idx").toString
    val ckpt = Files.createTempDirectory("graft-nd-ckpt").toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark, 2)
    val verdicts = scala.collection.mutable.Map.empty[Long, Boolean]
    val q = Streams.nearDupIngestLive(
      input.toDF().toDF("doc_id", "text"), indexDir, ckpt) { (v, _) =>
      v.collect().foreach(r => verdicts(r.getLong(0)) = r.getBoolean(1))
    }
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val other = "kilo lima mike november oscar papa quebec romeo sierra tango"
    input.addData((1L, base), (2L, other))
    q.processAllAvailable()
    // doc 3 = doc 1 plus one appended token (jaccard 10/11 on 3-gram
    // shingles -> shares a band with near-certainty, deterministically);
    // doc 4 is fresh
    input.addData((3L, base + " extra"), (4L, "uniform victor whiskey xray yankee zulu one two three four"))
    q.processAllAvailable()
    q.stop()
    assert(verdicts(1L) && verdicts(2L), "first batch all accepted")
    assert(!verdicts(3L), "cross-batch near-dup dropped via the index")
    assert(verdicts(4L), "fresh doc accepted")
    // the index holds band keys for accepted docs only
    val idxIds = spark.read.parquet(indexDir).select("id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(idxIds === Set(1L, 2L, 4L))
  }

  test("nearDupIngestLive refuses a stale string-format band index") {
    import spark.implicits._
    val indexDir = Files.createTempDirectory("graft-nd-v1idx").toString
    val ckpt = Files.createTempDirectory("graft-nd-v1ckpt").toString
    // a pre-hashed-seam index: string band keys
    Seq((1L, "0_12_45")).toDF("id", "bucket").write.mode("overwrite").parquet(indexDir)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](spark, 2)
    val q = Streams.nearDupIngestLive(
      input.toDF().toDF("doc_id", "text"), indexDir, ckpt) { (_, _) => () }
    input.addData((1L, "alpha bravo charlie delta echo foxtrot golf hotel"))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("rebuild the index")),
      s"expected the format-guard message, got: ${msgs(ex).mkString(" | ")}")
  }

  test("maturity tags the head margin") {
    val df = (95L to 100L).toDF("height")
      .select(col("height"), Streams.maturity(col("height"), lit(100L)).as("m"))
    val m = df.orderBy("height").as[(Long, String)].collect().toSeq
    assert(m === Seq(95L -> "finalized", 96L -> "finalized",
      97L -> "head", 98L -> "head", 99L -> "head", 100L -> "head"))
  }

  test("streamed windowed quantile sketch matches the batch op over real events") {
    import java.sql.Timestamp
    import graft.Tables
    def tsOfMicros(us: Long): Timestamp = {
      val t = new Timestamp((us / 1000000) * 1000)
      t.setNanos(((us % 1000000) * 1000).toInt)
      t
    }
    val ev = Tables.events(spark, sf())
      .select(col("event_type"), expr("ts div 1000").as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      .orderBy("us")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Timestamp, Long)](spark, 2)
    val src = input.toDF().toDF("event_type", "tsc", "cents")
    val q = Streams.quantileSketchLive(src).writeStream
      .format("memory").queryName("quant_out")
      .outputMode(OutputMode.Append).start()
    ev.grouped(math.max(1, ev.length / 4)).foreach { chunk =>
      input.addData(chunk.map { case (et, us, c) => (et, tsOfMicros(us), c) }
        .toIndexedSeq)
      q.processAllAvailable()
    }
    val far = ev.map(_._2).max + 365L * 86400 * 1000000
    input.addData(("sentinel", tsOfMicros(far), 0L)); q.processAllAvailable()
    input.addData(("sentinel", tsOfMicros(far + 3600L * 1000000), 0L))
    q.processAllAvailable()
    val sketch = spark.table("quant_out").filter(col("event_type") =!= "sentinel")
    // read-time fold of the streamed sketch == the batch op end to end
    val streamed = graft.sketch.HistQuantile
      .estimate(sketch, Seq("win_us", "event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    q.stop()
    val batch = graft.ops.StreamOps.streamQuantile.build(spark, sf())
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(streamed === batch,
      s"streamed ${streamed.size} windows vs batch ${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streamed debounce matches the batch op over real events") {
    import java.sql.Timestamp
    import graft.Tables
    def tsOfMicros(us: Long): Timestamp = {
      val t = new Timestamp((us / 1000000) * 1000)
      t.setNanos(((us % 1000000) * 1000).toInt)
      t
    }
    val ev = Tables.events(spark, sf())
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("us"),
        col("event_id"))
      .orderBy("us")
      .collect()
      .map(r => DebounceEvent(r.getLong(0), r.getString(1),
        tsOfMicros(r.getLong(2)), r.getLong(2), r.getLong(3)))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DebounceEvent](spark, 2)
    val src = input.toDS().withWatermark("tsc", "90 days").as[DebounceEvent]
    val q = Streams.debounceLive(src).writeStream
      .format("memory").queryName("debounce_out")
      .outputMode(OutputMode.Append).start()
    // Delivery is deliberately OUT OF ORDER ACROSS batches: each chunk is
    // shuffled and a random ~10% of it is held back into the NEXT batch,
    // so late-but-admitted events (within the 90-day watermark delay)
    // land behind already-seen later events — the cross-batch reordering
    // case the pending-buffer design exists for (an as-they-arrive
    // chaining impl corrupts first_us/lastUs here).
    val rnd = new scala.util.Random(42)
    var held = IndexedSeq.empty[DebounceEvent]
    ev.grouped(math.max(1, ev.length / 4)).foreach { chunk =>
      val shuffled = rnd.shuffle(chunk.toIndexedSeq)
      val (hold, send) = shuffled.partition(_ => rnd.nextDouble() < 0.1)
      input.addData(rnd.shuffle(send ++ held)); q.processAllAvailable()
      held = hold
    }
    if (held.nonEmpty) { input.addData(held); q.processAllAvailable() }
    val far = ev.map(_.us).max + 400L * 86400000000L
    input.addData(DebounceEvent(-1L, "x", tsOfMicros(far), far, 0L))
    q.processAllAvailable()
    input.addData(DebounceEvent(-1L, "x", tsOfMicros(far + 86400000000L * 2),
      far + 86400000000L * 2, 1L))
    q.processAllAvailable()
    val streamed = spark.table("debounce_out")
      .filter(col("user_id") >= 0)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    q.stop()
    val batch = graft.ops.WindowOps.winDebounce.build(spark, sf())
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    assert(streamed === batch,
      s"streamed ${streamed.size} bursts vs batch ${batch.size}")
  }

  test("streamed windowed OHLC equals the batch agg-ohlc under out-of-order arrival") {
    import java.sql.Timestamp
    import graft.Tables
    import org.apache.spark.sql.streaming.OutputMode
    def tsOfMicros(us: Long): Timestamp = {
      val t = new Timestamp((us / 1000000) * 1000)
      t.setNanos(((us % 1000000) * 1000).toInt)
      t
    }
    val ev = Tables.events(spark, sf())
      .select(col("event_type"), col("event_id"), expr("ts div 1000").as("ts_us"),
        round(col("value") * 100).cast("long").as("cents"))
      .orderBy("ts_us")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Long, Timestamp, Long)](spark, 2)
    val src = input.toDF().toDF("event_type", "event_id", "tsc", "cents")
    val q = Streams.ohlcLive(src).writeStream
      .format("memory").queryName("ohlc_out")
      .outputMode(OutputMode.Append).start()
    // REVERSED inside each micro-batch: the open/close struct folds must
    // recover event-time order from arrival disorder (the watermark only
    // advances between batches, so nothing is dropped)
    ev.grouped(math.max(1, ev.length / 4)).foreach { chunk =>
      input.addData(chunk.reverse
        .map { case (et, id, us, c) => (et, id, tsOfMicros(us), c) }
        .toIndexedSeq)
      q.processAllAvailable()
    }
    val far = ev.map(_._3).max + 365L * 86400 * 1000000
    input.addData(("sentinel", -1L, tsOfMicros(far), 0L)); q.processAllAvailable()
    input.addData(("sentinel", -1L, tsOfMicros(far + 3600L * 1000000), 0L))
    q.processAllAvailable()
    val streamed = spark.table("ohlc_out")
      .filter(col("event_type") =!= "sentinel")
      .collect()
      .map(r => (r.getLong(0) / 3600000000L, r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    q.stop()
    val batch = graft.ops.AggOps.aggOhlc.build(spark, sf())
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
    assert(streamed === batch,
      s"streamed ${streamed.size} windows vs batch ${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("streamed convolution EWMA equals the batch win-ewma") {
    import java.sql.Timestamp
    import graft.Tables
    // the hourly series win-ewma convolves, computed from the fixture
    val hourly = Tables.events(spark, sf())
      .groupBy(expr("ts div 1000 div 3600000000").as("hour_id"),
        col("event_type"))
      .agg(sum(round(col("value") * 100).cast("long")).as("v"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val mx = hourly.map(_._1).max
    def tsOfHour(h: Long) = new Timestamp(h * 3600000L)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, String, Long)](spark, 2)
    val src = input.toDF().toDF("tsc", "event_type", "v")
    val q = Streams.ewmaLive(src).writeStream
      .format("memory").queryName("ewma_out")
      .outputMode(OutputMode.Append).start()
    hourly.sortBy(_._1).grouped(math.max(1, hourly.length / 3)).foreach { chunk =>
      input.addData(chunk.map { case (h, t, v) => (tsOfHour(h), t, v) }.toIndexedSeq)
      q.processAllAvailable()
    }
    // sentinels far past the horizon close every real window
    val far = mx + 24L * 400
    input.addData((tsOfHour(far), "sentinel", 0L)); q.processAllAvailable()
    input.addData((tsOfHour(far + 1), "sentinel", 0L)); q.processAllAvailable()
    val streamed = spark.table("ewma_out")
      .filter(col("event_type") =!= "sentinel")
      .filter(col("win_us") / 3600000000L <= mx) // batch clips at its max hour
      .collect()
      .map(r => (r.getLong(0) / 3600000000L, r.getString(1)) -> r.getLong(2))
      .toMap
    q.stop()
    val batch = graft.ops.WindowOps.winEwma.build(spark, sf())
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(streamed === batch,
      s"streamed ${streamed.size} cells vs batch ${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("countminLive cells merge across micro-batches to the batch sketch") {
    import java.sql.Timestamp
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Timestamp, String)](spark, 12)
    val out = Streams.countminLive(input.toDF().toDF("tsc", "event_type"))
    val q = out.writeStream
      .format("memory").queryName("cms_out")
      .outputMode(OutputMode.Append)
      .start()
    def t(h: Long, m: Long) = new Timestamp(1700000000000L + h * 3600000L + m * 60000L)
    // one hour's keys split across two micro-batches
    input.addData((t(0, 1), "click"), (t(0, 2), "view"), (t(0, 3), "click"))
    q.processAllAvailable()
    input.addData((t(0, 10), "purchase"), (t(0, 11), "click"))
    q.processAllAvailable()
    // sentinel far past the watermark horizon closes hour 0
    input.addData((t(3, 0), "view"))
    q.processAllAvailable()
    val streamed = spark.table("cms_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    q.stop()
    // batch sketch over the same hour-0 rows (the stream-countmin shape)
    val batch = Seq("click", "view", "click", "purchase", "click")
      .toDF("event_type")
      .select(graft.ops.AggOps.cmsPairs(col("event_type")))
      .select(col("rb.r").as("r"), col("rb.b").as("b"))
      .groupBy("r", "b").count()
      .collect().map(r => (1700000000000000L / 3600000000L * 3600000000L,
        r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    val hour0 = streamed.filter { case ((w, _, _), _) =>
      w == 1700000000000000L / 3600000000L * 3600000000L }
    assert(hour0 === batch)
    assert(hour0.values.sum === 5L * 4L) // every event lands in all 4 rows
  }

  test("upsertLive state survives a checkpointed restart (view never regresses)") {
    import java.sql.Timestamp
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-ckpt-ups-").toAbsolutePath.toString
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[UpsertEvent](spark, 13)
    val out = Streams.upsertLive(input.toDS())
    val emitted = new scala.collection.mutable.ArrayBuffer[UpsertRow]()
    def start() = out.writeStream
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[UpsertRow], _: Long) =>
          val rows = batch.collect()
          emitted.synchronized { emitted ++= rows }
          ()
      }
      .start()
    def t(us: Long) = new Timestamp(us / 1000)
    // run 1: key 1 reaches (ts=300, id=3), then the query is killed
    val q1 = start()
    input.addData(UpsertEvent(1L, t(100L), 100L, 1L, "a", 10L),
      UpsertEvent(1L, t(300L), 300L, 3L, "c", 30L))
    q1.processAllAvailable()
    q1.stop()
    // run 2, same checkpoint: a LATE event below the stored (ts, id) must
    // not regress the restored view — state comes from the store, not
    // from replaying run 1's (gone) micro-batches
    emitted.synchronized(emitted.clear())
    val q2 = start()
    input.addData(UpsertEvent(1L, t(200L), 200L, 2L, "b", 20L))
    q2.processAllAvailable()
    q2.stop()
    val fin = emitted.synchronized(emitted.toList)
    assert(fin == List(UpsertRow(1L, 300L, 3L, "c", 30L, 3L)),
      s"restart regressed or miscounted the view: $fin")
  }

  test("upsertLive converges to the batch LWW view under out-of-order batches") {
    import java.sql.Timestamp
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[UpsertEvent](spark, 11)
    val out = Streams.upsertLive(input.toDS())
    val q = out.writeStream
      .format("memory").queryName("upsert_out")
      .outputMode(OutputMode.Update)
      .start()
    def t(us: Long) = { val ts = new Timestamp(us / 1000); ts }
    // user 1's events arrive OUT of (ts, id) order across batches; the
    // late (ts=200) arrival must not regress the view off (ts=300)
    input.addData(UpsertEvent(1L, t(100L), 100L, 1L, "a", 10L),
      UpsertEvent(1L, t(300L), 300L, 3L, "c", 30L),
      UpsertEvent(2L, t(50L), 50L, 9L, "x", 5L))
    q.processAllAvailable()
    val mid = spark.table("upsert_out").as[UpsertRow].collect()
      .groupBy(_.user_id).map { case (k, v) => k -> v.maxBy(_.n_updates) }
    assert(mid(1L) === UpsertRow(1L, 300L, 3L, "c", 30L, 2L))
    input.addData(UpsertEvent(1L, t(200L), 200L, 2L, "b", 20L))
    q.processAllAvailable()
    val fin = spark.table("upsert_out").as[UpsertRow].collect()
      .groupBy(_.user_id).map { case (k, v) => k -> v.maxBy(_.n_updates) }
    q.stop()
    // final view == the batch op's max(struct(ts, id)) + count over the
    // same exactly-once event set
    assert(fin(1L) === UpsertRow(1L, 300L, 3L, "c", 30L, 3L))
    assert(fin(2L) === UpsertRow(2L, 50L, 9L, "x", 5L, 1L))
  }

  test("streamed OOD flags equal the batch stream-ood-flags op") {
    import java.sql.Timestamp
    import graft.Tables
    def tsOfMicros(us: Long): Timestamp = {
      val t = new Timestamp((us / 1000000) * 1000)
      t.setNanos(((us % 1000000) * 1000).toInt)
      t
    }
    // the batch op's own train/serve split, reconstructed: first 14 days
    // train the per-type moments, the rest is the scored stream
    val e = Tables.events(spark, sf()).select(
      expr("ts div 1000").as("ts_us"),
      expr("(ts div 1000) div 86400000000").as("day"),
      col("event_type"), round(col("value") * 100).cast("long").as("c"))
    val sd = e.agg((min("day") + 14).as("sd"))
    val moments = e.crossJoin(broadcast(sd)).filter(col("day") < col("sd"))
      .groupBy("event_type").agg(count(col("c")).as("n"), sum("c").as("s"),
        sum(col("c") * col("c")).as("qq"))
    val scored = e.crossJoin(broadcast(sd)).filter(col("day") >= col("sd"))
      .select("event_type", "c", "ts_us").orderBy("ts_us").collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) null
        else java.lang.Long.valueOf(r.getLong(1)), r.getLong(2)))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, Option[Long], Timestamp)](spark, 2)
    val src = input.toDF().toDF("event_type", "c", "tsc")
    val q = Streams.oodFlagsLive(src, moments).writeStream
      .format("memory").queryName("ood_out")
      .outputMode(OutputMode.Append).start()
    // several micro-batches (cross-batch count merges), then sentinels
    // far in the future to close every real window
    scored.grouped(math.max(1, scored.length / 4)).foreach { chunk =>
      input.addData(chunk.map { case (t, c, us) =>
        (t, Option(c).map(_.longValue), tsOfMicros(us))
      }.toIndexedSeq)
      q.processAllAvailable()
    }
    val far = scored.map(_._3).max + 365L * 86400 * 1000000
    input.addData(("sentinel", Some(0L), tsOfMicros(far))); q.processAllAvailable()
    input.addData(("sentinel", Some(0L), tsOfMicros(far + 3600L * 1000000)))
    q.processAllAvailable()
    val streamed = spark.table("ood_out")
      // null-safe: a NULL event_type must survive the sentinel filter
      // (NULL =!= 'sentinel' is NULL and would silently drop the row)
      .filter(not(coalesce(col("event_type") === "sentinel", lit(false))))
      .collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    q.stop()
    val batch = graft.ops.StreamOps.streamOodFlags.build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(streamed === batch,
      s"streamed ${streamed.size} windows vs batch ${batch.size}")
    assert(streamed.nonEmpty && streamed.values.exists(_._2 > 0),
      "no flags fired anywhere — vacuous parity")
  }
}
