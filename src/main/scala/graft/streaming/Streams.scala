package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Head event as emitted by the chain subscription (reference:
  * src/blockchain/connection.rs:113-154 — `Height{height, hash}`).
  */
case class Head(height: Long, hash: String)

/** Output of the finalized follower: a height to archive, flagged when it
  * was back-filled by walking parents rather than observed directly.
  */
case class FinalizedHeight(height: Long, hash: String, backfilled: Boolean)

private case class FollowerState(lastHeight: Long)

/** One input event for the streaming debounce: event-time timestamp (for
  * the watermark), plus the micro-epoch the batch op keys on.
  */
case class DebounceEvent(user_id: Long, event_type: String,
    tsc: java.sql.Timestamp, us: Long, event_id: Long)

/** A closed debounce burst — identical shape to win-debounce's batch rows. */
case class DebouncedBurst(user_id: Long, event_type: String,
    first_us: Long, burst_len: Long)

private case class DebounceState(pending: List[Long])

/** One input event for the streaming upsert view: event-time timestamp
  * (for the trigger clock) plus the micro-epoch/id pair that decides
  * last-write-wins.
  */
case class UpsertEvent(user_id: Long, tsc: java.sql.Timestamp, ts_us: Long,
    event_id: Long, event_type: String, cents: Long)

/** Current materialized row per key — identical shape to stream-upsert's
  * batch rows.
  */
case class UpsertRow(user_id: Long, ts_us: Long, event_id: Long,
    event_type: String, value_cents: Long, n_updates: Long)

private case class UpsertState(ts_us: Long, event_id: Long,
    event_type: String, cents: Long, n: Long)

/** Streaming operators (SURVEY.md §2.7). The `stream` command's live tail
  * becomes Structured Streaming: readStream → transforms → foreachBatch
  * archive; the finalized follower's dedup + gap-fill is the one genuinely
  * stateful op (reference: src/blockchain/next_block.rs:42-100) and maps to
  * `flatMapGroupsWithState`.
  */
object Streams {

  /** The one foreachBatch seam: a writer for `stream` that runs `onBatch`
    * on each micro-batch in the session that built `stream`.
    *
    * Spark runs every query in a clone of its session, and with artifact
    * isolation (on by default) each job carries the clone's artifact
    * state, so the executor builds a class loader per clone and
    * `CodeGenerator`'s cache, keyed by (loader, code), would miss for
    * every new query: each `stream` call would compile the same generated
    * classes, and the JIT compile them, again. So the batch is rebound to
    * the parent session (its SQL executions take the parent's artifact
    * state), and the body runs inside the parent's artifact scope, which
    * covers raw RDD actions too. A body must not embed per-batch literal
    * values in its plans: those change the generated code, and each batch
    * compiles again.
    */
  def eachBatch(stream: DataFrame)(onBatch: (DataFrame, Long) => Unit): DataStreamWriter[Row] = {
    val parent = stream.sparkSession
    stream.writeStream.foreachBatch { (batch: DataFrame, id: Long) =>
      val rebound = Bridge.ofRows(parent, batch.queryExecution.logical)
      Bridge.withArtifacts(parent)(onBatch(rebound, id))
    }
  }

  /** How long [[followHeads]] waits for its query to drain the heads. */
  @volatile private[graft] var followTimeoutMs: Long = 120000L

  /** `stream` live tail (reference: src/command/stream.rs:92-144): follow a
    * parquet directory of head events, archive each height once per block
    * via [[eachBatch]]. The batch body is the caller's (idempotent writes:
    * SaveMode.Ignore — stream never overwrites, stream.rs:49-52). Returns
    * the finished query once every available head is processed; a query
    * still running after [[followTimeoutMs]] is stopped and the call
    * throws, so no query keeps writing behind a returned command.
    */
  def followHeads(
      spark: SparkSession,
      headsDir: String,
      schema: org.apache.spark.sql.types.StructType,
      checkpoint: String)(
      onBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    val q = eachBatch(spark.readStream.schema(schema).parquet(headsDir))(onBatch)
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    if (!q.awaitTermination(followTimeoutMs)) {
      q.stop()
      throw new java.util.concurrent.TimeoutException(
        s"stream query ${q.id} did not finish within $followTimeoutMs ms; stopped it")
    }
    q
  }

  /** Finalized-stream dedup + gap-fill (reference:
    * src/blockchain/next_block.rs:42-100): drop heights at or below the last
    * seen one; when a new height jumps ahead, emit the skipped heights
    * oldest-first as back-filled (the reference walks parent hashes; with a
    * height-keyed archive the parent walk is the dense height interval).
    * State per chain key: the last emitted height.
    */
  def finalizedFollower(
      heads: Dataset[Head],
      chainKey: Head => String = _ => "chain"): Dataset[FinalizedHeight] = {
    import heads.sparkSession.implicits._
    heads
      .groupByKey(chainKey)
      .flatMapGroupsWithState[FollowerState, FinalizedHeight](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, batch: Iterator[Head], state: GroupState[FollowerState]) =>
          val last = state.getOption.map(_.lastHeight).getOrElse(Long.MinValue)
          val out = scala.collection.mutable.ArrayBuffer.empty[FinalizedHeight]
          var cur = last
          // Per-batch heads arrive unordered; process in height order so the
          // dedup below matches the reference's `block.number <= last` check.
          batch.toSeq.sortBy(_.height).foreach { h =>
            if (h.height > cur) {
              var back = if (cur == Long.MinValue) h.height else cur + 1
              while (back < h.height) {
                out += FinalizedHeight(back, "", backfilled = true)
                back += 1
              }
              out += FinalizedHeight(h.height, h.hash, backfilled = false)
              cur = h.height
            } // else: dedup — already emitted (next_block.rs: number <= last)
          }
          if (cur != Long.MinValue) state.update(FollowerState(cur))
          out.iterator
      }
  }

  /** Streaming leading-edge debounce — the live counterpart of the batch
    * `win-debounce` op (identical burst semantics: a burst is a maximal
    * same-(user, type) chain with inter-event gap under the window).
    *
    * Correctness under out-of-order arrival: events are NOT chained as
    * they arrive (a late-but-admitted event would corrupt an
    * already-chained burst's first/last). Instead, per-key state buffers
    * the pending event times and bursts are re-derived from the sorted
    * buffer each trigger; a burst emits only once it is CLOSED — its last
    * member + window lies behind the event-time watermark, so no
    * admissible future row (all have event time ≥ the watermark) can
    * chain into it. State is therefore bounded by the watermark horizon +
    * window per key, and the event-time timeout flushes the final burst
    * when a key goes quiet — no key leaks.
    *
    * Caller must `withWatermark` the `tsc` column; parity with the batch
    * op over the same rows — including out-of-order delivery — is proven
    * in StreamsSpec.
    */
  def debounceLive(events: Dataset[DebounceEvent],
      windowUs: Long = 86400000000L): Dataset[DebouncedBurst] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .flatMapGroupsWithState[DebounceState, DebouncedBurst](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, String), batch: Iterator[DebounceEvent],
         state: GroupState[DebounceState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val pending = state.getOption.map(_.pending).getOrElse(Nil) ++
            batch.map(_.us)
          // Bursts re-derived from the full sorted pending set: chaining
          // is order-defined, and only a total view of the not-yet-closed
          // events chains correctly under cross-batch reordering.
          val bursts = pending.sorted.foldLeft(List.empty[(Long, Long, Long)]) {
            case ((f, l, n) :: rest, t) if t - l < windowUs => (f, t, n + 1) :: rest
            case (acc, t) => (t, t, 1L) :: acc
          }.reverse
          val (closed, open) = bursts.partition(_._2 + windowUs < wmUs)
          if (open.isEmpty) state.remove()
          else {
            // Keep only events still inside an open burst; re-arm the
            // timeout for the newest one. (+1 ms AFTER the us-sum floors
            // to ms: the timeout must land strictly past lastUs + window
            // or the close condition can still be false when it fires.)
            state.update(DebounceState(
              pending.filter(t => open.exists(b => t >= b._1 && t <= b._2))))
            state.setTimeoutTimestamp((open.last._2 + windowUs) / 1000 + 1)
          }
          closed.iterator.map { case (first, _, n) =>
            DebouncedBurst(key._1, key._2, first, n)
          }
      }
  }

  /** `--continue` startup reconciliation (reference: src/command/stream.rs:42-47,
    * 66-87): anti-join the last `depth` heights below head against the
    * archive; the result is re-archived before the live tail starts.
    */
  def continueBackfill(
      spark: SparkSession,
      archivedHeights: DataFrame, // single column "height"
      head: Long,
      depth: Int = 100): DataFrame = {
    val planned = spark.range(math.max(0L, head - depth), head).toDF("height")
    planned.join(archivedHeights, Seq("height"), "left_anti")
  }

  /** Maturity tag instead of watermarks (reference: src/notify/mod.rs:49-56,
    * blocks_config.rs:30-36): top `margin` blocks below head are `head`
    * (reorg-able), the rest `finalized`.
    */
  def maturity(height: org.apache.spark.sql.Column, head: org.apache.spark.sql.Column,
      margin: Int = 4): org.apache.spark.sql.Column =
    when(height > head - margin, lit("head")).otherwise(lit("finalized"))

  /** Graceful stop (reference: src/global.rs:24-32 shutdown signal):
    * stop the query after draining the current trigger.
    */
  def gracefulStop(q: StreamingQuery, timeoutMs: Long = 60000L): Boolean = {
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(timeoutMs)
  }

  /** Streaming ingest dedup for a live document feed (training-data
    * pipeline op; no reference analogue — the reference streams blocks,
    * a data pipeline streams documents): first occurrence per content
    * digest wins, duplicates arriving within the watermark horizon are
    * dropped. `dropDuplicatesWithinWatermark` bounds the digest state to
    * the horizon — the 100 TB-safe configuration; an unwatermarked
    * `dropDuplicates` would grow state with corpus size forever.
    */
  def dedupIngest(
      docs: DataFrame,
      tsCol: String,
      digestCols: Seq[String],
      horizon: String = "1 hour"): DataFrame =
    docs
      .withColumn("digest", md5(concat_ws("\u0000", digestCols.map(col): _*)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("digest")

  /** Live click→purchase attribution candidates: a watermarked
    * stream-stream INNER join — each purchase paired with the same user's
    * clicks in the `horizon` before it (inclusive). Stream-stream joins
    * REQUIRE the bounded time-range condition: it is what lets Spark
    * expire click state past the watermark + horizon, so state is
    * O(horizon × click rate), not unbounded. The exact most-recent-click
    * argmax stays in the batch op (join-asof) — emitting candidates and
    * reducing downstream is the streaming-safe split of that operator.
    */
  /** Streaming last-write-wins materialized view — the live counterpart of
    * the batch `stream-upsert` op: per key the CURRENT row is the event
    * with the greatest (ts_us, event_id), re-emitted (Update mode) each
    * trigger the key receives events, with the running update count.
    * Late or replayed events are idempotently absorbed: an event at or
    * below the stored (ts_us, event_id) never regresses the view — the
    * property that makes at-least-once upstream delivery safe.
    *
    * State is ONE fixed-size row per live key (the user-count-sized
    * RocksDB tier at 100 TB); no timeout — a materialized view's keys
    * don't expire. Parity with the batch op under cross-batch shuffling is
    * proven in StreamsSpec.
    */
  def upsertLive(events: Dataset[UpsertEvent]): Dataset[UpsertRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UpsertState, UpsertRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, batch: Iterator[UpsertEvent], state: GroupState[UpsertState]) =>
          var st = state.getOption.getOrElse(
            UpsertState(Long.MinValue, Long.MinValue, "", 0L, 0L))
          var saw = false
          batch.foreach { e =>
            saw = true
            val wins = e.ts_us > st.ts_us ||
              (e.ts_us == st.ts_us && e.event_id > st.event_id)
            st =
              if (wins)
                UpsertState(e.ts_us, e.event_id, e.event_type, e.cents, st.n + 1)
              else st.copy(n = st.n + 1)
          }
          if (saw) {
            state.update(st)
            Iterator.single(
              UpsertRow(uid, st.ts_us, st.event_id, st.event_type, st.cents, st.n))
          } else Iterator.empty
      }
  }

  def clickAttributionLive(clicks: DataFrame, purchases: DataFrame,
      horizon: String = "1 hour"): DataFrame = {
    val c = clicks
      .select(col("user_id"), col("event_id").as("click_id"), col("tsc").as("c_ts"))
      .withWatermark("c_ts", horizon)
    val p = purchases
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("tsc").as("p_ts"))
      .withWatermark("p_ts", horizon)
    c.join(p,
      col("user_id") === col("p_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $horizon"))
      .select(col("purchase_id"), col("user_id"), col("click_id"),
        unix_micros(col("p_ts")).as("p_ts_us"), unix_micros(col("c_ts")).as("c_ts_us"))
  }

  /** Gap-based sessionization over (user_id, tsc: timestamp, cents) rows
    * — `session_window` is batch/stream agnostic, so the SAME plan backs
    * the win-sessionize batch op and the live path (watermark the input
    * before calling for append-mode streaming; the watermark is what
    * bounds session state at 100 TB/day event volumes). One shuffle on
    * user_id, partial aggregation into MergingSessions.
    */
  def sessionize(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("tsc"), gap))
      .agg(min(unix_micros(col("tsc"))).as("start_us"),
        max(unix_micros(col("tsc"))).as("end_us"),
        count(lit(1)).as("n_events"), sum("cents").as("value_cents"))
      .select("user_id", "start_us", "end_us", "n_events", "value_cents")

  /** Incremental NEAR-duplicate ingest for a live document feed — the
    * streaming form of the dedup-incremental/dedup-minhash pair: each
    * micro-batch is shingled, minhash-signed and LSH-banded
    * ([[graft.dedup.Dedup]] — the exact same pipeline as the batch ops),
    * then probed against the PERSISTED band index of everything already
    * accepted; a doc sharing any band bucket with the index (or with an
    * earlier-id doc in its own batch) is dropped, and survivors' band
    * keys are appended to the index.
    *
    * The cross-batch dedup memory lives in the index FILES, not in
    * streaming state — stream state stores nothing, so the horizon is
    * unbounded (a crawl from last month still dedups against today)
    * without the state-store growth that killed unwatermarked
    * dropDuplicates. At 100 TB the index is a bucketed-by-`bucket`
    * table (or a Delta/merge target) so the probe join co-locates
    * without shuffling the index; plain parquet append here is the same
    * plan shape. The LSH decision is signature-only (the batch op's
    * exact-verify tier joins text; an ingest gate accepts the
    * ~(1−j²)^bands false-accept rate in exchange for never reading
    * accepted text again).
    */
  def nearDupIngestLive(
      docs: DataFrame, // streaming (doc_id, text)
      indexDir: String,
      checkpointDir: String)(
      onBatch: (DataFrame, Long) => Unit): StreamingQuery =
    eachBatch(docs) { (batch, batchId) =>
      val spark = batch.sparkSession
      val sigs = graft.dedup.Dedup.minhashSignatures(
        graft.dedup.Dedup.shingleSets(batch, "doc_id", "text"))
      val bands = graft.dedup.Dedup.lshBandKeys(sigs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val index =
        try {
          val raw = spark.read.parquet(indexDir)
          // Format guard: the band key became an xxhash64 LONG when the
          // seam was hashed; an index written by the old string format
          // would silently match NOTHING through implicit casts (every
          // indexed near-dup re-admitted). Fail loudly instead — the
          // documented contract is "rebuild the index on upgrade".
          val bt = raw.schema("bucket").dataType
          require(bt == org.apache.spark.sql.types.LongType,
            s"near-dup index at $indexDir has $bt band keys; this build " +
              "uses xxhash64 longs — rebuild the index (delete the dir)")
          raw.select(col("bucket")).distinct()
        } catch {
          case _: org.apache.spark.sql.AnalysisException =>
            spark.emptyDataFrame.select(lit(0L).as("bucket")).limit(0)
        }
      val dupVsIndex = bands.join(broadcast(index), Seq("bucket"), "left_semi")
        .select(col("id"))
      // first-wins within the batch: later ids sharing a bucket drop
      val inBatchDup = bands
        .join(bands.groupBy("bucket").agg(min("id").as("mn")), Seq("bucket"))
        .filter(col("id") > col("mn"))
        .select(col("id"))
      val dropped = dupVsIndex.union(inBatchDup).distinct()
        .withColumn("dup", lit(true))
      val verdict = batch.select(col("doc_id"))
        .join(dropped.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(!col("dup"), lit(true)).as("accepted"))
      bands.join(verdict.filter(col("accepted")),
        bands("id") === verdict("doc_id"), "left_semi")
        .write.mode("append").parquet(indexDir)
      onBatch(verdict, batchId)
      bands.unpersist()
      ()
    }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(0))
      .start()

  /** Windowed HyperLogLog distinct-key sketch over a live stream of
    * (tsc: timestamp, event_type, user_id) — emits one (window,
    * event_type, bucket, max rho) row per closed window in append mode.
    * The STATE per (window, group) key is 64 small integers regardless of
    * cardinality, and max(rho) merges across micro-batches exactly like
    * it merges map-side in batch ([[graft.sketch.Hll]] — the same
    * projection backs the stream-hll batch op, parity-tested in
    * StreamsSpec). The estimate is a read-time fold
    * ([[graft.sketch.Hll.estimate]]) — kept OUT of the streaming query
    * so the stream stays a single native windowed aggregation (Spark
    * allows one streaming agg per query; the sketch, not the estimate,
    * is the thing worth checkpointing anyway — sketches from different
    * streams/days still merge, estimates don't).
    */
  def hllSketchLive(events: DataFrame, windowDur: String = "1 hour",
      horizon: String = "30 minutes"): DataFrame = {
    val h = graft.sketch.Hll.hash60(col("user_id"))
    events
      .select(col("tsc"), col("event_type"),
        graft.sketch.Hll.bucket(h).as("bucket"), graft.sketch.Hll.rho(h).as("rho"))
      .withWatermark("tsc", horizon)
      .groupBy(window(col("tsc"), windowDur).as("win"), col("event_type"),
        col("bucket"))
      .agg(max("rho").as("r"))
      .select(unix_micros(col("win.start")).as("win_us"), col("event_type"),
        col("bucket"), col("r"))
  }

  /** Live windowed Count–Min cells: watermarked hourly windows accumulate
    * the d=4 × w=64 grid (shared with agg-countmin / stream-countmin —
    * [[graft.ops.AggOps.cmsPairs]]). Counts merge across micro-batches by
    * plain aggregation, and closed windows emit cells that further merge
    * by summing — the mergeable heavy-hitter screen whose per-window
    * state is 256 counters at ANY key cardinality. Input: (tsc timestamp,
    * event_type).
    */
  def countminLive(events: DataFrame, windowDur: String = "1 hour",
      horizon: String = "30 minutes"): DataFrame =
    events
      .select(col("tsc"), graft.ops.AggOps.cmsPairs(col("event_type")))
      .select(col("tsc"), col("rb.r").as("r"), col("rb.b").as("b"))
      .withWatermark("tsc", horizon)
      .groupBy(window(col("tsc"), windowDur).as("win"), col("r"), col("b"))
      .agg(count(lit(1)).as("cell_n"))
      .select(unix_micros(col("win.start")).as("win_us"), col("r"), col("b"),
        col("cell_n"))

  /** Live windowed histogram-quantile sketch: watermarked hourly windows
    * accumulate the fixed-range bucket counts
    * ([[graft.sketch.HistQuantile]] — counts merge across micro-batches
    * by plain aggregation); the p90 read is a read-time fold over the
    * emitted sketch rows, exactly like [[hllSketchLive]]. State per
    * (window, type) is ≤ 64 counters at ANY value cardinality.
    * Input: (tsc timestamp, event_type, cents long).
    */
  def quantileSketchLive(events: DataFrame, windowDur: String = "1 hour",
      horizon: String = "30 minutes"): DataFrame =
    events
      .withWatermark("tsc", horizon)
      .groupBy(window(col("tsc"), windowDur).as("win"), col("event_type"),
        graft.sketch.HistQuantile.bucket(col("cents")).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_micros(col("win.start")).as("win_us"), col("event_type"),
        col("bucket"), col("cnt"))

  /** Live windowed per-key counts backing the stream-topk op: watermarked
    * hourly windows accumulate (window, event_type, user) event counts —
    * counts merge across micro-batches by plain summation, ranks don't,
    * so the top-k itself is a read-time fold over the emitted rows
    * (functions/TopK), exactly like [[hllSketchLive]]'s estimate. State
    * is per ACTIVE (window, user) pair within the watermark horizon; a
    * 100-TB deployment fronts this with the count-min screen to cap
    * state, and this exact tier is what that screen verifies against.
    * Input: (tsc timestamp, event_type, user_id).
    */
  def topkCountsLive(events: DataFrame, windowDur: String = "1 hour",
      horizon: String = "30 minutes"): DataFrame =
    events
      .withWatermark("tsc", horizon)
      .groupBy(window(col("tsc"), windowDur).as("win"), col("event_type"),
        col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("win.start")).as("win_us"), col("event_type"),
        col("user_id"), col("n"))

  /** Live hourly OHLC — the streaming half of agg-ohlc: the open/close
    * struct-min/max folds are ORDINARY aggregations, so the same shape
    * runs under a watermarked window with merge-across-micro-batch
    * semantics for free (min/max of structs merge like any min/max; no
    * flatMapGroupsWithState, no per-event ordering state — event-time
    * order materializes from the fold no matter the arrival order).
    * State per (window, type) is two structs + three longs at ANY event
    * rate. Input: (tsc timestamp, event_id, event_type, cents);
    * StreamsSpec proves batch parity under late/out-of-order arrival.
    */
  def ohlcLive(events: DataFrame, windowDur: String = "1 hour",
      horizon: String = "30 minutes"): DataFrame =
    events
      .withWatermark("tsc", horizon)
      .groupBy(window(col("tsc"), windowDur).as("win"), col("event_type"))
      .agg(
        min(struct(unix_micros(col("tsc")).as("us"), col("event_id"),
          col("cents"))).getField("cents").as("open_cents"),
        max(col("cents")).as("high_cents"),
        min(col("cents")).as("low_cents"),
        max(struct(unix_micros(col("tsc")).as("us"), col("event_id"),
          col("cents"))).getField("cents").as("close_cents"),
        count(lit(1)).as("n"))
      .select(unix_micros(col("win.start")).as("win_us"), col("event_type"),
        col("open_cents"), col("high_cents"), col("low_cents"),
        col("close_cents"), col("n"))

  /** Live hourly EWMA over the hourly series — why win-ewma's convolution
    * spelling matters for streaming too: the α-recursion
    * (s_t = s_{t−1}/2 + v_t) is stateful ACROSS windows and has no
    * streaming-agg form, but the truncated kernel is just "each hourly
    * observation contributes v >> l to hour t+l for l ≤ 20" — a flatMap
    * to 21 time-shifted rows into an ordinary watermarked window SUM.
    * State is one long per open (window, type); the shifted times spread
    * ≤ 20 h into the future, so the watermark delay must cover spread +
    * lateness (hence the 21 h default).
    *
    * Input is the (hour, type, v) SERIES — itself a streaming hourly
    * window agg or a batch rollup — NOT raw events: win-ewma's integer
    * contract shifts the hourly SUM (sum-then-shift), and only the
    * series-grain input reproduces that bit-exactly. Batch parity is
    * proven in StreamsSpec. Input: (tsc hour-start timestamp,
    * event_type, v).
    */
  def ewmaLive(hourly: DataFrame, horizon: String = "21 hours"): DataFrame =
    hourly
      .select(col("event_type"), col("v"),
        explode(sequence(lit(0L), lit(20L))).as("l"),
        col("tsc"))
      .select(col("event_type"),
        expr("v div shiftleft(1L, int(l))").as("c"), // == v >> l for v ≥ 0 (win-ewma's spelling)
        timestamp_micros(unix_micros(col("tsc")) + col("l") * 3600000000L)
          .as("tshift"))
      .withWatermark("tshift", horizon)
      .groupBy(window(col("tshift"), "1 hour").as("win"), col("event_type"))
      .agg(sum("c").as("ewma_cents"))
      .select(unix_micros(col("win.start")).as("win_us"), col("event_type"),
        col("ewma_cents"))

  /** Live train-then-serve OOD flags — the streaming half of
    * stream-ood-flags: a STATIC per-type moment table (trained offline —
    * here the batch op's own train subtree) broadcast-joins into the
    * live stream (stream–static joins are stateless), the |z| > 3 flag
    * ([[graft.ops.StreamOps.oodFlag]] — the identical expression the
    * batch op and the DuckDB oracle evaluate) is row-local, and the only
    * streaming state is the watermarked (window, type) count pair, which
    * merges across micro-batches by plain summation. Input: (tsc
    * timestamp, event_type, c cents); moments: (event_type, n, s, qq).
    */
  def oodFlagsLive(events: DataFrame, moments: DataFrame,
      windowDur: String = "1 hour", horizon: String = "30 minutes"): DataFrame =
    events
      .join(broadcast(moments), Seq("event_type"), "left_outer")
      .withColumn("flag", graft.ops.StreamOps.oodFlag)
      .withWatermark("tsc", horizon)
      .groupBy(window(col("tsc"), windowDur).as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("flag"), 1L).otherwise(0L)).as("n_flagged"))
      .select(unix_micros(col("win.start")).as("win_us"), col("event_type"),
        col("n_events"), col("n_flagged"))
}
