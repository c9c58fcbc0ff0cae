package graft.ops

import org.apache.spark.sql.functions._
import graft.{Op, Tables}
import graft.archive.Filenames

/** Streaming operators' batch-equivalent query entries (SURVEY.md §2.7).
  * The live Structured Streaming paths are graft.streaming.Streams (tested
  * in StreamsSpec); each op here is the deterministic batch shape of the
  * same semantics, so the DuckDB oracle can check it.
  */
object StreamOps {

  /** `stream` live tail: one per-block file group per head event, filename
    * carrying the block hash (reference: src/command/stream.rs:92-144).
    */
  val streamFollow: Op = Op.sql(
    "stream-follow",
    """SELECT event_id AS height,
      |       concat(lpad(CAST(event_id AS VARCHAR), 9, '0'), '.',
      |              md5(CAST(event_id AS VARCHAR)), '.block.avro') AS file,
      |       epoch_us(ts) AS ts_us
      |FROM events ORDER BY height""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d).select(
      col("event_id").as("height"),
      Filenames.singleFile(col("event_id"), "block",
        Some(md5(col("event_id").cast("string")))).as("file"),
      expr("ts div 1000").as("ts_us"))
      .orderBy("height")
  }

  /** Finalized follower: dedup observed heights, back-fill the gaps,
    * oldest-first (reference: src/blockchain/next_block.rs:42-100). The
    * observed set is a lossy/dup-ridden projection of event ids; output is
    * the dense emitted sequence with its backfilled flag.
    */
  val streamFinalized: Op = Op.sql(
    "stream-finalized",
    """WITH observed AS (
      |  SELECT DISTINCT event_id // 3 AS h FROM events WHERE event_type <> 'error'),
      |bounds AS (SELECT min(h) AS mn, max(h) AS mx FROM observed),
      |dense AS (SELECT unnest(generate_series(mn, mx)) AS height FROM bounds)
      |SELECT height, height NOT IN (SELECT h FROM observed) AS backfilled
      |FROM dense ORDER BY height""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.Row
    val observed = Tables.events(s, d)
      .filter(col("event_type") =!= "error")
      .select(expr("event_id div 3").as("h"))
      .distinct()
    val Row(mn: Long, mx: Long) = observed.agg(min("h"), max("h")).head()
    s.range(mn, mx + 1).toDF("height")
      .join(observed.withColumnRenamed("h", "height").withColumn("obs", lit(true)),
        Seq("height"), "left")
      .select(col("height"), col("obs").isNull.as("backfilled"))
      .orderBy("height")
  }

  /** `--continue` one-shot backfill: last 100 heights below head anti-joined
    * against the archive (reference: src/command/stream.rs:42-47,66-87).
    */
  val streamContinue: Op = Op.sql(
    "stream-continue",
    """WITH arch AS (SELECT o_orderkey AS height FROM orders WHERE o_orderkey % 7 <> 0),
      |head AS (SELECT max(o_orderkey) + 1 AS h FROM orders)
      |SELECT g AS height FROM (
      |  SELECT unnest(generate_series((SELECT h - 100 FROM head), (SELECT h - 1 FROM head))) AS g) t
      |WHERE g NOT IN (SELECT height FROM arch)
      |ORDER BY height""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.Row
    val arch = Tables.orders(s, d).filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey").as("height"))
    val Row(mx: Long) = Tables.orders(s, d).agg(max("o_orderkey")).head()
    graft.streaming.Streams.continueBackfill(s, arch, head = mx + 1, depth = 100)
      .orderBy("height")
  }

  /** Maturity model instead of watermarks: `head` for the top 4 below head,
    * `finalized` otherwise (reference: src/notify/mod.rs:49-56,
    * src/archiver/blocks_config.rs:30-36).
    */
  val lateData: Op = Op.sql(
    "late-data",
    """SELECT o_orderkey AS height,
      |       CASE WHEN o_orderkey > head - 4 THEN 'head' ELSE 'finalized' END AS maturity
      |FROM orders CROSS JOIN (SELECT max(o_orderkey) AS head FROM orders)
      |ORDER BY height""".stripMargin
  ) { (s, d) =>
    val o = Tables.orders(s, d)
    val head = o.agg(max("o_orderkey").as("head"))
    o.crossJoin(broadcast(head))
      .select(col("o_orderkey").as("height"),
        graft.streaming.Streams.maturity(col("o_orderkey"), col("head")).as("maturity"))
      .orderBy("height")
  }

  /** Reorg repair: forked heights carry >1 candidate; keep the canonical
    * one, list the rest for deletion (reference: src/command/stream.rs:49-52
    * never overwrites; src/command/verify.rs:325-369 reconciles).
    * Candidates: (l_orderkey, l_linenumber); canonical = highest quantity,
    * ties by line/part for determinism.
    */
  val reorgRepair: Op = Op.sql(
    "reorg-repair",
    """SELECT l_orderkey AS height, l_linenumber AS kept_line, n_forks FROM (
      |  SELECT l_orderkey, l_linenumber,
      |         row_number() OVER (PARTITION BY l_orderkey
      |           ORDER BY l_quantity DESC, l_linenumber DESC, l_partkey DESC) AS rn,
      |         count(*) OVER (PARTITION BY l_orderkey) AS n_forks
      |  FROM lineitem) t
      |WHERE rn = 1 AND n_forks > 1
      |ORDER BY height""".stripMargin
  ) { (s, d) =>
    // One map-side-combined argmax aggregation, not two windows (round
    // 13): the rank + count windows shuffled and SORTED every candidate
    // row; max(struct) + count reduce map-side first and need no sort.
    // Tie-identical: the window ordered (quantity, linenumber, partkey)
    // all-DESC — exactly the lexicographic struct maximum.
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(max(struct(col("l_quantity"), col("l_linenumber"),
        col("l_partkey"))).as("m"),
        count(lit(1)).as("n_forks"))
      .filter(col("n_forks") > 1)
      .select(col("l_orderkey").as("height"),
        col("m.l_linenumber").as("kept_line"), col("n_forks"))
      .orderBy("height")
  }

  /** Pulsar notification sink (reference: src/notify/pulsar.rs:30-68): the
    * payload is identical to the JSONL sink; the transport (foreachBatch →
    * Pulsar producer) is a no-op stub offline. The op checks the payload.
    */
  val sinkNotifyPulsar: Op = Op.sql(
    "sink-notify-pulsar",
    """SELECT concat('{"blockchain":"ETH","type":"blocks","run":"stream","maturity":"head","heightStart":',
      |              CAST(event_id AS VARCHAR),
      |              ',"heightEnd":', CAST(event_id AS VARCHAR),
      |              ',"location":"', lpad(CAST(event_id AS VARCHAR), 9, '0'), '.block.avro"}') AS notification
      |FROM events ORDER BY notification""".stripMargin
  ) { (s, d) =>
    val files = Tables.events(s, d).select(
      col("event_id").as("start_h"), col("event_id").as("end_h"),
      Filenames.singleFile(col("event_id"), "block").as("file"),
      lit("blocks").as("kind"))
    graft.archive.Sinks.notificationLines(files, "ETH", "stream", "head")
      .orderBy("notification")
  }

  /** Graceful stop (reference: src/global.rs:24-32 shutdown signal checked
    * in every loop): a REAL streaming query over the events table drains
    * the available input, then stops cleanly; the op reports what was
    * drained before shutdown.
    */
  val gracefulStop: Op = Op.sql(
    "graceful-stop",
    "SELECT TRUE AS stopped, count(*) AS drained FROM events"
  ) { (s, d) =>
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // Unique per invocation: a shared fixed path would let two concurrent
    // harness runs clobber each other's streaming input.
    val tmp = Files.createTempDirectory("graft-graceful-")
    Files.createDirectories(tmp)
    Files.copy(Paths.get(s"$d/events.parquet"), tmp.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val ckpt = Files.createTempDirectory("graft-graceful-ckpt").toString
    val schema = Tables.events(s, d).schema
    val drained = s.sparkContext.longAccumulator("drained")
    val q = graft.streaming.Streams
      .eachBatch(s.readStream.schema(schema).parquet(tmp.toString)) { (b, _) =>
        drained.add(b.count())
      }
      .option("checkpointLocation", ckpt)
      .start()
    q.processAllAvailable()
    val stopped = graft.streaming.Streams.gracefulStop(q)
    import s.implicits._
    Seq((stopped || !q.isActive, drained.value.toLong)).toDF("stopped", "drained")
  }

  /** Streaming ingest dedup, batch shape: first occurrence per content
    * digest wins (earliest timestamp, then lowest event id), with the
    * number of duplicates that would have been dropped. The live path is
    * [[graft.streaming.Streams.dedupIngest]] —
    * `dropDuplicatesWithinWatermark` with the digest-state horizon that
    * keeps streaming state bounded at 100 TB/day (exercised in
    * StreamsSpec); this op is the deterministic full-data shape of the
    * same keep-first semantics that the DuckDB oracle can check.
    *
    * Scale shape: one groupBy(digest) with map-side combine; the argmin is
    * a struct min (no window, no sort of the corpus). The digest
    * deliberately excludes the DOUBLE `value` column: binary-to-decimal
    * string formatting of doubles is engine-specific, and a digest must
    * be reproducible everywhere.
    */
  val streamDedup: Op = Op.sql(
    "stream-dedup",
    """WITH e AS (SELECT event_id, user_id, event_type,
      |                  CAST(epoch_us(ts) AS BIGINT) AS ts_us,
      |                  md5(concat(CAST(user_id AS VARCHAR), '|', event_type))
      |                    AS digest
      |           FROM events),
      |k AS (SELECT digest,
      |             min(struct_pack(ts := ts_us, id := event_id)) AS f,
      |             count(*) AS n_seen
      |      FROM e GROUP BY digest)
      |SELECT digest, f.ts AS ts_us, f.id AS event_id, n_seen - 1 AS n_dropped
      |FROM k ORDER BY digest""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"), expr("ts div 1000").as("ts_us"),
        md5(concat_ws("|", col("user_id"), col("event_type"))).as("digest"))
      .groupBy("digest")
      .agg(min(struct(col("ts_us").as("ts"), col("event_id").as("id"))).as("f"),
        count(lit(1)).as("n_seen"))
      .select(col("digest"), col("f.ts").as("ts_us"), col("f.id").as("event_id"),
        (col("n_seen") - 1).as("n_dropped"))
      .orderBy("digest")
  }

  /** Hourly distinct-user HLL estimates per event type — the batch shape
    * of [[graft.streaming.Streams.hllSketchLive]] (same
    * [[graft.sketch.Hll]] sketch projection and fold; the live path emits
    * the mergeable (window, type, bucket, max rho) sketch per closed
    * window and this fold is its read side, parity-tested in
    * StreamsSpec). The windowed dashboard query a 100 TB/day event
    * stream can actually afford: per (window, group) the state is 64
    * integers, partials combine map-side and across micro-batches, and
    * yesterday's sketches merge with today's without touching raw data.
    * See agg-hll-distinct for the engine-parity argument (integer
    * harmonic sum, enumerable-domain linear counting).
    */
  val streamHll: Op = Op.sql(
    "stream-hll",
    """WITH e AS (SELECT epoch_us(ts) // 3600000000 * 3600000000 AS win_us,
      |                  event_type, user_id FROM events),
      |h AS (
      |  SELECT win_us, event_type,
      |         list_reduce([CAST(strpos('0123456789abcdef', x) - 1 AS BIGINT)
      |                      FOR x IN [substr(md5(CAST(user_id AS VARCHAR)), i, 1)
      |                                FOR i IN generate_series(1, 15)]],
      |                     (a, x) -> a * 16 + x) AS h
      |  FROM e),
      |b AS (SELECT win_us, event_type, h % 64 AS bucket,
      |             CASE WHEN h // 64 = 0 THEN 55
      |                  ELSE 55 - length(bin(h // 64)) END AS rho
      |      FROM h),
      |r AS (SELECT win_us, event_type, bucket, max(rho) AS r
      |      FROM b GROUP BY win_us, event_type, bucket),
      |z AS (SELECT win_us, event_type,
      |             CAST(sum(1::BIGINT << CAST(55 - r AS INTEGER)) AS BIGINT)
      |               + (64 - count(*)) * 36028797018963968 AS zsum,
      |             64 - count(*) AS v
      |      FROM r GROUP BY win_us, event_type),
      |ew AS (SELECT win_us, event_type, v,
      |              CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE) *
      |              CAST(36028797018963968 AS DOUBLE) / zsum AS e_raw
      |       FROM z)
      |SELECT win_us, event_type,
      |       CASE WHEN e_raw <= 160.0 AND v > 0
      |            THEN CAST(round(CAST(64 AS DOUBLE) *
      |                            ln(CAST(64 AS DOUBLE) / v)) AS BIGINT)
      |            ELSE CAST(round(e_raw) AS BIGINT) END AS n_hll
      |FROM ew ORDER BY win_us, event_type""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(expr("(ts div 1000) div 3600000000 * 3600000000").as("win_us"),
        col("event_type"), col("user_id"))
    graft.sketch.Hll.estimate(
      graft.sketch.Hll.sketch(ev, Seq("win_us", "event_type"), col("user_id")),
      Seq("win_us", "event_type"))
      .orderBy("win_us", "event_type")
  }

  /** Hourly windowed p90 value estimate per event type from the
    * fixed-range mergeable histogram sketch ([[graft.sketch.HistQuantile]])
    * — the streaming-shaped quantile: unlike agg-quantile-sketch's
    * data-dependent bounds (a two-pass batch luxury), the fixed range
    * needs no pre-pass, so the SAME sketch accumulates in a watermarked
    * streaming window ([[graft.streaming.Streams.quantileSketchLive]],
    * batch parity in StreamsSpec) and merges by count addition across
    * micro-batches/shards/days. All-integer: bucket, rank and estimate
    * never touch a float.
    */
  val streamQuantile: Op = Op.sql(
    "stream-quantile",
    """WITH e AS (SELECT epoch_us(ts) // 3600000000 * 3600000000 AS win_us,
      |                  event_type, CAST(round(value * 100) AS BIGINT) AS c
      |           FROM events),
      |b AS (SELECT win_us, event_type, greatest(0, least(63, c // 800)) AS bucket,
      |             count(*) AS cnt
      |      FROM e GROUP BY 1, 2, 3),
      |n AS (SELECT win_us, event_type, CAST(sum(cnt) AS BIGINT) AS n
      |      FROM b GROUP BY 1, 2),
      |cum AS (SELECT win_us, event_type, bucket, cnt,
      |               sum(cnt) OVER (PARTITION BY win_us, event_type
      |                              ORDER BY bucket) AS cm
      |        FROM b),
      |hit AS (SELECT n.win_us, n.event_type, n.n, min(cum.bucket) AS bq
      |        FROM n JOIN cum ON cum.win_us = n.win_us
      |                       AND cum.event_type = n.event_type
      |                       AND cum.cm >= (9 * n.n + 9) // 10
      |        GROUP BY 1, 2, 3)
      |SELECT win_us, event_type, n, CAST(bq * 800 AS BIGINT) AS p90_est_cents
      |FROM hit ORDER BY win_us, event_type""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(expr("(ts div 1000) div 3600000000 * 3600000000").as("win_us"),
        col("event_type"), round(col("value") * 100).cast("long").as("c"))
    graft.sketch.HistQuantile.estimate(
      graft.sketch.HistQuantile.sketch(ev, Seq("win_us", "event_type"), col("c")),
      Seq("win_us", "event_type"))
      .orderBy("win_us", "event_type")
  }

  /** Windowed heavy hitters — the top-3 users per (hour, event type) by
    * event count, completing the streaming sketch tier (HLL distinct,
    * histogram quantile, now top-k). Batch shape: one map-side-combined
    * count per (window, type, user) then the shared salted two-phase
    * top-k (functions/TopK — never a per-(window,type) window over raw
    * counts). The live path ([[graft.streaming.Streams.topkCountsLive]])
    * runs the same count aggregation under a watermark — counts merge
    * across micro-batches, ranks don't, so the top-k is a read-time fold
    * exactly like stream-hll's estimate; StreamsSpec drives parity. At
    * 100 TB the live state is per-(window, active user) — a production
    * deployment fronts it with the count-min screen (text-heavy-hitters)
    * to cap state; the exact tier here is what that screen verifies
    * against. Ties break to the smaller user id, deterministic on both
    * engines.
    */
  val streamTopk: Op = Op.sql(
    "stream-topk",
    """WITH c AS (SELECT epoch_ns(ts) // 3600000000000 * 3600000000 AS win_us,
      |                  event_type, user_id, count(*) AS n
      |           FROM events GROUP BY win_us, event_type, user_id),
      |r AS (SELECT win_us, event_type, user_id, n,
      |             row_number() OVER (PARTITION BY win_us, event_type
      |               ORDER BY n DESC, user_id) AS rk
      |      FROM c)
      |SELECT win_us, event_type, user_id, n FROM r WHERE rk <= 3
      |ORDER BY win_us, event_type, n DESC, user_id""".stripMargin
  ) { (s, d) =>
    val counts = Tables.events(s, d)
      .groupBy(expr("ts div 3600000000000 * 3600000000").as("win_us"),
        col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n"))
    graft.functions.TopK.topkPerGroup(counts, Seq("win_us", "event_type"),
        Seq(col("n").desc, col("user_id")), 3)
      .orderBy(col("win_us"), col("event_type"), col("n").desc, col("user_id"))
  }

  /** Watermark-delay audit: measure per-key event-time disorder (how late an
    * event arrives relative to the running max event time of its key's
    * stream, in arrival order = event_id) and aggregate per event_type the
    * lateness profile a `withWatermark` delay must cover: max lateness, the
    * p95, and the share of late arrivals in basis points. This is the
    * offline calibration for every watermarked op in graft.streaming.Streams
    * — set the delay at/above the observed p95+ and the dropped-row rate is
    * the residual (1 - coverage) measured here. The reference handles the
    * same phenomenon with its block "maturity" confirmations
    * (src/command/stream.rs late-block logic) — a fixed-depth watermark.
    *
    * Scale shape: lateness is a running-max window PARTITIONED BY user_id
    * (per-key streams — thousands of parallel partitions, never a global
    * order); the per-type rollup is a 5-group agg with partial aggregation.
    * Lateness is exact integer micros; p95 uses exact `percentile`, which
    * matches DuckDB quantile_cont bit-for-bit on integer inputs at 6 dp.
    */
  val streamWatermarkAudit: Op = Op.sql(
    "stream-watermark-audit",
    """WITH l AS (
      |  SELECT event_type,
      |         (max(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY event_id)
      |            - epoch_ns(ts)) // 1000 AS late_us
      |  FROM events)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |       CAST(max(late_us) AS BIGINT) AS max_late_us,
      |       round(quantile_cont(late_us, 0.95), 6) AS p95_late_us,
      |       CAST(count(*) FILTER (WHERE late_us > 0) * 10000 // count(*) AS BIGINT) AS late_bp
      |FROM l GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"), col("user_id"), col("event_id"), col("ts"))
      .withColumn("late_us", expr("(max(ts) over (partition by user_id order by event_id rows between unbounded preceding and current row) - ts) div 1000"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        max("late_us").as("max_late_us"),
        round(expr("percentile(late_us, 0.95D)"), 6).as("p95_late_us"),
        expr("sum(case when late_us > 0 then 1 else 0 end) * 10000 div count(*)").as("late_bp"))
      .orderBy("event_type")
  }

  /** Keyed last-write-wins materialized view — the batch (read-side) shape
    * of [[graft.streaming.Streams.upsertLive]]: per user the CURRENT row
    * is the event with the greatest (ts_us, event_id), plus the running
    * update count. This is the CDC-consumer view a stream of upserts
    * materializes (the streaming sibling of join-merge-upsert's
    * two-snapshot MERGE); replays and late arrivals are absorbed because
    * the (ts, id) order decides, not arrival order — so batch backfill
    * and live tail converge to identical rows (parity in StreamsSpec).
    *
    * Scale shape: one map-side-combined groupBy to the key grain —
    * max(struct) partials reduce before the exchange; at rest the view is
    * user-bucketed, so the refresh join is co-located.
    */
  val streamUpsert: Op = Op.sql(
    "stream-upsert",
    """WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
      |                  event_id, event_type,
      |                  CAST(round(value * 100) AS BIGINT) AS cents
      |           FROM events),
      |k AS (SELECT user_id,
      |             max(struct_pack(ts := ts_us, id := event_id,
      |                             et := event_type, c := cents)) AS l,
      |             count(*) AS n_updates
      |      FROM e GROUP BY user_id)
      |SELECT user_id, l.ts AS ts_us, l.id AS event_id, l.et AS event_type,
      |       l.c AS value_cents, CAST(n_updates AS BIGINT) AS n_updates
      |FROM k ORDER BY user_id""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("event_id"),
        col("event_type"), round(col("value") * 100).cast("long").as("cents"))
      .groupBy("user_id")
      .agg(max(struct(col("ts_us").as("ts"), col("event_id").as("id"),
        col("event_type").as("et"), col("cents").as("c"))).as("l"),
        count(lit(1)).as("n_updates"))
      .select(col("user_id"), col("l.ts").as("ts_us"), col("l.id").as("event_id"),
        col("l.et").as("event_type"), col("l.c").as("value_cents"),
        col("n_updates"))
      .orderBy("user_id")
  }

  /** Hourly Count–Min cells per window — the batch shape of
    * [[graft.streaming.Streams.countminLive]] (same d=4 × w=64 grid as
    * agg-countmin, windowed). The emitted (window, r, bucket, n) rows are
    * the MERGEABLE sketch tier: cells add across micro-batches, shards
    * and days, so any coarser-grain heavy-hitter estimate is a sum over
    * stored cells — never a rescan of raw events (the same
    * persisted-sketch contract as stream-hll / agg-hll-merge). State per
    * (window) is the fixed 256-cell grid at ANY key cardinality, which is
    * what makes the screen affordable in front of stream-topk at 100 TB.
    *
    * Scale shape: one map-side-combined groupBy to (window, r, bucket) —
    * ≤ 256 cells per hour regardless of corpus size.
    */
  val streamCountmin: Op = Op.sql(
    "stream-countmin",
    """WITH r4 AS (SELECT unnest(generate_series(0, 3)) AS r),
      |c AS (SELECT epoch_us(e.ts) // 3600000000 * 3600000000 AS win_us, r.r,
      |        CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' ||
      |              e.event_type), 1, 8)) AS BIGINT) % 64 AS b
      |      FROM events e, r4 r)
      |SELECT win_us, r, b, count(*) AS cell_n
      |FROM c GROUP BY win_us, r, b
      |ORDER BY win_us, r, b""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .select(expr("ts div 1000 div 3600000000 * 3600000000").as("win_us"),
        graft.ops.AggOps.cmsPairs(col("event_type")))
      .select(col("win_us"), col("rb.r").as("r"), col("rb.b").as("b"))
      .groupBy("win_us", "r", "b").agg(count(lit(1)).as("cell_n"))
      .orderBy("win_us", "r", "b")
  }

  /** State-store capacity budget, MEASURED from the corpus — the table a
    * deployment reads before sizing RocksDB/executor memory for each
    * stateful streaming op: live keys for the upsert view, open (window,
    * type) groups for the hourly aggs, sketch cells for HLL (64/window-
    * type) and CMS (256/window), band-index entries for streaming
    * near-dup (16/doc), and the watermark-horizon row buffer (events
    * inside the final 30 min). Every number is the EXACT state
    * cardinality the corresponding live path would hold if it replayed
    * this corpus — measure, don't guess.
    *
    * Scale shape: everything folds from one (hour, type, users…) rollup
    * pass over events plus a documents count; output is 6 rows.
    */
  val streamStateBudget: Op = Op.sql(
    "stream-state-budget",
    """WITH u AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      |           FROM events),
      |ht AS (SELECT CAST(count(*) AS BIGINT) AS n_wt FROM
      |         (SELECT DISTINCT epoch_us(ts) // 3600000000 AS h, event_type
      |          FROM events)),
      |hh AS (SELECT CAST(count(DISTINCT epoch_us(ts) // 3600000000) AS BIGINT)
      |         AS n_h FROM events),
      |dc AS (SELECT count(*) AS n_docs FROM documents),
      |wm AS (SELECT CAST(count(*) AS BIGINT) AS n_buf FROM events,
      |         (SELECT max(epoch_us(ts)) AS mx FROM events) g
      |       WHERE epoch_us(ts) > g.mx - 1800000000),
      |rows_(component, state_rows) AS (
      |  SELECT 'cms-cells', (SELECT n_h * 256 FROM hh)
      |  UNION ALL SELECT 'hll-cells', (SELECT n_wt * 64 FROM ht)
      |  UNION ALL SELECT 'hourly-windows', (SELECT n_wt FROM ht)
      |  UNION ALL SELECT 'neardup-band-index', (SELECT n_docs * 16 FROM dc)
      |  UNION ALL SELECT 'upsert-view-keys', (SELECT n_users FROM u)
      |  UNION ALL SELECT 'watermark-buffer-rows', (SELECT n_buf FROM wm))
      |SELECT component, CAST(state_rows AS BIGINT) AS state_rows
      |FROM rows_ ORDER BY component""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d).select(col("user_id"),
      expr("ts div 1000").as("us"), col("event_type"))
    val roll = ev.groupBy(expr("us div 3600000000").as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"), max("us").as("mx"))
    val agg = roll.agg(
      count(lit(1)).as("n_wt"),
      countDistinct("h").as("n_h"),
      max("mx").as("g_mx"))
    val users = ev.agg(countDistinct("user_id").as("n_users"))
    val buf = ev.crossJoin(broadcast(agg.select("g_mx")))
      .filter(col("us") > col("g_mx") - 1800000000L)
      .agg(count(lit(1)).as("n_buf"))
    val docs = Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
    agg.crossJoin(broadcast(users)).crossJoin(broadcast(buf))
      .crossJoin(broadcast(docs))
      .select(explode(array(
        struct(lit("cms-cells").as("component"),
          (col("n_h") * 256L).as("state_rows")),
        struct(lit("hll-cells").as("component"),
          (col("n_wt") * 64L).as("state_rows")),
        struct(lit("hourly-windows").as("component"),
          col("n_wt").cast("long").as("state_rows")),
        struct(lit("neardup-band-index").as("component"),
          (col("n_docs") * 16L).as("state_rows")),
        struct(lit("upsert-view-keys").as("component"),
          col("n_users").cast("long").as("state_rows")),
        struct(lit("watermark-buffer-rows").as("component"),
          col("n_buf").cast("long").as("state_rows")))).as("r"))
      .select(col("r.component").as("component"),
        col("r.state_rows").cast("long").as("state_rows"))
      .orderBy("component")
  }

  /** Feed-outage detection: minutes-with-traffic collapse to islands and
    * the gaps BETWEEN islands longer than 5 minutes are the outages —
    * start/end (micro-epoch minutes) and duration. The pipeline-health
    * sibling of win-gap-detect (that one finds missing HEIGHTS; this
    * finds silent WALL-CLOCK stretches in the arrival stream, the pager
    * signal for a stuck producer the per-type freshness table can miss
    * when every type dies at once).
    *
    * Scale shape: one map-side-combined rollup to the minute grain
    * (span-bounded: ~526k rows/year), islands via the shared
    * [[Intervals]] two-phase machinery — the event stream is scanned
    * once and never windowed.
    */
  val streamOutageGaps: Op = Op.sql(
    "stream-outage-gaps",
    """WITH m AS (SELECT DISTINCT epoch_us(ts) // 60000000 AS minute
      |           FROM events),
      |flags AS (SELECT minute, CASE WHEN lag(minute) OVER (ORDER BY minute)
      |                                IS NULL
      |                          OR minute - lag(minute) OVER (ORDER BY minute)
      |                             > 1 THEN 1 ELSE 0 END AS brk FROM m),
      |isl AS (SELECT minute, sum(brk) OVER (ORDER BY minute) AS g FROM flags),
      |iv AS (SELECT min(minute) AS s, max(minute) AS e FROM isl GROUP BY g),
      |gaps AS (SELECT e + 1 AS gap_start_min, next_s - 1 AS gap_end_min,
      |                next_s - e - 1 AS gap_minutes
      |         FROM (SELECT s, e, lead(s) OVER (ORDER BY s) AS next_s FROM iv) t
      |         WHERE next_s IS NOT NULL)
      |SELECT gap_start_min, gap_end_min, CAST(gap_minutes AS BIGINT)
      |         AS gap_minutes
      |FROM gaps WHERE gap_minutes > 5 ORDER BY gap_start_min""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val m = Tables.events(s, d)
      .select(expr("ts div 1000 div 60000000").as("minute")).distinct()
    val iv = graft.ops.Intervals.islands(m, "minute")
    val w = Window.orderBy("s")
    iv.withColumn("next_s", lead("s", 1).over(w))
      .filter(col("next_s").isNotNull)
      .select((col("e") + 1).as("gap_start_min"),
        (col("next_s") - 1).as("gap_end_min"),
        (col("next_s") - col("e") - 1).cast("long").as("gap_minutes"))
      .filter(col("gap_minutes") > 5)
      .orderBy("gap_start_min")
  }

  /** The CMS READ path, graded: per hour, rank candidate keys by their
    * Count–Min estimate (min over the 4 rows of the key's cell — read
    * from stream-countmin's emitted cells, raw events never re-scanned)
    * and score the sketch's top-3 against the exact top-3. `n_hits` per
    * window is the realized accuracy of the screen stream-topk fronts at
    * 100 TB; windows where the sketch misses are windows whose traffic
    * was too uniform for a d=4×w=64 grid — the signal to widen w.
    *
    * Scale shape: cells are (window × 256)-sized, the candidate-key probe
    * is (window × keys × 4) rows joined onto cells, and both top-3
    * selections are per-window folds over key-domain-sized rows; the one
    * corpus-sized pass is the cell build itself.
    */
  val streamCmsTopk: Op = Op.sql(
    "stream-cms-topk",
    """WITH r4 AS (SELECT unnest(generate_series(0, 3)) AS r),
      |ev AS (SELECT epoch_us(ts) // 3600000000 * 3600000000 AS win_us,
      |              event_type FROM events),
      |cells AS (SELECT win_us, r.r,
      |            CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' ||
      |                  ev.event_type), 1, 8)) AS BIGINT) % 64 AS b,
      |            count(*) AS cell_n
      |          FROM ev, r4 r GROUP BY win_us, r.r, b),
      |keys AS (SELECT DISTINCT event_type FROM ev),
      |probe AS (SELECT k.event_type, r.r,
      |            CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' ||
      |                  k.event_type), 1, 8)) AS BIGINT) % 64 AS b
      |          FROM keys k, r4 r),
      |est AS (SELECT c.win_us, p.event_type, min(c.cell_n) AS est
      |        FROM probe p JOIN cells c ON c.r = p.r AND c.b = p.b
      |        GROUP BY c.win_us, p.event_type),
      |etop AS (SELECT win_us, event_type FROM (
      |           SELECT win_us, event_type,
      |                  row_number() OVER (PARTITION BY win_us
      |                    ORDER BY est DESC, event_type) AS rn FROM est) t
      |         WHERE rn <= 3),
      |xact AS (SELECT win_us, event_type, count(*) AS n FROM ev
      |         GROUP BY win_us, event_type),
      |xtop AS (SELECT win_us, event_type FROM (
      |           SELECT win_us, event_type,
      |                  row_number() OVER (PARTITION BY win_us
      |                    ORDER BY n DESC, event_type) AS rn FROM xact) t
      |         WHERE rn <= 3)
      |SELECT x.win_us AS win_us,
      |       CAST(sum(CASE WHEN e.event_type IS NOT NULL THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_hits
      |FROM xtop x LEFT JOIN etop e
      |  ON e.win_us = x.win_us AND e.event_type = x.event_type
      |GROUP BY x.win_us ORDER BY win_us""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(expr("ts div 1000 div 3600000000 * 3600000000").as("win_us"),
        col("event_type"))
    val cells = ev
      .select(col("win_us"), graft.ops.AggOps.cmsPairs(col("event_type")))
      .select(col("win_us"), col("rb.r").as("r"), col("rb.b").as("b"))
      .groupBy("win_us", "r", "b").agg(count(lit(1)).as("cell_n"))
    val probe = ev.select("event_type").distinct()
      .select(col("event_type"), graft.ops.AggOps.cmsPairs(col("event_type")))
      .select(col("event_type"), col("rb.r").as("r"), col("rb.b").as("b"))
    val est = probe.join(cells, Seq("r", "b"))
      .groupBy("win_us", "event_type").agg(min("cell_n").as("est"))
    def top3(df: org.apache.spark.sql.DataFrame, ord: org.apache.spark.sql.Column) =
      df.withColumn("rn", row_number().over(
        Window.partitionBy("win_us").orderBy(ord, col("event_type"))))
        .filter(col("rn") <= 3).select("win_us", "event_type")
    val etop = top3(est, col("est").desc)
    val xtop = top3(
      ev.groupBy("win_us", "event_type").agg(count(lit(1)).as("n")),
      col("n").desc)
    xtop.join(etop.withColumn("hit", lit(1L)), Seq("win_us", "event_type"), "left")
      .groupBy("win_us")
      .agg(sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_hits"))
      .orderBy("win_us")
  }

  /** Archive backlog against the finalized frontier: chain head, the
    * finalized height under the reference's top-4 safety margin
    * (src/archiver/blocks_config.rs:30-36), how much below it is
    * archived, the missing backlog, and the completeness in basis
    * points — the single-row lag dashboard a `stream --continue`
    * deployment watches (backlog growing while the head advances means
    * the tail loop lost the race and a backfill is due).
    *
    * Scale shape: one max and one filtered count over the archived set
    * (both map-side-combined); the frontier is a broadcast scalar.
    */
  val streamFinalizedLag: Op = Op.sql(
    "stream-finalized-lag",
    """WITH arch AS (SELECT o_orderkey AS h FROM orders
      |              WHERE o_orderkey % 7 <> 0),
      |hd AS (SELECT max(o_orderkey) AS head FROM orders),
      |c AS (SELECT CAST(count(*) AS BIGINT) AS n_arch,
      |             CAST(min(h) AS BIGINT) AS mn
      |      FROM arch, hd WHERE h <= head - 4)
      |SELECT hd.head AS head_h,
      |       CAST(hd.head - 4 AS BIGINT) AS finalized_h,
      |       c.n_arch AS n_archived,
      |       CAST(hd.head - 4 - c.mn + 1 - c.n_arch AS BIGINT) AS n_missing,
      |       CAST((c.n_arch * 10000) // (hd.head - 4 - c.mn + 1) AS BIGINT)
      |         AS complete_bp
      |FROM hd, c""".stripMargin
  ) { (s, d) =>
    val arch = Tables.orders(s, d).filter(col("o_orderkey") % 7 =!= 0)
      .select(col("o_orderkey").as("h"))
    val hd = Tables.orders(s, d).agg(max("o_orderkey").as("head"))
    val c = arch.crossJoin(broadcast(hd))
      .filter(col("h") <= col("head") - 4)
      .agg(count(lit(1)).cast("long").as("n_arch"),
        min("h").cast("long").as("mn"))
    hd.crossJoin(broadcast(c))
      .select(col("head").as("head_h"),
        (col("head") - 4).cast("long").as("finalized_h"),
        col("n_arch").as("n_archived"),
        (col("head") - 4 - col("mn") + 1 - col("n_arch")).cast("long")
          .as("n_missing"),
        expr("(n_arch * 10000) div (head - 4 - mn + 1)").as("complete_bp"))
  }

  val ops: Seq[Op] = Seq(streamFollow, streamFinalized, streamContinue,
    lateData, reorgRepair, sinkNotifyPulsar, gracefulStop, streamDedup,
    streamHll, streamQuantile, streamTopk, streamWatermarkAudit,
    streamUpsert, streamCountmin, streamStateBudget, streamOutageGaps,
    streamCmsTopk, streamFinalizedLag, streamOodFlags)

  /** The train-then-serve z-score flag shared by the batch op and the
    * live path ([[graft.streaming.Streams.oodFlagsLive]]): expects the
    * joined per-type moment columns (n, s, qq) next to the row's cents
    * `c`, and flags |z| > 3 via the integer-moment identity
    * z² = (n·c − S)²/(n·Q − S²) — evaluated in DOUBLE with an
    * identical expression tree on both engines (the long square would
    * overflow at ~10⁵ train rows × 10⁴ cents; the doubles are the SAME
    * correctly-rounded values on both sides, so the comparison cannot
    * diverge). Branch order is part of the contract (matches the
    * oracle's CASE): unseen/thin types → variance ≤ 0 → NULL value →
    * compare.
    */
  private[graft] def oodFlag: org.apache.spark.sql.Column = {
    val nD = col("n").cast("double")
    val sD = col("s").cast("double")
    val znum = nD * col("c") - sD
    val den = nD * col("qq") - sD * col("s")
    when(col("n").isNull || col("n") < 2, lit(false))
      .when(den <= 0, lit(false))
      .when(col("c").isNull, lit(false))
      .otherwise(znum * znum > lit(9) * den)
  }

  /** Streaming out-of-distribution flags — the train-then-serve anomaly
    * screen (reference analogue: the head-follower's lag/verify checks,
    * src/command/stream.rs:92-144, lifted to the value dimension): the
    * stream's GLOBAL first fortnight (days before min(day) + 14, one
    * split for all types) trains per-type moments (n, Σc, Σc²), and the
    * remainder of the stream is scored against them — a type first seen
    * after the split has no moments and routes to the `n IS NULL →
    * false` branch by design (never-trained types are never flagged),
    * flagging |z| > 3 spend values; emitted per (hour window, type) as
    * event and flag counts. This is the op a 100 TB ingest runs forever:
    * the model is a TYPE-grain table that broadcasts, scoring is
    * row-local, and the windowed rollup is the only streaming state
    * (counts merge across micro-batches — the live path
    * [[graft.streaming.Streams.oodFlagsLive]] is this same plan behind a
    * watermark, parity-tested in StreamsSpec).
    *
    * Float discipline: see [[oodFlag]]. The split day is min(day) + 14
    * computed as a 1-row broadcast on both engines (no literal date —
    * fixtures with any time origin train on their own first fortnight).
    */
  lazy val streamOodFlags: Op = Op.sql(
    "stream-ood-flags",
    """WITH e AS (SELECT epoch_us(ts) // 3600000000 * 3600000000 AS win_us,
      |                  epoch_us(ts) // 86400000000 AS day,
      |                  event_type, CAST(round(value * 100) AS BIGINT) AS c
      |           FROM events),
      |sd AS (SELECT min(day) + 14 AS sd FROM e),
      |tr AS (SELECT event_type, CAST(count(c) AS BIGINT) AS n,
      |              CAST(sum(c) AS BIGINT) AS s,
      |              CAST(sum(c * c) AS BIGINT) AS qq
      |       FROM e, sd WHERE day < sd GROUP BY event_type),
      |f AS (SELECT e.win_us, e.event_type,
      |             CASE WHEN tr.n IS NULL OR tr.n < 2 THEN FALSE
      |                  WHEN CAST(tr.n AS DOUBLE) * tr.qq
      |                       - CAST(tr.s AS DOUBLE) * tr.s <= 0 THEN FALSE
      |                  WHEN e.c IS NULL THEN FALSE
      |                  ELSE (CAST(tr.n AS DOUBLE) * e.c - CAST(tr.s AS DOUBLE)) *
      |                       (CAST(tr.n AS DOUBLE) * e.c - CAST(tr.s AS DOUBLE))
      |                       > 9 * (CAST(tr.n AS DOUBLE) * tr.qq
      |                              - CAST(tr.s AS DOUBLE) * tr.s)
      |             END AS flag
      |      FROM e JOIN sd ON e.day >= sd.sd
      |      LEFT JOIN tr USING (event_type))
      |SELECT win_us, event_type, CAST(count(*) AS BIGINT) AS n_events,
      |       CAST(sum(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
      |FROM f GROUP BY win_us, event_type ORDER BY win_us, event_type""".stripMargin
  ) { (s, d) =>
    val e = Tables.events(s, d).select(
      expr("(ts div 1000) div 3600000000 * 3600000000").as("win_us"),
      expr("(ts div 1000) div 86400000000").as("day"),
      col("event_type"), round(col("value") * 100).cast("long").as("c"))
    val sd = e.agg((min("day") + 14).as("sd"))
    val tr = e.crossJoin(broadcast(sd)).filter(col("day") < col("sd"))
      .groupBy("event_type").agg(count(col("c")).as("n"), sum("c").as("s"),
        sum(col("c") * col("c")).as("qq"))
    e.crossJoin(broadcast(sd)).filter(col("day") >= col("sd"))
      .join(broadcast(tr), Seq("event_type"), "left_outer")
      .withColumn("flag", oodFlag)
      .groupBy("win_us", "event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("flag"), 1L).otherwise(0L)).as("n_flagged"))
      .orderBy("win_us", "event_type")
  }
}
