package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Op, StageMemo, Tables}

/** Aggregations (SURVEY.md §2.4).
  *
  * Exact HashSet bookkeeping in the reference becomes partial-aggregating
  * groupBys (map-side combine for free); the dedup-largest pick is a
  * partition-local window, never a global sort.
  */
object AggOps {

  /** The KS grid — the (cents, event_type) count table [[aggKsDrift]]
    * reads four times. Grid-sized (distinct cents × types), so the cache
    * entry is tiny.
    */
  private[graft] def persistedKsGrid(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    StageMemo(s, d, "events", "ks-grid") {
      Tables.events(s, d)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy("cents", "event_type").agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** `deduplicate` — among duplicate candidates keep the one covering the
    * most (reference: src/command/verify.rs:373-404). One map-side-combined
    * argmax aggregation; the struct max covers every output column so ties
    * are value-identical (== the all-DESC rank window it replaces).
    */
  val aggDedupLargest: Op = Op.sql(
    "agg-dedup-largest",
    """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM (
      |  SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
      |         row_number() OVER (PARTITION BY l_orderkey
      |           ORDER BY l_quantity DESC, l_linenumber DESC, l_partkey DESC) AS rn
      |  FROM lineitem) t
      |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin
  ) { (s, d) =>
    // max(struct), not a rank window (round 13): the window spelling
    // shuffled EVERY lineitem row to its key's partition and sorted it;
    // the aggregation's map-side combine reduces each mapper to one row
    // per key before the exchange and needs no sort. Tie-identical: the
    // window ordered (quantity, linenumber, partkey) all-DESC, which is
    // exactly the lexicographic struct maximum.
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(max(struct(col("l_quantity"), col("l_linenumber"),
        col("l_partkey"))).as("m"))
      .select(col("l_orderkey"), col("m.l_linenumber").as("l_linenumber"),
        col("m.l_partkey").as("l_partkey"), col("m.l_quantity").as("l_quantity"))
      .orderBy("l_orderkey")
  }

  /** Per-kind processed counters (reference: src/command/verify.rs:62-96). */
  val aggVerifyStat: Op = Op.sql(
    "agg-verify-stat",
    """SELECT event_type, count(*) AS processed, round(sum(value), 2) AS total
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("processed"), round(sum("value"), 2).as("total"))
      .orderBy("event_type")
  }

  /** Duplicate-height detection (reference: src/command/verify.rs:832-836). */
  val aggDupHeight: Op = Op.sql(
    "agg-dup-height",
    """SELECT l_orderkey AS height, count(*) AS n
      |FROM lineitem GROUP BY height HAVING count(*) > 1 ORDER BY height""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey").as("height"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .orderBy("height")
  }

  /** Duplicate-txid detection (reference: src/command/verify.rs:689-692). */
  val aggDupTxid: Op = Op.sql(
    "agg-dup-txid",
    """SELECT md5(concat(CAST(l_orderkey AS VARCHAR), '-', CAST(l_linenumber AS VARCHAR))) AS txid,
      |       count(*) AS n
      |FROM lineitem GROUP BY txid HAVING count(*) > 1 ORDER BY txid""".stripMargin
  ) { (s, d) =>
    val txid = md5(concat(col("l_orderkey").cast("string"), lit("-"), col("l_linenumber").cast("string")))
    Tables.lineitem(s, d)
      .groupBy(txid.as("txid"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .orderBy("txid")
  }

  /** Current chain head (reference: src/blockchain/mock.rs:198-204). */
  val aggMaxHeight: Op = Op.sql(
    "agg-max-height",
    "SELECT max(o_orderkey) AS head FROM orders"
  ) { (s, d) =>
    Tables.orders(s, d).agg(max("o_orderkey").as("head"))
  }

  /** Sliding/tumbling throughput windows (reference: src/progress.rs:135-181)
    * — hourly buckets over epoch-nanos with count/sum/distinct users.
    */
  val aggThroughput: Op = Op.sql(
    "agg-throughput",
    """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket,
      |       count(*) AS n, round(sum(value), 2) AS total,
      |       count(DISTINCT user_id) AS n_users
      |FROM events GROUP BY hour_bucket ORDER BY hour_bucket""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .groupBy(expr("ts div 3600000000000").as("hour_bucket"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"),
        countDistinct("user_id").as("n_users"))
      .orderBy("hour_bucket")
  }

  /** The reference's ACTUAL throughput shape — a sliding window (5-minute
    * span, 1-minute slide; reference: src/progress.rs:13,135-181) — via
    * Spark's native `window()` with a slide: every event lands in 5
    * windows. Oracle expands the same 5 window-starts per event.
    */
  val aggThroughputSliding: Op = Op.sql(
    "agg-throughput-sliding",
    """SELECT (epoch_us(ts) // 60000000 - k) * 60 AS w_start,
      |       count(*) AS n, round(sum(value), 2) AS total
      |FROM events, (SELECT unnest(generate_series(0, 4)) AS k) g
      |GROUP BY w_start ORDER BY w_start""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .withColumn("tsc", timestamp_micros(expr("ts div 1000")))
      .groupBy(window(col("tsc"), "5 minutes", "1 minute").as("w"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .select(col("w.start").cast("long").as("w_start"), col("n"), col("total"))
      .orderBy("w_start")
  }

  /** Counter + histogram metrics by kind×direction (reference:
    * src/metrics/archive.rs:14-84) — width_bucket-style floor histogram.
    */
  val aggMetrics: Op = Op.sql(
    "agg-metrics",
    """SELECT event_type AS kind,
      |       CASE WHEN user_id % 2 = 0 THEN 'in' ELSE 'out' END AS direction,
      |       CAST(floor(value / 50) AS BIGINT) AS bucket,
      |       count(*) AS n, round(sum(value), 2) AS total
      |FROM events GROUP BY kind, direction, bucket
      |ORDER BY kind, direction, bucket""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .groupBy(
        col("event_type").as("kind"),
        when(col("user_id") % 2 === 0, lit("in")).otherwise(lit("out")).as("direction"),
        floor(col("value") / 50).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total"))
      .orderBy("kind", "direction", "bucket")
  }

  /** Exact interpolated latency quantiles (p50/p95/p99) per kind — the
    * observability companion to the blockTime histogram (the reference
    * exposes the histogram and lets Prometheus derive quantiles;
    * metrics/archive.rs:13). Spark's `percentile` and DuckDB's
    * `quantile_cont` share linear-interpolation semantics, so the values
    * hash-match at 6 dp. Exact percentile sorts per group — fine at
    * per-kind cardinality; at 100 TB per-key grain switch to
    * `approx_percentile` (documented switch, SURVEY §2.4 note).
    */
  val aggLatencyQuantiles: Op = Op.sql(
    "agg-latency-quantiles",
    """WITH g AS (SELECT event_type AS kind,
      |                  quantile_cont(value, [0.5, 0.95, 0.99]) AS qs
      |           FROM events GROUP BY 1)
      |SELECT kind,
      |       CASE i WHEN 1 THEN 'p50' WHEN 2 THEN 'p95' ELSE 'p99' END AS q,
      |       round(qs[i], 6) AS v
      |FROM g, (SELECT unnest(generate_series(1, 3)) AS i) t
      |ORDER BY kind, q""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .groupBy(col("event_type").as("kind"))
      .agg(expr("percentile(value, array(0.5D, 0.95D, 0.99D))").as("qs"))
      .select(col("kind"), posexplode(col("qs")).as(Seq("i", "qv")))
      .select(col("kind"),
        when(col("i") === 0, "p50").when(col("i") === 1, "p95")
          .otherwise("p99").as("q"),
        round(col("qv"), 6).as("v"))
      .orderBy("kind", "q")
  }

  /** Whole-chain verdict in ONE distributed aggregation — the typed
    * ChainSequenceAggregator (SURVEY.md §7 custom piece (b)): partitions
    * fold into verified segments, merges stitch boundaries; a break is any
    * surviving segment start. Same planted defects as win-chain-link:
    * %7 gaps and a corrupted hash at h%50==0 (which breaks the link AT the
    * NEXT height present in the set).
    */
  val aggChainVerify: Op = Op.sql(
    "agg-chain-verify",
    """WITH b AS (
      |  SELECT o_orderkey AS h,
      |         CASE WHEN o_orderkey % 50 = 0
      |              THEN md5(concat('x', CAST(o_orderkey AS VARCHAR)))
      |              ELSE md5(CAST(o_orderkey AS VARCHAR)) END AS blockId,
      |         md5(CAST(o_orderkey - 1 AS VARCHAR)) AS parentId
      |  FROM orders WHERE o_orderkey % 7 <> 0),
      |links AS (
      |  SELECT b.h, (p.blockId IS NOT NULL AND b.parentId = p.blockId) AS linked
      |  FROM b LEFT JOIN b p ON b.h = p.h + 1),
      |breaks AS (
      |  SELECT h FROM links WHERE NOT linked AND h > (SELECT min(h) FROM b))
      |SELECT (SELECT count(*) FROM breaks) = 0 AS ok,
      |       (SELECT min(h) FROM b) AS min_h,
      |       (SELECT max(h) FROM b) AS max_h,
      |       (SELECT count(*) FROM breaks) AS n_breaks,
      |       (SELECT min(h) FROM breaks) AS first_break""".stripMargin
  ) { (s, d) =>
    import s.implicits._
    import graft.functions.{BlockLink, ChainSequenceAggregator}
    val links = Tables.orders(s, d)
      .filter(col("o_orderkey") % 7 =!= 0)
      .select(
        col("o_orderkey").as("height"),
        when(col("o_orderkey") % 50 === 0,
          md5(concat(lit("x"), col("o_orderkey").cast("string"))))
          .otherwise(md5(col("o_orderkey").cast("string"))).as("blockId"),
        md5((col("o_orderkey") - 1).cast("string")).as("parentId"))
      .as[BlockLink]
    links.select(ChainSequenceAggregator.toColumn) // typed select → Dataset[ChainVerdict]
      .toDF()
      .select(
        col("ok"),
        col("minH").as("min_h"),
        col("maxH").as("max_h"),
        size(col("breaks")).cast("long").as("n_breaks"),
        array_min(col("breaks")).as("first_break"))
  }

  /** Retention cohorts (scale extension): users grouped by signup week,
    * then distinct active users counted per (cohort, weeks-since-signup)
    * — the standard retention triangle, all integer arithmetic (weeks =
    * micros div 7·86400·10⁶).
    *
    * Scale shape: the distinct (user, week) prune happens BEFORE the
    * cohort join (map-side combine absorbs per-user event volume); the
    * join keys on user_id with a signup-user-sized right side; the final
    * count-distinct aggregates a (cohort, offset, user) stream that is
    * already distinct per user-week.
    */
  val aggRetention: Op = Op.sql(
    "agg-retention",
    """WITH su AS (SELECT user_id, min(epoch_us(ts) // 604800000000) AS cohort_week
      |            FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |act AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week FROM events),
      |r AS (SELECT s.cohort_week, a.week - s.cohort_week AS week_offset, a.user_id
      |      FROM act a JOIN su s ON a.user_id = s.user_id
      |      WHERE a.week >= s.cohort_week)
      |SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
      |       CAST(week_offset AS BIGINT) AS week_offset,
      |       count(DISTINCT user_id) AS n_users
      |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("user_id"), expr("(ts div 1000) div 604800000000").as("week"),
        col("event_type"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("week").as("cohort_week"))
    ev.select("user_id", "week").distinct()
      .join(su, "user_id")
      .filter(col("week") >= col("cohort_week"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Ordered conversion funnel (scale extension): users who signed up,
    * then clicked strictly AFTER the signup, then purchased strictly
    * after that click — order-sensitive stage matching (a click before
    * signup does not count), the analytics shape sessionized event
    * pipelines feed. Conversion is integer micro-units vs the previous
    * stage.
    *
    * Scale shape: each stage is one filtered groupBy joined to the
    * previous stage's user-keyed table (monotone shrinking); the three
    * 1-row counts cross-join and the stage rows EXPLODE from that single
    * row — never a union of N aggregated selects (which would re-execute
    * the subtree N times). Timestamps compare at micro grain on both
    * engines.
    */
  val aggFunnel: Op = Op.sql(
    "agg-funnel",
    """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
      |            WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2 FROM events e
      |       JOIN s1 ON e.user_id = s1.user_id
      |       WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3 FROM events e
      |       JOIN s2 ON e.user_id = s2.user_id
      |       WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2 GROUP BY 1),
      |n AS (SELECT (SELECT count(*) FROM s1) AS n1, (SELECT count(*) FROM s2) AS n2,
      |             (SELECT count(*) FROM s3) AS n3)
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS stage, 'signup' AS stage_name,
      |         n1 AS n_users, CAST(1000000 AS BIGINT) AS conv_e6 FROM n
      |  UNION ALL SELECT 2, 'click_after_signup', n2,
      |    CASE WHEN n1 = 0 THEN 0 ELSE CAST(round(n2 * 1000000.0 / n1) AS BIGINT) END FROM n
      |  UNION ALL SELECT 3, 'purchase_after_click', n3,
      |    CASE WHEN n2 = 0 THEN 0 ELSE CAST(round(n3 * 1000000.0 / n2) AS BIGINT) END FROM n)
      |ORDER BY stage""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts_us").as("t1"))
    val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("ts_us") > col("t1")).groupBy("user_id").agg(min("ts_us").as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
      .filter(col("ts_us") > col("t2")).groupBy("user_id").agg(min("ts_us").as("t3"))
    def conv(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      when(den === 0, lit(0L))
        .otherwise(round(num * lit(1000000.0) / den).cast("long"))
    s1.agg(count(lit(1)).as("n1"))
      .crossJoin(s2.agg(count(lit(1)).as("n2")))
      .crossJoin(s3.agg(count(lit(1)).as("n3")))
      .select(explode(array(
        struct(lit(1L).as("stage"), lit("signup").as("stage_name"),
          col("n1").as("n_users"), lit(1000000L).as("conv_e6")),
        struct(lit(2L).as("stage"), lit("click_after_signup").as("stage_name"),
          col("n2").as("n_users"), conv(col("n2"), col("n1")).as("conv_e6")),
        struct(lit(3L).as("stage"), lit("purchase_after_click").as("stage_name"),
          col("n3").as("n_users"), conv(col("n3"), col("n2")).as("conv_e6")))).as("r"))
      .select(col("r.stage").as("stage"), col("r.stage_name").as("stage_name"),
        col("r.n_users").as("n_users"), col("r.conv_e6").as("conv_e6"))
      .orderBy("stage")
  }

  /** Daily/weekly active users with the stickiness ratio (DAU over the
    * containing week's WAU) — the engagement row every event pipeline
    * reports. Integer day/week bucketing (days nest exactly in weeks);
    * the ratio snaps at micro grain.
    *
    * Scale shape: both distinct-user counts are groupBys with partial
    * aggregation; the day→week join attaches a weeks-sized table
    * (broadcast at any realistic horizon).
    */
  val aggActiveUsers: Op = Op.sql(
    "agg-active-users",
    """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |                  epoch_us(ts) // 604800000000 AS week FROM events),
      |dau AS (SELECT day, min(week) AS week, count(DISTINCT user_id) AS dau
      |        FROM e GROUP BY day),
      |wau AS (SELECT week, count(DISTINCT user_id) AS wau FROM e GROUP BY week)
      |SELECT d.day, d.dau, w.wau,
      |       CAST(round(d.dau * 1000000.0 / w.wau) AS BIGINT) / 1000000.0 AS stickiness
      |FROM dau d JOIN wau w ON d.week = w.week
      |ORDER BY d.day""".stripMargin
  ) { (s, d) =>
    val e = Tables.events(s, d)
      .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day"),
        expr("(ts div 1000) div 604800000000").as("week"))
    val dau = e.groupBy("day")
      .agg(min("week").as("week"), countDistinct("user_id").as("dau"))
    val wau = e.groupBy("week").agg(countDistinct("user_id").as("wau"))
    dau.join(broadcast(wau), "week")
      .select(col("day"), col("dau"), col("wau"),
        (round(col("dau") * lit(1000000.0) / col("wau")).cast("long")
          / lit(1000000.0)).as("stickiness"))
      .orderBy("day")
  }

  /** Per-user lifetime value from purchase events: top-25 spenders with
    * purchase count and total spend. The DOUBLE `value` column is snapped
    * to integer cents PER ROW before any aggregation — a double sum's
    * partial-merge order differs between Spark partials and the oracle
    * (and between any two cluster topologies); an integer cents sum is
    * exact in every order. The ranking is TakeOrderedAndProject over the
    * users-sized aggregate — no global sort of the event stream.
    */
  val aggUserValue: Op = Op.sql(
    "agg-user-value",
    """SELECT user_id, count(*) AS n_purchases,
      |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY user_id ORDER BY cents DESC, user_id LIMIT 25""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), round(col("value") * 100).cast("long").as("cents"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_purchases"), sum("cents").as("cents"))
      .orderBy(col("cents").desc, col("user_id"))
      .limit(25)
  }

  /** HyperLogLog distinct-user sketch per event type (Flajolet et al.
    * 2007), next to the exact count and the observed relative error. m=64
    * buckets, md5-derived 60-bit hash (bucket = low 6 bits, rho = leading-
    * zero rank of the remaining 54), raw estimate E = α·m²/Σ2^−r with
    * α = 0.709, plus the paper's linear-counting small-range correction
    * (E ≤ 2.5m and empty buckets V > 0 → m·ln(m/V)). The correction's ln
    * is safe against the house libm ban because its input domain is
    * ENUMERABLE — V ∈ 1..64, and the nearest any m·ln(m/V) comes to a
    * round-half boundary is 9.5e-5 (asserted in OpsR11Spec), ~9 orders
    * above any libm last-ULP disagreement; the branch condition compares
    * identical doubles on both sides.
    *
    * Why it earns a slot: count(DISTINCT) at 100 TB is a full shuffle of
    * every distinct key; the HLL sketch is a 64-row-per-group MERGEABLE
    * aggregate — partial max(rho) per bucket combines map-side,
    * re-combines across days/shards/clusters, and the final estimate
    * reads 64 integers. This op runs both side by side so the error of
    * switching is measured, not assumed.
    *
    * Engine parity: the harmonic sum is INTEGER — Σ 2^(55−r) as BIGINT
    * (≤ 64·2^55 < 2^62), absent buckets contribute 2^55 exactly — so no
    * float ever aggregates (summation order can't bend it); the single
    * α·m²·2^55/zsum division is one identical IEEE expression both
    * sides, then round-to-integer. bin()-length gives the integer bit
    * rank (the libm-free floor(log2) idiom of text-length-histogram).
    */
  val aggHllDistinct: Op = Op.sql(
    "agg-hll-distinct",
    """WITH h AS (
      |  SELECT event_type,
      |         list_reduce([CAST(strpos('0123456789abcdef', x) - 1 AS BIGINT)
      |                      FOR x IN [substr(md5(CAST(user_id AS VARCHAR)), i, 1)
      |                                FOR i IN generate_series(1, 15)]],
      |                     (a, x) -> a * 16 + x) AS h
      |  FROM events),
      |b AS (SELECT event_type, h % 64 AS bucket,
      |             CASE WHEN h // 64 = 0 THEN 55
      |                  ELSE 55 - length(bin(h // 64)) END AS rho
      |      FROM h),
      |r AS (SELECT event_type, bucket, max(rho) AS r FROM b GROUP BY event_type, bucket),
      |z AS (SELECT event_type,
      |             CAST(sum(1::BIGINT << CAST(55 - r AS INTEGER)) AS BIGINT)
      |               + (64 - count(*)) * 36028797018963968 AS zsum,
      |             64 - count(*) AS v
      |      FROM r GROUP BY event_type),
      |ew AS (SELECT event_type, v,
      |              CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE) *
      |              CAST(36028797018963968 AS DOUBLE) / zsum AS e_raw
      |       FROM z),
      |est AS (SELECT event_type,
      |               CASE WHEN e_raw <= 160.0 AND v > 0
      |                    THEN CAST(round(CAST(64 AS DOUBLE) *
      |                                    ln(CAST(64 AS DOUBLE) / v)) AS BIGINT)
      |                    ELSE CAST(round(e_raw) AS BIGINT) END AS n_hll
      |        FROM ew),
      |x AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
      |      FROM events GROUP BY event_type)
      |SELECT x.event_type, CAST(x.n_exact AS BIGINT) AS n_exact, e.n_hll,
      |       CAST(round((e.n_hll - x.n_exact) * 1000000.0 / x.n_exact) AS BIGINT)
      |         / 1000000.0 AS rel_err
      |FROM x JOIN est e USING (event_type) ORDER BY x.event_type""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
    val est = graft.sketch.Hll.estimate(
      graft.sketch.Hll.sketch(ev, Seq("event_type"), col("user_id")),
      Seq("event_type"))
    val exact = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("n_exact"))
    exact.join(est, Seq("event_type"))
      .select(col("event_type"), col("n_exact"), col("n_hll"),
        (round((col("n_hll") - col("n_exact")) * lit(1000000.0) / col("n_exact"))
          .cast("long") / lit(1000000.0)).as("rel_err"))
      .orderBy("event_type")
  }

  /** KMV distinct-set overlap between every pair of event types (Beyer
    * et al. 2007): per pair, the estimated union size, intersection size
    * and Jaccard from the two k=64-minimum-hash sketches, next to the
    * exact intersection for error observability. The overlap companion to
    * agg-hll-distinct — "how many users do click and purchase SHARE" at
    * 100 TB without ever joining the raw key sets: sketches are k
    * integers per group, pairwise math is k-row joins
    * ([[graft.sketch.Kmv]]).
    *
    * When a pair's union sketch holds fewer than k values the sketches
    * are the complete sets and the op reports exact numbers (same CASE
    * branch both engines, integer comparison) — the sf0.001 fixture
    * exercises that regime, sf0.01+ the estimating one.
    *
    * Scale shape: sketch build is distinct → salted two-phase top-k
    * (a hot group never funnels one window task); everything after is
    * #pairs × k rows. The exact column is the one corpus-sized join —
    * it exists to MEASURE the sketch and is the thing a 100 TB run
    * drops.
    */
  val aggKmvOverlap: Op = Op.sql(
    "agg-kmv-overlap",
    """WITH e AS (
      |  SELECT DISTINCT event_type,
      |         list_reduce([CAST(strpos('0123456789abcdef', x) - 1 AS BIGINT)
      |                      FOR x IN [substr(md5(CAST(user_id AS VARCHAR)), i, 1)
      |                                FOR i IN generate_series(1, 15)]],
      |                     (a, x) -> a * 16 + x) AS h
      |  FROM events),
      |sk AS (SELECT event_type, h FROM (
      |         SELECT event_type, h,
      |                row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      |         FROM e) WHERE rn <= 64),
      |tp AS (SELECT DISTINCT event_type FROM events),
      |pr AS (SELECT a.event_type AS et_a, b.event_type AS et_b
      |       FROM tp a JOIN tp b ON a.event_type < b.event_type),
      |u AS (SELECT pr.et_a, pr.et_b, s.h,
      |             max(CASE WHEN s.event_type = pr.et_a THEN 1 ELSE 0 END) AS in_a,
      |             max(CASE WHEN s.event_type = pr.et_b THEN 1 ELSE 0 END) AS in_b
      |      FROM pr JOIN sk s ON s.event_type IN (pr.et_a, pr.et_b)
      |      GROUP BY pr.et_a, pr.et_b, s.h),
      |r AS (SELECT et_a, et_b, h, in_a, in_b,
      |             row_number() OVER (PARTITION BY et_a, et_b ORDER BY h) AS rn,
      |             count(*) OVER (PARTITION BY et_a, et_b) AS n_u
      |      FROM u),
      |agg AS (SELECT et_a, et_b, max(n_u) AS n_u,
      |               max(CASE WHEN rn <= 64 THEN h END) AS kth,
      |               CAST(sum(CASE WHEN rn <= 64 AND in_a = 1 AND in_b = 1
      |                             THEN 1 ELSE 0 END) AS BIGINT) AS c_both
      |        FROM r GROUP BY et_a, et_b),
      |w AS (SELECT et_a, et_b, n_u, c_both,
      |             CASE WHEN n_u < 64 THEN n_u
      |                  ELSE CAST(round(CAST(63 AS DOUBLE) *
      |                                  CAST(1152921504606846976 AS DOUBLE) / kth)
      |                            AS BIGINT) END AS est_union
      |      FROM agg),
      |ex AS (SELECT p.et_a, p.et_b, count(*) AS exact_inter
      |       FROM pr p
      |       JOIN (SELECT DISTINCT event_type, user_id FROM events) x
      |         ON x.event_type = p.et_a
      |       JOIN (SELECT DISTINCT event_type, user_id FROM events) y
      |         ON y.event_type = p.et_b AND y.user_id = x.user_id
      |       GROUP BY p.et_a, p.et_b)
      |SELECT w.et_a, w.et_b, w.est_union,
      |       CASE WHEN n_u < 64 THEN c_both
      |            ELSE CAST(round(CAST(c_both AS DOUBLE) * CAST(est_union AS DOUBLE) /
      |                            CAST(64 AS DOUBLE)) AS BIGINT) END AS est_inter,
      |       CAST(coalesce(ex.exact_inter, 0) AS BIGINT) AS exact_inter,
      |       CAST(round(c_both * 1000000.0 /
      |                  CASE WHEN n_u < 64 THEN n_u ELSE 64 END) AS BIGINT)
      |         / 1000000.0 AS est_jac
      |FROM w LEFT JOIN ex ON w.et_a = ex.et_a AND w.et_b = ex.et_b
      |ORDER BY w.et_a, w.et_b""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
    val est = graft.sketch.Kmv.pairOverlap(
      graft.sketch.Kmv.sketch(ev, "event_type", col("user_id")), "event_type")
    val du = ev.select("event_type", "user_id").distinct()
    val exact = du.select(col("event_type").as("et_a"), col("user_id"))
      .join(du.select(col("event_type").as("et_b"), col("user_id")), Seq("user_id"))
      .filter(col("et_a") < col("et_b"))
      .groupBy("et_a", "et_b").agg(count(lit(1)).as("exact_inter"))
    est.join(exact, Seq("et_a", "et_b"), "left")
      .select(col("et_a"), col("et_b"), col("est_union"), col("est_inter"),
        coalesce(col("exact_inter"), lit(0L)).as("exact_inter"), col("est_jac"))
      .orderBy("et_a", "et_b")
  }

  /** Hourly event-rate anomaly detection: each (event_type, hour) count
    * z-scored against that type's own hourly distribution, |z| ≥ 3
    * flagged — the monitoring pass that catches an ingest stall or a
    * runaway producer in an archive pipeline (the metrics the reference
    * exports per src/metrics/archive.rs get WATCHED by exactly this
    * query downstream).
    *
    * Engine parity: the z-score is algebraically collapsed to
    * (n·nh − sn)/√(nh·sn2 − sn²) — every input an exactly-aggregated
    * integer (counts, count of hours, Σn, Σn²), so the whole statistic
    * is two exact int→double conversions, one IEEE sqrt (correctly
    * rounded by spec — sqrt is NOT in the libm ban) and one division,
    * identical both engines; zero variance is detected by INTEGER
    * equality (nh·sn2 = sn²), never a float epsilon.
    *
    * Scale shape: two groupBys with map-side combine (hour-grain then
    * type-grain); the per-type stats table is types-sized and broadcast
    * back. Nothing row-grained ever shuffles twice.
    */
  val aggRateAnomaly: Op = Op.sql(
    "agg-rate-anomaly",
    """WITH c AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
      |                  count(*) AS n
      |           FROM events GROUP BY event_type, hr),
      |s AS (SELECT event_type, count(*) AS nh, CAST(sum(n) AS BIGINT) AS sn,
      |             CAST(sum(n * n) AS BIGINT) AS sn2
      |      FROM c GROUP BY event_type),
      |z AS (SELECT c.event_type, c.hr, c.n,
      |             CASE WHEN nh * sn2 = sn * sn THEN CAST(0 AS DOUBLE)
      |                  ELSE CAST(c.n * nh - sn AS DOUBLE) /
      |                       sqrt(CAST(nh * sn2 - sn * sn AS DOUBLE)) END AS zr
      |      FROM c JOIN s USING (event_type))
      |SELECT event_type, hr, n,
      |       CAST(round(zr * 1000000.0) AS BIGINT) / 1000000.0 AS z,
      |       (abs(CAST(round(zr * 1000000.0) AS BIGINT)) >= 3000000) AS is_anomaly
      |FROM z ORDER BY event_type, hr""".stripMargin
  ) { (s, d) =>
    val c = Tables.events(s, d)
      .groupBy(col("event_type"), expr("(ts div 1000) div 3600000000").as("hr"))
      .agg(count(lit(1)).as("n"))
    val stats = c.groupBy("event_type")
      .agg(count(lit(1)).as("nh"), sum("n").as("sn"),
        sum(col("n") * col("n")).as("sn2"))
    val zr = when(col("nh") * col("sn2") === col("sn") * col("sn"), lit(0.0))
      .otherwise((col("n") * col("nh") - col("sn")).cast("double") /
        sqrt((col("nh") * col("sn2") - col("sn") * col("sn")).cast("double")))
    val z6 = round(zr * lit(1000000.0)).cast("long")
    c.join(broadcast(stats), Seq("event_type"))
      .select(col("event_type"), col("hr"), col("n"),
        (z6 / lit(1000000.0)).as("z"),
        (abs(z6) >= 3000000L).as("is_anomaly"))
      .orderBy("event_type", "hr")
  }

  /** Cohort lifetime value (the revenue companion to agg-retention's
    * user-count triangle): purchase cents per signup-week cohort by week
    * offset, with the running cumulative — the LTV curve a growth team
    * reads cohort-over-cohort. Money stays integer cents end to end
    * (`round(value*100)` per event, integer sums — no float aggregation
    * anywhere).
    *
    * Scale shape: the signup table is one min-groupBy; the revenue join
    * is user-keyed (AQE-splittable); the cumulative windows over each
    * cohort's offset row set — cohort-grained and bounded by the week
    * count, never an event-stream funnel.
    */
  val aggCohortLtv: Op = Op.sql(
    "agg-cohort-ltv",
    """WITH su AS (SELECT user_id, min(epoch_us(ts) // 604800000000) AS cw
      |            FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |rev AS (SELECT user_id, epoch_us(ts) // 604800000000 AS w,
      |               CAST(round(value * 100) AS BIGINT) AS cents
      |        FROM events WHERE event_type = 'purchase'),
      |per AS (SELECT su.cw, rev.w - su.cw AS off, CAST(sum(cents) AS BIGINT) AS cents
      |        FROM rev JOIN su USING (user_id)
      |        WHERE rev.w >= su.cw GROUP BY 1, 2)
      |SELECT CAST(cw AS BIGINT) AS cohort_week, CAST(off AS BIGINT) AS week_offset,
      |       cents,
      |       CAST(sum(cents) OVER (PARTITION BY cw ORDER BY off) AS BIGINT)
      |         AS cum_cents
      |FROM per ORDER BY cohort_week, week_offset""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("user_id"), expr("(ts div 1000) div 604800000000").as("week"),
        col("event_type"), col("value"))
    val su = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("week").as("cw"))
    val per = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("week"),
        round(col("value") * 100).cast("long").as("cents"))
      .join(su, "user_id")
      .filter(col("week") >= col("cw"))
      .groupBy(col("cw"), (col("week") - col("cw")).as("off"))
      .agg(sum("cents").as("cents"))
    per.select(col("cw").as("cohort_week"), col("off").as("week_offset"),
        col("cents"),
        sum("cents").over(Window.partitionBy("cw").orderBy("off")).as("cum_cents"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Mergeable histogram quantile sketch — the quantile member of the
    * sketch tier (HLL counts distincts, KMV measures overlap, this
    * bounds quantiles): per event type, a 64-bucket equal-width count
    * histogram over integer cents, read at p50/p90/p99 next to the exact
    * percentile and the sketch's own error bound (one bucket width).
    * The histogram is the state a 100 TB pipeline actually keeps —
    * counts ADD across shards/days/micro-batches, unlike the exact sort.
    *
    * Engine parity: bucketing, ranks and the estimate are ALL-INTEGER
    * ((c−mn)·64 div W, rank = ceil(q·n/100) via (q·n+99) div 100, est =
    * bucket lower bound) — no float enters until the exact-percentile
    * comparison column, which reuses the agg-latency-quantiles
    * percentile↔quantile_cont parity at micro grain.
    *
    * Scale shape: one map-side-combined count per (type, bucket); the
    * cumulative window runs over ≤64 rows per type; every join after the
    * histogram is (types × 3)-sized.
    */
  val aggQuantileSketch: Op = Op.sql(
    "agg-quantile-sketch",
    """WITH ev AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
      |            FROM events),
      |st AS (SELECT event_type, count(*) AS n, min(c) AS mn, max(c) AS mx
      |       FROM ev GROUP BY 1),
      |bk AS (SELECT ev.event_type,
      |              least(63, ((ev.c - st.mn) * 64) // (st.mx - st.mn + 1)) AS b
      |       FROM ev JOIN st USING (event_type)),
      |cnts AS (SELECT event_type, b, count(*) AS cnt FROM bk GROUP BY 1, 2),
      |cum AS (SELECT event_type, b, cnt,
      |               sum(cnt) OVER (PARTITION BY event_type ORDER BY b) AS cm
      |        FROM cnts),
      |qs AS (SELECT st.event_type, st.n, st.mn, st.mx, q.q,
      |              (q.q * st.n + 99) // 100 AS r
      |       FROM st, (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS q) q),
      |hit AS (SELECT qs.event_type, qs.q, qs.n, qs.mn, qs.mx, qs.r, min(cum.b) AS b
      |        FROM qs JOIN cum ON cum.event_type = qs.event_type
      |                        AND cum.cm >= qs.r
      |        GROUP BY 1, 2, 3, 4, 5, 6),
      |ex AS (SELECT event_type,
      |              quantile_cont(c, 0.50) AS e50,
      |              quantile_cont(c, 0.90) AS e90,
      |              quantile_cont(c, 0.99) AS e99
      |       FROM ev GROUP BY 1)
      |SELECT h.event_type, h.q, h.n,
      |       CAST(h.mn + (h.b * (h.mx - h.mn + 1)) // 64 AS BIGINT) AS est_cents,
      |       CAST(round((CASE h.q WHEN 50 THEN ex.e50 WHEN 90 THEN ex.e90
      |                   ELSE ex.e99 END) * 1000000.0) AS BIGINT) / 1000000.0
      |         AS exact_cents,
      |       CAST((h.mx - h.mn + 1 + 63) // 64 AS BIGINT) AS err_bound_cents
      |FROM hit h JOIN ex USING (event_type)
      |ORDER BY event_type, q""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(s, d)
      .select(col("event_type"), round(col("value") * 100).cast("long").as("c"))
    // ONE groupBy computes the sketch bounds AND the exact comparison
    // percentiles — folding them saves a full events scan and a join.
    val st = ev.groupBy("event_type")
      .agg(count(lit(1)).as("n"), min("c").as("mn"), max("c").as("mx"),
        expr("percentile(c, 0.50D)").as("e50"),
        expr("percentile(c, 0.90D)").as("e90"),
        expr("percentile(c, 0.99D)").as("e99"))
    val bk = ev.join(broadcast(st.select("event_type", "mn", "mx")), "event_type")
      .select(col("event_type"),
        least(lit(63L), expr("((c - mn) * 64) div (mx - mn + 1)")).as("b"))
    val cum = bk.groupBy("event_type", "b").agg(count(lit(1)).as("cnt"))
      .withColumn("cm", sum("cnt").over(
        Window.partitionBy("event_type").orderBy("b")))
    val qs = st.select(col("event_type"), col("n"), col("mn"), col("mx"),
        col("e50"), col("e90"), col("e99"),
        explode(array(Seq(50L, 90L, 99L).map(lit): _*)).as("q"))
      .withColumn("r", expr("(q * n + 99) div 100"))
    val hit = qs.join(cum.select(col("event_type"), col("b"), col("cm")), "event_type")
      .filter(col("cm") >= col("r"))
      .groupBy("event_type", "q", "n", "mn", "mx", "e50", "e90", "e99")
      .agg(min("b").as("b"))
    hit
      .select(col("event_type"), col("q"), col("n"),
        expr("mn + (b * (mx - mn + 1)) div 64").as("est_cents"),
        (round((when(col("q") === 50, col("e50"))
          .when(col("q") === 90, col("e90"))
          .otherwise(col("e99"))) * lit(1000000.0)).cast("long") /
          lit(1000000.0)).as("exact_cents"),
        expr("(mx - mn + 1 + 63) div 64").as("err_bound_cents"))
      .orderBy("event_type", "q")
  }

  /** Value concentration ("whale share"): what fraction of total purchase
    * value comes from users at or above the p99 per-user value — the
    * concentration metric behind revenue-risk and abuse review. Money is
    * integer cents end to end; the threshold is the exact p99 over the
    * per-user totals (micro-snapped, the established percentile parity),
    * and the shares divide once at micro grain.
    *
    * Scale shape: the per-user table reduces the event stream with
    * map-side combine (user-sized, ≪ events); threshold + shares are two
    * aggregations over it with a 1-row broadcast — the user table is
    * never globally sorted (no rank window).
    */
  val aggWhaleShare: Op = Op.sql(
    "agg-whale-share",
    """WITH per AS (SELECT user_id, CAST(sum(CAST(round(value * 100) AS BIGINT))
      |                    AS BIGINT) AS cents
      |             FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |thr AS (SELECT CAST(round(quantile_cont(cents, 0.99) * 1000000.0) AS BIGINT)
      |               AS p99_e6 FROM per),
      |agg AS (SELECT count(*) AS n_users, CAST(sum(cents) AS BIGINT) AS total_cents,
      |               CAST(sum(CASE WHEN per.cents * 1000000 >= thr.p99_e6
      |                             THEN 1 ELSE 0 END) AS BIGINT) AS n_whales,
      |               CAST(sum(CASE WHEN per.cents * 1000000 >= thr.p99_e6
      |                             THEN per.cents ELSE 0 END) AS BIGINT) AS whale_cents
      |        FROM per, thr)
      |SELECT n_users, total_cents, n_whales, whale_cents,
      |       (SELECT p99_e6 FROM thr) / 1000000.0 AS p99_cents,
      |       CAST(round(whale_cents * 1000000.0 / total_cents) AS BIGINT) / 1000000.0
      |         AS whale_share
      |FROM agg""".stripMargin
  ) { (s, d) =>
    val per = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
    val thr = per.agg(
      round(expr("percentile(cents, 0.99D)") * lit(1000000.0)).cast("long").as("p99_e6"))
    per.crossJoin(broadcast(thr))
      .agg(count(lit(1)).as("n_users"), sum("cents").as("total_cents"),
        sum(when(col("cents") * 1000000L >= col("p99_e6"), 1L).otherwise(0L))
          .as("n_whales"),
        sum(when(col("cents") * 1000000L >= col("p99_e6"), col("cents")).otherwise(0L))
          .as("whale_cents"),
        first("p99_e6").as("p99_e6"))
      .select(col("n_users"), col("total_cents"), col("n_whales"), col("whale_cents"),
        (col("p99_e6") / lit(1000000.0)).as("p99_cents"),
        (round(col("whale_cents") * lit(1000000.0) / col("total_cents")).cast("long") /
          lit(1000000.0)).as("whale_share"))
  }

  /** Multi-grain metrics in ONE pass via ROLLUP — the (flag, status) /
    * (flag) / grand-total grains of the reference's per-kind stat report
    * (src/command/verify.rs:62-96 keeps per-kind AND total counters by
    * hand). Spark plans rollup as one Expand (×3 rows) feeding a single
    * partially-aggregated exchange — at 100 TB that is one shuffle where
    * the naive spelling (three separate groupBys unioned) scans and
    * shuffles the corpus three times. Money columns are per-row
    * integer-cent snapped BEFORE the sum, so the total is order-free and
    * cross-engine exact; grouping() disambiguates real NULL keys from
    * rollup subtotal rows.
    */
  val aggRollupMetrics: Op = Op.sql(
    "agg-rollup-metrics",
    """SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS flag,
      |       CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS status,
      |       count(*) AS n,
      |       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY flag, status""".stripMargin
  ) { (s, d) =>
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum("l_quantity").cast("long").as("sum_qty"),
        sum(expr("cast(round(l_extendedprice * 100) as bigint)")).as("price_cents"),
        grouping("l_returnflag").as("gf"), grouping("l_linestatus").as("gs"))
      .select(
        when(col("gf") === 1, lit("ALL")).otherwise(col("l_returnflag")).as("flag"),
        when(col("gs") === 1, lit("ALL")).otherwise(col("l_linestatus")).as("status"),
        col("n"), col("sum_qty"), col("price_cents"))
      .orderBy("flag", "status")
  }

  /** Shuffle-key skew audit — the planning table behind every salting
    * decision this library makes (salted top-k in functions/TopK, AQE skew
    * notes in PLANS.md). For each candidate shuffle key: key count, row
    * count, the per-key count distribution (max / p50 / p99), the hottest
    * key's row share, and the salt factor a 32-partition shuffle would
    * need so the hottest key fits one partition's fair share
    * (`ceil(max_c · 32 / n_rows)`; 1 = no salting needed). Two grouped
    * scans (one per audited key) each reduced map-side to key-count rows;
    * the quantiles run over the already-aggregated count column.
    * Everything after the counts is integer arithmetic or snapped
    * interpolated quantiles (Spark percentile == DuckDB quantile_cont).
    */
  val aggKeySkew: Op = Op.sql(
    "agg-key-skew",
    """WITH ec AS (SELECT user_id AS k, count(*) AS c FROM events GROUP BY k),
      |lc AS (SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY k),
      |s AS (
      |  SELECT 'events.user_id' AS key_name, count(*) AS n_keys,
      |         CAST(sum(c) AS BIGINT) AS n_rows, max(c) AS max_c,
      |         CAST(round(quantile_cont(c, 0.5) * 1000000) AS BIGINT) / 1000000.0 AS p50,
      |         CAST(round(quantile_cont(c, 0.99) * 1000000) AS BIGINT) / 1000000.0 AS p99
      |  FROM ec
      |  UNION ALL
      |  SELECT 'lineitem.l_orderkey', count(*),
      |         CAST(sum(c) AS BIGINT), max(c),
      |         CAST(round(quantile_cont(c, 0.5) * 1000000) AS BIGINT) / 1000000.0,
      |         CAST(round(quantile_cont(c, 0.99) * 1000000) AS BIGINT) / 1000000.0
      |  FROM lc)
      |SELECT key_name, n_keys, n_rows, max_c, p50, p99,
      |       max_c * 1000000 // n_rows AS top_share_ppm,
      |       (max_c * 32 + n_rows - 1) // n_rows AS salt_factor
      |FROM s ORDER BY key_name""".stripMargin
  ) { (s, d) =>
    def audit(df: org.apache.spark.sql.DataFrame, keyCol: String, name: String) =
      df.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_keys"), sum("c").as("n_rows"), max("c").as("max_c"),
          (expr("cast(round(percentile(c, 0.5D) * 1000000) as bigint)") / lit(1e6)).as("p50"),
          (expr("cast(round(percentile(c, 0.99D) * 1000000) as bigint)") / lit(1e6)).as("p99"))
        .select(lit(name).as("key_name"), col("n_keys"), col("n_rows"), col("max_c"),
          col("p50"), col("p99"),
          expr("max_c * 1000000 div n_rows").as("top_share_ppm"),
          expr("(max_c * 32 + n_rows - 1) div n_rows").as("salt_factor"))
    audit(Tables.events(s, d), "user_id", "events.user_id")
      .unionByName(audit(Tables.lineitem(s, d), "l_orderkey", "lineitem.l_orderkey"))
      .orderBy("key_name")
  }

  /** Robust per-value outlier detection via median absolute deviation —
    * the value-level companion of agg-rate-anomaly's z-score on hourly
    * counts: MAD survives the heavy-tailed value distributions where a
    * mean/stddev gate flags half the tail. Three scans of events (median,
    * MAD, outlier count), each reducing per event_type; the per-type stat
    * tables are broadcast back so the corpus never shuffles. Medians are
    * interpolated exact quantiles (cross-engine equal); the |v−m| > 3·MAD
    * predicate is pure IEEE subtraction/multiplication so both engines
    * agree on every comparison; reported medians are micro-snapped last.
    */
  val aggMadOutliers: Op = Op.sql(
    "agg-mad-outliers",
    """WITH m AS (SELECT event_type, quantile_cont(value, 0.5) AS med
      |           FROM events GROUP BY event_type),
      |d AS (SELECT e.event_type, e.value, m.med
      |      FROM events e JOIN m USING (event_type)),
      |md AS (SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
      |       FROM d GROUP BY event_type)
      |SELECT d.event_type, count(*) AS n,
      |       CAST(round(max(d.med) * 1000000) AS BIGINT) / 1000000.0 AS med,
      |       CAST(round(max(md.mad) * 1000000) AS BIGINT) / 1000000.0 AS mad,
      |       CAST(sum(CASE WHEN abs(d.value - d.med) > 3 * md.mad
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM d JOIN md USING (event_type)
      |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    val med = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.5D)").as("med"))
    val dev = ev.join(broadcast(med), "event_type")
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(abs(value - med), 0.5D)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        (expr("cast(round(max(med) * 1000000) as bigint)") / lit(1e6)).as("med"),
        (expr("cast(round(max(mad) * 1000000) as bigint)") / lit(1e6)).as("mad"),
        sum(when(expr("abs(value - med) > 3 * mad"), 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  /** Gini concentration coefficient over per-user purchase mass — the
    * single-number inequality summary behind agg-whale-share's p99 cut.
    * The textbook formula needs every value's GLOBAL rank; the naive
    * spelling is one unpartitioned window over all users — the
    * single-partition funnel this library bans. Here rank is computed by
    * bucketed prefix-sum: users hash into 1000-cent value buckets, the
    * bucket histogram (value-range/10³ rows — config-sized) takes one
    * tiny ordered window for prefix counts, and each user's global rank
    * is prefix-before-bucket + rank-within-bucket (window PARTITIONED by
    * bucket). The oracle uses the naive global window — same result, but
    * only one of the two spellings survives 10⁹ users. All arithmetic is
    * exact integers until the final snapped division.
    */
  val aggGiniCents: Op = Op.sql(
    "agg-gini-cents",
    """WITH ux AS (SELECT user_id,
      |                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      |            FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |r AS (SELECT user_id, x,
      |             row_number() OVER (ORDER BY x, user_id) AS rk,
      |             count(*) OVER () AS n,
      |             CAST(sum(x) OVER () AS BIGINT) AS tot
      |      FROM ux)
      |SELECT CAST(max(n) AS BIGINT) AS n_users,
      |       CAST(max(tot) AS BIGINT) AS total_cents,
      |       CAST(sum((2 * rk - n - 1) * x) AS BIGINT) AS gini_num,
      |       CAST(round(CAST(sum((2 * rk - n - 1) * x) AS BIGINT) * 1000000.0
      |                  / (max(n) * max(tot))) AS BIGINT) / 1000000.0 AS gini
      |FROM r""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ux = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(expr("cast(round(value * 100) as bigint)")).as("x"))
    val bux = ux.withColumn("b", expr("x div 100000"))
    val bpre = bux.groupBy("b").agg(count(lit(1)).as("bc"))
      .withColumn("pre", sum("bc").over(Window.orderBy("b")) - col("bc"))
      .select("b", "pre")
    val ranked = bux.join(broadcast(bpre), "b")
      .withColumn("lrk",
        row_number().over(Window.partitionBy("b").orderBy("x", "user_id")))
      .withColumn("rk", col("pre") + col("lrk"))
    val totals = ux.agg(count(lit(1)).as("n"), sum("x").as("tot"))
    ranked.crossJoin(broadcast(totals))
      .agg(max("n").cast("long").as("n_users"),
        max("tot").cast("long").as("total_cents"),
        sum((lit(2) * col("rk") - col("n") - 1) * col("x")).as("gini_num"))
      .select(col("n_users"), col("total_cents"), col("gini_num"),
        ((round(col("gini_num") * lit(1e6) /
          (col("n_users") * col("total_cents")))).cast("long") / lit(1e6)).as("gini"))
  }

  /** Half-life-decayed freshness mass per event type — the recency
    * weighting a training-data mix applies before sampling (fresh docs
    * count full, year-old docs count 2^-365…). libm exp() is not
    * cross-engine reproducible, so the decay is an integer right-shift:
    * weight(v, age_days) = micro-units(v) >> age — exact halving per day,
    * identical on every engine and order-free under summation. One scan,
    * one map-side-combined groupBy; the global max-ts anchor is a 1-row
    * broadcast.
    */
  val aggExpDecay: Op = Op.sql(
    "agg-exp-decay",
    """WITH g AS (SELECT max(epoch_ns(ts)) AS t1 FROM events),
      |e AS (SELECT event_type,
      |             CAST(round(value * 1000000) AS BIGINT) AS v6,
      |             CAST((t1 - epoch_ns(ts)) // 86400000000000 AS BIGINT) AS age
      |      FROM events, g)
      |SELECT event_type, count(*) AS n,
      |       CAST(sum(v6 >> CAST(LEAST(age, 62) AS INTEGER)) AS BIGINT) AS decayed_e6,
      |       CAST(sum(v6) AS BIGINT) AS raw_e6
      |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
    val g = ev.agg(max("ts").as("t1"))
    ev.crossJoin(broadcast(g))
      .select(col("event_type"),
        expr("cast(round(value * 1000000) as bigint)").as("v6"),
        expr("(t1 - ts) div 86400000000000").as("age"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(expr("shiftright(v6, cast(least(age, 62) as int))")).as("decayed_e6"),
        sum("v6").as("raw_e6"))
      .orderBy("event_type")
  }

  /** Two-level HLL merge — the op that PROVES the sketch tier's whole
    * point: weekly distinct users computed by merging the per-day
    * sketches (one max(rho) re-aggregation over day-grained sketch rows)
    * instead of rescanning the week of raw events. max is associative,
    * so the daily → weekly merge is exact — the oracle computes the week
    * grain directly from raw data and the hashes land identically. At
    * 100 TB this is the nightly pattern: persist the (day, group,
    * bucket, r) sketch table (64 rows per group per day), answer any
    * coarser-grain distinct query from it at sketch cost.
    */
  val aggHllMerge: Op = Op.sql(
    "agg-hll-merge",
    """WITH e AS (SELECT epoch_ns(ts) // 86400000000000 // 7 AS week,
      |                  event_type, user_id FROM events),
      |h AS (
      |  SELECT week, event_type,
      |         list_reduce([CAST(strpos('0123456789abcdef', x) - 1 AS BIGINT)
      |                      FOR x IN [substr(md5(CAST(user_id AS VARCHAR)), i, 1)
      |                                FOR i IN generate_series(1, 15)]],
      |                     (a, x) -> a * 16 + x) AS h
      |  FROM e),
      |b AS (SELECT week, event_type, h % 64 AS bucket,
      |             CASE WHEN h // 64 = 0 THEN 55
      |                  ELSE 55 - length(bin(h // 64)) END AS rho
      |      FROM h),
      |r AS (SELECT week, event_type, bucket, max(rho) AS r
      |      FROM b GROUP BY week, event_type, bucket),
      |z AS (SELECT week, event_type,
      |             CAST(sum(1::BIGINT << CAST(55 - r AS INTEGER)) AS BIGINT)
      |               + (64 - count(*)) * 36028797018963968 AS zsum,
      |             64 - count(*) AS v
      |      FROM r GROUP BY week, event_type),
      |ew AS (SELECT week, event_type, v,
      |              CAST(0.709 AS DOUBLE) * CAST(4096 AS DOUBLE) *
      |              CAST(36028797018963968 AS DOUBLE) / zsum AS e_raw
      |       FROM z)
      |SELECT week, event_type,
      |       CASE WHEN e_raw <= 160.0 AND v > 0
      |            THEN CAST(round(CAST(64 AS DOUBLE) *
      |                            ln(CAST(64 AS DOUBLE) / v)) AS BIGINT)
      |            ELSE CAST(round(e_raw) AS BIGINT) END AS n_hll
      |FROM ew ORDER BY week, event_type""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(expr("ts div 86400000000000").as("day"),
        col("event_type"), col("user_id"))
    val daily = graft.sketch.Hll.sketch(ev, Seq("day", "event_type"), col("user_id"))
    val weekly = daily.withColumn("week", expr("day div 7"))
      .groupBy("week", "event_type", "bucket")
      .agg(max("r").as("r"))
    graft.sketch.Hll.estimate(weekly, Seq("week", "event_type"))
      .orderBy("week", "event_type")
  }

  /** Funnel hop latency — agg-funnel says how many users convert at each
    * stage; this says HOW LONG each hop takes (p50/p90 of
    * signup→first-click and click→first-purchase, sequenced the same
    * strictly-after way). The per-user stage times reduce map-side
    * exactly as in agg-funnel; the latency quantiles then run over
    * converting-user-sized tables. The two hop rows aggregate DIFFERENT
    * join subtrees, so the union re-executes nothing (the
    * one-aggregated-DF explode rule applies to shared subtrees only).
    */
  val aggFunnelLatency: Op = Op.sql(
    "agg-funnel-latency",
    """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
      |            WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2 FROM events e
      |       JOIN s1 ON e.user_id = s1.user_id
      |       WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3 FROM events e
      |       JOIN s2 ON e.user_id = s2.user_id
      |       WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2 GROUP BY 1),
      |l1 AS (SELECT s2.t2 - s1.t1 AS lat FROM s2 JOIN s1 ON s2.user_id = s1.user_id),
      |l2 AS (SELECT s3.t3 - s2.t2 AS lat FROM s3 JOIN s2 ON s3.user_id = s2.user_id)
      |SELECT * FROM (
      |  SELECT 'signup_to_click' AS hop, count(*) AS n_users,
      |         CAST(round(quantile_cont(lat, 0.5) * 1000000) AS BIGINT) / 1000000.0 AS p50_us,
      |         CAST(round(quantile_cont(lat, 0.9) * 1000000) AS BIGINT) / 1000000.0 AS p90_us
      |  FROM l1
      |  UNION ALL
      |  SELECT 'click_to_purchase', count(*),
      |         CAST(round(quantile_cont(lat, 0.5) * 1000000) AS BIGINT) / 1000000.0,
      |         CAST(round(quantile_cont(lat, 0.9) * 1000000) AS BIGINT) / 1000000.0
      |  FROM l2)
      |ORDER BY hop""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
    val s1 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts_us").as("t1"))
    // t1/t2 are constant per user, so max() carries the previous stage's
    // time through each aggregation — the latencies need NO join back to
    // the earlier stages (which would re-execute their scan+agg chains).
    val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
      .filter(col("ts_us") > col("t1")).groupBy("user_id")
      .agg(min("ts_us").as("t2"), max("t1").as("t1"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2.select("user_id", "t2"), "user_id")
      .filter(col("ts_us") > col("t2")).groupBy("user_id")
      .agg(min("ts_us").as("t3"), max("t2").as("t2"))
    def hop(lat: org.apache.spark.sql.DataFrame, name: String) =
      lat.agg(count(lit(1)).as("n_users"),
        (expr("cast(round(percentile(lat, 0.5D) * 1000000) as bigint)") / lit(1e6)).as("p50_us"),
        (expr("cast(round(percentile(lat, 0.9D) * 1000000) as bigint)") / lit(1e6)).as("p90_us"))
        .select(lit(name).as("hop"), col("n_users"), col("p50_us"), col("p90_us"))
    hop(s2.select((col("t2") - col("t1")).as("lat")), "signup_to_click")
      .unionByName(hop(s3.select((col("t3") - col("t2")).as("lat")),
        "click_to_purchase"))
      .orderBy("hop")
  }

  /** Cumulative distinct-user growth curve — first-seen-day attribution
    * (one per-user min, map-side combined) then a running sum over the
    * span-bounded hourly table; the classic "how fast is the audience
    * growing" line, computed without ever running a per-day
    * count(DISTINCT) over growing prefixes (that naive spelling rescans
    * the corpus D times).
    */
  val aggDistinctGrowth: Op = Op.sql(
    "agg-distinct-growth",
    """WITH f AS (SELECT user_id, min(epoch_ns(ts) // 3600000000000) AS h0
      |           FROM events GROUP BY user_id),
      |n AS (SELECT h0 AS hour, count(*) AS new_users FROM f GROUP BY h0)
      |SELECT hour, new_users,
      |       CAST(sum(new_users) OVER (ORDER BY hour) AS BIGINT) AS cum_users
      |FROM n ORDER BY hour""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    Tables.events(s, d)
      .groupBy("user_id").agg(min(expr("ts div 3600000000000")).as("h0"))
      .groupBy(col("h0").as("hour")).agg(count(lit(1)).as("new_users"))
      .withColumn("cum_users", sum("new_users").over(Window.orderBy("hour")))
      .orderBy("hour")
  }

  /** Hourly OHLC downsample of the event value stream per type — the
    * canonical time-series compaction (open/high/low/close + count) every
    * telemetry warehouse maintains as its first rollup tier. The
    * open/close ("first/last by time") come from struct-min/max — an
    * ordinary partial-aggregatable fold over (us, event_id, cents), NOT a
    * per-group window: a (hour, type) window would shuffle AND sort the
    * full event stream, while struct-min folds map-side and merges like
    * any min. (event_id makes the order total, so ties on us can never
    * make the engines disagree.) One map-side-combined groupBy; output is
    * hours×types-sized. Values snap to integer cents per row.
    */
  val aggOhlc: Op = Op.sql(
    "agg-ohlc",
    """WITH e AS (
      |  SELECT epoch_us(ts) // 3600000000 AS hour_id, event_type,
      |         epoch_us(ts) AS us, event_id,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events)
      |SELECT hour_id, event_type,
      |       (min({'us': us, 'eid': event_id, 'c': cents})).c AS open_cents,
      |       CAST(max(cents) AS BIGINT) AS high_cents,
      |       CAST(min(cents) AS BIGINT) AS low_cents,
      |       (max({'us': us, 'eid': event_id, 'c': cents})).c AS close_cents,
      |       count(*) AS n
      |FROM e GROUP BY hour_id, event_type
      |ORDER BY hour_id, event_type""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .select(expr("ts div 1000").as("us"), col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("hour_id", expr("us div 3600000000"))
      .groupBy("hour_id", "event_type")
      .agg(
        min(struct(col("us"), col("event_id"), col("cents")))
          .getField("cents").as("open_cents"),
        max("cents").as("high_cents"),
        min("cents").as("low_cents"),
        max(struct(col("us"), col("event_id"), col("cents")))
          .getField("cents").as("close_cents"),
        count(lit(1)).as("n"))
      .orderBy("hour_id", "event_type")
  }

  /** Poisson bootstrap of the mean purchase value — THE distributed
    * bootstrap (resampling-with-replacement needs global coordination;
    * giving each row an independent Poisson(1) weight per replicate
    * needs none and is equivalent for n → ∞): 32 replicate means in ONE
    * pass, their spread is the sampling distribution of the estimator.
    * Weights are DETERMINISTIC — a per-(row, replicate) md5 maps through
    * the exact integer-scaled Poisson(1) CDF cutoffs (2³²-scaled plan
    * literals, identical both sides; truncated at k = 8, tail mass
    * ≈ 1.1e-6), so there is no RNG state, no seed plumbing, and reruns
    * are bit-identical on any cluster size. The 32× explode collapses
    * map-side into 32 groups before the one exchange.
    */
  val aggPoissonBootstrap: Op = Op.sql(
    "agg-poisson-bootstrap",
    """WITH px AS (
      |  SELECT r.r, CAST(round(e.value * 100) AS BIGINT) AS cents,
      |         CAST(('0x' || substr(md5(CAST(e.event_id AS VARCHAR) || ':' ||
      |               CAST(r.r AS VARCHAR)), 1, 8))::BIGINT AS BIGINT) AS h
      |  FROM events e, (SELECT unnest(generate_series(0, 31)) AS r) r
      |  WHERE e.event_type = 'purchase'),
      |w AS (SELECT r, cents,
      |        CASE WHEN h < 1580030168 THEN 0 WHEN h < 3160060337 THEN 1
      |             WHEN h < 3950075421 THEN 2 WHEN h < 4213413783 THEN 3
      |             WHEN h < 4279248373 THEN 4 WHEN h < 4292415291 THEN 5
      |             WHEN h < 4294609777 THEN 6 WHEN h < 4294923276 THEN 7
      |             ELSE 8 END AS wt
      |      FROM px)
      |SELECT r AS replicate, CAST(sum(wt) AS BIGINT) AS n_eff,
      |       CAST(round(sum(wt * cents) * 1000000.0 / sum(wt)) AS BIGINT)
      |         / 1000000.0 AS mean_cents
      |FROM w GROUP BY r ORDER BY replicate""".stripMargin
  ) { (s, d) =>
    val cuts = Seq(1580030168L, 3160060337L, 3950075421L, 4213413783L,
      4279248373L, 4292415291L, 4294609777L, 4294923276L)
    val wt = cuts.zipWithIndex.foldRight(lit(8L): org.apache.spark.sql.Column) {
      case ((c, k), rest) => when(col("h") < c, k.toLong).otherwise(rest)
    }
    Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), round(col("value") * 100).cast("long").as("cents"))
      .select(col("cents"),
        explode(sequence(lit(0L), lit(31L))).as("r"),
        col("event_id"))
      .withColumn("h", conv(substring(
        md5(concat(col("event_id").cast("string"), lit(":"),
          col("r").cast("string"))), 1, 8), 16, 10).cast("long"))
      .withColumn("wt", wt)
      .groupBy(col("r").as("replicate"))
      .agg(sum("wt").cast("long").as("n_eff"),
        (round(sum(col("wt") * col("cents")) * lit(1000000.0) / sum("wt"))
          .cast("long") / lit(1000000.0)).as("mean_cents"))
      .orderBy("replicate")
  }

  /** Benford first-digit audit of purchase amounts — the classic
    * data-quality / fraud screen: naturally-generated multiplicative
    * amounts follow P(d) = log10(1 + 1/d); fabricated or truncated feeds
    * don't. Expected shares are EXACT micro-unit literals (they sum to
    * 1 000 000 — no libm log in any engine's plan), the digit comes from
    * the decimal string head, and observed shares snap to micro-units.
    * One map-side-combined groupBy to 9 rows + a broadcast total.
    */
  val aggBenford: Op = Op.sql(
    "agg-benford",
    """WITH b AS (
      |  SELECT CAST(substr(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR),
      |                     1, 1) AS BIGINT) AS digit
      |  FROM events WHERE event_type = 'purchase' AND round(value * 100) > 0),
      |c AS (SELECT digit, count(*) AS n FROM b GROUP BY digit),
      |t AS (SELECT count(*) AS total FROM b)
      |SELECT digit, n,
      |       CAST(round(n * 1000000.0 / total) AS BIGINT) AS share_micro,
      |       ([301030,176091,124939,96910,79181,66947,57992,51153,45757])[digit]
      |         AS benford_micro,
      |       CAST(round(n * 1000000.0 / total) AS BIGINT) -
      |       ([301030,176091,124939,96910,79181,66947,57992,51153,45757])[digit]
      |         AS dev_micro
      |FROM c, t ORDER BY digit""".stripMargin
  ) { (s, d) =>
    val benford = typedLit(Seq(301030L, 176091L, 124939L, 96910L, 79181L,
      66947L, 57992L, 51153L, 45757L))
    val base = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(round(col("value") * 100).cast("long").as("cents"))
      .filter(col("cents") > 0)
      .select(substring(col("cents").cast("string"), 1, 1).cast("long").as("digit"))
    val tot = base.agg(count(lit(1)).as("total"))
    base.groupBy("digit").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(tot))
      .withColumn("share_micro",
        round(col("n") * lit(1000000.0) / col("total")).cast("long"))
      .withColumn("benford_micro", element_at(benford, col("digit").cast("int")))
      .withColumn("dev_micro", col("share_micro") - col("benford_micro"))
      .select("digit", "n", "share_micro", "benford_micro", "dev_micro")
      .orderBy("digit")
  }

  /** χ² independence test of event_type × hour-of-day — "is the event
    * mix time-invariant?", the statistical gate behind win-seasonality's
    * descriptive matrix. The contingency table reduces map-side to
    * types × 24 cells; marginals come from two tiny re-aggregations of
    * THAT table (the corpus is scanned once). Cross-engine exactness:
    * every per-cell term (O−E)²/E is an identical-tree IEEE expression
    * over exact integers, micro-snapped BEFORE the final sum, so the
    * accumulation is integer and order-free.
    */
  val aggChiSquare: Op = Op.sql(
    "agg-chi-square",
    """WITH cells AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 % 24 AS hod,
      |         count(*) AS o FROM events GROUP BY event_type, hod),
      |rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY event_type),
      |ct AS (SELECT hod, CAST(sum(o) AS BIGINT) AS c FROM cells GROUP BY hod),
      |t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
      |terms AS (
      |  SELECT CAST(round((cells.o - (rt.r * ct.c * 1.0 / t.n)) *
      |                    (cells.o - (rt.r * ct.c * 1.0 / t.n)) /
      |                    (rt.r * ct.c * 1.0 / t.n) * 1000000) AS BIGINT) AS tm
      |  FROM cells JOIN rt USING (event_type) JOIN ct USING (hod), t)
      |SELECT CAST(sum(tm) AS BIGINT) AS chi2_micro,
      |       (SELECT CAST((count(DISTINCT event_type) - 1) *
      |                    (count(DISTINCT hod) - 1) AS BIGINT) FROM cells) AS dof,
      |       (SELECT n FROM t) AS n
      |FROM terms""".stripMargin
  ) { (s, d) =>
    val cells = Tables.events(s, d)
      .groupBy(col("event_type"), expr("ts div 1000 div 3600000000 % 24").as("hod"))
      .agg(count(lit(1)).as("o"))
    val rt = cells.groupBy("event_type").agg(sum("o").cast("long").as("r"))
    val ct = cells.groupBy("hod").agg(sum("o").cast("long").as("c"))
    val t = cells.agg(sum("o").cast("long").as("n"))
    val dof = cells.agg(((countDistinct("event_type") - 1) *
      (countDistinct("hod") - 1)).cast("long").as("dof"))
    val e = col("r") * col("c") * lit(1.0) / col("n")
    cells.join(rt, Seq("event_type")).join(ct, Seq("hod"))
      .crossJoin(broadcast(t))
      .select(round((col("o") - e) * (col("o") - e) / e * 1000000)
        .cast("long").as("tm"), col("n"))
      .groupBy("n").agg(sum("tm").cast("long").as("chi2_micro"))
      .crossJoin(broadcast(dof))
      .select(col("chi2_micro"), col("dof"), col("n"))
  }

  /** Count–Min sketch accuracy audit: a d=4 × w=64 CMS over event-type
    * counts, graded key-by-key against the exact counts (estimate = min
    * over the 4 rows of the key's bucket sum; overcount = est − exact ≥ 0
    * always — CMS errs one-sidedly). This is the mergeable screen the
    * streaming top-k fronts at 100 TB (PLANS.md stream-topk): cells add
    * under union, so per-shard / per-trigger sketches merge by summing
    * the ≤ d·w cell grid — no key state. Buckets come from the house
    * cross-engine hash (md5 hex head, as agg-poisson-bootstrap).
    *
    * Scale shape: the build is ONE map-side-combined groupBy collapsing
    * the corpus to ≤ 256 cells (each row contributes its d (row, bucket)
    * pairs via a 4-struct explode — never d re-scans); the grading side
    * is key-grained and the sketch BROADCASTS onto it. The exact counts
    * exist only to grade the sketch — production reads cells alone.
    */
  /** CMS bucket for row r of the d=4 × w=64 grid (cross-engine md5 hash;
    * shared with stream-countmin's windowed cells).
    */
  private[graft] def cmsBucket(key: org.apache.spark.sql.Column, r: Int) =
    conv(substring(md5(concat(lit(s"$r:"), key)), 1, 8), 16, 10)
      .cast("long") % 64

  /** One (r, bucket) struct per sketch row, exploded from a single pass. */
  private[graft] def cmsPairs(key: org.apache.spark.sql.Column) =
    explode(array((0 until 4).map(r =>
      struct(lit(r.toLong).as("r"), cmsBucket(key, r).as("b"))): _*)).as("rb")

  val aggCountmin: Op = Op.sql(
    "agg-countmin",
    """WITH r4 AS (SELECT unnest(generate_series(0, 3)) AS r),
      |c AS (SELECT e.event_type, r.r,
      |        CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' ||
      |              e.event_type), 1, 8)) AS BIGINT) % 64 AS b
      |      FROM events e, r4 r),
      |sketch AS (SELECT r, b, count(*) AS cell_n FROM c GROUP BY r, b),
      |keys AS (SELECT event_type, count(*) AS n_exact
      |         FROM events GROUP BY event_type),
      |kb AS (SELECT k.event_type, k.n_exact, r.r,
      |         CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' ||
      |               k.event_type), 1, 8)) AS BIGINT) % 64 AS b
      |       FROM keys k, r4 r)
      |SELECT kb.event_type,
      |       CAST(min(kb.n_exact) AS BIGINT) AS n_exact,
      |       CAST(min(s.cell_n) AS BIGINT) AS n_est,
      |       CAST(min(s.cell_n) - min(kb.n_exact) AS BIGINT) AS overcount
      |FROM kb JOIN sketch s ON s.r = kb.r AND s.b = kb.b
      |GROUP BY kb.event_type ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    val cells = Tables.events(s, d).select(col("event_type"))
      .select(cmsPairs(col("event_type")))
      .select(col("rb.r").as("r"), col("rb.b").as("b"))
      .groupBy("r", "b").agg(count(lit(1)).as("cell_n"))
    val keys = Tables.events(s, d)
      .groupBy("event_type").agg(count(lit(1)).as("n_exact"))
    keys.select(col("event_type"), col("n_exact"), cmsPairs(col("event_type")))
      .select(col("event_type"), col("n_exact"),
        col("rb.r").as("r"), col("rb.b").as("b"))
      .join(broadcast(cells), Seq("r", "b"))
      .groupBy("event_type")
      .agg(min("n_exact").cast("long").as("n_exact"),
        min("cell_n").cast("long").as("n_est"),
        (min("cell_n") - min("n_exact")).cast("long").as("overcount"))
      .orderBy("event_type")
  }

  /** CALIBRATION AUDIT of a differentially-private count release
    * (ε = ln 2, two-sided geometric / discrete-Laplace mechanism) —
    * NOT a usable DP mechanism as written. The noise here is seeded
    * from md5('dp:' || event_type), a deterministic function of PUBLIC
    * data, chosen solely for engine-parity (the oracle must recompute
    * the identical draw): anyone can re-derive the noise and recover
    * the exact count, so this exact spelling provides ZERO privacy and
    * its output must never ship as a public view. A real release keeps
    * the mechanism (the same 2³²-scaled CDF walk of P(k) ∝ (1/2)^|k|,
    * truncated at ±12, tail mass ≈ 1.6e-4 folded into the extremes) but
    * derives the uniform from a SECRET seed or true RNG — e.g.
    * md5(secret_salt || key) with the salt held like a key-management
    * secret — after which re-runs still release one stable value per
    * salt epoch. Exact n and the noise are kept alongside the release
    * precisely because this op is the engine-parity calibration of the
    * CDF walk, not the release path. Completes the governance tier next
    * to text-k-anonymity / text-l-diversity.
    *
    * Scale shape: one map-side-combined groupBy to the key grain; the
    * noise is a per-row projection over key-grained rows.
    */
  val aggDpCount: Op = {
    val cuts = Seq(
      -12L -> 349582L, -11L -> 1048747L, -10L -> 2447076L, -9L -> 5243733L,
      -8L -> 10837049L, -7L -> 22023681L, -6L -> 44396943L, -5L -> 89143469L,
      -4L -> 178636520L, -3L -> 357622623L, -2L -> 715594828L,
      -1L -> 1431539238L, 0L -> 2863428058L, 1L -> 3579372468L,
      2L -> 3937344673L, 3L -> 4116330776L, 4L -> 4205823827L,
      5L -> 4250570353L, 6L -> 4272943615L, 7L -> 4284130247L,
      8L -> 4289723563L, 9L -> 4292520220L, 10L -> 4293918549L,
      11L -> 4294617714L)
    val sqlCase = cuts.map { case (k, c) => s"WHEN u < $c THEN ($k)" }
      .mkString("CASE ", " ", " ELSE 12 END")
    Op.sql(
      "agg-dp-count",
      s"""WITH k AS (SELECT event_type, count(*) AS n FROM events
         |           GROUP BY event_type),
         |u AS (SELECT event_type, n,
         |        CAST(('0x' || substr(md5('dp:' || event_type), 1, 8))
         |          AS BIGINT) AS u
         |      FROM k),
         |z AS (SELECT event_type, n, $sqlCase AS noise FROM u)
         |SELECT event_type, CAST(n AS BIGINT) AS n,
         |       CAST(noise AS BIGINT) AS noise,
         |       CAST(greatest(0, n + noise) AS BIGINT) AS n_dp
         |FROM z ORDER BY event_type""".stripMargin
    ) { (s, d) =>
      val noise = cuts.foldRight(lit(12L): org.apache.spark.sql.Column) {
        case ((k, c), rest) => when(col("u") < c, k).otherwise(rest)
      }
      Tables.events(s, d)
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .withColumn("u",
          conv(substring(md5(concat(lit("dp:"), col("event_type"))), 1, 8),
            16, 10).cast("long"))
        .withColumn("noise", noise)
        .select(col("event_type"), col("n").cast("long").as("n"),
          col("noise").cast("long").as("noise"),
          greatest(lit(0L), col("n") + col("noise")).cast("long").as("n_dp"))
        .orderBy("event_type")
    }
  }

  /** Discrete-time hazard curve over user tenure (the life table behind
    * churn modeling): tenure = days between a user's first and last
    * event; n_churn(t) = users whose observed tenure is exactly t days;
    * n_risk(t) = users who survived AT LEAST t days (descending cumsum);
    * hazard = n_churn/n_risk in basis points. The per-tenure hazard is
    * what a retention intervention targets — agg-retention's cohort grid
    * shows WHERE users are, this shows WHEN they leave. All-integer.
    *
    * Scale shape: one user-grained min/max rollup (map-side combine),
    * then a tenure-grained histogram; the descending cumsum windows over
    * tenure-grain rows only (input reduced to ≤ span-days rows by the
    * groupBy — WindowAuditSpec-checked).
    */
  lazy val aggHazardCurve: Op = Op.sql(
    "agg-hazard-curve",
    """WITH u AS (SELECT user_id,
      |                  min(epoch_ns(ts) // 86400000000000) AS d0,
      |                  max(epoch_ns(ts) // 86400000000000) AS d1
      |           FROM events GROUP BY user_id),
      |h AS (SELECT d1 - d0 AS tenure, count(*) AS n_churn FROM u GROUP BY 1),
      |r AS (SELECT tenure, n_churn,
      |             CAST(sum(n_churn) OVER (ORDER BY tenure DESC
      |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |                  AS BIGINT) AS n_risk
      |      FROM h)
      |SELECT CAST(tenure AS BIGINT) AS tenure_days,
      |       CAST(n_churn AS BIGINT) AS n_churn, n_risk,
      |       CAST((n_churn * 10000) // n_risk AS BIGINT) AS hazard_bp
      |FROM r ORDER BY tenure_days""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val h = Tables.events(s, d)
      .groupBy("user_id")
      .agg(min(expr("ts div 86400000000000")).as("d0"),
        max(expr("ts div 86400000000000")).as("d1"))
      .groupBy((col("d1") - col("d0")).as("tenure"))
      .agg(count(lit(1)).as("n_churn"))
    h.withColumn("n_risk",
        sum("n_churn").over(Window.orderBy(col("tenure").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
      .select(col("tenure").cast("long").as("tenure_days"),
        col("n_churn"), col("n_risk"),
        expr("(n_churn * 10000) div n_risk").as("hazard_bp"))
      .orderBy("tenure_days")
  }

  /** CUPED variance-reduced experiment readout (Deng et al. 2013 — the
    * standard pre-period covariate adjustment every large experimentation
    * platform applies): per user, pre-period spend x (first 15 days, the
    * join-merge-upsert split anchor) and post-period spend y; the pooled
    * θ = cov(x,y)/var(x); each variant (user_id parity) reports its raw
    * post mean and the adjusted mean y̅_v − θ·(x̅_v − x̅). Randomized
    * assignment makes the adjustment unbiased while removing the
    * pre-period component of the variance — the same decision at a
    * fraction of the sample. Integer cent sums throughout; θ and the
    * means combine the sums in ONE identical double expression tree both
    * engines (the house float discipline), then micro-snap.
    *
    * Scale shape: one conditional-aggregation pass to user grain with
    * map-side combine (split day is a 1-row broadcast), then a 2-row
    * variant fold and a 1-row pooled fold — cohort size never changes
    * the shape.
    */
  lazy val aggCupedAdjust: Op = Op.sql(
    "agg-cuped-adjust",
    """WITH g AS (SELECT min(epoch_ns(ts)) // 86400000000000 + 15 AS split_day
      |           FROM events),
      |u AS (SELECT user_id, user_id % 2 AS variant,
      |             CAST(sum(CASE WHEN epoch_ns(ts) // 86400000000000
      |                                < (SELECT split_day FROM g)
      |                           THEN CAST(round(value * 100) AS BIGINT)
      |                           ELSE 0 END) AS BIGINT) AS x,
      |             CAST(sum(CASE WHEN epoch_ns(ts) // 86400000000000
      |                                >= (SELECT split_day FROM g)
      |                           THEN CAST(round(value * 100) AS BIGINT)
      |                           ELSE 0 END) AS BIGINT) AS y
      |      FROM events GROUP BY user_id),
      |t AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
      |             CAST(sum(y) AS BIGINT) AS sy,
      |             CAST(sum(x * x) AS BIGINT) AS sxx,
      |             CAST(sum(x * y) AS BIGINT) AS sxy
      |      FROM u),
      |th AS (SELECT n, sx,
      |              (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |                 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |              (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta
      |       FROM t),
      |v AS (SELECT variant, count(*) AS n_users,
      |             CAST(sum(x) AS BIGINT) AS sxv, CAST(sum(y) AS BIGINT) AS syv
      |      FROM u GROUP BY variant)
      |SELECT CAST(v.variant AS BIGINT) AS variant, v.n_users,
      |       CAST(round(CAST(v.syv AS DOUBLE) / v.n_users * 1000000) AS BIGINT)
      |         / 1000000.0 AS mean_post,
      |       CAST(round((CAST(v.syv AS DOUBLE) / v.n_users
      |                   - th.theta * (CAST(v.sxv AS DOUBLE) / v.n_users
      |                                 - CAST(th.sx AS DOUBLE) / th.n))
      |                  * 1000000) AS BIGINT) / 1000000.0 AS mean_adj,
      |       CAST(round(th.theta * 1000000) AS BIGINT) / 1000000.0 AS theta
      |FROM v, th ORDER BY variant""".stripMargin
  ) { (s, d) =>
    val ev = Tables.events(s, d)
    val g = ev.agg((min(expr("ts div 86400000000000")) + 15).as("split_day"))
    val u = ev.crossJoin(broadcast(g))
      .select(col("user_id"), (col("user_id") % 2).as("variant"),
        expr("ts div 86400000000000").as("day"),
        expr("cast(round(value * 100) as bigint)").as("v"),
        col("split_day"))
      .groupBy("user_id", "variant")
      .agg(sum(when(col("day") < col("split_day"), col("v")).otherwise(0L))
          .cast("long").as("x"),
        sum(when(col("day") >= col("split_day"), col("v")).otherwise(0L))
          .cast("long").as("y"))
    val t = u.agg(count(lit(1)).as("n"), sum("x").cast("long").as("sx"),
      sum("y").cast("long").as("sy"), sum(expr("x * x")).cast("long").as("sxx"),
      sum(expr("x * y")).cast("long").as("sxy"))
    val th = t.select(col("n"), col("sx"),
      ((col("n").cast("double") * col("sxy").cast("double")
        - col("sx").cast("double") * col("sy").cast("double")) /
        (col("n").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"))).as("theta"))
    val v = u.groupBy("variant")
      .agg(count(lit(1)).as("n_users"), sum("x").cast("long").as("sxv"),
        sum("y").cast("long").as("syv"))
    v.crossJoin(broadcast(th))
      .select(col("variant").cast("long").as("variant"), col("n_users"),
        (round(col("syv").cast("double") / col("n_users") * 1000000)
          .cast("long") / lit(1000000.0)).as("mean_post"),
        (round((col("syv").cast("double") / col("n_users")
          - col("theta") * (col("sxv").cast("double") / col("n_users")
            - col("sx").cast("double") / col("n"))) * 1000000)
          .cast("long") / lit(1000000.0)).as("mean_adj"),
        (round(col("theta") * 1000000).cast("long") / lit(1000000.0)).as("theta"))
      .orderBy("variant")
  }

  /** HLL precision sweep — the m-register sizing table for the HLL tier
    * (the hll analogue of dedup-minhash-k-sweep): the SAME 60-bit md5
    * hash stream sketched at m ∈ {16, 64, 256, 1024} registers against
    * the exact distinct count, with the observed error in basis points.
    * The 1.04/√m theoretical error halves per 4× registers; this table
    * shows where the budget stops paying on real data. Keyed on event_id
    * (large cardinality), so every m operates deep in the raw-estimator
    * regime — the linear-counting branch never activates and the only
    * float is the single α·m²·2^(61−b)/zsum division (the numerator is
    * α·2^(61+b), an EXACT double — power-of-two scaling never rounds —
    * emitted as the identical literal on both engines). zsum stays in
    * exact BIGINT at every m (≤ 2^61). err_bp uses abs() so the integer
    * division never sees a negative operand (trunc-vs-floor hazard).
    *
    * Scale shape: one corpus pass (hash projection + 4× register-count
    * explode), map-side-combined (b, bucket) max-rho — at most
    * 16+64+256+1024 = 1360 sketch rows total whatever the corpus — then
    * a b-grained fold and a 1-row broadcast exact count.
    */
  lazy val aggHllPrecisionSweep: Op = {
    val bs = Seq(4, 6, 8, 10)
    def alphaFor(m: Int): Double = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case mm => 0.7213 / (1.0 + 1.079 / mm)
    }
    val numer: Map[Int, Double] =
      bs.map(b => b -> alphaFor(1 << b) * math.pow(2.0, 61 + b)).toMap
    val numerSql = s"CASE b WHEN 4 THEN ${numer(4)} WHEN 6 THEN ${numer(6)} " +
      s"WHEN 8 THEN ${numer(8)} ELSE ${numer(10)} END"
    Op.sql(
      "agg-hll-precision-sweep",
      s"""WITH h AS (
         |  SELECT list_reduce([CAST(strpos('0123456789abcdef', x) - 1 AS BIGINT)
         |                      FOR x IN [substr(md5(CAST(event_id AS VARCHAR)), i, 1)
         |                                FOR i IN generate_series(1, 15)]],
         |                     (a, x) -> a * 16 + x) AS h
         |  FROM events),
         |hb AS (SELECT h, b FROM h, (SELECT unnest([4, 6, 8, 10]) AS b) g),
         |rb AS (SELECT b, h % (1::BIGINT << b) AS bucket,
         |              CASE WHEN h // (1::BIGINT << b) = 0 THEN 61 - b
         |                   ELSE (61 - b) - length(bin(h // (1::BIGINT << b)))
         |              END AS rho
         |       FROM hb),
         |r AS (SELECT b, bucket, max(rho) AS r FROM rb GROUP BY b, bucket),
         |z AS (SELECT b,
         |             CAST(sum(1::BIGINT << CAST((61 - b) - r AS INTEGER)) AS BIGINT)
         |               + ((1::BIGINT << b) - count(*)) * (1::BIGINT << (61 - b)) AS zsum
         |      FROM r GROUP BY b),
         |x AS (SELECT count(DISTINCT event_id) AS n_exact FROM events),
         |e AS (SELECT b, CAST(round(($numerSql) / zsum) AS BIGINT) AS n_hll FROM z)
         |SELECT CAST(1::BIGINT << b AS BIGINT) AS m,
         |       CAST(x.n_exact AS BIGINT) AS n_exact, e.n_hll,
         |       CAST((abs(e.n_hll - x.n_exact) * 10000) // x.n_exact AS BIGINT)
         |         AS err_bp
         |FROM e, x ORDER BY m""".stripMargin
    ) { (s, d) =>
      val ev = Tables.events(s, d)
      val numerCol = bs.tail.foldLeft(
        when(col("b") === bs.head, lit(numer(bs.head)))) { (acc, b) =>
        acc.when(col("b") === b, lit(numer(b)))
      }
      val z = ev.select(graft.sketch.Hll.hash60(col("event_id")).as("h"))
        .select(col("h"), explode(array(bs.map(b => lit(b)): _*)).as("b"))
        .select(col("b"), expr("h % shiftleft(1L, b)").as("bucket"),
          expr("""case when shiftright(h, b) = 0 then 61 - b
                 |     else (61 - b) - length(bin(shiftright(h, b))) end""".stripMargin)
            .as("rho"))
        .groupBy("b", "bucket").agg(max("rho").as("r"))
        .groupBy("b")
        .agg(sum(expr("shiftleft(1L, cast((61 - b) - r as int))")).as("zpart"),
          count(lit(1)).as("nb"))
        .withColumn("zsum", col("zpart") +
          (expr("shiftleft(1L, b)") - col("nb")) * expr("shiftleft(1L, 61 - b)"))
        .withColumn("n_hll", round(numerCol / col("zsum")).cast("long"))
      val exact = ev.agg(countDistinct("event_id").as("n_exact"))
      z.crossJoin(broadcast(exact))
        .select(expr("shiftleft(1L, b)").as("m"), col("n_exact"), col("n_hll"),
          expr("(abs(n_hll - n_exact) * 10000) div n_exact").as("err_bp"))
        .orderBy("m")
    }
  }

  /** AMS second-frequency-moment sketch (Alon–Matias–Szegedy) vs the
    * exact F₂ of the user-key frequency vector: eight independent ±1
    * sign estimators (md5-parity signs — deterministic and
    * engine-portable), each z_i = Σ_u s_i(u)·cnt_u with E[z²] = F₂.
    * F₂ IS the self-join size of events on user_id, so this op is the
    * sketch a join planner consults before choosing salted vs plain —
    * and the per-estimator err_bp table shows the variance a single
    * sketch row carries (why production AMS takes a median of means).
    * All-integer: z and z² are exact on both engines — WITHIN the
    * int64 envelope: |z| ≤ total event count, so z² overflows int64
    * once the corpus passes ~3×10⁹ events (Spark wraps silently,
    * DuckDB errors). At that scale run the estimators over a keyed
    * sample (scale cnt by the sampling rate) or per shard with
    * median-of-means across shards; the sf-range fixture never gets
    * within 10⁴× of the bound. See PLANS.md.
    *
    * Scale shape: one map-side-combined groupBy to user grain; the 8×
    * estimator explode runs over user-grain rows only; the exact F₂ is a
    * 1-row broadcast.
    */
  lazy val aggAmsF2: Op = Op.sql(
    "agg-ams-f2",
    """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
      |f2 AS (SELECT CAST(sum(cnt * cnt) AS BIGINT) AS f2_exact FROM c),
      |s AS (SELECT i,
      |             CAST(sum(CASE WHEN substr(md5(concat('ams', CAST(i AS VARCHAR),
      |                                               ':', CAST(user_id AS VARCHAR))),
      |                                  1, 1) < '8'
      |                           THEN cnt ELSE -cnt END) AS BIGINT) AS z
      |      FROM c, (SELECT unnest(generate_series(0, 7)) AS i) g GROUP BY i)
      |SELECT CAST(i AS BIGINT) AS estimator, CAST(z * z AS BIGINT) AS est,
      |       f2.f2_exact,
      |       CAST((abs(z * z - f2.f2_exact) * 10000) // f2.f2_exact AS BIGINT)
      |         AS err_bp
      |FROM s, f2 ORDER BY estimator""".stripMargin
  ) { (s, d) =>
    val c = Tables.events(s, d)
      .groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val f2 = c.agg(sum(expr("cnt * cnt")).cast("long").as("f2_exact"))
    val est = c
      .select(col("user_id"), col("cnt"),
        explode(sequence(lit(0), lit(7))).as("i"))
      .withColumn("sgn",
        when(substring(md5(concat(lit("ams"), col("i").cast("string"),
          lit(":"), col("user_id").cast("string"))), 1, 1) < "8",
          col("cnt")).otherwise(-col("cnt")))
      .groupBy("i").agg(sum("sgn").cast("long").as("z"))
    est.crossJoin(broadcast(f2))
      .select(col("i").cast("long").as("estimator"),
        expr("z * z").cast("long").as("est"), col("f2_exact"),
        expr("(abs(z * z - f2_exact) * 10000) div f2_exact").as("err_bp"))
      .orderBy("estimator")
  }

  /** Exact two-sample Kolmogorov–Smirnov drift per event type: the KS
    * distance D = max_x |F_type(x) − F_rest(x)| between one event type's
    * value distribution (at integer-cent grain) and the POOLED REST,
    * with the location of the maximum — the distribution-shape drift
    * monitor that catches what mean/variance screens (agg-rate-anomaly)
    * and binned TV distance (agg-value-drift's week-over-week read)
    * miss: a shift confined to one region of the CDF. Reference
    * analogue: the per-kind verify statistics of
    * /root/reference/src/command/verify.rs:62-96, lifted to the
    * distribution grain (extension scope).
    *
    * Integer discipline: D's numerator is max |cum1·n2 − cum2·n1| —
    * pure integer cumulative counts cross-multiplied, so the max is
    * exact with NO float CDF anywhere; the single division snaps via
    * floor div of non-negative integers (div == //); argmax ties break
    * to the lowest cents via max(struct(dnum, −cents)) ≡ the oracle's
    * min-cents-at-max; n1·n2 = 0 (a type that is the whole stream)
    * yields NULL both engines.
    *
    * Scale shape: the corpus reduces in ONE map-side-combined
    * (cents, type) groupBy; everything after lives on the
    * (distinct-cents × types) grid — value-domain-sized, not
    * corpus-sized. The per-type cumulative window partitions by type;
    * the pooled cumulative is an unpartitioned window over the
    * Aggregate-reduced distinct-cents table (WindowAudit-legal). At
    * 100 TB: quantize cents coarser (the grid is the only growing
    * state) and mind the integer headroom — the binding bound is the
    * cum·n products inside dnum, which need N < 3×10⁹ rows per
    * comparison (the terminal d_micro multiply runs in 38-digit
    * decimal/HUGEINT, so it never binds first); above that, sample
    * rows per comparison or move dnum to decimal too.
    */
  val aggKsDrift: Op = Op.sql(
    "agg-ks-drift",
    """WITH p AS (SELECT event_type,
      |                  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |g AS (SELECT cents, event_type, CAST(count(*) AS BIGINT) AS c
      |      FROM p GROUP BY 1, 2),
      |ct AS (SELECT cents, sum(c) AS c_all FROM g GROUP BY 1),
      |ca AS (SELECT cents, sum(c_all) OVER (ORDER BY cents) AS cum_all FROM ct),
      |ty AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n1 FROM g GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM g),
      |gj AS (SELECT ca.cents, ty.event_type, ca.cum_all, ty.n1,
      |              coalesce(g.c, 0) AS c1
      |       FROM ca CROSS JOIN ty
      |       LEFT JOIN g ON g.cents = ca.cents AND g.event_type = ty.event_type),
      |cm AS (SELECT cents, event_type, cum_all, n1,
      |              sum(c1) OVER (PARTITION BY event_type ORDER BY cents) AS cum1
      |       FROM gj),
      |dn AS (SELECT event_type, n1, tot.n - n1 AS n2, cents,
      |              abs(cum1 * (tot.n - n1) - (cum_all - cum1) * n1) AS dnum
      |       FROM cm, tot),
      |mx AS (SELECT event_type, max(n1) AS n_type, max(n2) AS n_rest,
      |              max(dnum) AS dmax FROM dn GROUP BY event_type),
      |loc AS (SELECT dn.event_type, min(dn.cents) AS at_cents
      |        FROM dn JOIN mx ON dn.event_type = mx.event_type
      |                       AND dn.dnum = mx.dmax
      |        GROUP BY dn.event_type)
      |SELECT m.event_type, CAST(m.n_type AS BIGINT) AS n_type,
      |       CAST(m.n_rest AS BIGINT) AS n_rest,
      |       CASE WHEN m.n_type * m.n_rest > 0
      |            THEN CAST((CAST(m.dmax AS HUGEINT) * 1000000)
      |                      // (CAST(m.n_type AS HUGEINT) * m.n_rest) AS BIGINT)
      |            ELSE NULL END AS d_micro,
      |       l.at_cents
      |FROM mx m JOIN loc l USING (event_type) ORDER BY m.event_type""".stripMargin
  ) { (s, d) =>
    // four consumers (ct/ty/tot/gj) read the reduced count table — the
    // memoized persisted grid ([[persistedKsGrid]]) scans the corpus ONCE
    val g = persistedKsGrid(s, d)
    val ct = g.groupBy("cents").agg(sum("c").as("c_all"))
    val ca = ct.select(col("cents"),
      sum("c_all").over(Window.orderBy("cents")).as("cum_all"))
    val ty = g.groupBy("event_type").agg(sum("c").as("n1"))
    val tot = g.agg(sum("c").as("n"))
    val gj = ca.crossJoin(broadcast(ty))
      .join(g, Seq("cents", "event_type"), "left")
      .select(col("cents"), col("event_type"), col("cum_all"), col("n1"),
        coalesce(col("c"), lit(0L)).as("c1"))
    val cm = gj.withColumn("cum1",
        sum("c1").over(Window.partitionBy("event_type").orderBy("cents")))
      .crossJoin(broadcast(tot))
    val dn = cm.select(col("event_type"), col("n1"),
      (col("n") - col("n1")).as("n2"), col("cents"),
      abs(col("cum1") * (col("n") - col("n1"))
        - (col("cum_all") - col("cum1")) * col("n1")).as("dnum"))
    dn.groupBy("event_type")
      .agg(max("n1").as("n_type"), max("n2").as("n_rest"),
        max(struct(col("dnum"), (-col("cents")).as("nc"))).as("b"))
      .select(col("event_type"), col("n_type"), col("n_rest"),
        // the terminal micro multiply runs in 38-digit decimal (HUGEINT in
        // the oracle): dmax can reach n1·n2, so dmax·10⁶ in int64 would
        // overflow ~1000× below the dnum products' own N < 3e9 bound
        when(col("n_type") * col("n_rest") > 0,
          expr("(CAST(b.dnum AS DECIMAL(38,0)) * 1000000) div " +
            "(CAST(n_type AS DECIMAL(38,0)) * n_rest)")).as("d_micro"),
        (-col("b.nc")).as("at_cents"))
      .orderBy("event_type")
  }

  val ops: Seq[Op] = Seq(aggDedupLargest, aggVerifyStat, aggDupHeight,
    aggDupTxid, aggMaxHeight, aggThroughput, aggThroughputSliding,
    aggMetrics, aggLatencyQuantiles, aggChainVerify, aggRetention, aggFunnel,
    aggActiveUsers, aggUserValue, aggHllDistinct, aggKmvOverlap,
    aggRateAnomaly, aggCohortLtv, aggQuantileSketch, aggWhaleShare,
    aggRollupMetrics, aggKeySkew, aggMadOutliers, aggGiniCents, aggExpDecay,
    aggHllMerge, aggFunnelLatency, aggDistinctGrowth, aggAbTest, aggOhlc,
    aggPoissonBootstrap, aggBenford, aggChiSquare, aggCountmin, aggDpCount,
    aggBasketPairs, aggFreshness, aggSloBurn, aggActiveHorizons,
    aggDoubleCharge, aggNewReturning, aggBurstiness, aggMixShift,
    aggRfmSegments, aggOrderInversions, aggWowGrowth, aggValueLogHistogram,
    aggValueDrift, aggWhaleStability, aggMtbf, aggPeakRate,
    aggHazardCurve, aggAmsF2, aggHllPrecisionSweep, aggCupedAdjust,
    aggTrendSlope, aggKsDrift)

  /** Per-user spend-trend slope — exact ordinary-least-squares over
    * (day index, daily spend cents): slope = (nΣxy − ΣxΣy)/(nΣx² −
    * (Σx)²), the regr_slope the curation dashboards rank churn risk by,
    * spelled so both engines agree bit-for-bit (built-in regr_slope
    * aggregates doubles in partition order — banned). Reference
    * analogue: per-kind archive statistics, src/command/verify.rs:62-96,
    * lifted to the regression grain.
    *
    * Float discipline: every moment (n, Σx, Σy, Σxy, Σx²) is an EXACT
    * integer sum over cent-snapped values — order-free — and the slope
    * is ONE identical-tree double division, micro-snapped. Days whose
    * spend sum is NULL (every value NULL that day) are DROPPED before
    * the moment pass — otherwise n/Σx/Σx² would count a day that
    * Σy/Σxy skip and the result would be the OLS of no observed point
    * set (round-9 review). Users with fewer than two OBSERVED days
    * have a zero denominator → NULL on both engines (the div-by-zero
    * NULL-vs-throw invariant). Overflow: n·Σxy needs
    * day·cents·days·n < 2^63 — epoch-day ≈ 2×10⁴ keeps headroom to
    * ~10¹⁰ cent-events per user; beyond that, re-origin x to
    * (day − min_day) (documented swap).
    *
    * Scale shape: two map-side-combined groupBys (events → user-day →
    * user); no window, no join; output is user-grain.
    */
  lazy val aggTrendSlope: Op = Op.sql(
    "agg-trend-slope",
    """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |                  CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |dy AS (SELECT user_id, day, CAST(sum(cents) AS BIGINT) AS y
      |       FROM e GROUP BY user_id, day
      |       HAVING sum(cents) IS NOT NULL),
      |m AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
      |             CAST(sum(day) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |             CAST(sum(day * y) AS BIGINT) AS sxy,
      |             CAST(sum(day * day) AS BIGINT) AS sxx
      |      FROM dy GROUP BY user_id)
      |SELECT user_id, n_days,
      |       CASE WHEN n_days * sxx - sx * sx = 0 THEN NULL
      |            ELSE CAST(round((1000000.0 * (n_days * sxy - sx * sy))
      |                       / (n_days * sxx - sx * sx)) AS BIGINT) END AS slope_micro
      |FROM m ORDER BY user_id""".stripMargin
  ) { (s, d) =>
    val e = Tables.events(s, d).select(col("user_id"),
      expr("(ts div 1000) div 86400000000").as("day"),
      round(col("value") * 100).cast("long").as("cents"))
    e.groupBy("user_id", "day").agg(sum("cents").as("y"))
      .filter(col("y").isNotNull)
      .groupBy("user_id").agg(
        count(lit(1)).as("n_days"),
        sum("day").as("sx"), sum("y").as("sy"),
        sum(col("day") * col("y")).as("sxy"),
        sum(col("day") * col("day")).as("sxx"))
      .select(col("user_id"), col("n_days"),
        when(col("n_days") * col("sxx") - col("sx") * col("sx") === 0, lit(null))
          .otherwise(round((lit(1000000.0) *
            (col("n_days") * col("sxy") - col("sx") * col("sy"))) /
            (col("n_days") * col("sxx") - col("sx") * col("sx"))).cast("long"))
          .as("slope_micro"))
      .orderBy("user_id")
  }

  /** Peak-rate capacity table: per event type, the busiest minute's
    * event count, the P99 minute rate (×2-grain integer parity), and the
    * peak-to-median burst ratio in basis points — the numbers an
    * ingestion autoscaler and a rate-limiter budget are sized from
    * (mean rates undersize both; the peak minute is what must fit).
    *
    * Scale shape: one (type, minute) rollup with map-side combine
    * (span-bounded: ~526k minutes/year per type), then a type-grained
    * percentile fold over rollup rows.
    */
  lazy val aggPeakRate: Op = Op.sql(
    "agg-peak-rate",
    """WITH m AS (
      |  SELECT event_type, epoch_us(ts) // 60000000 AS minute,
      |         count(*) AS n
      |  FROM events GROUP BY event_type, minute)
      |SELECT event_type,
      |       CAST(count(*) AS BIGINT) AS n_active_minutes,
      |       CAST(max(n) AS BIGINT) AS peak_per_min,
      |       CAST(round(quantile_cont(n, 0.99) * 2) AS BIGINT) AS p99x2_per_min,
      |       CAST((max(n) * 10000) // CAST(quantile_cont(n, 0.5) * 2 AS BIGINT)
      |            * 2 AS BIGINT) AS peak_over_median_bp
      |FROM m GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"), expr("ts div 1000 div 60000000").as("minute"))
      .groupBy("event_type", "minute").agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_active_minutes"),
        max("n").cast("long").as("peak_per_min"),
        // round() before the integer snap: DuckDB CAST(x AS BIGINT)
        // ROUNDS while Spark .cast truncates — the ×2 grain is only
        // exact for p = 0.5 interpolations, and p99's fraction can land
        // anywhere (fuzz seed 101 caught 5.66 → 6 vs 5)
        round(expr("percentile(n, 0.99D)") * 2).cast("long").as("p99x2_per_min"),
        (expr("percentile(n, 0.5D)") * 2).cast("long").as("med2"))
      .select(col("event_type"), col("n_active_minutes"), col("peak_per_min"),
        col("p99x2_per_min"),
        (expr("(peak_per_min * 10000) div med2") * 2)
          .as("peak_over_median_bp"))
      .orderBy("event_type")
  }

  /** Mean / median time between error events — the MTBF line on every
    * reliability dashboard, with the error count and the observation
    * span for context. Mean is one integer division over the span;
    * the median inter-error gap doubles into an exact BIGINT
    * (win-churn-risk's ×2-grain percentile parity).
    *
    * Scale shape: errors filter pushes to the scan; the inter-error gap
    * multiset comes from a DAY-bucketed lag (each partition holds one
    * day's errors) plus a boundary stitch — per-day (first, last) rows
    * lag over the day-grained table (input reduced to ≤ span-days rows)
    * to recover the cross-midnight gaps, so no unbounded global window
    * ever forms. The multiset of consecutive differences of a sorted
    * sequence is invariant to how it is split, so this equals the
    * oracle's single ordered lag exactly; then a one-row fold.
    */
  lazy val aggMtbf: Op = Op.sql(
    "agg-mtbf",
    """WITH e AS (SELECT CAST(epoch_us(ts) AS BIGINT) AS us, event_id
      |           FROM events WHERE event_type = 'error'),
      |g AS (SELECT us - lag(us) OVER (ORDER BY us, event_id) AS gap FROM e),
      |gg AS (SELECT gap FROM g WHERE gap IS NOT NULL)
      |SELECT (SELECT count(*) FROM e) AS n_errors,
      |       CAST((SELECT max(us) - min(us) FROM e) AS BIGINT) AS span_us,
      |       CAST((SELECT sum(gap) // count(*) FROM gg) AS BIGINT)
      |         AS mean_gap_us,
      |       CAST((SELECT quantile_cont(gap, 0.5) * 2 FROM gg) AS BIGINT)
      |         AS med_gap_x2_us""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val DayUs = 86400000000L
    val e = Tables.events(s, d)
      .filter(col("event_type") === "error")
      .select(expr("ts div 1000").as("us"))
      .withColumn("day", expr(s"us div $DayUs"))
    // within-day gaps: equal us values always share a day, so the lag
    // tie-break the oracle spells via event_id is immaterial here (ties
    // contribute gap = 0 under any order)
    val inner = e
      .withColumn("gap",
        col("us") - lag("us", 1).over(Window.partitionBy("day").orderBy("us")))
      .filter(col("gap").isNotNull)
      .select("gap")
    // boundary stitch: one (first, last) row per populated day; the lag
    // window input is reduced to ≤ span-days rows by the groupBy
    val cross = e.groupBy("day")
      .agg(min("us").as("first_us"), max("us").as("last_us"))
      .withColumn("gap",
        col("first_us") - lag("last_us", 1).over(Window.orderBy("day")))
      .filter(col("gap").isNotNull)
      .select("gap")
    val stats = e.agg(count(lit(1)).as("n_errors"),
      (max("us") - min("us")).cast("long").as("span_us"))
    val gaps = inner.union(cross).agg(
      expr("sum(gap) div count(1)").cast("long").as("mean_gap_us"),
      (expr("percentile(gap, 0.5D)") * 2).cast("long").as("med_gap_x2_us"))
    stats.crossJoin(broadcast(gaps))
  }

  /** Numeric-distribution drift week over week: purchase amounts bucket
    * at log2 boundaries (agg-value-log-histogram's ladder), each week's
    * bucket shares snap to basis points over the DENSED week×bucket
    * grid, and consecutive weeks compare by L1 distance — the
    * feature-store monitoring alarm for "the money distribution moved"
    * (a price change or bot wave shifts buckets long before volume or
    * mean alarms fire; the numeric sibling of agg-mix-shift).
    *
    * Scale shape: one (week, bucket) rollup; the grid is weeks × 18
    * buckets; per-bucket lag over weekly rows; day totals broadcast.
    */
  lazy val aggValueDrift: Op = {
    val cuts: Seq[Long] = (0 to 16).map(i => 1L << i)
    val sqlBucket = cuts.map(c => s"WHEN cents < $c THEN CAST($c AS BIGINT)")
      .mkString("CASE ", " ", " ELSE CAST(131072 AS BIGINT) END")
    Op.sql(
      "agg-value-drift",
      s"""WITH p AS (SELECT epoch_us(ts) // 604800000000 AS week,
         |                  CAST(round(value * 100) AS BIGINT) AS cents
         |           FROM events WHERE event_type = 'purchase'),
         |b AS (SELECT week, $sqlBucket AS bucket FROM p),
         |h AS (SELECT week, bucket, count(*) AS n FROM b GROUP BY week, bucket),
         |wk AS (SELECT week, CAST(sum(n) AS BIGINT) AS nw FROM h GROUP BY week),
         |bk AS (SELECT DISTINCT bucket FROM h),
         |grid AS (SELECT wk.week, wk.nw, bk.bucket FROM wk, bk),
         |sh AS (SELECT g.week, g.bucket,
         |              CAST((coalesce(h.n, 0) * 10000) // g.nw AS BIGINT) AS bp
         |       FROM grid g LEFT JOIN h ON h.week = g.week
         |                               AND h.bucket = g.bucket),
         |lg AS (SELECT week, bucket, bp,
         |         lag(bp) OVER (PARTITION BY bucket ORDER BY week) AS prev
         |       FROM sh)
         |SELECT week, CAST(sum(abs(bp - prev)) AS BIGINT) AS l1_bp,
         |       CAST(max(abs(bp - prev)) AS BIGINT) AS max_bucket_bp
         |FROM lg WHERE prev IS NOT NULL
         |GROUP BY week ORDER BY week""".stripMargin
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val bucket = cuts.foldRight(lit(131072L): org.apache.spark.sql.Column) {
        case (c, rest) => when(col("cents") < c, c).otherwise(rest)
      }
      val h = Tables.events(s, d)
        .filter(col("event_type") === "purchase")
        .select(expr("ts div 1000 div 604800000000").as("week"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("bucket", bucket)
        .groupBy("week", "bucket").agg(count(lit(1)).as("n"))
      val wk = h.groupBy("week").agg(sum("n").cast("long").as("nw"))
      val grid = wk.crossJoin(broadcast(h.select("bucket").distinct()))
      val w = Window.partitionBy("bucket").orderBy("week")
      grid.join(h, Seq("week", "bucket"), "left")
        .select(col("week"), col("bucket"),
          expr("(coalesce(n, 0) * 10000) div nw").as("bp"))
        .withColumn("prev", lag("bp", 1).over(w))
        .filter(col("prev").isNotNull)
        .groupBy("week")
        .agg(sum(abs(col("bp") - col("prev"))).cast("long").as("l1_bp"),
          max(abs(col("bp") - col("prev"))).cast("long").as("max_bucket_bp"))
        .orderBy("week")
    }
  }

  /** Whale-set stability: do the SAME top-decile spenders return week
    * over week? Each week's whales are users at or above that week's
    * P90 spend (exact percentile cutoff broadcast per week — never a
    * global rank window), and consecutive weeks compare as set overlap
    * with the Jaccard in basis points. Low stability means revenue
    * concentration is churn-driven (acquisition treadmill); high means a
    * durable whale base — two very different businesses with identical
    * weekly revenue (companion: agg-whale-share sizes concentration,
    * this measures its persistence).
    *
    * Scale shape: weekly user spend rollup; per-week cutoffs are a
    * week-grained aggregate joined back (broadcast); the overlap
    * self-join matches whales on (user, adjacent weeks) — whale-set-
    * sized, not user-sized.
    */
  lazy val aggWhaleStability: Op = Op.sql(
    "agg-whale-stability",
    """WITH p AS (SELECT epoch_us(ts) // 604800000000 AS week, user_id,
      |                  CAST(round(value * 100) AS BIGINT) AS cents
      |           FROM events WHERE event_type = 'purchase'),
      |uw AS (SELECT week, user_id, CAST(sum(cents) AS BIGINT) AS spend
      |       FROM p GROUP BY week, user_id),
      |cut AS (SELECT week,
      |               CAST(round(quantile_cont(spend, 0.9) * 2) AS BIGINT) AS p90x2
      |        FROM uw GROUP BY week),
      |wh AS (SELECT uw.week, uw.user_id FROM uw JOIN cut ON cut.week = uw.week
      |       WHERE uw.spend * 2 >= cut.p90x2),
      |sz AS (SELECT week, count(*) AS n_whales FROM wh GROUP BY week),
      |ov AS (SELECT a.week AS week, count(*) AS n_overlap
      |       FROM wh a JOIN wh b ON b.user_id = a.user_id
      |                          AND b.week = a.week - 1
      |       GROUP BY a.week)
      |SELECT s.week AS week, s.n_whales,
      |       CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_repeat,
      |       CAST((coalesce(ov.n_overlap, 0) * 10000) //
      |            (s.n_whales + sp.n_whales - coalesce(ov.n_overlap, 0))
      |            AS BIGINT) AS jaccard_bp
      |FROM sz s JOIN sz sp ON sp.week = s.week - 1
      |LEFT JOIN ov ON ov.week = s.week
      |ORDER BY week""".stripMargin
  ) { (s, d) =>
    val uw = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(expr("ts div 1000 div 604800000000").as("week"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .groupBy("week", "user_id").agg(sum("cents").cast("long").as("spend"))
    val cut = uw.groupBy("week")
      // round() before the snap (the agg-peak-rate CAST-vs-trunc fix):
      // p90's interpolation fraction is arbitrary, and the threshold
      // feeds whale membership
      .agg(round(expr("percentile(spend, 0.9D)") * 2).cast("long").as("p90x2"))
    // wh persists (round 13): consumed by the size agg and BOTH sides of
    // the adjacent-week self-join — four re-evaluations of the threshold
    // join (each re-running the (week,user) rollup's final agg) without a
    // cache. Whale-set-sized (top-decile rows only).
    val wh = uw.join(broadcast(cut), Seq("week"))
      .filter(col("spend") * 2 >= col("p90x2"))
      .select("week", "user_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sz = wh.groupBy("week").agg(count(lit(1)).as("n_whales"))
    val prevWh = wh.select((col("week") + 1).as("week"),
      col("user_id"))
    val ov = wh.join(prevWh, Seq("week", "user_id"))
      .groupBy("week").agg(count(lit(1)).as("n_overlap"))
    val prevSz = sz.select((col("week") + 1).as("week"),
      col("n_whales").as("np"))
    sz.join(prevSz, Seq("week"))
      .join(ov, Seq("week"), "left")
      .select(col("week"), col("n_whales"),
        coalesce(col("n_overlap"), lit(0L)).cast("long").as("n_repeat"),
        expr("(coalesce(n_overlap, 0) * 10000) div " +
          "(n_whales + np - coalesce(n_overlap, 0))").as("jaccard_bp"))
      .orderBy("week")
  }

  /** Power-of-two value histogram per event type: purchase amounts
    * bucketed at log2 boundaries (the doubling ladder every latency/value
    * dashboard uses — constant relative resolution, fixed bucket count at
    * ANY value range, and the bucket is pure integer comparison, no libm
    * log). Upper bound of each bucket in cents plus count and share bp.
    *
    * Scale shape: the bucket is a per-row CASE ladder over plan-time
    * literals inside codegen; one map-side-combined (type, bucket)
    * groupBy; type totals broadcast onto the histogram rows.
    */
  lazy val aggValueLogHistogram: Op = {
    val cuts: Seq[Long] = (0 to 16).map(i => 1L << i) // 1,2,4,…,65536 cents
    val sqlBucket = cuts.map(c => s"WHEN cents < $c THEN CAST($c AS BIGINT)")
      .mkString("CASE ", " ", " ELSE CAST(131072 AS BIGINT) END")
    Op.sql(
      "agg-value-log-histogram",
      s"""WITH p AS (SELECT event_type,
         |                  CAST(round(value * 100) AS BIGINT) AS cents
         |           FROM events WHERE event_type IN ('purchase', 'click')),
         |b AS (SELECT event_type, $sqlBucket AS bucket_lt FROM p),
         |h AS (SELECT event_type, bucket_lt, count(*) AS n
         |      FROM b GROUP BY event_type, bucket_lt),
         |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS nt FROM h
         |      GROUP BY event_type)
         |SELECT h.event_type AS event_type, h.bucket_lt, h.n,
         |       CAST((h.n * 10000) // t.nt AS BIGINT) AS share_bp
         |FROM h JOIN t ON t.event_type = h.event_type
         |ORDER BY h.event_type, h.bucket_lt""".stripMargin
    ) { (s, d) =>
      val bucket = cuts.foldRight(lit(131072L): org.apache.spark.sql.Column) {
        case (c, rest) => when(col("cents") < c, c).otherwise(rest)
      }
      val h = Tables.events(s, d)
        .filter(col("event_type").isin("purchase", "click"))
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("bucket_lt", bucket)
        .groupBy("event_type", "bucket_lt").agg(count(lit(1)).as("n"))
      val t = h.groupBy("event_type").agg(sum("n").cast("long").as("nt"))
      h.join(broadcast(t), Seq("event_type"))
        .select(col("event_type"), col("bucket_lt"), col("n"),
          expr("(n * 10000) div nt").as("share_bp"))
        .orderBy("event_type", "bucket_lt")
    }
  }

  /** Week-over-week growth per event type, in basis points against the
    * previous week — the trend table behind every growth review. The
    * (week × type) grid is DENSED first (agg-mix-shift's rule: a type
    * absent one week is 0, and reappearance computes against that 0 —
    * growth from zero reports the sentinel 10000 bp cap via NULLIF
    * avoidance: prev = 0 rows emit growth_bp = NULL, surfaced as a
    * boolean `from_zero` instead of a division blow-up).
    *
    * Scale shape: one (week, type) rollup, a domain-sized grid, per-type
    * lag over span-bounded weekly rows.
    */
  lazy val aggWowGrowth: Op = Op.sql(
    "agg-wow-growth",
    """WITH wt AS (
      |  SELECT epoch_us(ts) // 604800000000 AS week, event_type,
      |         count(*) AS n
      |  FROM events GROUP BY week, event_type),
      |wk AS (SELECT DISTINCT week FROM wt),
      |ty AS (SELECT DISTINCT event_type FROM wt),
      |grid AS (SELECT wk.week, ty.event_type FROM wk, ty),
      |dense AS (SELECT g.week, g.event_type, coalesce(wt.n, 0) AS n
      |          FROM grid g LEFT JOIN wt
      |            ON wt.week = g.week AND wt.event_type = g.event_type),
      |l AS (SELECT week, event_type, n,
      |        lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev
      |      FROM dense)
      |SELECT week, event_type, CAST(n AS BIGINT) AS n,
      |       CAST(prev AS BIGINT) AS prev,
      |       CAST(CASE WHEN prev > 0 THEN ((n - prev) * 10000) // prev
      |                 ELSE NULL END AS BIGINT) AS growth_bp,
      |       (prev = 0) AS from_zero
      |FROM l WHERE prev IS NOT NULL
      |ORDER BY week, event_type""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val wt = Tables.events(s, d)
      .select(expr("ts div 1000 div 604800000000").as("week"), col("event_type"))
      .groupBy("week", "event_type").agg(count(lit(1)).as("n"))
    val grid = wt.select("week").distinct()
      .crossJoin(broadcast(wt.select("event_type").distinct()))
    val w = Window.partitionBy("event_type").orderBy("week")
    grid.join(wt, Seq("week", "event_type"), "left")
      .select(col("week"), col("event_type"), coalesce(col("n"), lit(0L)).as("n"))
      .withColumn("prev", lag("n", 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("week"), col("event_type"), col("n").cast("long").as("n"),
        col("prev").cast("long").as("prev"),
        when(col("prev") > 0,
          expr("((n - prev) * 10000) div prev")).otherwise(lit(null))
          .cast("long").as("growth_bp"),
        (col("prev") === 0).as("from_zero"))
      .orderBy("week", "event_type")
  }

  /** RFM segmentation census: each purchaser scored High/Low on Recency,
    * Frequency and Monetary against the population MEDIANS, yielding the
    * classic 8-segment grid (HHH = champions … LLL = lost) with per-
    * segment counts and value share. The three medians are exact
    * percentiles computed ONCE and broadcast — never a global ntile
    * window over users (the ntile spelling funnels every user through
    * one task; the cutoff-broadcast spelling is the one that survives
    * 10⁹ users — the agg-gini-cents precedent). Median parity is exact
    * cross-engine on integer inputs at ×2 grain (win-churn-risk).
    *
    * Scale shape: one purchase rollup to the user grain, a 1-row cutoff
    * broadcast, then an 8-row census fold.
    */
  lazy val aggRfmSegments: Op = Op.sql(
    "agg-rfm-segments",
    """WITH p AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
      |                  CAST(round(value * 100) AS BIGINT) AS cents
      |           FROM events WHERE event_type = 'purchase'),
      |mx AS (SELECT max(us) AS now_us FROM p),
      |u AS (SELECT user_id,
      |             CAST(max(us) AS BIGINT) AS last_us,
      |             count(*) AS f,
      |             CAST(sum(cents) AS BIGINT) AS m
      |      FROM p GROUP BY user_id),
      |cut AS (SELECT CAST(quantile_cont(now_us - last_us, 0.5) * 2 AS BIGINT)
      |                 AS r2,
      |               CAST(quantile_cont(f, 0.5) * 2 AS BIGINT) AS f2,
      |               CAST(quantile_cont(m, 0.5) * 2 AS BIGINT) AS m2
      |        FROM u, mx),
      |seg AS (SELECT concat(
      |          CASE WHEN (mx.now_us - u.last_us) * 2 <= cut.r2
      |               THEN 'H' ELSE 'L' END,
      |          CASE WHEN u.f * 2 >= cut.f2 THEN 'H' ELSE 'L' END,
      |          CASE WHEN u.m * 2 >= cut.m2 THEN 'H' ELSE 'L' END) AS segment,
      |          u.m
      |        FROM u, cut, mx)
      |SELECT segment, count(*) AS n_users,
      |       CAST(sum(m) AS BIGINT) AS value_cents
      |FROM seg GROUP BY segment ORDER BY segment""".stripMargin
  ) { (s, d) =>
    val p = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts div 1000").as("us"),
        round(col("value") * 100).cast("long").as("cents"))
    val mx = p.agg(max("us").as("now_us"))
    val u = p.groupBy("user_id")
      .agg(max("us").as("last_us"), count(lit(1)).as("f"),
        sum("cents").cast("long").as("m"))
    val cut = u.crossJoin(broadcast(mx))
      .agg((expr("percentile(now_us - last_us, 0.5D)") * 2).cast("long").as("r2"),
        (expr("percentile(f, 0.5D)") * 2).cast("long").as("f2"),
        (expr("percentile(m, 0.5D)") * 2).cast("long").as("m2"))
    u.crossJoin(broadcast(cut)).crossJoin(broadcast(mx))
      .select(concat(
        when((col("now_us") - col("last_us")) * 2 <= col("r2"), "H").otherwise("L"),
        when(col("f") * 2 >= col("f2"), "H").otherwise("L"),
        when(col("m") * 2 >= col("m2"), "H").otherwise("L")).as("segment"),
        col("m"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n_users"), sum("m").cast("long").as("value_cents"))
      .orderBy("segment")
  }

  /** Out-of-order arrival audit: per event type, how often the event-id
    * sequence disagrees with event time (an id-adjacent pair whose
    * timestamps invert) — the producer-clock-skew / buffering-jitter
    * signal that decides watermark horizons (stream-watermark-audit
    * grades lateness against a horizon; this measures the disorder that
    * horizon must absorb). Inversions are counted against the ID order,
    * the order a log replay would see.
    *
    * Scale shape: one per-type lag window (type-partitioned — the
    * arrival lanes), then a type-grained fold. Integer bp output.
    */
  lazy val aggOrderInversions: Op = Op.sql(
    "agg-order-inversions",
    """WITH e AS (SELECT event_type, event_id,
      |                  CAST(epoch_us(ts) AS BIGINT) AS us FROM events),
      |l AS (SELECT event_type, us,
      |        lag(us) OVER (PARTITION BY event_type ORDER BY event_id) AS prev
      |      FROM e)
      |SELECT event_type,
      |       count(*) AS n_pairs,
      |       CAST(sum(CASE WHEN us < prev THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_inversions,
      |       CAST((sum(CASE WHEN us < prev THEN 1 ELSE 0 END) * 10000)
      |            // count(*) AS BIGINT) AS inversion_bp
      |FROM l WHERE prev IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("event_id")
    Tables.events(s, d)
      .select(col("event_type"), col("event_id"), expr("ts div 1000").as("us"))
      .withColumn("prev", lag("us", 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("us") < col("prev"), 1L).otherwise(0L)).cast("long")
          .as("n_inversions"))
      .withColumn("inversion_bp", expr("(n_inversions * 10000) div n_pairs"))
      .orderBy("event_type")
  }

  /** Day-over-day traffic-mix shift: each day's event-type composition in
    * basis points, and the L1 distance to YESTERDAY's composition — the
    * composition-drift alarm (a product launch, bot wave or logging bug
    * shows up as a mix spike before any volume alarm fires; the events
    * sibling of text-source-drift). Pure integers: shares snap to bp via
    * integer division, the lag runs per type over day-grained rows.
    *
    * The (day × type) grid is DENSED first (a type absent on a day is a
    * 0 bp share, not a missing row) — otherwise the lag would compare
    * against the type's last ACTIVE day and a disappearing type would
    * vanish from the distance instead of contributing its full share.
    *
    * Scale shape: one (day, type) rollup with map-side combine; the grid
    * is days × types (span- and domain-bounded), shares join the
    * day-grained totals, the lag windows partition by type over daily
    * rows, and the final fold is day-grained.
    */
  lazy val aggMixShift: Op = Op.sql(
    "agg-mix-shift",
    """WITH dt AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, event_type,
      |         count(*) AS n
      |  FROM events GROUP BY day, event_type),
      |tot AS (SELECT day, CAST(sum(n) AS BIGINT) AS nd FROM dt GROUP BY day),
      |grid AS (SELECT t.day, ty.event_type FROM tot t,
      |           (SELECT DISTINCT event_type FROM dt) ty),
      |sh AS (SELECT g.day, g.event_type,
      |              CAST((coalesce(dt.n, 0) * 10000) // tot.nd AS BIGINT) AS bp
      |       FROM grid g JOIN tot ON tot.day = g.day
      |            LEFT JOIN dt ON dt.day = g.day
      |                        AND dt.event_type = g.event_type),
      |lg AS (SELECT day, event_type, bp,
      |         lag(bp) OVER (PARTITION BY event_type ORDER BY day) AS prev_bp
      |       FROM sh)
      |SELECT day,
      |       CAST(sum(abs(bp - prev_bp)) AS BIGINT) AS l1_bp,
      |       CAST(max(abs(bp - prev_bp)) AS BIGINT) AS max_type_bp
      |FROM lg WHERE prev_bp IS NOT NULL
      |GROUP BY day ORDER BY day""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val dt = Tables.events(s, d)
      .select(expr("ts div 1000 div 86400000000").as("day"), col("event_type"))
      .groupBy("day", "event_type").agg(count(lit(1)).as("n"))
    val tot = dt.groupBy("day").agg(sum("n").cast("long").as("nd"))
    val w = Window.partitionBy("event_type").orderBy("day")
    val grid = tot.select("day")
      .crossJoin(broadcast(dt.select("event_type").distinct()))
    grid.join(dt, Seq("day", "event_type"), "left")
      .join(broadcast(tot), Seq("day"))
      .select(col("day"), col("event_type"),
        expr("(coalesce(n, 0) * 10000) div nd").as("bp"))
      .withColumn("prev_bp", lag("bp", 1).over(w))
      .filter(col("prev_bp").isNotNull)
      .groupBy("day")
      .agg(sum(abs(col("bp") - col("prev_bp"))).cast("long").as("l1_bp"),
        max(abs(col("bp") - col("prev_bp"))).cast("long").as("max_type_bp"))
      .orderBy("day")
  }

  /** New vs returning actives per day — the growth-accounting split every
    * engagement dashboard leads with: each user's first-seen day marks
    * them `new` exactly once, `returning` on every later active day,
    * plus the new share in basis points.
    *
    * Scale shape: distinct (user, day) grain first (map-side), first-seen
    * via one user-grained min, then the flag join is user-grained and the
    * rollup day-grained. No window over the event stream.
    */
  lazy val aggNewReturning: Op = Op.sql(
    "agg-new-returning",
    """WITH ud AS (SELECT DISTINCT user_id,
      |                   epoch_us(ts) // 86400000000 AS day FROM events),
      |fs AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY user_id)
      |SELECT ud.day AS day, count(*) AS n_active,
      |       CAST(sum(CASE WHEN ud.day = fs.first_day THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_new,
      |       CAST(sum(CASE WHEN ud.day = fs.first_day THEN 0 ELSE 1 END)
      |            AS BIGINT) AS n_returning,
      |       CAST((sum(CASE WHEN ud.day = fs.first_day THEN 1 ELSE 0 END)
      |             * 10000) // count(*) AS BIGINT) AS new_share_bp
      |FROM ud JOIN fs ON fs.user_id = ud.user_id
      |GROUP BY ud.day ORDER BY day""".stripMargin
  ) { (s, d) =>
    val ud = Tables.events(s, d)
      .select(col("user_id"), expr("ts div 1000 div 86400000000").as("day"))
      .distinct()
    val fs = ud.groupBy("user_id").agg(min("day").as("first_day"))
    ud.join(fs, Seq("user_id"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L))
          .cast("long").as("n_new"),
        sum(when(col("day") === col("first_day"), 0L).otherwise(1L))
          .cast("long").as("n_returning"))
      .withColumn("new_share_bp", expr("(n_new * 10000) div n_active"))
      .orderBy("day")
  }

  /** Burstiness (Fano factor) of the per-type daily arrival counts:
    * variance-to-mean ratio in micro-units — F ≈ 1 is Poisson-like
    * arrivals, F ≫ 1 is bursty/campaign-driven traffic, F < 1 is
    * throttled/paced. Exact integers: F = (n·Σx² − S²) / (S·(n−1)) with
    * one trailing integer division at micro grain (Σx² of daily counts
    * overflows past ~10⁹ events/type/day — snap daily counts to
    * thousands first at that scale; documented like win-volatility).
    *
    * Scale shape: one (type, day) rollup with map-side combine, then a
    * type-grained moment fold — the event stream is scanned once.
    */
  lazy val aggBurstiness: Op = Op.sql(
    "agg-burstiness",
    """WITH d AS (
      |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |         count(*) AS x
      |  FROM events GROUP BY event_type, day),
      |m AS (SELECT event_type, count(*) AS n,
      |             CAST(sum(x) AS BIGINT) AS s,
      |             CAST(sum(x * x) AS BIGINT) AS s2
      |      FROM d GROUP BY event_type)
      |SELECT event_type, n, s AS n_events,
      |       CAST(CASE WHEN n > 1
      |                 THEN ((n * s2 - s * s) * 1000000) // (s * (n - 1))
      |                 ELSE NULL END AS BIGINT) AS fano_micro
      |FROM m ORDER BY event_type""".stripMargin
  ) { (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"), expr("ts div 1000 div 86400000000").as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("x"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("x").cast("long").as("s"),
        sum(col("x") * col("x")).cast("long").as("s2"))
      .select(col("event_type"), col("n"), col("s").as("n_events"),
        // single-day corpora: n = 1 makes the sample variance undefined;
        // NULL on both engines (fuzz seed 101; DuckDB // 0 is NULL,
        // Spark ANSI div throws) — CASE WHEN evaluates lazily in codegen
        expr("""case when n > 1
               |     then ((n * s2 - s * s) * 1000000) div (s * (n - 1))
               |     else null end""".stripMargin).as("fano_micro"))
      .orderBy("event_type")
  }

  /** Double-charge screen: purchases by the SAME user for the SAME
    * dollar-grain amount within one hour — the payments-dedup audit
    * (retried checkout, double-click, idempotency-key miss). Real screens
    * bucket the amount (dollar grain here) so cent-level gateway noise
    * cannot hide a retry, and flag per (user, amount) lane with a lag
    * over that lane's timeline — a user's different-amount purchases
    * never collide; only lanes with at least one suspect emit.
    *
    * Scale shape: the window partitions by (user_id, dollars) — the
    * finest-grained key in the query, millions of small lanes, no hot
    * partition; one exchange, then a lane-grained rollup.
    */
  lazy val aggDoubleCharge: Op = Op.sql(
    "agg-double-charge",
    """WITH p AS (
      |  SELECT user_id, CAST(round(value) AS BIGINT) AS dollars,
      |         CAST(epoch_us(ts) AS BIGINT) AS us, event_id
      |  FROM events WHERE event_type = 'purchase'),
      |g AS (SELECT user_id, dollars, us,
      |        us - lag(us) OVER (PARTITION BY user_id, dollars
      |                           ORDER BY us, event_id) AS gap
      |      FROM p)
      |SELECT user_id, dollars, count(*) AS n_events,
      |       CAST(sum(CASE WHEN gap IS NOT NULL AND gap <= 3600000000
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect
      |FROM g GROUP BY user_id, dollars
      |HAVING sum(CASE WHEN gap IS NOT NULL AND gap <= 3600000000
      |               THEN 1 ELSE 0 END) > 0
      |ORDER BY user_id, dollars""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "dollars").orderBy("us", "event_id")
    Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), round(col("value")).cast("long").as("dollars"),
        expr("ts div 1000").as("us"), col("event_id"))
      .withColumn("gap", col("us") - lag("us", 1).over(w))
      .groupBy("user_id", "dollars")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("gap").isNotNull && col("gap") <= 3600000000L, 1L)
          .otherwise(0L)).cast("long").as("n_suspect"))
      .filter(col("n_suspect") > 0)
      .orderBy("user_id", "dollars")
  }

  /** SLO error-budget burn: per day, the error share of events against a
    * 1% (100 bp) budget, the burn multiple, and the cumulative budget
    * consumed — the SRE table that pages when burn > 1 sustains. Exact
    * integers end-to-end (shares and burn in basis points via integer
    * division); the cumulative sum windows over the span-bounded daily
    * rollup (win-cusum contract).
    */
  lazy val aggSloBurn: Op = Op.sql(
    "agg-slo-burn",
    """WITH d AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day, count(*) AS n,
      |         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
      |              AS BIGINT) AS n_err
      |  FROM events GROUP BY day)
      |SELECT day, n, n_err,
      |       CAST((n_err * 10000) // n AS BIGINT) AS err_bp,
      |       CAST((n_err * 10000) // n // 100 AS BIGINT) AS burn_x,
      |       CAST(sum(n_err) OVER (ORDER BY day
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10000
      |            // sum(n) OVER (ORDER BY day
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |            AS BIGINT) AS cum_err_bp
      |FROM d ORDER BY day""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select(expr("ts div 1000 div 86400000000").as("day"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("isErr"))
      .groupBy("day")
      .agg(count(lit(1)).as("n"), sum("isErr").cast("long").as("n_err"))
      .withColumn("err_bp", expr("(n_err * 10000) div n"))
      .withColumn("burn_x", expr("((n_err * 10000) div n) div 100"))
      .withColumn("cum_err", sum("n_err").over(w))
      .withColumn("cum_n", sum("n").over(w))
      .withColumn("cum_err_bp", expr("(cum_err * 10000) div cum_n"))
      .drop("cum_err", "cum_n")
      .orderBy("day")
  }

  /** Rolling engagement horizons — per day, the TRAILING 1/7/30-day
    * distinct actives (DAU, rolling WAU, rolling MAU) and the DAU/MAU
    * stickiness in basis points. Rolling distinct does NOT decompose into
    * partials (yesterday's WAU can't be merged from day sketches without
    * an HLL tier — agg-hll-merge is that path); the exact spelling
    * explodes each distinct (user, day) into the ≤ 38 trailing-window
    * days it stays visible for, then one countDistinct exchange per
    * (day, horizon) — corpus touched once, blow-up bounded by the horizon
    * sum, the standard exact-DAU/WAU/MAU shape at warehouse scale.
    */
  lazy val aggActiveHorizons: Op = Op.sql(
    "agg-active-horizons",
    """WITH ud AS (SELECT DISTINCT user_id,
      |                   epoch_us(ts) // 86400000000 AS day FROM events),
      |mx AS (SELECT max(day) AS mx FROM ud),
      |vis AS (
      |  SELECT ud.user_id, ud.day + i.i AS day, hh.h
      |  FROM ud, (SELECT unnest([1, 7, 30]) AS h) hh,
      |       LATERAL (SELECT unnest(generate_series(0, hh.h - 1)) AS i) i),
      |c AS (SELECT v.day, v.h, count(DISTINCT v.user_id) AS n
      |      FROM vis v, mx WHERE v.day <= mx.mx GROUP BY v.day, v.h)
      |SELECT day,
      |       CAST(max(CASE WHEN h = 1 THEN n END) AS BIGINT) AS dau,
      |       CAST(max(CASE WHEN h = 7 THEN n END) AS BIGINT) AS wau7,
      |       CAST(max(CASE WHEN h = 30 THEN n END) AS BIGINT) AS mau30,
      |       CAST((max(CASE WHEN h = 1 THEN n END) * 10000) //
      |            max(CASE WHEN h = 30 THEN n END) AS BIGINT) AS stickiness_bp
      |FROM c GROUP BY day ORDER BY day""".stripMargin
  ) { (s, d) =>
    val ud = Tables.events(s, d)
      .select(col("user_id"), expr("ts div 1000 div 86400000000").as("day"))
      .distinct()
    val mx = ud.agg(max("day").as("mx"))
    val vis = ud.select(col("user_id"), col("day"),
        explode(array(Seq(1, 7, 30).map(h =>
          struct(lit(h.toLong).as("h"), lit(h.toLong).as("span"))): _*)).as("hh"))
      .select(col("user_id"), col("hh.h").as("h"),
        explode(sequence(lit(0L), col("hh.span") - 1)).as("i"), col("day"))
      .select(col("user_id"), col("h"), (col("day") + col("i")).as("day"))
    val c = vis.crossJoin(broadcast(mx))
      .filter(col("day") <= col("mx"))
      .groupBy("day", "h")
      .agg(countDistinct("user_id").as("n"))
    c.groupBy("day")
      .agg(max(when(col("h") === 1, col("n"))).cast("long").as("dau"),
        max(when(col("h") === 7, col("n"))).cast("long").as("wau7"),
        max(when(col("h") === 30, col("n"))).cast("long").as("mau30"))
      .withColumn("stickiness_bp", expr("(dau * 10000) div mau30"))
      .orderBy("day")
  }

  /** Feed-freshness dashboard: per event type, the last event's
    * micro-epoch, its staleness behind the freshest type, and the event
    * count inside the feed's final hour — the liveness table an ingestion
    * SLA monitor reads (a type whose staleness grows while others advance
    * is a stuck partition or a dead producer, not a quiet corpus).
    *
    * Scale shape: ONE map-side-combined groupBy to the (type, hour)
    * grain; everything downstream (per-type maxima, the global max, the
    * last-hour counts) folds over those catalog-sized rollup rows — the
    * event stream is scanned once and never windowed.
    */
  lazy val aggFreshness: Op = Op.sql(
    "agg-freshness",
    """WITH h AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
      |         count(*) AS n, max(epoch_us(ts)) AS mx
      |  FROM events GROUP BY event_type, hour),
      |t AS (SELECT event_type, CAST(max(mx) AS BIGINT) AS last_us FROM h
      |      GROUP BY event_type),
      |g AS (SELECT max(last_us) AS g_last, max(last_us) // 3600000000 AS g_hour
      |      FROM t),
      |lh AS (SELECT h.event_type, CAST(sum(h.n) AS BIGINT) AS n_last_hour
      |       FROM h, g WHERE h.hour = g.g_hour GROUP BY h.event_type)
      |SELECT t.event_type AS event_type, t.last_us,
      |       CAST(g.g_last - t.last_us AS BIGINT) AS staleness_us,
      |       CAST(coalesce(lh.n_last_hour, 0) AS BIGINT) AS n_last_hour
      |FROM t CROSS JOIN g LEFT JOIN lh ON lh.event_type = t.event_type
      |ORDER BY t.event_type""".stripMargin
  ) { (s, d) =>
    val h = Tables.events(s, d)
      .select(col("event_type"), expr("ts div 1000").as("us"))
      .groupBy(col("event_type"), expr("us div 3600000000").as("hour"))
      .agg(count(lit(1)).as("n"), max("us").as("mx"))
    val t = h.groupBy("event_type").agg(max("mx").cast("long").as("last_us"))
    val g = t.agg(max("last_us").as("g_last"),
      expr("max(last_us) div 3600000000").as("g_hour"))
    val lh = h.crossJoin(broadcast(g.select("g_hour")))
      .filter(col("hour") === col("g_hour"))
      .groupBy("event_type").agg(sum("n").cast("long").as("n_last_hour"))
    t.crossJoin(broadcast(g.select("g_last")))
      .join(broadcast(lh), Seq("event_type"), "left")
      .select(col("event_type"), col("last_us"),
        (col("g_last") - col("last_us")).cast("long").as("staleness_us"),
        coalesce(col("n_last_hour"), lit(0L)).cast("long").as("n_last_hour"))
      .orderBy("event_type")
  }

  /** Market-basket co-occurrence over event types: for every unordered
    * type pair, how many users did BOTH, and the lift against
    * independence (support·N / (n_a·n_b), micro-snapped via one integer
    * division) — the association view next to win-next-event's ADJACENCY
    * matrix (this one ignores order and time; a pair can lift high while
    * never being adjacent). Types map to integer ids so the per-user pair
    * expansion is the codegen [[graft.functions.ArrayOrderedPairs]] over
    * the sorted distinct-type array — C(|types|, 2) pairs generated
    * in-task from ONE groupBy row per user, never a per-user self-join.
    *
    * Scale shape: one exchange to the user grain (collect_set partials
    * combine map-side), pair rows ≤ 10 per user, and the pair/type count
    * tables are type-domain-sized — the lift join broadcasts. The
    * support·1e6·N product stays under 2⁶³ to ~3·10⁸ users per cell;
    * beyond that snap at milli grain.
    */
  lazy val aggBasketPairs: Op = Op.sql(
    "agg-basket-pairs",
    """WITH m AS (SELECT user_id, CASE event_type
      |             WHEN 'click' THEN 0 WHEN 'error' THEN 1
      |             WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
      |             ELSE 4 END AS t
      |           FROM events GROUP BY user_id, t),
      |n AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nu FROM m),
      |st AS (SELECT t, count(*) AS n_t FROM m GROUP BY t),
      |pp AS (SELECT a.t AS ta, b.t AS tb, count(*) AS support
      |       FROM m a JOIN m b ON a.user_id = b.user_id AND a.t < b.t
      |       GROUP BY a.t, b.t),
      |names(t, name) AS (VALUES (0, 'click'), (1, 'error'), (2, 'purchase'),
      |                          (3, 'signup'), (4, 'view'))
      |SELECT na.name AS type_a, nb.name AS type_b,
      |       CAST(x.n_t AS BIGINT) AS n_a, CAST(y.n_t AS BIGINT) AS n_b,
      |       CAST(pp.support AS BIGINT) AS support,
      |       CAST((pp.support * 1000000 * n.nu) // (x.n_t * y.n_t) AS BIGINT)
      |         AS lift_micro
      |FROM pp JOIN st x ON x.t = pp.ta JOIN st y ON y.t = pp.tb
      |        JOIN names na ON na.t = pp.ta JOIN names nb ON nb.t = pp.tb
      |        CROSS JOIN n
      |ORDER BY type_a, type_b""".stripMargin
  ) { (s, d) =>
    val names = Seq("click", "error", "purchase", "signup", "view")
    val tId = names.zipWithIndex.foldRight(lit(4L): org.apache.spark.sql.Column) {
      case ((n, i), rest) => when(col("event_type") === n, i.toLong).otherwise(rest)
    }
    val nameOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      t => element_at(typedLit(names), (t + 1).cast("int"))
    val m = Tables.events(s, d)
      .select(col("user_id"), tId.as("t"))
      .distinct()
    val nu = m.select(countDistinct("user_id").as("nu"))
    val st = m.groupBy("t").agg(count(lit(1)).as("n_t"))
    val pp = m.groupBy("user_id")
      .agg(sort_array(collect_set(col("t"))).as("ts"))
      .select(explode(graft.functions.ArrayOrderedPairs(col("ts"))).as("p"))
      .groupBy(col("p.d1").as("ta"), col("p.d2").as("tb"))
      .agg(count(lit(1)).as("support"))
    pp.join(broadcast(st.toDF("ta", "n_a")), Seq("ta"))
      .join(broadcast(st.toDF("tb", "n_b")), Seq("tb"))
      .crossJoin(broadcast(nu))
      .select(nameOf(col("ta")).as("type_a"), nameOf(col("tb")).as("type_b"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        col("support").cast("long").as("support"),
        expr("(support * 1000000 * nu) div (n_a * n_b)").as("lift_micro"))
      .orderBy("type_a", "type_b")
  }

  /** Welch's t-statistic between two event cohorts — the A/B-testing
    * primitive. Both cohorts' moments (n, Σx, Σx²) come from ONE
    * conditional-aggregation scan (never two selects of one aggregated
    * subtree); everything stays exact integer cents until the closing
    * mean/variance divisions, whose expression tree (division, sqrt —
    * both IEEE-exact) is written identically on both engines, then the
    * statistic snaps to micro-units. At 100 TB this is one
    * map-side-combined pass regardless of cohort sizes.
    */
  lazy val aggAbTest: Op = Op.sql(
    "agg-ab-test",
    """WITH c AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v
      |           FROM events WHERE event_type IN ('click', 'view')),
      |s AS (SELECT
      |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |  CAST(sum(CASE WHEN event_type = 'click' THEN v ELSE 0 END) AS BIGINT) AS s_a,
      |  CAST(sum(CASE WHEN event_type = 'click' THEN v * v ELSE 0 END) AS BIGINT) AS q_a,
      |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |  CAST(sum(CASE WHEN event_type = 'view' THEN v ELSE 0 END) AS BIGINT) AS s_b,
      |  CAST(sum(CASE WHEN event_type = 'view' THEN v * v ELSE 0 END) AS BIGINT) AS q_b
      |  FROM c)
      |SELECT 'click' AS group_a, 'view' AS group_b, n_a, n_b,
      |  CAST(round(CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE) * 1000000) AS BIGINT)
      |    / 1000000.0 AS mean_a,
      |  CAST(round(CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE) * 1000000) AS BIGINT)
      |    / 1000000.0 AS mean_b,
      |  CAST(round((CAST(s_a AS DOUBLE) / CAST(n_a AS DOUBLE)
      |              - CAST(s_b AS DOUBLE) / CAST(n_b AS DOUBLE))
      |             / sqrt((CAST(n_a * q_a - s_a * s_a AS DOUBLE)
      |                     / CAST(n_a * (n_a - 1) AS DOUBLE)) / CAST(n_a AS DOUBLE)
      |                  + (CAST(n_b * q_b - s_b * s_b AS DOUBLE)
      |                     / CAST(n_b * (n_b - 1) AS DOUBLE)) / CAST(n_b AS DOUBLE))
      |             * 1000000) AS BIGINT) / 1000000.0 AS t_stat
      |FROM s""".stripMargin
  ) { (s, d) =>
    def m(t: String, e: String) = sum(when(col("event_type") === t, expr(e)).otherwise(0L))
    val stats = Tables.events(s, d)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), expr("cast(round(value * 100) as bigint)").as("v"))
      .agg(m("click", "1L").as("n_a"), m("click", "v").as("s_a"), m("click", "v * v").as("q_a"),
        m("view", "1L").as("n_b"), m("view", "v").as("s_b"), m("view", "v * v").as("q_b"))
    def meanD(sc: String, nc: String) = col(sc).cast("double") / col(nc).cast("double")
    def varOverN(nc: String, sc: String, qc: String) =
      ((col(nc) * col(qc) - col(sc) * col(sc)).cast("double") /
        (col(nc) * (col(nc) - 1)).cast("double")) / col(nc).cast("double")
    stats.select(lit("click").as("group_a"), lit("view").as("group_b"),
      col("n_a"), col("n_b"),
      (round(meanD("s_a", "n_a") * lit(1000000)).cast("long") / lit(1e6)).as("mean_a"),
      (round(meanD("s_b", "n_b") * lit(1000000)).cast("long") / lit(1e6)).as("mean_b"),
      (round((meanD("s_a", "n_a") - meanD("s_b", "n_b")) /
        sqrt(varOverN("n_a", "s_a", "q_a") + varOverN("n_b", "s_b", "q_b")) *
        lit(1000000)).cast("long") / lit(1e6)).as("t_stat"))
  }
}
