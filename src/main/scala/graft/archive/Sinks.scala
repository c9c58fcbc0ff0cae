package graft.archive

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Archive sinks (reference: src/storage/fs.rs:135-219 local Avro writer,
  * src/storage/objects.rs:170-330 S3 multipart pipe, src/notify/mod.rs).
  *
  * The hand-rolled async pipes and delete-on-drop atomicity collapse into
  * Spark's commit protocol; the S3 path is the same `df.write` against an
  * `s3a://` URI where the Hadoop S3A committer replaces the multipart pipe
  * (no S3 in this container — the code path is identical module the URI).
  */
object Sinks {

  /** Append-style archive write with codec (zstd level is the parquet
    * writer's; reference default is zstd(9), src/global.rs:34-46).
    */
  def writeArchive(df: DataFrame, path: String, codec: String = "zstd",
      overwrite: Boolean = false): Unit =
    df.write
      .mode(if (overwrite) SaveMode.Overwrite else SaveMode.Ignore)
      .option("compression", codec)
      .parquet(path)

  /** One JSON notification line per written file (reference:
    * src/notify/mod.rs:12-62 — ts, blockchain, type, run, maturity, height
    * range, location). Deterministic string build, no engine-specific JSON
    * serializer quirks.
    */
  def notificationLines(files: DataFrame, blockchain: String, run: String,
      maturity: String): DataFrame =
    files.select(concat(
      lit("{\"blockchain\":\""), lit(blockchain),
      lit("\",\"type\":\""), col("kind"),
      lit("\",\"run\":\""), lit(run),
      lit("\",\"maturity\":\""), lit(maturity),
      lit("\",\"heightStart\":"), col("start_h"),
      lit(",\"heightEnd\":"), col("end_h"),
      lit(",\"location\":\""), col("file"), lit("\"}")).as("notification"))

  /** The notification version id (reference: src/notify/mod.rs:68-70). */
  val NotificationVersion = "https://schema.emrld.io/dshackle-archive/notify"

  /** Full notification shape including `version` and `ts` (reference:
    * src/notify/mod.rs:12-46). `ts` is caller-supplied (ISO-8601) so the
    * emitted lines stay deterministic and testable.
    */
  def notificationLinesFull(files: DataFrame, blockchain: String, run: String,
      maturity: String, tsIso: String): DataFrame =
    files.select(concat(
      lit("{\"version\":\""), lit(NotificationVersion),
      lit("\",\"ts\":\""), lit(tsIso),
      lit("\",\"blockchain\":\""), lit(blockchain),
      lit("\",\"type\":\""), col("kind"),
      lit("\",\"run\":\""), lit(run),
      lit("\",\"maturity\":\""), lit(maturity),
      lit("\",\"heightStart\":"), col("start_h"),
      lit(",\"heightEnd\":"), col("end_h"),
      lit(",\"location\":\""), col("file"), lit("\"}")).as("notification"))

  /** Histogram bucket boundaries for single-block archival time
    * (reference: src/metrics/archive.rs:27-33 — tuned for 500ms–2s with
    * tails for slow blocks).
    */
  val BlockTimeBuckets: Seq[Double] = Seq(
    0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0,
    1.25, 1.5, 1.75, 2.0, 2.5,
    3.0, 4.0, 5.0, 7.5, 10.0, 12.5, 15.0,
    20.0, 25.0, 30.0)

  /** Prometheus text-exposition lines for the archive metrics zone
    * (reference: src/metrics/archive.rs — `items`/`bytes` counters by
    * type×direction, `blockTime` histogram; src/metrics/server.rs serves
    * exactly this text format at /metrics). The HTTP server is transport
    * infra, like the Pulsar client; the exposition PAYLOAD is produced
    * here, distributed: counters and per-row bucket assignment are
    * map-side, only the ≤26-row literal bucket table ever windows (the
    * cumulative `le` sums), and every emitted value is an integer — a
    * fractional-seconds sum would depend on float-to-string formatting,
    * so the duration sum is emitted in integer milliseconds under an
    * honest `_milliseconds_sum` name.
    *
    * `items`: (kind, direction, items, bytes); `durations`: (seconds).
    * Output: one `line` per row (caller orders for determinism).
    */
  def prometheusLines(items: DataFrame, durations: DataFrame,
      app: String = "graft"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val itemLines = items.select(format_string(
      app + "_archive_items_total{type=\"%s\",direction=\"%s\"} %d",
      col("kind"), col("direction"), col("items")).as("line"))
    val byteLines = items.select(format_string(
      app + "_archive_bytes_total{type=\"%s\",direction=\"%s\"} %d",
      col("kind"), col("direction"), col("bytes")).as("line"))
    // first-bucket assignment per duration row (a when-chain picks the
    // smallest le ≥ seconds), then a tiny aggregate; all literal buckets
    // appear even when empty, with cumulative counts per Prometheus
    // semantics
    val leOf = BlockTimeBuckets.tail.foldLeft(
        when(col("seconds") <= BlockTimeBuckets.head, lit(BlockTimeBuckets.head.toString))) {
        (acc, b) => acc.when(col("seconds") <= b, lit(b.toString))
      }.otherwise(lit("+Inf"))
    val bucketed = durations.select(leOf.as("le")).groupBy("le").agg(count(lit(1)).as("n"))
    val spark = items.sparkSession
    import spark.implicits._
    val les = (BlockTimeBuckets.map(_.toString) :+ "+Inf").zipWithIndex
      .map { case (le, i) => (i, le) }.toDF("idx", "le")
    val cum = les.join(bucketed, Seq("le"), "left")
      .na.fill(0L, Seq("n"))
      .withColumn("cum", sum("n").over(
        Window.partitionBy(lit(0)).orderBy("idx")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bucketLines = cum.select(format_string(
      app + "_archive_blockTime_seconds_bucket{le=\"%s\"} %d",
      col("le"), col("cum")).as("line"))
    val tailLines = durations
      .agg(count(lit(1)).as("cnt"),
        coalesce(sum(round(col("seconds") * 1000).cast("long")), lit(0L)).as("ms"))
      .select(explode(array(
        format_string(app + "_archive_blockTime_seconds_count %d", col("cnt")),
        format_string(app + "_archive_blockTime_milliseconds_sum %d", col("ms"))))
        .as("line"))
    itemLines.union(byteLines).union(bucketLines).union(tailLines)
  }
}
