package graft.archive

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-catalog operations (reference: src/storage/mod.rs:231-258 — the
  * `FileReference` (path, kind, range) stream, and the per-level listings
  * in src/storage/objects.rs:79-168 / fs.rs:62-132).
  *
  * In Spark the catalog is itself a DataFrame; lexicographic-offset listing
  * and early exit become partition pruning once l1/l2 are partition
  * directories (SURVEY.md §4).
  */
object Catalog {

  /** Catalog of archive files under a partitioned parquet layout: one row
    * per file with (path, file, kind, start_h, end_h, fork_hash), ordered
    * by range start like the reference's merged listing stream.
    */
  def listFiles(spark: SparkSession, dir: String): DataFrame = {
    val files = spark.read.parquet(dir)
      .select(input_file_name().as("path"))
      .distinct()
    withParsedNames(files)
  }

  /** Parse catalog columns out of a `path` column. */
  def withParsedNames(files: DataFrame): DataFrame = {
    val base = regexp_extract(col("path"), "([^/]+)$", 1)
    files
      .withColumn("file", base)
      .withColumn("kind", Filenames.parseKind(col("file")))
      .withColumn("start_h", Filenames.parseStart(col("file")))
      .withColumn("end_h", Filenames.parseEnd(col("file")))
      .withColumn("fork_hash", Filenames.parseForkHash(col("file")))
  }

  /** Catalog of an Avro archive listing (e.g.
    * `AvroArchiveSource.listAvroFiles`): the parsed name columns of every
    * file whose name carries a known kind; foreign files drop out.
    */
  def ofAvroFiles(spark: SparkSession, files: Seq[String]): DataFrame = {
    import spark.implicits._
    withParsedNames(files.toDF("path")).filter(col("kind").isNotNull)
  }

  /** Files whose range intersects [s, e] — the reference's offset listing
    * + early exit (objects.rs:112-167) is Catalyst partition pruning here.
    */
  def intersecting(catalog: DataFrame, s: Long, e: Long): DataFrame =
    catalog.filter(col("start_h") <= e && col("end_h") >= s)

  /** Group files of the same range into per-kind slots; count > 1 in a slot
    * is a duplicate error (reference: src/archiver/range_group.rs:44-128).
    */
  def groupTables(catalog: DataFrame): DataFrame =
    catalog
      .groupBy("start_h", "end_h")
      .pivot("kind", Seq("blocks", "txes", "traces"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("blocks", "txes", "traces"))
      .withColumn("duplicate",
        col("blocks") > 1 || col("txes") > 1 || col("traces") > 1)
      .withColumn("complete",
        col("blocks") >= 1 && col("txes") >= 1)

  /** The standard chunk partition key for catalog windows: ranges never
    * cross chunk boundaries in the reference layout, so `floor(start_h /
    * chunkSize)` co-locates exactly the files one reference verify
    * iteration would see (verify.rs:414 split_chunks).
    */
  def chunkKey(chunkSize: Long = 1000L): org.apache.spark.sql.Column =
    floor(col("start_h") / chunkSize).cast("long")

  /** `merge_small` — group adjacent small ranges (≤ `threshold` blocks)
    * into one verification batch so content checks read whole islands
    * instead of per-file (reference: src/command/verify.rs:237-267; the
    * threshold is 10 there). Large ranges keep their own group; rows
    * failing `mergeable` keep their own batch even when small (the
    * reference excludes INCOMPLETE groups from merge batches because they
    * would break the verified sequence, verify.rs:243-247). Output:
    * original rows + group_s/group_e of the batch they verify under.
    *
    * `partitionCols` is REQUIRED and non-empty: the reference verify
    * processes chunk-by-chunk (`full_range.split_chunks`, verify.rs:414),
    * so batches never cross chunk boundaries and no window ever sees more
    * than one chunk's file groups. A bare global `Window.orderBy` over a
    * catalog-sized input is the single-task funnel this library bans —
    * pass [[chunkKey]] (or a finer key) instead.
    */
  def mergeSmall(catalog: DataFrame, threshold: Long,
      partitionCols: Seq[org.apache.spark.sql.Column],
      mergeable: org.apache.spark.sql.Column = lit(true)): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(partitionCols.nonEmpty,
      "mergeSmall windows must be partitioned (use Catalog.chunkKey): a global " +
        "Window.orderBy funnels the whole catalog through one task")
    val small = (col("end_h") - col("start_h") + 1 <= threshold) && mergeable
    val w = Window.partitionBy(partitionCols: _*).orderBy("start_h", "end_h")
    // islands over the SMALL ranges only (catalog-sized input — the window
    // runs over file metadata, never data rows)
    val flagged = catalog
      .withColumn("_small", small)
      .withColumn("_pe", max(when(col("_small"), col("end_h"))).over(
        w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_brk",
        when(!col("_small"), 1)
          .when(col("_pe").isNull || col("start_h") > col("_pe") + 1, 1)
          .otherwise(0))
      .withColumn("_g", sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    // island ids restart per window partition — the group key must carry
    // the partition cols or same-numbered islands in different chunks fuse
    val groups = Window.partitionBy(partitionCols :+ col("_g"): _*)
    flagged
      .withColumn("group_s", min("start_h").over(groups))
      .withColumn("group_e", max("end_h").over(groups))
      .drop("_small", "_pe", "_brk", "_g")
  }

  /** `find_incomplete_tables` — heights in [s, e] with no (or partial)
    * coverage (reference: src/storage/mod.rs:143-207). Returns heights
    * missing entirely; per-kind gaps come from [[groupTables]].
    */
  def missingHeights(spark: SparkSession, catalog: DataFrame, s: Long, e: Long): DataFrame = {
    import spark.implicits._
    val covered = intersecting(catalog, s, e)
      .select(col("start_h").as("s"), col("end_h").as("e"))
    // Explode covered ranges chunk-wise (ranges are ≤ chunk_size=1000 blocks
    // by construction, so per-row sequences stay small and distributed).
    val coveredHeights = covered
      .select(explode(sequence(col("s"), col("e"))).as("height"))
      .distinct()
    spark.range(s, e + 1).toDF("height")
      .join(coveredHeights, Seq("height"), "left_anti")
  }
}
