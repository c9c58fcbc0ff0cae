package graft.archive

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.{ArchiveFs, AvroArchiveSink, AvroArchiveSource}

/** Compaction: merge per-block files into aligned range files, only for
  * chunks that verify complete, then drop the fully-copied sources
  * (reference: src/command/compact.rs:44-244,343-500).
  *
  * Transactional shape: validate → write new → delete old, relying on
  * Spark's commit protocol for the write and on explicit validation before
  * any delete (compact.rs:89-106). This is the Delta-OPTIMIZE analogue
  * flagged in SURVEY.md §4.
  */
object Compaction {

  /** Per-chunk validation verdicts over a height-keyed DataFrame
    * (reference `CopiedStatus.validate`, compact.rs:246-321): count equals
    * the chunk span AND heights form one contiguous interval.
    */
  def validateChunks(df: DataFrame, heightCol: String, chunkSize: Long): DataFrame =
    df.groupBy(floor(col(heightCol) / chunkSize).cast("long").as("chunk"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col(heightCol)).as("n_distinct"),
        min(heightCol).as("mn"),
        max(heightCol).as("mx"))
      .withColumn("complete",
        col("n") === chunkSize &&
          col("n_distinct") === col("n") &&
          col("mx") - col("mn") + 1 === col("n") &&
          col("mn") === col("chunk") * chunkSize)

  /** Whether any `.parquet` file lies under `dir` (a missing dir has none;
    * a no-op prior run leaves only `_SUCCESS`).
    */
  private def hasParquet(spark: SparkSession, dir: String): Boolean =
    ArchiveFs.files(ArchiveFs.fs(spark, dir), new Path(dir))
      .exists(_.getPath.getName.endsWith(".parquet"))

  /** Chunk ids already present under `outDir`, or empty when the dir does
    * not exist yet. The read touches only the height column (column
    * pruning) of partitions intersecting [mn, mx] (l1/l2 directory
    * pruning) — catalog-scale IO, not a data scan, on an incremental run
    * over a bounded range.
    */
  private def existingChunks(
      spark: SparkSession,
      outDir: String,
      heightCol: String,
      chunkSize: Long,
      mn: Long, mx: Long): DataFrame = {
    import spark.implicits._
    if (!hasParquet(spark, outDir)) Seq.empty[Long].toDF("chunk")
    else
      spark.read.parquet(outDir)
        .filter(col("l2").between(Filenames.l2S(mn), Filenames.l2S(mx)))
        .select(floor(col(heightCol) / chunkSize).cast("long").as("chunk"))
        .distinct()
  }

  /** Compact `df` into one output file per complete aligned chunk under
    * `outDir`, laid out as l1/l2 partition dirs. Incomplete chunks are NOT
    * written (sources stay authoritative), and neither are chunks ALREADY
    * compacted: the write is create-if-absent + Append, mirroring the
    * reference's never-overwrite range files (compact.rs:89-106) — a
    * SaveMode.Overwrite here would delete previously compacted chunks
    * whose sources are long gone. Returns the per-chunk verdicts (over the
    * SOURCE rows; a verdict row is complete whether or not the chunk
    * needed writing this run).
    */
  def compact(
      spark: SparkSession,
      df: DataFrame,
      heightCol: String,
      chunkSize: Long,
      outDir: String): DataFrame = {
    val verdicts = validateChunks(df, heightCol, chunkSize).cache()
    val completeChunks = verdicts.filter(col("complete")).select("chunk")
    val bounds = df.agg(min(heightCol).cast("long"), max(heightCol).cast("long")).head()
    if (bounds.isNullAt(0)) return verdicts
    val already = existingChunks(spark, outDir, heightCol, chunkSize,
      bounds.getLong(0), bounds.getLong(1))
    val toWrite = df
      .withColumn("chunk", floor(col(heightCol) / chunkSize).cast("long"))
      .join(broadcast(completeChunks), Seq("chunk"), "left_semi")
      .join(broadcast(already), Seq("chunk"), "left_anti")
      .withColumn("l1", Filenames.l1(col(heightCol)))
      .withColumn("l2", Filenames.l2(col(heightCol)))
    // One file per chunk: repartition by chunk so each range file is a
    // single sorted write, like the reference's range-<s>_<e> files.
    toWrite
      .repartition(col("chunk"))
      .sortWithinPartitions(heightCol)
      .write
      .mode(SaveMode.Append)
      .option("compression", "zstd")
      .partitionBy("l1", "l2")
      .parquet(outDir)
    verdicts
  }

  /** Compact an Avro-format archive IN the reference's own on-disk shape
    * (the real compact command, src/command/compact.rs:44-244): single
    * files of a kind whose chunk is complete merge into one
    * `L1/range-<s>_<e>.<kind>.avro`, then the fully-copied singles are
    * deleted — write-new-then-delete-old, never overwriting an existing
    * range file. Forked singles (hash-named, several at one height) are
    * left alone — verify settles forks first, compact only merges settled
    * heights. A txes/traces chunk is complete when its settled singles
    * cover every height of the chunk, however many rows each holds.
    * Returns per-(kind, chunk) verdicts and deleted files.
    */
  def compactAvro(
      spark: SparkSession,
      archiveDir: String,
      chunkSize: Long = 1000L,
      dryRun: Boolean = false): (DataFrame, Seq[String]) = {
    import spark.implicits._
    // chunkSize 1 would name a "range" with its source single's own path
    require(chunkSize > 1, "compactAvro needs chunkSize > 1")
    // the selection is catalog-sized and the listing is on the driver:
    // plain Scala over its entries
    val entries = Catalog.entries(AvroArchiveSource.listAvroFiles(spark, archiveDir))
    // settled singles only: exactly one file at the height for the kind
    val settled = entries.filter(_.isSingle).groupBy(e => (e.kind, e.start)).values
      .collect { case Seq(only) => only }.toSeq.sortBy(_.path)
    // chunks already touched by any range file are skipped
    // (create-if-absent; an unaligned range may span several chunks)
    val existingRange: Map[String, Seq[Long]] = entries.filterNot(_.isSingle)
      .groupBy(_.kind).map { case (kind, rs) =>
        kind -> rs.flatMap(r =>
          Math.floorDiv(r.start, chunkSize) to Math.floorDiv(r.end, chunkSize)).distinct
      }
    val verdictsByKind = Seq.newBuilder[DataFrame]
    val deleted = Seq.newBuilder[String]
    val kinds = settled.map(_.kind).distinct.sorted
    kinds.foreach { kind =>
      val files = settled.filter(_.kind == kind).map(_.path)
      val rows = AvroArchiveSource.readArchiveFilesWithPath(spark, files, kind)
        .withColumn("chunk", floor(col("height") / chunkSize).cast("long"))
        .cache()
      // a blocks chunk is judged by its rows (one block per height); txes
      // and traces carry any number of rows per height, so their chunks
      // are judged by the distinct heights they cover. localCheckpoint
      // (eager): the verdicts must outlive the source files this run is
      // about to delete — a lazy plan would re-scan them
      val covered = if (kind == "blocks") rows else rows.select("height").distinct()
      val verdicts = validateChunks(covered, "height", chunkSize)
        .withColumn("kind", lit(kind))
        .localCheckpoint()
      val toWrite = verdicts.filter(col("complete")).select("chunk")
        .filter(!col("chunk").isin(existingRange.getOrElse(kind, Seq.empty): _*))
      if (!dryRun) {
        val chunkRows = rows
          .join(broadcast(toWrite), Seq("chunk"), "left_semi")
          .drop("_path")
        AvroArchiveSink.writeChunked(chunkRows, kind, archiveDir, "chunk")
        // a single is deletable iff every one of its rows landed in a
        // complete chunk that now has a range file (newly written or
        // pre-existing)
        val coveredChunks = verdicts.filter(col("complete")).select("chunk")
        val deletable = rows
          .join(broadcast(coveredChunks).withColumn("c", lit(1)), Seq("chunk"), "left")
          .groupBy("_path")
          .agg(count(lit(1)).as("n"), count("c").as("n_cov"))
          .filter(col("n") === col("n_cov"))
          .select("_path").as[String].collect().toSeq
        // singles beside a pre-existing range are crash residue, and that
        // range may be a crashed write's empty claim: such a single goes
        // only if a lenient read of the ranges returns its height
        val residue = settled.filter(e => e.kind == kind &&
          existingRange.getOrElse(kind, Nil).contains(Math.floorDiv(e.start, chunkSize)))
        val held = if (residue.isEmpty) Set.empty[Long]
          else AvroArchiveSource.readArchiveFilesWithPath(spark, entries.collect {
            case r if !r.isSingle && r.kind == kind &&
              residue.exists(e => r.start <= e.start && e.start <= r.end) => r.path
          }, kind, lenient = true).select("height").as[Long].collect().toSet
        val gone = deletable.filterNot(residue.filterNot(e => held(e.start)).map(_.path).toSet)
        ArchiveFs.delete(spark, gone.map(new Path(_)))
        deleted ++= gone
      }
      rows.unpersist()
      verdictsByKind += verdicts
    }
    val verdicts = verdictsByKind.result() match {
      case Seq()   => validateChunks(spark.range(0).toDF("height"), "height", chunkSize)
        .withColumn("kind", lit(""))
      case seq     => seq.reduce(_ union _)
    }
    (verdicts, deleted.result())
  }

  /** Full compact-then-clean: merge complete chunks of `srcDir` into
    * `outDir`, then delete ONLY the source files every one of whose rows
    * was fully copied (reference: write new THEN delete old, and only if
    * fully copied — src/command/compact.rs:89-106; scenario
    * `compact_partial_chunk_not_deleted`, compact.rs:502-1120). The write
    * commits (Spark commit protocol) before any delete runs. Returns
    * (verdicts, deleted file paths).
    */
  def compactAndClean(
      spark: SparkSession,
      srcDir: String,
      heightCol: String,
      chunkSize: Long,
      outDir: String,
      dryRun: Boolean = false): (DataFrame, Seq[String]) = {
    import spark.implicits._
    // An exhausted source (every file already compacted+cleaned) has only
    // empty partition dirs left — nothing to read, infer, or delete.
    if (!hasParquet(spark, srcDir))
      return (validateChunks(spark.range(0).toDF(heightCol), heightCol, chunkSize),
        Seq.empty)
    val src = spark.read.parquet(srcDir)
    // dry-run (reference src/global.rs:48-57): plan everything, mutate
    // nothing — verdicts and the would-delete list still come back
    val verdicts =
      if (dryRun) validateChunks(src, heightCol, chunkSize).cache()
      else compact(spark, src, heightCol, chunkSize, outDir)
    val completeChunks = verdicts.filter(col("complete")).select("chunk")
    // A source file is deletable iff ALL its rows landed in complete
    // chunks (a file may span chunks; any partial row keeps it alive).
    val perFile = src
      .withColumn("file", input_file_name())
      .withColumn("chunk", floor(col(heightCol) / chunkSize).cast("long"))
      .join(broadcast(completeChunks).withColumn("copied", lit(1)), Seq("chunk"), "left")
      .groupBy("file")
      .agg(count(lit(1)).as("n"), count("copied").as("n_copied"))
      .filter(col("n") === col("n_copied"))
    // File count is catalog-sized; drive deletion from the collected list
    // (reference deletes with a semaphore of 4, verify.rs:278).
    val deletable = perFile.collect().map(_.getAs[String]("file")).toSeq
    if (!dryRun) ArchiveFs.delete(spark, deletable.map(f => new Path(new java.net.URI(f))))
    (verdicts, deletable)
  }
}
