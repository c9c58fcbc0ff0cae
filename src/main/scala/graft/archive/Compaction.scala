package graft.archive

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.sources.{ArchiveFs, AvroArchiveSink, AvroArchiveSource}

/** Compaction: merge per-block files into aligned range files, only for
  * chunks that verify complete, then drop the fully-copied sources
  * (reference: src/command/compact.rs:44-244,343-500).
  *
  * Transactional shape: validate → write new → delete old, no delete
  * before its write has committed (compact.rs:89-106) — Spark's file
  * commit for parquet, the driver-committed `avro-archive` V2 write for
  * Avro. This is the Delta-OPTIMIZE analogue flagged in SURVEY.md §4.
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

  /** [[validateChunks]]'s rows, in chunk order, over heights held on the
    * driver: `rowsAt` gives each height once, with its row count.
    */
  def chunkVerdicts(rowsAt: Seq[(Long, Long)], chunkSize: Long): Seq[Row] =
    rowsAt.groupBy(h => Math.floorDiv(h._1, chunkSize)).toSeq.sortBy(_._1).map { case (c, hs) =>
      val (n, nd, mn, mx) = (hs.map(_._2).sum, hs.size.toLong, hs.map(_._1).min, hs.map(_._1).max)
      Row(c, n, nd, mn, mx, n == chunkSize && nd == n && mx - mn + 1 == n && mn == c * chunkSize)
    }

  private val VerdictSchema = StructType.fromDDL("chunk BIGINT, n BIGINT NOT NULL, " +
    "n_distinct BIGINT NOT NULL, mn BIGINT, mx BIGINT, complete BOOLEAN, kind STRING NOT NULL")

  /** Compact an Avro-format archive IN the reference's own on-disk shape
    * (the real compact command, src/command/compact.rs:44-244): singles of
    * a kind whose chunk is complete merge into one
    * `L1/range-<s>_<e>.<kind>.avro`, then the fully-copied singles are
    * deleted, never overwriting a range file. Forked singles (several at
    * one height) stay: verify settles forks, compact merges settled heights.
    *
    * Spark runs one aggregate per call, the settled singles' rows per
    * (kind, height) and the singles holding them; verdicts, chunks to write
    * and deletable singles are plain Scala over it, nothing is cached. Per
    * kind, the write reads only the singles of complete chunks without a
    * range file, then the kind's deletes run. Returns per-(kind, chunk)
    * verdicts ([[validateChunks]]'s columns and `kind`) and deleted files.
    */
  def compactAvro(spark: SparkSession, archiveDir: String, chunkSize: Long = 1000L,
      dryRun: Boolean = false): (DataFrame, Seq[String]) = {
    import spark.implicits._
    // chunkSize 1 would name a "range" with its source single's own path
    require(chunkSize > 1, "compactAvro needs chunkSize > 1")
    val entries = Catalog.entries(AvroArchiveSource.listAvroFiles(spark, archiveDir))
    val chunkOf = (h: Long) => Math.floorDiv(h, chunkSize)
    // settled singles only: exactly one file at the height for the kind
    val singlesOf = entries.filter(_.isSingle).groupBy(e => (e.kind, e.start)).values
      .collect { case Seq(only) => only }.toSeq.sortBy(_.path).groupBy(_.kind)
    val kinds = singlesOf.keys.toSeq.sorted
    // chunks already touched by any range file are skipped
    // (create-if-absent; an unaligned range may span several chunks)
    val rangedOf = entries.filterNot(_.isSingle).groupBy(_.kind)
      .map { case (k, rs) => k -> rs.flatMap(r => chunkOf(r.start) to chunkOf(r.end)).toSet }
      .withDefaultValue(Set.empty[Long])
    val perHeight = if (kinds.isEmpty) Seq.empty[Row] else kinds.map(kind => AvroArchiveSource
        .readArchiveFilesWithPath(spark, singlesOf(kind).map(_.path), kind)
        .select(lit(kind).as("kind"), col("height"), col("_path"))).reduce(_ union _)
      .groupBy("kind", "height").agg(count(lit(1)), collect_set("_path")).collect().toSeq
    val perKind = kinds.map { kind =>
      val heights = perHeight.collect {
        case r if r.getString(0) == kind => (r.getLong(1), r.getLong(2), r.getSeq[String](3)) }
      // blocks chunks are judged by their rows (one block per height), txes
      // and traces chunks by the distinct heights they cover
      val byChunk = chunkVerdicts(
        heights.map(h => h._1 -> (if (kind == "blocks") h._2 else 1L)), chunkSize)
      val complete = byChunk.collect { case v if v.getBoolean(5) => v.getLong(0) }.toSet
      val toWrite = complete -- rangedOf(kind)
      val files = heights.filter(h => toWrite(chunkOf(h._1))).flatMap(_._3).toSet
      val gone = if (dryRun) Nil else {
        // a single whose rows disagree with its name may hold heights of other
        // chunks: only then does a broadcast semi-join (one job) cut the read
        val rows = AvroArchiveSource.readArchiveFiles(spark, files.toSeq.sorted, kind)
          .withColumn("chunk", floor(col("height") / chunkSize).cast("long"))
        if (files.nonEmpty) AvroArchiveSink.writeChunked(
          if (!heights.exists(h => !toWrite(chunkOf(h._1)) && h._3.exists(files))) rows
          else rows.join(broadcast(toWrite.toSeq.toDF("chunk")), Seq("chunk"), "left_semi"),
          kind, archiveDir, "chunk")
        // a single is deletable iff every height it holds (by its rows, not
        // its name) lies in a complete chunk, which now has a range file
        val heightsIn = heights.flatMap(h => h._3.map(_ -> h._1)).groupBy(_._1)
        val deletable = singlesOf(kind).map(_.path)
          .filter(p => heightsIn.get(p).exists(_.forall(ph => complete(chunkOf(ph._2)))))
        // singles beside a pre-existing range are crash residue, and that
        // range may be a crashed write's empty claim: such a single goes
        // only if a lenient read of the ranges returns its height
        val residue = singlesOf(kind).filter(e => rangedOf(kind)(chunkOf(e.start)))
        val held = if (residue.isEmpty) Set.empty[Long]
          else AvroArchiveSource.readArchiveFilesWithPath(spark, entries.collect {
            case r if !r.isSingle && r.kind == kind &&
              residue.exists(e => r.start <= e.start && e.start <= r.end) => r.path
          }, kind, lenient = true).select("height").as[Long].collect().toSet
        val gone = deletable.filterNot(residue.filterNot(e => held(e.start)).map(_.path).toSet)
        ArchiveFs.delete(spark, gone.map(new Path(_)))
        gone
      }
      (byChunk.map(v => Row.fromSeq(v.toSeq :+ kind)), gone)
    }
    (spark.createDataFrame(java.util.Arrays.asList(perKind.flatMap(_._1): _*), VerdictSchema),
      perKind.flatMap(_._2))
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
