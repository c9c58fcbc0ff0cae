package graft.commands

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.archive.{Catalog, Compaction, Filenames, Sinks}
import graft.functions.{BlockLink, ChainSequenceAggregator}
import graft.sources.{ArchiveFs, AvroArchiveSink, AvroArchiveSource}
import graft.streaming.Streams

/** The reference's five CLI commands (README.adoc:107-155, src/args.rs:165-173)
  * as Spark jobs composed from the operator library. Offline, the chain
  * fetch boundary is a pre-fetched raw DataFrame (SURVEY.md §2.1 src-grpc);
  * in production a connector fills the same (height, blockId, parentId,
  * payload) shape via mapPartitions.
  */
object Commands {

  /** Global run options shared by every command (reference: dry-run
    * src/global.rs:48-57; notifications src/notify/mod.rs:12-62 — one line
    * per written file into a JSONL dir, the fs notifier).
    */
  case class RunOptions(
      dryRun: Boolean = false,
      notifyDir: Option[String] = None,
      blockchain: String = "BTC",
      maturity: String = "finalized",
      notifyTsIso: String = "1970-01-01T00:00:00Z")

  /** `archive` — bulk backfill of [startH, endH] (src/command/archive.rs:34-47):
    * chunk-aligned split, record build, one partitioned write, per-chunk
    * completeness summary returned (completeness gate per
    * src/command/compact.rs:246-321 semantics). Under dry-run nothing is
    * written; with a notify dir one notification line is emitted per
    * written file.
    */
  def archive(
      spark: SparkSession,
      rawBlocks: DataFrame, // height, blockId, parentId, payload
      outDir: String,
      startH: Long, endH: Long,
      chunkSize: Long = 1000L,
      opts: RunOptions = RunOptions()): DataFrame = {
    val slice = rawBlocks.filter(col("height").between(startH, endH))
    if (!opts.dryRun) {
      val records = slice
        .withColumn("l1", Filenames.l1(col("height")))
        .withColumn("l2", Filenames.l2(col("height")))
      records
        .repartition(col("l2"))
        .sortWithinPartitions("height")
        .write.mode(SaveMode.Append)
        .partitionBy("l1", "l2")
        .parquet(s"$outDir/blocks")
      notifyWritten(spark, outDir, startH, endH, "archive", opts)
    }
    Compaction.validateChunks(slice, "height", chunkSize)
  }

  /** `--tail N` block selection (src/archiver/blocks_config.rs:28-45): the
    * last N heights below head−4 (the head margin still being written).
    * Two-job literal pattern: the head is one cheap pruned `max`, then the
    * caller-visible range is plain literals so every downstream filter
    * reaches PushedFilters.
    */
  def tailRange(rawBlocks: DataFrame, n: Long): (Long, Long) = {
    val head = rawBlocks.agg(max("height").cast("long")).head().getLong(0) - 4
    (math.max(head - n, 0L), head)
  }

  /** `archive --tail N` — archive only the tail (blocks_config.rs:28-45). */
  def archiveTail(
      spark: SparkSession,
      rawBlocks: DataFrame,
      outDir: String,
      n: Long,
      chunkSize: Long = 1000L,
      opts: RunOptions = RunOptions()): DataFrame = {
    val (s, e) = tailRange(rawBlocks, n)
    archive(spark, rawBlocks, outDir, s, e, chunkSize, opts)
  }

  /** One notification line per file actually on disk in [s, e] (reference
    * emits per written file, src/notify/mod.rs:12-62; fs notifier appends
    * JSONL). The read-back scans only the height column of the pruned
    * range partitions.
    */
  private def notifyWritten(spark: SparkSession, outDir: String,
      s: Long, e: Long, run: String, opts: RunOptions): Unit =
    opts.notifyDir.foreach { nd =>
      val files = spark.read.parquet(s"$outDir/blocks")
        .filter(col("height").between(s, e))
        .groupBy(input_file_name().as("file"))
        .agg(min("height").as("start_h"), max("height").as("end_h"))
        .withColumn("kind", lit("blocks"))
      Sinks.notificationLinesFull(files, opts.blockchain, run,
        opts.maturity, opts.notifyTsIso)
        .coalesce(1)
        .write.mode(SaveMode.Append).text(nd)
    }

  /** `stream` — live tail (src/command/stream.rs:92-144): follow a heads
    * directory, archive each batch idempotently (never overwrite,
    * stream.rs:49-52). foreachBatch is at-least-once, so a replayed batch
    * after checkpoint recovery must not append duplicate heights: each
    * batch anti-joins the already-archived heights first — the dir-level
    * analogue of the reference's per-file create-if-absent. The archived
    * read prunes to the batch's l2 partitions (directory pruning + a
    * single pruned column), so the check is tail-sized, not archive-sized.
    */
  def stream(
      spark: SparkSession,
      headsDir: String,
      headSchema: org.apache.spark.sql.types.StructType,
      archiveDir: String,
      checkpoint: String): Unit = {
    val blocksDir = s"$archiveDir/blocks"
    Streams.followHeads(spark, headsDir, headSchema, checkpoint) { (batch, _) =>
      val spk = batch.sparkSession
      val fresh = batch.dropDuplicates("height")
      val bounds = fresh.agg(min("height").cast("long"), max("height").cast("long")).head()
      if (!bounds.isNullAt(0)) {
        val novel =
          if (!ArchiveFs.fs(spk, blocksDir).exists(new org.apache.hadoop.fs.Path(blocksDir))) fresh
          else {
            val archived = spk.read.parquet(blocksDir)
              .filter(col("l2").between(
                Filenames.l2S(bounds.getLong(0)), Filenames.l2S(bounds.getLong(1))))
              .select("height")
            fresh.join(archived, Seq("height"), "left_anti")
          }
        novel
          .withColumn("l1", Filenames.l1(col("height")))
          .withColumn("l2", Filenames.l2(col("height")))
          .write.mode(SaveMode.Append)
          .partitionBy("l1", "l2")
          .parquet(blocksDir)
      }
    }
  }

  /** `archive` into the reference's OWN on-disk shape: chunk-aligned
    * `range-<s>_<e>.<kind>.avro` files (src/command/archive.rs:34-47 +
    * archiver.rs:116-170 — a bulk range archives as one range file per
    * chunk). `records` must already be in the kind's archive schema
    * (graft.model.Schemas); partial chunks produce range files covering
    * the heights actually present, exactly like the reference's fetch
    * results. Existing range files are kept (create-if-absent). Returns
    * records written.
    */
  def archiveAvro(
      spark: SparkSession,
      records: DataFrame,
      archiveDir: String,
      startH: Long, endH: Long,
      chunkSize: Long = 1000L,
      kind: String = "blocks",
      opts: RunOptions = RunOptions()): Long = {
    if (opts.dryRun) return 0L
    val slice = records.filter(col("height").between(startH, endH))
      .withColumn("chunk", floor(col("height") / chunkSize).cast("long"))
    val n = AvroArchiveSink.writeChunked(slice, kind, archiveDir, "chunk")
    opts.notifyDir.foreach { nd =>
      // one line per archive file now covering the range — the filename IS
      // the metadata, so the catalog provides every notification field
      import spark.implicits._
      val files = Catalog.entries(AvroArchiveSource.listAvroFiles(spark, archiveDir), startH, endH)
        .collect { case e if e.kind == Filenames.normalizeKind(kind) =>
          (Filenames.baseName(e.path), e.kind, e.start, e.end) }
        .toDF("file", "kind", "start_h", "end_h")
      Sinks.notificationLinesFull(files, opts.blockchain, "archive",
        opts.maturity, opts.notifyTsIso)
        .coalesce(1)
        .write.mode(SaveMode.Append).text(nd)
    }
    n
  }

  /** `stream` into the reference's OWN on-disk shape: one hash-named Avro
    * single per archived height (src/command/stream.rs + archiver.rs:
    * 53-113 — head events carry the block hash, so reorgs at a height
    * leave SEVERAL hash-named files; `verifyFull` later keeps the
    * canonical one). Never overwrites an existing file, so replayed
    * batches are idempotent by construction. Raw head rows (height,
    * blockId, parentId, payload) become block records with the payload as
    * the JSON body.
    *
    * A batch is two writes, like the reference's block then txes ∥ traces
    * (archiver.rs:137-154): the batch's block records go from one partition
    * through [[AvroArchiveSink.writeColocatedSingles]] (a micro-batch of
    * heads is small), which yields the (height, blockId) of every block
    * single the batch formed, landed or already there. Each companion kind
    * is its raw frame filtered to those keys, in one partition, written the
    * same way. No exchange, no broadcast: 2 jobs and 2 tasks per batch. The
    * key set is a value the filter's generated code only references, so
    * consecutive batches generate the same code; the companion scan reads
    * the whole raw frame in one task.
    */
  def streamAvro(
      spark: SparkSession,
      headsDir: String,
      headSchema: org.apache.spark.sql.types.StructType,
      archiveDir: String,
      checkpoint: String,
      blockchain: String = "BITCOIN",
      rawTxes: Option[DataFrame] = None,
      rawTraces: Option[DataFrame] = None): Unit = {
    Streams.followHeads(spark, headsDir, headSchema, checkpoint) { (batch, _) =>
      val records = batch.select(
        lit(blockchain).as("blockchainType"),
        lit(blockchain).as("blockchainId"),
        to_timestamp(lit(0)).as("archiveTimestamp"),
        col("height"),
        col("blockId"),
        col("parentId"),
        to_timestamp(col("height")).as("timestamp"),
        col("payload").cast("binary").as("json"),
        lit(0).as("unclesCount"),
        lit(null).cast("binary").as("uncle0Json"),
        lit(null).cast("binary").as("uncle1Json"))
      val (_, formed) = AvroArchiveSink.writeColocatedSingles(
        records.coalesce(1), "blocks", archiveDir, forkHashCol = Some("blockId"))
      // the companions of the batch's (height, blockId) pairs, skipped
      // blocks included (a replayed batch still archives them), keyed on
      // BOTH columns so only the announced fork's companions land with it
      val keys = formed.collect { case (h, Some(id)) => (h, id) }.toSet
      val inBatch = udf((h: Long, id: String) => keys((h, id)))
      if (keys.nonEmpty) Seq("txes" -> rawTxes, "traces" -> rawTraces).foreach {
        case (kind, src) => src.foreach { raw =>
          AvroArchiveSink.writeColocatedSingles(
            raw.filter(inBatch(col("height"), col("blockId"))).coalesce(1), kind, archiveDir,
            forkHashCol = Some("blockId"))
        }
      }
    }
  }

  /** `compact` — merge complete aligned chunks into range files, leave
    * partial chunks alone (src/command/compact.rs:44-244). Dry-run plans
    * without writing.
    */
  def compact(
      spark: SparkSession,
      archiveDir: String,
      outDir: String,
      chunkSize: Long = 1000L,
      opts: RunOptions = RunOptions()): DataFrame = {
    val src = spark.read.parquet(s"$archiveDir/blocks")
    if (opts.dryRun) Compaction.validateChunks(src, "height", chunkSize)
    else Compaction.compact(spark, src, "height", chunkSize, outDir)
  }

  /** `stream --continue` (src/command/stream.rs:42-47,66-87): before
    * following the live tail, make sure the last `depth` heights below the
    * announced head are archived — the one-shot backfill is [[fixAvro]]
    * over [head−depth, head] per provided kind, then the normal
    * [[streamAvro]] follow. Returns the healed (kind, height) rows.
    */
  def streamAvroContinue(
      spark: SparkSession,
      headsDir: String,
      headSchema: org.apache.spark.sql.types.StructType,
      archiveDir: String,
      checkpoint: String,
      rawByKind: Map[String, DataFrame],
      depth: Long = 100L,
      blockchain: String = "BITCOIN"): DataFrame = {
    val head = spark.read.schema(headSchema).parquet(headsDir)
      .agg(max("height").cast("long")).head().getLong(0)
    val healed = fixAvro(spark, archiveDir, rawByKind,
      math.max(0L, head - depth), head)
    // force the backfill before the live follow starts (fixAvro's writes
    // run as part of the call; the returned frame is collected by callers)
    streamAvro(spark, headsDir, headSchema, archiveDir, checkpoint, blockchain,
      rawTxes = rawByKind.get("txes"), rawTraces = rawByKind.get("traces"))
    healed
  }

  /** `compact` over the reference's OWN Avro layout: settled singles of
    * every kind merge into `range-<s>_<e>.<kind>.avro` files per complete
    * chunk, then the fully-copied singles are deleted (write-new-then-
    * delete-old, compact.rs:44-244). Forked heights are left for verify.
    */
  def compactAvro(
      spark: SparkSession,
      archiveDir: String,
      chunkSize: Long = 1000L,
      opts: RunOptions = RunOptions()): (DataFrame, Seq[String]) =
    Compaction.compactAvro(spark, archiveDir, chunkSize, dryRun = opts.dryRun)

  /** `fix` — find missing heights in [startH, endH] and re-archive them
    * from the raw source, idempotently (src/command/fix.rs:39-69).
    * Returns the heights that were missing.
    */
  def fix(
      spark: SparkSession,
      rawBlocks: DataFrame,
      archiveDir: String,
      outDir: String,
      startH: Long, endH: Long,
      opts: RunOptions = RunOptions()): DataFrame = {
    val archived = spark.read.parquet(s"$archiveDir/blocks")
      .select("height").distinct()
    val missing = spark.range(startH, endH + 1).toDF("height")
      .join(archived, Seq("height"), "left_anti")
    if (!opts.dryRun) {
      val refetch = rawBlocks.join(missing, Seq("height"), "left_semi")
      refetch
        .withColumn("l1", Filenames.l1(col("height")))
        .withColumn("l2", Filenames.l2(col("height")))
        .write.mode(SaveMode.Append)
        .partitionBy("l1", "l2")
        .parquet(s"$outDir/blocks")
      notifyWritten(spark, outDir, startH, endH, "fix", opts)
    }
    missing
  }

  /** `fix` over the Avro layout, PER KIND (src/command/fix.rs:39-69 —
    * `find_incomplete_tables` returns the missing kinds per range and the
    * archiver re-archives only those): for every kind with a raw source,
    * heights in [startH, endH] not covered by any file of that kind are
    * re-archived as singles. `rawByKind` maps kind → records already in
    * that kind's archive schema (same contract as streamAvro's builder).
    * Returns (kind, height) rows that were missing. Coverage is decided on
    * the driver over the listing (`Catalog.gaps`); kinds without gaps write
    * nothing. Each refetch filters its raw frame by the kind's gap
    * intervals, held as a value the generated code references (no literal
    * list, no broadcast relation and so no broadcast job), and writes through
    * [[AvroArchiveSink.writeSingles]]: 2 jobs per refetched kind. Only the
    * returned frame explodes the gap intervals.
    *
    * `forkHashCol`: when healing companion kinds into a fork-aware archive
    * (singles streamed as `<h>.<hash>.<kind>.avro`), pass the raw source's
    * block-hash column so healed files land in the same (range, fork)
    * group as their streamed block — a plain-named single would form its
    * own blockless group and verify would discard it as no-block-file.
    */
  def fixAvro(
      spark: SparkSession,
      archiveDir: String,
      rawByKind: Map[String, DataFrame],
      startH: Long, endH: Long,
      opts: RunOptions = RunOptions(),
      forkHashCol: Option[String] = None): DataFrame = {
    require(rawByKind.nonEmpty, "fixAvro needs at least one raw source")
    import spark.implicits._
    val entries = Catalog.entries(AvroArchiveSource.listAvroFiles(spark, archiveDir), startH, endH)
    // per-kind coverage on the driver: the missing heights are the gaps
    // between the intervals the kind's files cover
    val gaps = rawByKind.keys.toSeq.sorted.flatMap { kind0 =>
      val kind = Filenames.normalizeKind(kind0)
      Catalog.gaps(entries.filter(_.kind == kind).map(e => (e.start, e.end)), startH, endH)
        .map { case (s, e) => (kind0, kind, s, e) }
    }
    val missing = gaps.toDF("source", "kind", "s", "e")
      .select(col("source"), col("kind"), explode(sequence(col("s"), col("e"))).as("height"))
    if (!opts.dryRun) gaps.map(_._1).distinct.foreach { kind0 =>
      // the kind's gaps, ascending and disjoint: a height is missing when
      // the last gap starting at or below it reaches it
      val (starts, ends) = gaps.collect { case (`kind0`, _, s, e) => (s, e) }.toArray.unzip
      val inGap = udf { (h: Long) =>
        val i = java.util.Arrays.binarySearch(starts, h)
        val at = if (i >= 0) i else -i - 2
        at >= 0 && h <= ends(at)
      }
      AvroArchiveSink.writeSingles(rawByKind(kind0).filter(inGap(col("height"))),
        Filenames.normalizeKind(kind0), archiveDir, forkHashCol = forkHashCol)
    }
    missing.select("kind", "height")
  }

  /** `fix --tail N` (args.rs `--tail`: the latest N blocks instead of a
    * range): the window is anchored at the data provider's head — the max
    * height in the raw source, minus the 4-block still-being-written
    * margin, same as archive --tail (blocks_config.rs:28-45). Blocks
    * anchor the head when provided; otherwise the first kind by name.
    */
  def fixAvroTail(
      spark: SparkSession,
      archiveDir: String,
      rawByKind: Map[String, DataFrame],
      tailN: Long,
      opts: RunOptions = RunOptions(),
      forkHashCol: Option[String] = None): DataFrame = {
    require(rawByKind.nonEmpty, "fixAvroTail needs at least one raw source")
    val anchor = rawByKind.getOrElse("blocks",
      rawByKind(rawByKind.keys.toSeq.sorted.head))
    val (s, e) = tailRange(anchor, tailN)
    fixAvro(spark, archiveDir, rawByKind, s, e, opts, forkHashCol)
  }

  /** `verify --tail N`: audit the last N heights of the ARCHIVE — verify
    * inspects what exists, so the head is the max covered height parsed
    * from the catalog (a driver-side listing, no data read). The same
    * listing feeds the verify run via knownFiles — one RPC walk total.
    */
  def verifyFullTail(
      spark: SparkSession,
      archiveDir: String,
      adapter: graft.model.ChainAdapter,
      tailN: Long,
      canonical: DataFrame,
      opts: VerifyFull.Options = VerifyFull.Options()): VerifyFull.Report = {
    val files = AvroArchiveSource.listAvroFiles(spark, archiveDir)
    val head = files.iterator
      .flatMap(Filenames.parseRangeS)
      .map(_._2)
      .foldLeft(-1L)(math.max)
    if (head < 0)
      return VerifyFull.run(spark, archiveDir, adapter, 0L, -1L, canonical, opts,
        knownFiles = Some(files)) // empty archive: empty report
    VerifyFull.run(spark, archiveDir, adapter,
      math.max(0L, head - tailN), head, canonical, opts, knownFiles = Some(files))
  }

  /** `verify --fix.clean`-grade FULL pipeline over the reference's own
    * Avro layout: filename preprocess + per-batch content checks +
    * deletion verdicts. See [[VerifyFull]] for the composition.
    */
  def verifyFull(
      spark: SparkSession,
      archiveDir: String,
      adapter: graft.model.ChainAdapter,
      startH: Long, endH: Long,
      canonical: DataFrame,
      opts: VerifyFull.Options = VerifyFull.Options()): VerifyFull.Report =
    VerifyFull.run(spark, archiveDir, adapter, startH, endH, canonical, opts)

  /** `verify` — structural audit of a parquet archive (the quick path:
    * duplicate heights, height gaps, chain-link breaks via the distributed
    * ChainSequenceAggregator; content-level checks live in [[verifyFull]]).
    * Returns one row per check.
    */
  def verify(spark: SparkSession, archiveDir: String,
      format: String = "parquet"): DataFrame = {
    import spark.implicits._
    val blocks = format match {
      case "parquet" => spark.read.parquet(s"$archiveDir/blocks")
      case "avro" =>
        // the reference's own on-disk format at any L1/(L2) nesting level,
        // via the recursive lister (a flat glob would miss the tree and
        // fail on an empty archive)
        AvroArchiveSource.readArchive(spark, archiveDir, "blocks")
      case other => throw new IllegalArgumentException(s"format: $other")
    }
    val dupHeights = blocks.groupBy("height").count().filter(col("count") > 1).count()
    val hs = blocks.agg(min("height"), max("height"), count(lit(1)),
      countDistinct("height")).head()
    if (hs.isNullAt(0)) // empty archive: nothing to verify, nothing broken
      return Seq(("dup-heights", 0L), ("missing-heights", 0L),
        ("chain-breaks", 0L), ("total-blocks", 0L)).toDF("check", "n_issues")
    val (mn, mx, n, nd) = (hs.getLong(0), hs.getLong(1), hs.getLong(2), hs.getLong(3))
    val gaps = (mx - mn + 1) - nd
    val verdict = blocks
      .select(col("height"), col("blockId"), col("parentId"))
      .dropDuplicates("height")
      .as[BlockLink]
      .select(ChainSequenceAggregator.toColumn)
      .head()
    Seq(
      ("dup-heights", dupHeights),
      ("missing-heights", gaps),
      ("chain-breaks", verdict.breaks.size.toLong),
      ("total-blocks", n)
    ).toDF("check", "n_issues")
  }
}
