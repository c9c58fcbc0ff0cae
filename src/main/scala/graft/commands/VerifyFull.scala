package graft.commands

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.archive.Catalog
import graft.model.ChainAdapter
import graft.sources.{ArchiveFs, AvroArchiveSource}

/** The reference `verify` command's FULL pipeline (src/command/verify.rs):
  *
  *   1. filename-level preprocess over the catalog — duplicate slots
  *      (verify.rs:437-456), `select_complete` under --fix.clean
  *      (:308-322), fork removal against the canonical chain (:328-369),
  *      intersecting-range dedup keeping the largest (:372-406);
  *   2. `merge_small` batching (:237-267) — steps 1–2 are [[preprocess]],
  *      plain Scala over the driver-side catalog;
  *   3. per-batch CONTENT checks — blocks: coverage, dup heights, JSON
  *      parse via ChainAdapter, chain-link continuity, top hash vs the
  *      canonical chain (:798-905); txes/traces: expected-txid
  *      reconciliation from the block JSON, duplicate/unexpected/missing
  *      txids, non-null payload fields (:648-783);
  *   4. per-kind-file-set deletion verdicts; --fix.clean widens any broken
  *      kind to the whole batch (:479-513); --dry-run suppresses deletes
  *      (:272-303, src/global.rs:48-57).
  *
  * Shape: the listing is already on the driver, so the filename passes run
  * there as plain loops, like the reference's; Spark runs only where
  * archive records are read. The reference verifies batch-by-batch under a
  * semaphore of 4; here EVERY batch is checked in one distributed
  * aggregation per kind, and only catalog-sized file lists ever reach the
  * driver (same scale as the reference's deletion list).
  *
  * Offline, the live data-provider becomes the `canonical` DataFrame of
  * (height, hash) — the same lookups verify.rs makes via
  * `fetch_block(height)`.
  */
object VerifyFull {

  /** DataOptions + global flags (reference: src/datakind.rs DataOptions,
    * src/args.rs fix_clean, src/global.rs dry_run).
    */
  case class Options(
      checkTxes: Boolean = true,
      checkTraces: Boolean = false,
      includeTrace: Boolean = false,
      includeStateDiff: Boolean = false,
      fixClean: Boolean = false,
      dryRun: Boolean = false,
      mergeThreshold: Long = 10L,
      chunkSize: Long = 1000L)

  /** Per-batch verdicts + the applied (or dry-run-planned) deletions. */
  case class Report(batches: DataFrame, deleted: Seq[(String, String)])

  /** Every file's fate after the filename passes: a deletion reason, or
    * (path, kind, group_s, group_e) — the batch the file verifies under.
    */
  case class Fates(deletions: Seq[(String, String)], live: Seq[(String, String, Long, Long)])

  /** Steps 1–2 over the driver-side catalog: the reference's four filename
    * passes (duplicates, select_complete, remove_forks, dedup —
    * verify.rs:155-207) and `merge_small` (:237-267), as plain Scala over
    * the entries, like the reference's own loops over its listing.
    * `canonicalAt` maps contested heights to their canonical hash; it is
    * called only when some height is contested.
    */
  def preprocess(entries: Seq[Catalog.Entry], opts: Options,
      canonicalAt: Seq[Long] => Map[Long, String]): Fates = {
    type Key = (Long, Long, String) // (start, end, fork hash or "")
    def key(e: Catalog.Entry): Key = (e.start, e.end, e.forkHash.getOrElse(""))
    val deletions = Seq.newBuilder[(String, String)]

    // 1a. duplicate slots: same (range, fork, kind) twice → BOTH files go
    // (reference RangeGroupError::Duplicate, verify.rs:440-455)
    val slotSize = entries.groupBy(e => (key(e), e.kind)).map { case (k, v) => k -> v.size }
    val (dupSlot, cat) = entries.partition(e => slotSize((key(e), e.kind)) > 1)
    dupSlot.foreach(e => deletions += ((e.path, "duplicate-slot")))

    // 1b. groups (the reference's ArchiveGroup) with completeness per the
    // requested tables (is_complete, range_group.rs)
    val groups = cat.groupBy(key)
    val keys = groups.keys.toIndexedSeq.sorted
    val complete = groups.map { case (k, fs) =>
      val has = fs.map(_.kind).toSet
      k -> (has("blocks") && (!opts.checkTxes || has("txes")) &&
        (!opts.checkTraces || has("traces")))
    }
    // 1c. select_complete (only under --fix.clean, verify.rs:161-165)
    val incomplete = (k: Key) => opts.fixClean && !complete(k)

    // 1d. remove_forks (verify.rs:328-369): of several single-height groups
    // surviving 1c at one height, only the canonical-hash one stays; with
    // no canonical hash every fork goes (the reference's fetch_block errors).
    val isSingle = (k: Key) => k._1 == k._2
    val contested = keys.filter(k => isSingle(k) && !incomplete(k))
      .groupBy(_._1).collect { case (h, ks) if ks.size > 1 => h }.toSet
    val canon = if (contested.isEmpty) Map.empty[Long, String]
      else canonicalAt(contested.toSeq.sorted)
    val forkedOut = (k: Key) => isSingle(k) && !incomplete(k) &&
      contested(k._1) && !canon.get(k._1).contains(k._3)

    // 1e. deduplicate intersecting ranges among survivors, keep the largest
    // (verify.rs:372-406), chunk by chunk like the reference's verify loop
    // (verify.rs:414 split_chunks): groups ordered by (start, end, fork)
    // form overlap islands; in each the longest range survives, ties to
    // the earliest start, then the lowest fork hash.
    val chunkOf = (k: Key) => Math.floorDiv(k._1, opts.chunkSize)
    val duplicateRange = keys.filter(k => !incomplete(k) && !forkedOut(k))
      .groupBy(chunkOf).values.flatMap { inChunk => // keeps the order of `keys`
        Catalog.runs(inChunk)(k => Some(k._2))((k, reached) => reached.forall(k._1 > _))
          .flatMap(_.sortBy(k => (-(k._2 - k._1), k._1, k._3)).tail)
      }.toSet

    val reason = (k: Key) =>
      if (incomplete(k)) Some("incomplete-group")
      else if (forkedOut(k)) Some("forked-out")
      else if (duplicateRange(k)) Some("duplicate-range")
      else None

    // 2. merge_small: adjacent complete small groups verify as one batch;
    // incomplete or large groups stand alone, and batches never cross a
    // chunk (verify.rs:237-267)
    val kept = keys.filter(reason(_).isEmpty)
    val batchOf = kept.zip(Catalog.mergeSmall(
      kept.map(k => Catalog.Span(k._1, k._2, complete(k))),
      opts.mergeThreshold, opts.chunkSize)).toMap

    val live = Seq.newBuilder[(String, String, Long, Long)]
    cat.foreach { e =>
      val k = key(e)
      reason(k) match {
        case Some(r) => deletions += ((e.path, r))
        case None    => live += ((e.path, e.kind, batchOf(k)._1, batchOf(k)._2))
      }
    }
    Fates(deletions.result(), live.result())
  }

  /** The canonical hash at each of `heights`, read from the offline chain
    * oracle in one small query (heights without a non-null hash are
    * absent).
    */
  def canonicalLookup(canonical: DataFrame)(heights: Seq[Long]): Map[Long, String] =
    canonical.filter(col("height").isin(heights: _*) && col("hash").isNotNull)
      .select(col("height").cast("long"), col("hash"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  /** `knownFiles` lets a caller that already listed the archive (a
    * preceding archive/compact/fix in the same session) share its catalog
    * instead of re-walking the tree — at object-store scale the listing is
    * the expensive RPC stream, not the parse.
    */
  def run(
      spark: SparkSession,
      archiveDir: String,
      adapter: ChainAdapter,
      startH: Long, endH: Long,
      canonical: DataFrame, // (height, hash) — the offline chain oracle
      opts: Options = Options(),
      knownFiles: Option[Seq[String]] = None): Report = {
    import spark.implicits._

    val allFiles = knownFiles.getOrElse(AvroArchiveSource.listAvroFiles(spark, archiveDir))
    // ---- 1–2. filename passes and batching on the driver; the only Spark
    // work is the canonical lookup for contested heights
    val fates = preprocess(Catalog.entries(allFiles, startH, endH), opts,
      canonicalLookup(canonical))
    val deletions = Seq.newBuilder[(String, String)] ++= fates.deletions
    val liveRows = fates.live
    val filesOf: Map[String, Seq[String]] =
      liveRows.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }

    // ---- 3a. block content: coverage, dup heights, JSON parse, chain
    // links, top hash (verify.rs:798-905) — ONE aggregation over every
    // batch at once
    val batchKey = Seq("group_s", "group_e")
    // file→batch attribution is already on the driver — a LocalRelation
    // broadcast
    val fileBatch = broadcast(
      liveRows.toDF("_path", "kind", "group_s", "group_e"))
    val blockRows = AvroArchiveSource
      .readArchiveFilesWithPath(spark, filesOf.getOrElse("blocks", Seq.empty), "blocks",
        lenient = true) // a corrupt container = records stop → coverage dooms it
      .join(fileBatch.filter(col("kind") === "blocks").drop("kind"), Seq("_path"))
      .withColumn("_p", adapter.parseBlock(col("json").cast("string")))
      .select(col("group_s"), col("group_e"), col("height"),
        adapter.blockHash(col("_p")).as("_bhash"),
        adapter.parentHash(col("_p")).as("_bparent"),
        adapter.txIds(col("_p")).as("_btxs"))
      .cache()

    val bAgg = blockRows.groupBy(batchKey.map(col): _*).agg(
      count(lit(1)).as("b_n"),
      countDistinct(col("height")).as("b_nd"),
      sum(when(col("height") < col("group_s") || col("height") > col("group_e"), 1)
        .otherwise(0)).as("b_range_viol"),
      sum(when(col("_bhash").isNull || col("_bparent").isNull, 1).otherwise(0))
        .as("b_bad_json"))

    // chain links: (h).hash must equal (h+1).parent — the win-chain-link
    // self-equi-join shape, never a global window
    val lhs = blockRows.select(col("group_s"), col("group_e"),
      col("height"), col("_bhash"))
    val rhs = blockRows.select(col("group_s"), col("group_e"),
      (col("height") - 1).as("height"), col("_bparent"))
    val bBreaks = lhs.join(rhs, batchKey :+ "height")
      .filter(col("_bhash") =!= col("_bparent"))
      .groupBy(batchKey.map(col): _*).agg(count(lit(1)).as("b_breaks"))

    // top hash vs the canonical chain (verify.rs:893-903): tops are
    // one-per-batch — broadcast them against the big canonical table
    val tops = blockRows.filter(col("height") === col("group_e"))
      .select(col("group_s"), col("group_e"), col("height"), col("_bhash"))
    val bTop = canonical
      .join(broadcast(tops), Seq("height"))
      .groupBy(batchKey.map(col): _*)
      .agg(sum(when(col("_bhash") =!= col("hash"), 1).otherwise(0)).as("b_top_bad"))

    // ---- 3b. per-batch expected txids from the block JSON, then tx/trace
    // reconciliation (verify.rs:648-783). Computed for every batch; the
    // verdict only *consults* them where blocks are OK (the reference
    // cannot verify txes under a corrupt block and must keep them).
    val expected = blockRows
      .select(col("group_s"), col("group_e"), explode_outer(col("_btxs")).as("txid"))
      .filter(col("txid").isNotNull)

    val cached = Seq.newBuilder[DataFrame]
    def tableChecks(kind: String, payloadChecks: DataFrame => org.apache.spark.sql.Column)
        : DataFrame = {
      val raw = AvroArchiveSource
        .readArchiveFilesWithPath(spark, filesOf.getOrElse(kind, Seq.empty), kind,
          lenient = true)
        .join(fileBatch.filter(col("kind") === kind).drop("kind"), Seq("_path"))
      // evaluate the payload checks BEFORE caching and keep only (batch,
      // txid, verdict-bit): caching full rows would pin every json/raw
      // payload in memory — at archive scale the slim projection is ~50
      // bytes/tx while the raw record is KBs
      val rows = raw
        .withColumn("_bad", when(payloadChecks(raw), 0).otherwise(1))
        .select(col("group_s"), col("group_e"), col("txid"), col("_bad"))
        .cache()
      cached += rows
      val perBatch = rows.groupBy(batchKey.map(col): _*).agg(
        sum(col("_bad")).as(s"${kind}_bad_null"),
        count(lit(1)).as(s"${kind}_n"),
        countDistinct(col("txid")).as(s"${kind}_nd"))
      val unexpected = rows.select(col("group_s"), col("group_e"), col("txid"))
        .join(expected, batchKey :+ "txid", "left_anti")
        .groupBy(batchKey.map(col): _*).agg(count(lit(1)).as(s"${kind}_unexpected"))
      val missing = expected
        .join(rows.select(col("group_s"), col("group_e"), col("txid")),
          batchKey :+ "txid", "left_anti")
        .groupBy(batchKey.map(col): _*).agg(count(lit(1)).as(s"${kind}_missing"))
      perBatch
        .join(unexpected, batchKey, "left")
        .join(missing, batchKey, "left")
    }

    val nonNullBin = (c: org.apache.spark.sql.Column) =>
      c.isNotNull && length(c) > 0 && c.cast("string") =!= "null"
    val txChecks =
      if (!opts.checkTxes) None
      else Some(tableChecks("txes",
        r => nonNullBin(r("json")) && r("raw").isNotNull && length(r("raw")) > 0))
    val traceChecks =
      if (!opts.checkTraces) None
      else Some(tableChecks("traces", r => {
        val t = if (opts.includeTrace) nonNullBin(r("traceJson")) else lit(true)
        val s = if (opts.includeStateDiff) nonNullBin(r("stateDiffJson")) else lit(true)
        t && s
      }))

    // ---- 4. verdict assembly over the catalog-sized batch list; per-batch
    // file counts come straight from the driver-side fates (LocalRelation)
    val perBatchFiles = liveRows.groupBy(t => (t._3, t._4)).toSeq
      .map { case ((gs, ge), fs) =>
        (gs, ge, fs.count(_._2 == "blocks").toLong,
          fs.count(_._2 == "txes").toLong, fs.count(_._2 == "traces").toLong)
      }
      .toDF("group_s", "group_e", "f_blocks", "f_txes", "f_traces")
    var verdicts = perBatchFiles
      .join(bAgg, batchKey, "left")
      .join(bBreaks, batchKey, "left")
      .join(bTop, batchKey, "left")
    txChecks.foreach(t => verdicts = verdicts.join(t, batchKey, "left"))
    traceChecks.foreach(t => verdicts = verdicts.join(t, batchKey, "left"))

    val span = col("group_e") - col("group_s") + 1
    val blocksOk = col("f_blocks") > 0 &&
      coalesce(col("b_n"), lit(0L)) === span &&
      coalesce(col("b_nd"), lit(0L)) === span &&
      coalesce(col("b_range_viol"), lit(0L)) === 0 &&
      coalesce(col("b_bad_json"), lit(0L)) === 0 &&
      coalesce(col("b_breaks"), lit(0L)) === 0 &&
      coalesce(col("b_top_bad"), lit(0L)) === 0
    def kindOk(kind: String): org.apache.spark.sql.Column =
      coalesce(col(s"${kind}_bad_null"), lit(0L)) === 0 &&
        coalesce(col(s"${kind}_unexpected"), lit(0L)) === 0 &&
        coalesce(col(s"${kind}_missing"), lit(0L)) === 0 &&
        coalesce(col(s"${kind}_nd"), lit(0L)) === coalesce(col(s"${kind}_n"), lit(0L))

    // localCheckpoint (eager), not cache: the returned batches must stay
    // readable after this run deletes files AND unpersists intermediates —
    // a recompute from a mutated archive would be wrong or fail
    verdicts = verdicts
      .withColumn("no_block_file", col("f_blocks") === 0)
      .withColumn("blocks_ok", blocksOk)
      .withColumn("txes_ok",
        if (opts.checkTxes) col("f_txes") === 0 || kindOk("txes") else lit(true))
      .withColumn("traces_ok",
        if (opts.checkTraces) col("f_traces") === 0 || kindOk("traces") else lit(true))
      .localCheckpoint()

    // deletion verdicts per kind-file-set (verify_content, verify.rs:516-577):
    //   no blocks file          → every OTHER table in the batch goes
    //   blocks corrupt          → blocks files go; txes/traces unverifiable, kept
    //   blocks ok, kind corrupt → that kind's files go
    //   fix.clean               → any of the above widens to the whole batch
    // The per-batch flags are a cheap scan of the checkpointed verdicts and
    // the file list is already on the driver, so the doom pass is plain
    // Scala over catalog-sized data — no extra distributed join or action.
    val flags = verdicts.select(col("group_s"), col("group_e"),
        col("no_block_file"), col("blocks_ok"), col("txes_ok"), col("traces_ok"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getBoolean(2), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5))))
      .toMap
    def kindReason(kind: String, f: (Boolean, Boolean, Boolean, Boolean)): Option[String] = {
      val (noBlock, bOk, tOk, trOk) = f
      if (noBlock && kind != "blocks") Some("no-block-file")
      else if (!noBlock && !bOk && kind == "blocks") Some("blocks-corrupt")
      else if (bOk && !tOk && kind == "txes") Some("txes-corrupt")
      else if (bOk && !trOk && kind == "traces") Some("traces-corrupt")
      else None
    }
    val perFile = liveRows.map { case (p, k, gs, ge) =>
      (p, gs, ge, flags.get((gs, ge)).flatMap(kindReason(k, _)))
    }
    if (!opts.fixClean)
      deletions ++= perFile.collect { case (p, _, _, Some(r)) => (p, r) }
    else {
      val badBatches = perFile.collect { case (_, gs, ge, Some(_)) => (gs, ge) }.toSet
      deletions ++= perFile.collect {
        case (p, gs, ge, r) if badBatches((gs, ge)) => (p, r.getOrElse("fix-clean"))
      }
    }

    val toDelete = deletions.result()
    if (!opts.dryRun) ArchiveFs.delete(spark, toDelete.map(d => new Path(d._1)))
    // a long-lived session may run many commands — drop this run's caches
    (blockRows +: cached.result()).foreach(_.unpersist())
    Report(verdicts, toDelete)
  }
}
