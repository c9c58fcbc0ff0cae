package graft.commands

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.archive.Catalog
import graft.model.ChainAdapter
import graft.sources.AvroArchiveSource

/** The reference `verify` command's FULL pipeline (src/command/verify.rs):
  *
  *   1. filename-level preprocess over the catalog — duplicate slots
  *      (verify.rs:437-456), `select_complete` under --fix.clean
  *      (:308-322), fork removal against the canonical chain (:328-369),
  *      intersecting-range dedup keeping the largest (:372-406);
  *   2. `merge_small` batching (:237-267);
  *   3. per-batch CONTENT checks — blocks: coverage, dup heights, JSON
  *      parse via ChainAdapter, chain-link continuity, top hash vs the
  *      canonical chain (:798-905); txes/traces: expected-txid
  *      reconciliation from the block JSON, duplicate/unexpected/missing
  *      txids, non-null payload fields (:648-783);
  *   4. per-kind-file-set deletion verdicts; --fix.clean widens any broken
  *      kind to the whole batch (:479-513); --dry-run suppresses deletes
  *      (:272-303, src/global.rs:48-57).
  *
  * Spark-first shape: the reference verifies batch-by-batch under a
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

  private val GroupKey = Seq("start_h", "end_h", "fh")

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
    // the catalog derives from a driver-local listing (a LocalRelation):
    // re-reading it re-parses strings, never storage — no cache
    val catalog = Catalog.intersecting(Catalog.ofAvroFiles(spark, allFiles), startH, endH)
      .withColumn("fh", coalesce(col("fork_hash"), lit("")))
      .select("path", "kind", "start_h", "end_h", "fh")

    // ---- 1. filename-level preprocess as ONE lazy decision pipeline: the
    // reference applies four sequential passes (duplicates, select_complete,
    // remove_forks, deduplicate — verify.rs:155-207); here each pass is a
    // column over the catalog-sized group list and a single collect at the
    // end fetches every file's fate at once — ONE distributed action for
    // the whole preprocess.

    // 1a. duplicate slots: same (range, fork, kind) twice → BOTH files go
    // (reference RangeGroupError::Duplicate, verify.rs:440-455)
    val dupSlots = catalog.groupBy((GroupKey :+ "kind").map(col): _*)
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).drop("n")
    val cat = catalog.join(dupSlots, GroupKey :+ "kind", "left_anti")

    // 1b. groups (the reference's ArchiveGroup) with completeness per the
    // requested tables (is_complete, range_group.rs)
    val complete = col("blocks") >= 1 &&
      (if (opts.checkTxes) col("txes") >= 1 else lit(true)) &&
      (if (opts.checkTraces) col("traces") >= 1 else lit(true))
    val groups0 = cat.groupBy(GroupKey.map(col): _*)
      .pivot("kind", Seq("blocks", "txes", "traces"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("blocks", "txes", "traces"))
      .withColumn("complete", complete)

    // 1c. select_complete (only under --fix.clean, verify.rs:161-165)
    val incomplete = if (opts.fixClean) !col("complete") else lit(false)

    // 1d. remove_forks (verify.rs:328-369): several single-height groups at
    // one height → keep the one whose filename hash is canonical. The fork
    // count is a height-partitioned window over SURVIVORS of 1c (the
    // reference runs the passes in that order); the canonical hash joins in
    // via the (tiny, broadcast) fork-height list against the data-sized
    // chain — no driver round-trip.
    val isSingle = col("start_h") === col("end_h")
    val nf = sum(when(isSingle && !col("_incomplete"), 1).otherwise(0))
      .over(Window.partitionBy("start_h"))
    val forkHeights = groups0
      .withColumn("_incomplete", incomplete)
      .withColumn("_nf", nf)
      .filter(col("_nf") > 1).select("start_h").distinct()
    val canonicalAt = canonical
      .join(broadcast(forkHeights.withColumnRenamed("start_h", "height")), Seq("height"))
      .select(col("height").as("start_h"), col("hash").as("_canon"))
    val withFork = groups0
      .withColumn("_incomplete", incomplete)
      .withColumn("_nf", nf)
      .join(canonicalAt, Seq("start_h"), "left")
      .withColumn("_forked_out",
        isSingle && !col("_incomplete") && col("_nf") > 1 &&
          // only an exact canonical-hash match survives a contested height;
          // no canonical entry → every fork goes (the reference errors out
          // of fetch_block — there is no right answer to keep)
          !(col("_canon").isNotNull && col("fh") === col("_canon")))

    // 1e. deduplicate intersecting ranges among survivors, keep the largest
    // (verify.rs:372-406). Overlap islands via a running-max window,
    // PARTITIONED BY CHUNK like the reference's per-chunk verify loop
    // (verify.rs:414 split_chunks) — no task ever windows more than one
    // chunk's file groups, so the preprocess scales with executors, not
    // catalog size. Within an island the longest range (earliest start on
    // ties) survives. Island ids restart per chunk, so rank/group windows
    // carry the chunk key or same-numbered islands would fuse.
    val chunkOf = Catalog.chunkKey(opts.chunkSize)
    val w = Window.partitionBy("_chunk").orderBy("start_h", "end_h", "fh")
    val ranked = withFork
      .filter(!col("_incomplete") && !col("_forked_out"))
      .withColumn("_chunk", chunkOf)
      .withColumn("_pe", max("end_h").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_brk", when(col("_pe").isNull || col("start_h") > col("_pe"), 1).otherwise(0))
      .withColumn("_isl", sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("_rk", row_number().over(
        Window.partitionBy("_chunk", "_isl")
          .orderBy((col("end_h") - col("start_h")).desc, col("start_h"), col("fh"))))

    // Per-group outcome: reason to delete, or survivor. Lazy — its only
    // consumers fold into the single fates collect below (the file→batch
    // attribution continues on the DRIVER afterwards), so the whole
    // preprocess is exactly one distributed action. The pivot/window
    // subtree evaluates a couple of times inside that job — catalog-sized
    // metadata, cheaper than any materialization. This replaces a round-2
    // design that cached four intermediates and ran a collect per
    // decision family.
    val decisions = withFork
      .join(ranked.select((GroupKey.map(col) :+ col("_rk")): _*), GroupKey, "left")
      .withColumn("reason",
        when(col("_incomplete"), "incomplete-group")
          .when(col("_forked_out"), "forked-out")
          .when(col("_rk") > 1, "duplicate-range"))
      .select(col("start_h"), col("end_h"), col("fh"),
        col("blocks"), col("txes"), col("traces"), col("complete"), col("reason"))

    // ---- 2. merge_small: adjacent complete small groups verify as one
    // batch; incomplete or large groups stand alone (verify.rs:237-267);
    // batches never cross chunk boundaries, same as the reference's
    // per-chunk processing. Lazy — folds into the fates collect.
    val batched = Catalog.mergeSmall(
        decisions.filter(col("reason").isNull),
        opts.mergeThreshold, Seq(chunkOf), col("complete"))
      .select(col("start_h"), col("end_h"), col("fh"),
        col("group_s"), col("group_e"))

    // ---- one collect for EVERY preprocess product: each file's fate —
    // a deletion reason (duplicate slot / doomed group) or its batch
    // assignment. The reference's four passes + its file loop become one
    // catalog-sized driver list, same scale as its own deletion list.
    val slotFates = catalog.join(dupSlots, GroupKey :+ "kind", "left_semi")
      .select(col("path"), col("kind"), lit("duplicate-slot").as("reason"),
        lit(null).cast("long").as("group_s"), lit(null).cast("long").as("group_e"))
    val groupInfo = decisions.select((GroupKey.map(col) :+ col("reason")): _*)
      .join(batched, GroupKey, "left")
    val fates = cat.join(groupInfo, GroupKey)
      .select(col("path"), col("kind"), col("reason"), col("group_s"), col("group_e"))
      .unionByName(slotFates)
      .collect()

    val deletions = Seq.newBuilder[(String, String)]
    val live = Seq.newBuilder[(String, String, Long, Long)] // path, kind, batch
    fates.foreach { r =>
      if (!r.isNullAt(2)) deletions += ((r.getString(0), r.getString(2)))
      else live += ((r.getString(0), r.getString(1), r.getLong(3), r.getLong(4)))
    }
    val liveRows = live.result()
    val filesOf: Map[String, Seq[String]] =
      liveRows.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }

    // ---- 3a. block content: coverage, dup heights, JSON parse, chain
    // links, top hash (verify.rs:798-905) — ONE aggregation over every
    // batch at once
    val batchKey = Seq("group_s", "group_e")
    // file→batch attribution is already on the driver — a LocalRelation
    // broadcast, no recompute of the preprocess subtree
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
    // file counts come straight from the collected fates (LocalRelation)
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
    if (!opts.dryRun && toDelete.nonEmpty) {
      val fs = new org.apache.hadoop.fs.Path(archiveDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      toDelete.foreach { case (p, _) =>
        fs.delete(new org.apache.hadoop.fs.Path(p), false)
      }
    }
    // a long-lived session may run many commands — drop this run's caches
    (blockRows +: cached.result()).foreach(_.unpersist())
    Report(verdicts, toDelete)
  }
}
