package graft.commands

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.ChainAdapter
import graft.sources.AvroArchiveSource

/** Test oracle: verify's per-batch content checks and deletion verdicts
  * (steps 3–4 of [[VerifyFull.run]]) as one Catalyst plan over every batch
  * — the implementation that [[VerifyFull.checkBatch]] and its cogroup
  * pass replaced, kept verbatim (minus the delete itself) so the
  * differential spec can compare every batch row and every deletion
  * against it.
  */
object DataFrameContentChecks {

  /** The verdicts and the deletions (the filename passes' first) that
    * `VerifyFull.run` reports for `fates`; deletes nothing.
    */
  def run(spark: SparkSession, adapter: ChainAdapter, canonical: DataFrame,
      opts: VerifyFull.Options, fates: VerifyFull.Fates): VerifyFull.Report = {
    import spark.implicits._

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
    def tableChecks(kind: String, payloadChecks: DataFrame => Column): DataFrame = {
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

    val nonNullBin = (c: Column) =>
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
    def kindOk(kind: String): Column =
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

    (blockRows +: cached.result()).foreach(_.unpersist())
    VerifyFull.Report(verdicts, deletions.result())
  }
}
