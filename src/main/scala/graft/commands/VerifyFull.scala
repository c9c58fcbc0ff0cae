package graft.commands

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
import graft.archive.Catalog
import graft.model.{ChainAdapter, Schemas}
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
  *      txids, non-null payload fields (:648-783) — [[checkBatch]];
  *   4. per-kind-file-set deletion verdicts; --fix.clean widens any broken
  *      kind to the whole batch (:479-513); --dry-run suppresses deletes
  *      (:272-303, src/global.rs:48-57).
  *
  * Shape: the listing is already on the driver, so the filename passes run
  * there as plain loops, like the reference's; Spark runs only where
  * archive records are read. The reference checks one merge batch's tables
  * in one function under a semaphore of 4; here one cogroup brings each
  * batch's slim block and tx rows into one task, where [[checkBatch]] runs
  * every content check of the batch as plain Scala. Only the per-batch
  * counts reach the driver, which assembles the verdicts and the deletions
  * over catalog-sized data (same scale as the reference's deletion list).
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

  /** Every canonical (height, hash) row at `heights`, null hashes
    * included, read from the offline chain oracle in one small query.
    */
  private def canonicalRows(canonical: DataFrame, heights: Seq[Long]): Seq[(Long, String)] =
    canonical.filter(col("height").isin(heights: _*))
      .select(col("height").cast("long"), col("hash"))
      .collect().toSeq.map(r => r.getLong(0) -> r.getString(1))

  /** The canonical hash at each of `heights` (heights without a non-null
    * hash are absent).
    */
  def canonicalLookup(canonical: DataFrame)(heights: Seq[Long]): Map[Long, String] =
    canonicalRows(canonical, heights).filter(_._2 != null).toMap

  /** One decoded block record: its height and the hash, parent hash
    * (null where the JSON lacks them, or does not parse) and txids of its
    * JSON.
    */
  final case class BlockRec(height: Long, hash: String, parent: String, txids: Seq[String])

  /** One txes or traces record: its kind, its txid, and whether a payload
    * field the options require is null or empty (verify_field_non_null).
    */
  final case class TxRec(kind: String, txid: String, bad: Boolean)

  /** A batch's block checks; `topBad` is `None` when the batch has no
    * record at its end height or the chain has no row there.
    */
  final case class BlockCounts(n: Long, nd: Long, rangeViol: Long, badJson: Long,
      breaks: Long, topBad: Option[Long])

  /** A batch's checks of one tx kind against the txids its blocks expect. */
  final case class KindCounts(badNull: Long, n: Long, nd: Long, unexpected: Long,
      missing: Long)

  /** Everything the content checks count in one batch: the block counts if
    * it has block records, and the counts of each tx kind it has records of.
    */
  final case class BatchCounts(blocks: Option[BlockCounts], kinds: Map[String, KindCounts])

  /** Step 3 for one merge batch [gs, ge], the way verify_content checks a
    * batch's tables (verify.rs:516-577): coverage and duplicate heights,
    * range violations, unparsed JSON, chain links ((h).hash = (h+1).parent
    * over every pair of records), the top hash against every canonical
    * hash at `ge` (`canonicalAtEnd`), and per tx kind the payload checks,
    * duplicate, unexpected and missing txids against the txids the block
    * JSON lists (verify.rs:648-905). A null never matches, as in SQL.
    */
  def checkBatch(gs: Long, ge: Long, blocks: Iterable[BlockRec], txs: Iterable[TxRec],
      canonicalAtEnd: Seq[String]): BatchCounts = {
    val differ = (a: String, b: String) => a != null && b != null && a != b
    val bs = blocks.toIndexedSeq
    val byHeight = bs.groupBy(_.height)
    val tops = byHeight.getOrElse(ge, Nil)
    val blockCounts = if (bs.isEmpty) None else Some(BlockCounts(
      n = bs.size,
      nd = byHeight.size,
      rangeViol = bs.count(b => b.height < gs || b.height > ge),
      badJson = bs.count(b => b.hash == null || b.parent == null),
      breaks = bs.map(b => byHeight.getOrElse(b.height + 1, Nil)
        .count(next => differ(b.hash, next.parent)).toLong).sum,
      topBad =
        if (tops.isEmpty || canonicalAtEnd.isEmpty) None
        else Some(tops.map(t => canonicalAtEnd.count(differ(t.hash, _)).toLong).sum)))
    val expected = bs.flatMap(_.txids).filter(_ != null)
    val expectedSet = expected.toSet
    val kinds = txs.groupBy(_.kind).map { case (kind, rows) =>
      val ids = rows.map(_.txid).toSet
      kind -> KindCounts(
        badNull = rows.count(_.bad),
        n = rows.size,
        nd = (ids - null).size,
        unexpected = rows.count(r => !expectedSet(r.txid)),
        missing = expected.count(!ids(_)))
    }
    BatchCounts(blockCounts, kinds)
  }

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
    val liveRows = fates.live
    val filesOf: Map[String, Seq[String]] =
      liveRows.groupBy(_._2).map { case (k, v) => k -> v.map(_._1) }
    val batches = liveRows.groupBy(t => (t._3, t._4)).toSeq.sortBy(_._1)
    val txKinds = Seq("txes" -> opts.checkTxes, "traces" -> opts.checkTraces)
      .collect { case (k, true) => k }

    // ---- 3. every batch's content in one pass: the slim rows of each kind
    // (file→batch attribution is a broadcast LocalRelation), cogrouped by
    // batch, checked by checkBatch; only per-batch counts return
    val fileBatch = broadcast(liveRows.toDF("_path", "kind", "group_s", "group_e"))
    def read(kind: String): DataFrame = AvroArchiveSource
      .readArchiveFilesWithPath(spark, filesOf.getOrElse(kind, Seq.empty), kind,
        lenient = true) // a corrupt container = records stop → coverage dooms it
      .join(fileBatch.filter(col("kind") === kind).drop("kind"), Seq("_path"))
    val batchOf = (r: Row) => (r.getLong(0), r.getLong(1))
    val blockRecs = read("blocks")
      .withColumn("_p", adapter.parseBlock(col("json").cast("string")))
      .select(col("group_s"), col("group_e"), col("height"), adapter.blockHash(col("_p")),
        adapter.parentHash(col("_p")), adapter.txIds(col("_p")))
      .rdd.map(r => batchOf(r) -> BlockRec(r.getLong(2), r.getString(3), r.getString(4),
        Option(r.getSeq[String](5)).fold(Seq.empty[String])(_.toSeq)))
    val nonNullBin = (c: Column) => c.isNotNull && length(c) > 0 && c.cast("string") =!= "null"
    val payloadOk = Map(
      "txes" -> (nonNullBin(col("json")) && col("raw").isNotNull && length(col("raw")) > 0),
      "traces" -> ((if (opts.includeTrace) nonNullBin(col("traceJson")) else lit(true)) &&
        (if (opts.includeStateDiff) nonNullBin(col("stateDiffJson")) else lit(true))))
    val txRecs = txKinds.map { kind =>
      read(kind).select(col("group_s"), col("group_e"), col("txid"),
          when(payloadOk(kind), false).otherwise(true))
        .rdd.map(r => batchOf(r) -> TxRec(kind, r.getString(2), r.getBoolean(3)))
    }.reduceOption(_ union _).getOrElse(spark.sparkContext.emptyRDD[((Long, Long), TxRec)])
    // the top hash: every canonical row at each batch end with a block file
    val canonicalAtEnd = {
      val ends = liveRows.collect { case (_, "blocks", _, ge) => ge }.distinct
      if (ends.isEmpty) Map.empty[Long, Seq[String]]
      else canonicalRows(canonical, ends).groupBy(_._1).map { case (h, rs) => h -> rs.map(_._2) }
    }
    val counts: Map[(Long, Long), BatchCounts] =
      if (batches.isEmpty) Map.empty
      else blockRecs.cogroup(txRecs,
          new HashPartitioner(math.min(batches.size, spark.sparkContext.defaultParallelism)))
        .map { case ((gs, ge), (bs, ts)) =>
          (gs, ge) -> checkBatch(gs, ge, bs, ts, canonicalAtEnd.getOrElse(ge, Nil))
        }
        .collect().toMap

    // ---- 4. verdicts per batch, on the driver
    val noCounts = BatchCounts(None, Map.empty)
    val orNull = (v: Long) => if (v == 0) null else v // a count of no rows reads null
    val verdicts = batches.map { case ((gs, ge), fs) =>
      val files = Schemas.kinds.map(k => fs.count(_._2 == k).toLong) // blocks, txes, traces
      val c = counts.getOrElse((gs, ge), noCounts)
      val b = c.blocks.getOrElse(BlockCounts(0, 0, 0, 0, 0, None))
      val span = ge - gs + 1
      val blocksOk = files.head > 0 && b.n == span && b.nd == span && b.rangeViol == 0 &&
        b.badJson == 0 && b.breaks == 0 && b.topBad.forall(_ == 0)
      val kindOk = (kind: String, nFiles: Long) => !txKinds.contains(kind) || nFiles == 0 ||
        c.kinds.get(kind).forall(k =>
          k.badNull == 0 && k.unexpected == 0 && k.missing == 0 && k.nd == k.n)
      val flags = (files.head == 0, blocksOk, kindOk("txes", files(1)), kindOk("traces", files(2)))
      val row = Row.fromSeq(Seq(gs, ge) ++ files ++
        c.blocks.fold(Seq.fill[Any](6)(null))(b => Seq(b.n, b.nd, b.rangeViol, b.badJson,
          orNull(b.breaks), b.topBad.getOrElse(null))) ++
        txKinds.flatMap(k => c.kinds.get(k).fold(Seq.fill[Any](5)(null))(t =>
          Seq(t.badNull, t.n, t.nd, orNull(t.unexpected), orNull(t.missing)))) ++
        flags.productIterator)
      ((gs, ge), flags, row)
    }
    val schema = StructType(
      Seq("group_s", "group_e", "f_blocks", "f_txes", "f_traces")
        .map(StructField(_, LongType, nullable = false)) ++
      (Seq("b_n", "b_nd", "b_range_viol", "b_bad_json", "b_breaks", "b_top_bad") ++
        txKinds.flatMap(k => Seq("bad_null", "n", "nd", "unexpected", "missing")
          .map(c => s"${k}_$c"))).map(StructField(_, LongType)) ++
      Seq("no_block_file", "blocks_ok", "txes_ok", "traces_ok")
        .map(StructField(_, BooleanType, nullable = false)))

    // deletion verdicts per kind-file-set (verify_content, verify.rs:516-577):
    //   no blocks file          → every OTHER table in the batch goes
    //   blocks corrupt          → blocks files go; txes/traces unverifiable, kept
    //   blocks ok, kind corrupt → that kind's files go
    //   fix.clean               → any of the above widens to the whole batch
    val flagsOf = verdicts.map(v => v._1 -> v._2).toMap
    def kindReason(kind: String, f: (Boolean, Boolean, Boolean, Boolean)): Option[String] = {
      val (noBlock, bOk, tOk, trOk) = f
      if (noBlock && kind != "blocks") Some("no-block-file")
      else if (!noBlock && !bOk && kind == "blocks") Some("blocks-corrupt")
      else if (bOk && !tOk && kind == "txes") Some("txes-corrupt")
      else if (bOk && !trOk && kind == "traces") Some("traces-corrupt")
      else None
    }
    val perFile = liveRows.map { case (p, k, gs, ge) =>
      (p, gs, ge, kindReason(k, flagsOf((gs, ge))))
    }
    val badBatches = perFile.collect { case (_, gs, ge, Some(_)) => (gs, ge) }.toSet
    val toDelete = fates.deletions ++ (
      if (!opts.fixClean) perFile.collect { case (p, _, _, Some(r)) => (p, r) }
      else perFile.collect {
        case (p, gs, ge, r) if badBatches((gs, ge)) => (p, r.getOrElse("fix-clean"))
      })
    if (!opts.dryRun) ArchiveFs.delete(spark, toDelete.map(d => new Path(d._1)))
    Report(spark.createDataFrame(verdicts.map(_._3).asJava, schema), toDelete)
  }
}
