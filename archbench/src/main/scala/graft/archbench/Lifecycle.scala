package graft.archbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.archive.{Catalog, Filenames}
import graft.commands.{Commands, VerifyFull}
import graft.model.BitcoinAdapter
import graft.sources.{AvroArchiveSink, AvroArchiveSource}

/** `archive-lifecycle`: the reference's operating loop on its own Avro
  * layout. One pass, in a fresh directory:
  *
  *  1. `archiveAvro` backfills [0, A) for blocks and txes with one height
  *     missing inside one chunk (the damaged chunk);
  *  2. `streamAvro` archives the next `Batches` head batches, each with one
  *     orphaned fork that carries its own txes;
  *  3. `verifyFull(fixClean)` deletes every fork file and the damaged
  *     chunk's two range files;
  *  4. `fixAvro` heals the damaged chunk for both kinds;
  *  5. `compactAvro` merges every chunk of singles into range files;
  *  6. `verifyFull(dryRun)` must find nothing to delete.
  *
  * Steps 5 and 6 run only with `compact` (workload
  * `archive-lifecycle-compact`, which is not in BENCHMARK.json):
  * `compactAvro` never compacts a txes chunk whose blocks carry more than
  * one tx (it judges a chunk complete by row count), so both checks fail.
  *
  * Every expected count is derived from the generator, never from the
  * program's output.
  */
object Lifecycle {
  val Chunk = 20L
  val ArchChunks = 6
  val Batches = 8
  val BatchHeights = 5
  val SetupRepeats = 3

  val A: Long = ArchChunks * Chunk
  val End: Long = A + Batches.toLong * BatchHeights - 1 // last canonical height
  require((End + 1) % Chunk == 0, "the stream must end on a chunk boundary")

  final case class Fixture(
      chain: Chain,
      missing: Long,
      forkAt: IndexedSeq[Long],
      archBlocks: DataFrame, archTxes: DataFrame,
      allBlocks: DataFrame, allTxes: DataFrame,
      streamTxes: DataFrame, canonical: DataFrame,
      stagedHeads: IndexedSeq[Path]) {
    def damagedChunk: Long = missing / Chunk
    def batchHeights(b: Int): Seq[Long] =
      (A + b.toLong * BatchHeights) until (A + (b + 1).toLong * BatchHeights)
  }

  private def fixture(spark: SparkSession, chain: Chain, dir: String): Fixture = {
    import spark.implicits._
    val rnd = new scala.util.Random(chain.seed)
    val damaged = rnd.nextInt(ArchChunks)
    val missing = damaged * Chunk + 1 + rnd.nextInt(Chunk.toInt - 2)
    val forkAt = (0 until Batches).map(b => A + b.toLong * BatchHeights + rnd.nextInt(BatchHeights))
    val canonKeys = (0L to End).map(h => (h, 0))
    val streamKeys = (A to End).map(h => (h, 0)) ++ forkAt.map(h => (h, 1))
    // every batch's head file comes from one write, one file per batch
    val headKeys = (0 until Batches).flatMap { b =>
      (A + b.toLong * BatchHeights until A + (b + 1).toLong * BatchHeights).map(h => (h, 0)) :+
        ((forkAt(b), 1))
    }
    Chain.heads(spark, chain, headKeys)
      .withColumn("batch", floor((col("height") - A) / BatchHeights).cast("int"))
      .repartition(1).write.partitionBy("batch").parquet(dir)
    val stagedHeads = (0 until Batches).map { b =>
      Files.list(Paths.get(dir, s"batch=$b")).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
    }
    // records are generated inside the tasks that read them (cheap and
    // deterministic), so no phase reads a cache another phase filled
    val allBlocks = Chain.blocks(spark, chain, canonKeys)
    val allTxes = Chain.txes(spark, chain, canonKeys)
    val notMissing = col("height") < A && col("height") =!= missing
    Fixture(chain, missing, forkAt,
      allBlocks.filter(notMissing), allTxes.filter(notMissing), allBlocks, allTxes,
      Chain.txes(spark, chain, streamKeys),
      canonKeys.map { case (h, _) => (h, chain.hash(h)) }.toDF("height", "hash"),
      stagedHeads)
  }

  /** Every file under `dir`, relative to it. */
  private def listTree(dir: String): Seq[String] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Seq.empty
    else Files.walk(root).iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString).toSeq
  }

  private def treeBytes(dir: String): Long = {
    val root = Paths.get(dir)
    Files.walk(root).iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  private def isArchiveFile(rel: String): Boolean = rel.endsWith(".avro")
  /** Anything but an archive file or its checksum sidecar. */
  private def isStray(rel: String): Boolean = {
    val base = rel.substring(rel.lastIndexOf('/') + 1)
    !(isArchiveFile(base) || (base.startsWith(".") && base.endsWith(".avro.crc")))
  }
  private def baseName(p: String) = p.substring(p.lastIndexOf('/') + 1)

  private def single(h: Long, kind: String, hash: Option[String]) =
    Filenames.relativeSinglePath(h, kind, hash)
  private def range(s: Long, e: Long, kind: String) = Filenames.relativeRangePath(s, e, kind)

  final case class PassTimes(total: Main.Cost, phases: Seq[(String, Double)],
      batches: Seq[Main.Cost])

  def run(spark: SparkSession, args: Main.Args, out: Result, compact: Boolean): Unit = {
    val chain = Chain(args.seed)
    var fx: Fixture = null
    out.fixtureSetupS = (0 until SetupRepeats).map { _ =>
      Main.rmrf(s"${args.workDir}/heads-stage")
      Main.cost { fx = fixture(spark, chain, s"${args.workDir}/heads-stage") }._2.cpuS
    }
    if (args.trace) {
      val trace = Trace.install(spark)
      val p = runPass(spark, fx, s"${args.workDir}/lc", compact, Some(trace), out)
      trace.close()
      out.metric("trace.overhead_s", trace.overheadS, "s")
      Main.report(out, Seq(p.total), p.batches, traced = true)
      // the read side of the archive layers (archive-query is not gated)
      Query.layerProbe(spark, args.seed, s"${args.workDir}/query", out)
    } else {
      val passes = Seq.newBuilder[PassTimes]
      var pass = 0
      val t0 = System.nanoTime()
      while (pass == 0 || (System.nanoTime() - t0) / 1e9 < args.seconds) {
        passes += runPass(spark, fx, s"${args.workDir}/lc$pass", compact, None, out)
        pass += 1
      }
      // latency percentiles over the stream batches: the one operation a
      // pass repeats (the other phases run once each and differ in kind)
      val ps = passes.result()
      Main.report(out, ps.map(_.total), ps.flatMap(_.batches), traced = false)
    }
  }

  /** One full lifecycle in `dir`; checks every phase's output. */
  private def runPass(spark: SparkSession, fx: Fixture, dir: String, compact: Boolean,
      trace: Option[Trace], out: Result): PassTimes = {
    import spark.implicits._
    val archive = s"$dir/archive"
    val heads = s"$dir/heads"
    val ckpt = s"$dir/ckpt"
    Files.createDirectories(Paths.get(heads))
    val chain = fx.chain
    val phases = Seq.newBuilder[(String, Double)]
    val tPass = System.nanoTime()
    val cPass = Main.cpuS
    var before: Set[String] = Set.empty
    def phase[T](name: String)(f: => T): T = {
      trace.foreach(t => before = t.overhead(listTree(archive).toSet))
      val (v, s) = Main.timed(Trace.scoped(trace, name)(f))
      phases += name -> s
      trace.foreach(t => t.overhead(phaseCounters(t, name, s, before, listTree(archive).toSet, out)))
      v
    }
    def check(name: String, ok: Boolean, detail: => String): Unit = {
      out.attempted += 1
      out.check(name, ok, detail)
    }

    // 1. archive: backfill [0, A) with one height missing
    val (nBlocks, nTxes) = phase("archive") {
      (Commands.archiveAvro(spark, fx.archBlocks, archive, 0L, A - 1, Chunk, "blocks"),
        Commands.archiveAvro(spark, fx.archTxes, archive, 0L, A - 1, Chunk, "txes"))
    }
    val expTxes = (0L until A).filter(_ != fx.missing).map(chain.txCount(_)).sum.toLong
    val rangesNow = listTree(archive).filter(isArchiveFile).toSet
    val expRanges = (0 until ArchChunks).flatMap { c =>
      Seq("blocks", "txes").map(k => range(c * Chunk, c * Chunk + Chunk - 1, k)) }
    check("archive", nBlocks == A - 1 && nTxes == expTxes && expRanges.forall(rangesNow),
      s"blocks $nBlocks/${A - 1} txes $nTxes/$expTxes ranges " +
        s"${expRanges.count(rangesNow)}/${expRanges.size}")

    // 2. stream: one head file per batch, each batch with one orphaned fork
    val batchTimes = Seq.newBuilder[Main.Cost]
    phase("stream") {
      (0 until Batches).foreach { b =>
        Files.copy(fx.stagedHeads(b), Paths.get(heads, f"batch-$b%03d.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        val (_, s) = Main.cost(Trace.scoped(trace, s"stream.$b") {
          Commands.streamAvro(spark, heads, Chain.headSchema, archive, ckpt,
            rawTxes = Some(fx.streamTxes))
        })
        batchTimes += s
        val want = (fx.batchHeights(b).map(h => (h, 0)) :+ ((fx.forkAt(b), 1))).flatMap {
          case (h, f) => Seq("blocks", "txes").map(k => single(h, k, Some(chain.hash(h, f)))) }
        val missingFiles = want.filterNot(p => Files.exists(Paths.get(archive, p)))
        check(s"stream.$b", missingFiles.isEmpty, s"missing ${missingFiles.take(3)}")
      }
    }

    // 3. verify --fix.clean: forks and the damaged chunk go, nothing else
    val damagedS = fx.damagedChunk * Chunk
    val report = phase("verify") {
      val r = Commands.verifyFull(spark, archive, BitcoinAdapter, 0L, End, fx.canonical,
        VerifyFull.Options(fixClean = true, chunkSize = Chunk))
      (r.deleted, r.batches.select(col("blocks_ok") && col("txes_ok")).as[Boolean].collect())
    }
    val expDeleted = (fx.forkAt.flatMap(h => Seq("blocks", "txes").map(k =>
        baseName(single(h, k, Some(chain.hash(h, 1)))))) ++
      Seq("blocks", "txes").map(k => baseName(range(damagedS, damagedS + Chunk - 1, k)))).toSet
    val gotDeleted = report._1.map(d => baseName(d._1)).toSet
    check("verify", gotDeleted == expDeleted && report._2.count(!_) == 1,
      s"deleted ${gotDeleted.size}/${expDeleted.size} (unexpected " +
        s"${(gotDeleted -- expDeleted).take(3)}, kept ${(expDeleted -- gotDeleted).take(3)}), " +
        s"bad batches ${report._2.count(!_)}/1")
    trace.foreach { _ =>
      out.metric("archive.verify.batches", report._2.length, "count")
      out.metric("archive.verify.bad_batches", report._2.count(!_), "count")
    }

    // 4. fix: the damaged chunk is re-archived for both kinds
    val healed = phase("fix") {
      Commands.fixAvro(spark, archive,
        Map("blocks" -> fx.allBlocks, "txes" -> fx.allTxes), 0L, End)
        .as[(String, Long)].collect().toSet
    }
    val expHealed = (damagedS until damagedS + Chunk).flatMap(h =>
      Seq(("blocks", h), ("txes", h))).toSet
    check("fix", healed == expHealed,
      s"healed ${healed.size}/${expHealed.size}, unexpected ${(healed -- expHealed).take(3)}")

    trace.foreach(t => t.overhead(probeSingles(spark, archive, out)))

    // 5. compact (archive-lifecycle-compact only): one range per (kind,
    // chunk), no single left
    if (compact) {
      def ranges(files: Seq[String]) = files.count(p => baseName(p).startsWith("range-"))
      val rangesBefore = ranges(listTree(archive).filter(isArchiveFile))
      phase("compact") {
        val (verdicts, deleted) = Commands.compactAvro(spark, archive, Chunk)
        verdicts.count()
        deleted.size
      }
      val afterCompact = listTree(archive).filter(isArchiveFile)
      val allRanges = (0L to End / Chunk).flatMap(c => Seq("blocks", "txes").map(k =>
        range(c * Chunk, c * Chunk + Chunk - 1, k))).toSet
      val singlesLeft = afterCompact.count(p => !baseName(p).startsWith("range-"))
      check("compact", afterCompact.toSet == allRanges,
        s"ranges ${afterCompact.count(allRanges)}/${allRanges.size}, singles left $singlesLeft")
      trace.foreach { _ =>
        out.metric("archive.compact.ranges_written", ranges(afterCompact) - rangesBefore, "count")
        out.metric("archive.compact.singles_left", singlesLeft, "count")
      }

      // 6. final verify (dry run): nothing left to delete, every batch sound
      val finalReport = phase("verify_final") {
        val r = Commands.verifyFull(spark, archive, BitcoinAdapter, 0L, End, fx.canonical,
          VerifyFull.Options(dryRun = true, chunkSize = Chunk))
        (r.deleted, r.batches.select(col("blocks_ok") && col("txes_ok")).as[Boolean].collect())
      }
      check("verify_final", finalReport._1.isEmpty && finalReport._2.forall(identity),
        s"would delete ${finalReport._1.size} files (${finalReport._1.take(2)}), " +
          s"bad batches ${finalReport._2.count(!_)}")
    }

    val total = Main.Cost((System.nanoTime() - tPass) / 1e9, Main.cpuS - cPass)
    System.err.println(f"archbench lifecycle pass ${total.wallS}%.2fs phases " +
      phases.result().map { case (n, t) => f"$n=$t%.2f" }.mkString(" ") +
      " batches " + batchTimes.result().map(t => f"${t.wallS}%.2f").mkString(","))
    trace.foreach(_ => endState(spark, fx, archive, phases.result(), out))
    PassTimes(total, phases.result(), batchTimes.result())
  }

  /** Per-phase Spark and file counters (traced pass only). */
  private def phaseCounters(t: Trace, name: String, s: Double,
      before: Set[String], after: Set[String], out: Result): Unit = {
    val c = t.get(name)
    val streamBatches = if (name == "stream") (0 until Batches).map(b => t.get(s"stream.$b")) else Nil
    val jobs = c.jobs + streamBatches.map(_.jobs).sum
    val tasks = c.tasks + streamBatches.map(_.tasks).sum
    val cpu = c.cpuNs + streamBatches.map(_.cpuNs).sum
    out.metric(s"commands.$name.s", s, "s")
    out.metric(s"commands.$name.jobs", jobs, "count")
    out.metric(s"commands.$name.tasks", tasks, "count")
    out.metric(s"commands.$name.cpu_s", cpu / 1e9, "s")
    out.metric(s"commands.$name.files_written", (after -- before).count(!isStray(_)), "count")
    out.metric(s"commands.$name.files_deleted", (before -- after).count(!isStray(_)), "count")
    if (Set("verify", "fix", "compact")(name))
      out.metric(s"commands.$name.shuffle_bytes", c.shuffleBytes, "bytes")
    if (name == "stream") {
      out.metric("streaming.batch_jobs", Main.median(streamBatches.map(_.jobs.toDouble)), "count")
      out.metric("streaming.batch_tasks", Main.median(streamBatches.map(_.tasks.toDouble)), "count")
    }
  }

  /** Decode and write probes of the sources layer on this pass's singles
    * (after fix, before compact, when every chunk's singles exist).
    */
  private def probeSingles(spark: SparkSession, archive: String, out: Result): Unit = {
    val singles = AvroArchiveSource.filesOfKind(spark,
      AvroArchiveSource.listAvroFiles(spark, archive), "blocks")
      .filterNot(p => baseName(p).startsWith("range-"))
    val (_, decodeS) = Main.timed {
      AvroArchiveSource.readArchiveFiles(spark, singles, "blocks")
        .write.format("noop").mode("overwrite").save()
    }
    out.metric("sources.decode_ms_per_file.singles", decodeS * 1e3 / singles.size, "ms")
  }

  /** Listing, catalog and file-count probes of an archive directory
    * (medians of 5); returns the listing.
    */
  def listingProbes(spark: SparkSession, dir: String, out: Result): Seq[String] = {
    import spark.implicits._
    val lists = (0 until 5).map(_ => Main.timed(AvroArchiveSource.listAvroFiles(spark, dir)))
    out.metric("sources.list_ms", Main.median(lists.map(_._2)) * 1e3, "ms")
    out.metric("sources.list_entries", lists.head._1.size, "count")
    val tree = listTree(dir)
    out.metric("sources.stray_files", tree.count(isStray), "count")
    out.metric("archive.files_total", tree.count(isArchiveFile), "count")
    val cat = (0 until 5).map(_ => Main.timed(
      Catalog.withParsedNames(lists.head._1.toDF("path")).filter(col("kind").isNotNull).count())._2)
    out.metric("archive.catalog_ms", Main.median(cat) * 1e3, "ms")
    lists.head._1
  }

  /** Listing, catalog, storage and write-probe numbers of the end state. */
  private def endState(spark: SparkSession, fx: Fixture, archive: String,
      phases: Seq[(String, Double)], out: Result): Unit = {
    listingProbes(spark, archive, out)
    val payload = fx.chain.payloadBytes((0L to End).map(h => (h, 0)))
    out.metric("archive.stored_bytes_per_payload_byte", treeBytes(archive).toDouble / payload, "ratio")
    out.metric("commands.archive.blocks_per_s",
      (A - 1) / phases.find(_._1 == "archive").get._2, "1/s")

    // write probes: singles (the stream/fix shape) and chunked ranges
    val probe = s"$archive-probe"
    val keys = (0L until 200L).map(h => (h, 0))
    val rows = Chain.blocks(spark, fx.chain, keys).cache()
    rows.count()
    val (nSingles, singlesS) = Main.timed(AvroArchiveSink.writeSingles(rows, "blocks", s"$probe/s"))
    val (_, rangesS) = Main.timed(AvroArchiveSink.writeChunked(
      rows.withColumn("chunk", floor(col("height") / 20).cast("long")), "blocks", s"$probe/r", "chunk"))
    rows.unpersist()
    require(nSingles == keys.size, s"write probe landed $nSingles/${keys.size}")
    out.metric("sources.write_ms_per_file.singles", singlesS * 1e3 / keys.size, "ms")
    out.metric("sources.write_ms_per_file.ranges", rangesS * 1e3 / (keys.size / 20), "ms")
  }
}
