package graft.commands

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.sql.Timestamp

import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.model.{BitcoinAdapter, Schemas}
import graft.sources.{ArchiveFs, AvroArchiveSink, AvroArchiveSource, MockS3FileSystem}

/** The archive's named crash windows. Each case kills a command at one
  * durable step through [[ArchiveFs]]'s crash plan (that step and every
  * mutation after it fail, as in a process kill), then heals the way an
  * operator would — rerun the command, `verifyFull(fixClean)`, `fixAvro` —
  * and compares with the same run without a crash:
  *   - the same `.avro` catalog and decoded content at the end;
  *   - no committed (kind, height) — readable right after the crash — is
  *     unreadable after any later step at which the run without a crash
  *     can read it.
  * Every case runs on `file://` (the java.nio branch) and `mocks3://` (the
  * Hadoop branch). Hidden temp orphans are allowed (removing them safely
  * needs a liveness rule) and reported.
  */
class ArchiveCrashSpec extends SparkSpec {
  import spark.implicits._

  private val N = 20L // heights 0..19: two chunks
  private val Chunk = 10L
  private def h64(n: Long) = f"$n%064x"
  private def json(h: Long, hash: String) =
    s"""{"hash":"$hash","previousblockhash":"${h64(h - 1)}","height":$h,"tx":["TX$hash"],"time":$h}"""

  private val headSchema = StructType(Seq(
    StructField("height", LongType), StructField("blockId", StringType),
    StructField("parentId", StringType), StructField("payload", StringType)))
  private def heads(hs: Seq[(Long, String)]): DataFrame =
    hs.map { case (h, hash) => (h, hash, h64(h - 1), json(h, hash)) }
      .toDF("height", "blockId", "parentId", "payload")
  private lazy val headsDir = {
    val d = Files.createTempDirectory("graft-crash-").resolve("heads").toString
    heads((0L until N).map(h => (h, h64(h)))).coalesce(1).write.parquet(d)
    d
  }
  /** Block records exactly as streamAvro builds them from a head. */
  private def blocks(hs: Seq[(Long, String)]): DataFrame = heads(hs).select(
    lit("BITCOIN").as("blockchainType"), lit("BITCOIN").as("blockchainId"),
    to_timestamp(lit(0)).as("archiveTimestamp"), col("height"), col("blockId"),
    col("parentId"), to_timestamp(col("height")).as("timestamp"),
    col("payload").cast("binary").as("json"), lit(0).as("unclesCount"),
    lit(null).cast("binary").as("uncle0Json"), lit(null).cast("binary").as("uncle1Json"))
  private def txes(hs: Seq[(Long, String)]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(hs.map { case (h, hash) =>
      Row("BITCOIN", "BTC", new Timestamp(0L), h, hash, new Timestamp(h), 0L, s"TX$hash",
        """{"ok":true}""".getBytes(UTF_8), Array[Byte](1), null, null, null)
    }, 2), Schemas.transaction)
  private val chain = (0L until N).map(h => (h, h64(h)))
  private lazy val rawBlocks = blocks(chain)
  private lazy val rawTxes = txes(chain)
  private lazy val canonical = chain.toDF("height", "hash")

  /** One run's archive (and stream checkpoint) on one scheme. */
  private final class Run(scheme: String) {
    val local = Files.createTempDirectory("graft-crash-").toString
    val dir = if (scheme == "file") local else s"mocks3:$local"
    val ckpt = Files.createTempDirectory("graft-crash-ckpt-").toString
  }

  private case class State(catalog: Seq[String], content: Seq[String],
      readable: Set[(String, Long)], orphans: Int)

  private def state(r: Run): State = {
    val all = ArchiveFs.files(ArchiveFs.fs(spark, r.dir), new Path(r.dir)).toSeq
    val avro = all.map(_.getPath.toString).filter(_.endsWith(".avro"))
    val rows = Seq("blocks", "txes").flatMap { k =>
      AvroArchiveSource.readArchiveFilesWithPath(spark,
        AvroArchiveSource.filesOfKind(spark, avro, k), k, lenient = true)
        .drop("_path").collect().map(k -> _)
    }
    def show(v: Any) = v match {
      case b: Array[Byte] => new String(b, UTF_8)
      case x              => String.valueOf(x)
    }
    State(avro.map(p => p.substring(p.indexOf(r.local) + r.local.length)).sorted,
      rows.map { case (k, row) => (k +: row.toSeq.map(show)).mkString("|") }.sorted,
      rows.map { case (k, row) => (k, row.getAs[Long]("height")) }.toSet,
      all.count(_.getPath.getName.startsWith(".graft-tmp-")))
  }

  /** A crash window: the archive's state before the command, the command,
    * and the crash plan that interrupts it. `open` names the checks the
    * window does not pass yet; they run as pending until they do.
    */
  private case class Window(name: String, command: Run => Unit,
      crash: () => ArchiveFs.Crash, setup: Run => Unit = _ => (),
      forkHashCol: Option[String] = None, open: Set[String] = Set.empty)

  /** verifyFull(fixClean) then fixAvro, with the state after each. */
  private def heal(w: Window, r: Run): Seq[State] = {
    VerifyFull.run(spark, r.dir, BitcoinAdapter, 0L, N - 1, canonical,
      VerifyFull.Options(fixClean = true, chunkSize = Chunk))
    val verified = state(r)
    Commands.fixAvro(spark, r.dir, Map("blocks" -> rawBlocks, "txes" -> rawTxes),
      0L, N - 1, forkHashCol = w.forkHashCol)
    Seq(verified, state(r))
  }

  /** States after the command, verify and fix of a run without a crash. */
  private def clean(w: Window): Seq[State] = {
    val r = new Run("file")
    w.setup(r)
    w.command(r)
    state(r) +: heal(w, r)
  }

  private case class Outcome(rerunError: Option[Throwable], end: State,
      lost: Seq[(String, Set[(String, Long)])])

  private def crashed(w: Window, scheme: String, cleanRun: Seq[State]): Outcome = {
    MockS3FileSystem.install(spark.sparkContext.hadoopConfiguration)
    val r = new Run(scheme)
    w.setup(r)
    val plan = w.crash()
    ArchiveFs.crashWith(Some(plan))
    val died = try Try(w.command(r)) finally ArchiveFs.crashWith(None)
    assert(died.isFailure && plan.fired, s"${w.name}: the crash plan never fired")
    val committed = state(r).readable
    val rerun = Try(w.command(r)).failed.toOption
    val after = state(r) +: heal(w, r)
    val lost = Seq("rerun", "verify", "fix").zip(after.zip(cleanRun)).map {
      case (step, (s, c)) => step -> ((committed & c.readable) -- s.readable)
    }.filter(_._2.nonEmpty)
    Outcome(rerun, after.last, lost)
  }

  /** The nth mutation of `step` (counted from 1), on any path. */
  private def nth(step: ArchiveFs.Step.Value, n: Int): () => ArchiveFs.Crash = () => {
    var seen = 0
    new ArchiveFs.Crash(step, _ => { seen += 1; seen == n })
  }
  private def named(step: ArchiveFs.Step.Value, p: String => Boolean): () => ArchiveFs.Crash =
    () => new ArchiveFs.Crash(step, path => p(path.getName))

  private def stream(r: Run): Unit =
    Commands.streamAvro(spark, headsDir, headSchema, r.dir, r.ckpt, rawTxes = Some(rawTxes))

  private def singles(r: Run, hs: Seq[(Long, String)]): Unit = {
    AvroArchiveSink.writeSingles(blocks(hs), "blocks", r.dir, forkHashCol = Some("blockId"))
    AvroArchiveSink.writeSingles(txes(hs), "txes", r.dir, forkHashCol = Some("blockId"))
  }

  private def v2Write(df: DataFrame, kind: String, r: Run): Unit =
    df.repartitionByRange(2, col("height")).write.format("avro-archive")
      .option("kind", kind).mode("append").save(r.dir)

  private val windows = Seq(
    Window("archiveAvro, claim → publish of a range",
      r => Seq("blocks" -> rawBlocks, "txes" -> rawTxes).foreach { case (k, df) =>
        Commands.archiveAvro(spark, df, r.dir, 0L, N - 1, Chunk, k)
      },
      named(ArchiveFs.Step.Publish, _ == "range-000000010_000000019.blocks.avro"),
      // the rerun keeps the empty claim; verify dooms it and fix re-archives
      // the chunk as singles
      open = Set("catalog")),
    Window("streamAvro, claim → publish of a block single", stream,
      named(ArchiveFs.Step.Publish, n => n.startsWith("000000012.") && n.endsWith(".block.avro")),
      // verify's fixClean dooms the empty claim's whole merge batch, so
      // committed neighbours are unreadable until fix
      forkHashCol = Some("blockId"), open = Set("committed")),
    Window("compactAvro, range landed and singles partly deleted",
      r => Commands.compactAvro(spark, r.dir, Chunk),
      nth(ArchiveFs.Step.Delete, 5), setup = singles(_, chain),
      forkHashCol = Some("blockId")),
    Window("streamAvro, block singles landed and txes singles not", stream,
      named(ArchiveFs.Step.Claim, _.endsWith(".txes.avro")),
      forkHashCol = Some("blockId")),
    Window("verifyFull(fixClean), halfway through its delete loop",
      r => VerifyFull.run(spark, r.dir, BitcoinAdapter, 0L, N - 1, canonical,
        VerifyFull.Options(fixClean = true, chunkSize = Chunk)),
      nth(ArchiveFs.Step.Delete, 3),
      setup = r => singles(r, chain ++ Seq(3L, 13L).map(h => (h, h64(1000 + h)))),
      forkHashCol = Some("blockId")),
    Window("V2 BatchWrite.commit, halfway through its claims",
      r => { v2Write(rawBlocks, "blocks", r); v2Write(rawTxes, "txes", r) },
      nth(ArchiveFs.Step.Claim, 2),
      // the rerun collides with its own landed range and fails; verify then
      // deletes that range as an incomplete group and fix re-archives singles
      open = Set("rerun", "committed", "catalog")))

  windows.foreach { w =>
    test(s"crash window: ${w.name}") {
      val cleanRun = clean(w)
      val outcomes = Seq("file", "mocks3").map { scheme =>
        val o = crashed(w, scheme, cleanRun)
        info(s"$scheme: rerun ${o.rerunError.fold("ok")(e => s"failed ($e)")}, " +
          s"${o.end.orphans} temp orphans left, committed heights lost ${o.lost}, " +
          s"${o.end.catalog.size} files against ${cleanRun.last.catalog.size} without a crash")
        o
      }
      val checks = Seq[(String, Outcome => Boolean)](
        "rerun" -> (_.rerunError.isEmpty),
        "committed" -> (_.lost.isEmpty),
        "catalog" -> (_.end.catalog == cleanRun.last.catalog),
        "content" -> (_.end.content == cleanRun.last.content))
      val (open, closed) = checks.partition(c => w.open(c._1))
      closed.foreach { case (name, ok) => assert(outcomes.forall(ok), s"$name: $outcomes") }
      if (open.nonEmpty) pendingUntilFixed {
        open.foreach { case (name, ok) => assert(outcomes.forall(ok), name) }
      }
    }
  }
}
