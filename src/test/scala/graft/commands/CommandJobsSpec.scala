package graft.commands

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.archive.Filenames
import graft.model.Schemas
import graft.sources.{AvroArchiveSource, Containers}

/** Job pins per archive command: over the same archive shape at N and 10N
  * heights, a command runs the same number of Spark jobs — a job count that
  * grows with the archive is a per-file or per-chunk loop of jobs.
  */
class CommandJobsSpec extends SparkSpec {

  private val Chunk = 10L

  private def txRecords(h: Long): Seq[Map[String, Any]] =
    (0L to h % 3).map(i => Map("height" -> h, "index" -> i, "txid" -> s"TX$h-$i"))

  /** Heights [0, n) of blocks and txes (1–3 per height): the lower half in
    * chunk-aligned range files, the upper half in singles.
    */
  private def shape(n: Long): String = {
    val dir = Files.createTempDirectory(s"jobs-$n").toString
    val recordsOf = Map[String, Long => Seq[Map[String, Any]]](
      "blocks" -> (h => Seq(Map("height" -> h))), "txes" -> txRecords)
    recordsOf.foreach { case (kind, records) =>
      (0L until n / 2 by Chunk).foreach(s => Containers.write(dir,
        Filenames.relativeRangePath(s, s + Chunk - 1, kind), kind, (s until s + Chunk).flatMap(records)))
      (n / 2 until n).foreach(h =>
        Containers.write(dir, Filenames.relativeSinglePath(h, kind), kind, records(h)))
    }
    dir
  }

  private def frame(rows: Seq[Row], kind: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), Schemas.schemaFor(kind))

  private def blocks(hs: Seq[Long]): DataFrame = frame(hs.map(h =>
    Row("BITCOIN", "BTC", new Timestamp(0L), h, f"$h%064x", f"${h - 1}%064x",
      new Timestamp(h), "{}".getBytes("UTF-8"), 0, null, null)), "blocks")

  private def txes(hs: Seq[Long]): DataFrame = frame(hs.flatMap(h => txRecords(h).map(r =>
    Row("BITCOIN", "BTC", new Timestamp(0L), h, f"$h%064x", new Timestamp(h), r("index"),
      r("txid"), "{}".getBytes("UTF-8"), Array[Byte](1), null, null, null))), "txes")

  /** Jobs of `run` over the shape at 20 and 200 heights; `check` sees each
    * run's archive afterwards.
    */
  private def pin(run: (String, Long) => Unit)(check: (String, Long) => Unit): (Int, Int) = {
    val Seq(small, large) = Seq(20L, 200L).map { n =>
      val dir = shape(n)
      val jobs = jobsDuring(run(dir, n))
      check(dir, n)
      jobs
    }
    (small, large)
  }

  private def names(dir: String): Seq[String] =
    AvroArchiveSource.listAvroFiles(spark, dir).map(p => p.substring(p.lastIndexOf('/') + 1))

  test("job pin: compactAvro runs the same jobs at N and 10N heights, at most 6") {
    val (small, large) = pin((dir, _) => Commands.compactAvro(spark, dir, Chunk)) { (dir, n) =>
      // every chunk of both kinds ends as one range file
      assert(names(dir).size === n / Chunk * 2, s"n = $n")
      assert(names(dir).forall(_.startsWith("range-")), s"n = $n")
    }
    assert(small === large)
    assert(small <= 6)
  }

  test("job pin: archiveAvro runs the same jobs at N and 10N heights") {
    val (small, large) = pin((dir, n) =>
      Commands.archiveAvro(spark, blocks(n until 2 * n), dir, n, 2 * n - 1, Chunk)) { (dir, n) =>
      assert(names(dir).count(_.startsWith("range-")) === 2 * n / Chunk, s"n = $n")
    }
    assert(small === large)
    assert(small === 2)
  }

  test("job pin: fixAvro runs the same jobs at N and 10N heights") {
    // the fix window reaches one height past the archive's top
    val (small, large) = pin((dir, n) => Commands.fixAvro(spark, dir,
        Map("blocks" -> blocks(0L to n), "txes" -> txes(0L to n)), 0L, n)) { (dir, n) =>
      assert(AvroArchiveSource.readArchive(spark, dir, "blocks").count() === n + 1, s"n = $n")
    }
    assert(small === large)
    assert(small === 4)
  }

  test("job pin: a steady-state streamAvro batch runs the same jobs at N and 10N heights, 2") {
    import spark.implicits._
    val headSchema = StructType(Seq(
      StructField("height", LongType), StructField("blockId", StringType),
      StructField("parentId", StringType), StructField("payload", StringType)))
    // the stream follows heads above the archive's top, five heights per
    // batch: a warm-up batch, then the measured one
    val Seq(small, large) = Seq(20L, 200L).map { n =>
      val dir = shape(n)
      val headsDir = Files.createTempDirectory(s"jobs-heads-$n").toString
      val ckpt = Files.createTempDirectory(s"jobs-ckpt-$n").toString
      val raw = txes(0L until n + 10)
      def heads(b: Int): Unit =
        (n + 5 * b until n + 5 * b + 5).map(h => (h, f"$h%064x", f"${h - 1}%064x", "{}"))
          .toDF("height", "blockId", "parentId", "payload")
          .coalesce(1).write.mode("append").parquet(headsDir)
      def stream(): Unit =
        Commands.streamAvro(spark, headsDir, headSchema, dir, ckpt, rawTxes = Some(raw))
      heads(0)
      stream()
      heads(1)
      val jobs = jobsDuring(stream())
      val streamed = AvroArchiveSource.readArchive(spark, dir, "txes").filter(col("height") >= n)
      assert(streamed.count() === (n until n + 10).map(h => h % 3 + 1).sum, s"n = $n")
      jobs
    }
    assert(small === large)
    assert(small === 2)
  }
}
