package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.commands.Commands
import graft.model.Schemas

/** Every `stream`/`streamAvro` call starts a new streaming query, and Spark
  * runs each query in a clone of the session. The batches run in the parent
  * session ([[Streams.eachBatch]]), so a steady-state batch reuses the
  * generated classes of the batches before it instead of compiling them
  * again. The codegen counter is JVM-global: sbt runs a forked JVM's suites
  * one at a time, and each measured call is the only streaming query on the
  * session (asserted), so nothing else compiles inside a measured call.
  */
class StreamCodegenSpec extends SparkSpec {
  import spark.implicits._

  private val headSchema = StructType(Seq(
    StructField("height", LongType), StructField("blockId", StringType),
    StructField("parentId", StringType), StructField("payload", StringType)))
  private val BatchHeights = 5

  private def h64(n: Long) = f"$n%064x"

  /** Heads of batch `b`: five heights plus an orphaned fork at the first. */
  private def batchHeads(b: Int): Seq[(Long, String)] = {
    val hs = (0 until BatchHeights).map(i => 1000L + b * BatchHeights + i)
    hs.map(h => (h, h64(h))) :+ ((hs.head, h64(900000L + hs.head)))
  }

  private def writeHeads(dir: String, b: Int): Unit =
    batchHeads(b).map { case (h, id) => (h, id, h64(h - 1), s"""{"height":$h}""") }
      .toDF("height", "blockId", "parentId", "payload")
      .coalesce(1).write.mode("append").parquet(dir)

  /** One tx record per announced (height, blockId) of the first `n` batches. */
  private def rawTxes(n: Int): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize((0 until n).flatMap(batchHeads).map { case (h, id) =>
      Row("BITCOIN", "BTC", new Timestamp(0L), h, id, new Timestamp(h), 0L,
        s"TX$h", """{"ok":true}""".getBytes("UTF-8"), Array[Byte](1), null, null, null)
    }, 2), Schemas.transaction)

  /** Codegen compiles while `body` runs. */
  private def compilesDuring(body: => Unit): Long = {
    assert(spark.streams.active.isEmpty, "another streaming query would compile concurrently")
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  /** Runs `call` once per batch over fresh heads: two warm-up batches, then
    * three measured ones; returns each measured batch's (compiles, jobs).
    */
  private def steadyState(tag: String)(call: (String, String, String) => Unit): Seq[(Long, Int)] = {
    val heads = Files.createTempDirectory(s"graft-$tag-heads").toString
    val archive = Files.createTempDirectory(s"graft-$tag-archive").toString
    val ckpt = Files.createTempDirectory(s"graft-$tag-ckpt").toString
    (0 until 5).flatMap { b =>
      writeHeads(heads, b)
      if (b < 2) { call(heads, archive, ckpt); None }
      else {
        var jobs = 0
        val compiles = compilesDuring { jobs = jobsDuring(call(heads, archive, ckpt)) }
        Some((compiles, jobs))
      }
    }
  }

  test("a steady-state streamAvro batch compiles no generated code and runs 2 jobs") {
    val txes = rawTxes(5)
    val measured = steadyState("codegen-avro") { (heads, archive, ckpt) =>
      Commands.streamAvro(spark, heads, headSchema, archive, ckpt, rawTxes = Some(txes))
    }
    assert(measured.map(_._1) === Seq(0L, 0L, 0L), "codegen compiles per batch")
    assert(measured.map(_._2) === Seq(2, 2, 2), "Spark jobs per batch")
  }

  test("a steady-state stream batch compiles no generated code") {
    val measured = steadyState("codegen-parquet") { (heads, archive, ckpt) =>
      Commands.stream(spark, heads, headSchema, archive, ckpt)
    }
    assert(measured.map(_._1) === Seq(0L, 0L, 0L), "codegen compiles per batch")
  }
}
