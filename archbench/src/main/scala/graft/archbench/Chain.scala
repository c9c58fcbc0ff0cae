package graft.archbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.model.Schemas

/** Seeded Bitcoin-shaped chain: every value is a pure function of
  * (seed, height, fork), so the benchmark can derive every expected answer
  * without reading the program's output. Fork 0 is the canonical chain; a
  * fork-1 block at height h is an orphan sibling of the canonical block
  * (same parent, its own hash and its own 1–4 txes).
  */
final case class Chain(seed: Long) {

  private def sha(s: String): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))

  private def hex(b: Array[Byte]): String = {
    val sb = new StringBuilder(b.length * 2)
    b.foreach(x => sb.append(f"${x & 0xff}%02x"))
    sb.toString
  }

  def hash(h: Long, fork: Int = 0): String = hex(sha(s"$seed/block/$h/$fork"))

  def parent(h: Long): String = if (h == 0) "00" * 32 else hash(h - 1)

  /** 1 to 4 txes per block, seeded per (height, fork). */
  def txCount(h: Long, fork: Int = 0): Int =
    1 + (sha(s"$seed/ntx/$h/$fork")(0) & 3)

  def txid(h: Long, fork: Int, i: Int): String = hex(sha(s"$seed/tx/$h/$fork/$i"))

  def txids(h: Long, fork: Int = 0): Seq[String] = (0 until txCount(h, fork)).map(txid(h, fork, _))

  def blockJson(h: Long, fork: Int = 0): String = {
    val id = hash(h, fork)
    val txs = txids(h, fork).map(t => "\"" + t + "\"").mkString(",")
    s"""{"hash":"$id","confirmations":${1 + h % 7},"size":${900 + h % 311},""" +
      s""""height":$h,"version":536870912,"merkleroot":"${hex(sha(s"$id/m"))}",""" +
      s""""tx":[$txs],"time":${1600000000L + h * 600},"nonce":${h * 7919 % 100003},""" +
      s""""bits":"1703a30c","difficulty":55621444139429.57,""" +
      s""""previousblockhash":"${parent(h)}"}"""
  }

  def txJson(h: Long, fork: Int, i: Int): String = {
    val t = txid(h, fork, i)
    s"""{"txid":"$t","hash":"$t","version":2,"size":${200 + (h + i) % 97},""" +
      s""""locktime":0,"vin":[{"txid":"${hex(sha(s"$t/in"))}","vout":$i,""" +
      s""""sequence":4294967295}],"vout":[{"value":${(h % 1000) + i}.5,"n":0,""" +
      s""""scriptPubKey":{"type":"witness_v0_keyhash"}}]}"""
  }

  def txRaw(h: Long, fork: Int, i: Int): Array[Byte] =
    sha(s"${txid(h, fork, i)}/raw") ++ sha(s"${txid(h, fork, i)}/raw2")

  private val ts0 = new Timestamp(0L)
  private def blockTs(h: Long) = new Timestamp((1600000000L + h * 600) * 1000L)

  /** A block in the archive's block schema. */
  def blockRow(h: Long, fork: Int = 0): Row =
    Row("BITCOIN", "BTC", ts0, h, hash(h, fork), parent(h), blockTs(h),
      blockJson(h, fork).getBytes(UTF_8), 0, null, null)

  /** The block's txes in the archive's transaction schema. */
  def txRows(h: Long, fork: Int = 0): Seq[Row] = (0 until txCount(h, fork)).map { i =>
    Row("BITCOIN", "BTC", ts0, h, hash(h, fork), blockTs(h), i.toLong, txid(h, fork, i),
      txJson(h, fork, i).getBytes(UTF_8), txRaw(h, fork, i),
      s"addr-${h % 977}", s"addr-${(h + i) % 983}", null)
  }

  /** A raw head event (height, blockId, parentId, payload) for the stream. */
  def headRow(h: Long, fork: Int = 0): Row =
    Row(h, hash(h, fork), parent(h), blockJson(h, fork))

  /** Bytes of generated block and tx JSON for `blocks` (the stored-size base). */
  def payloadBytes(blocks: Seq[(Long, Int)]): Long = blocks.map { case (h, f) =>
    blockJson(h, f).length.toLong +
      (0 until txCount(h, f)).map(i => txJson(h, f, i).length.toLong).sum
  }.sum
}

object Chain {
  val headSchema: StructType = StructType(Seq(
    StructField("height", LongType), StructField("blockId", StringType),
    StructField("parentId", StringType), StructField("payload", StringType)))

  /** (height, fork) keys → DataFrame of block records, generated in tasks. */
  def blocks(spark: SparkSession, chain: Chain, keys: Seq[(Long, Int)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(keys, slices(keys.size)).map { case (h, f) => chain.blockRow(h, f) },
      Schemas.block)

  def txes(spark: SparkSession, chain: Chain, keys: Seq[(Long, Int)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(keys, slices(keys.size)).flatMap { case (h, f) => chain.txRows(h, f) },
      Schemas.transaction)

  def heads(spark: SparkSession, chain: Chain, keys: Seq[(Long, Int)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(keys, 1).map { case (h, f) => chain.headRow(h, f) },
      headSchema)

  private def slices(n: Int): Int = math.max(1, math.min(16, n / 2000))
}
