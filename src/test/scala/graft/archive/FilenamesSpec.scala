package graft.archive

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Mirrors the reference's filename round-trip tests
  * (src/archiver/filenames.rs:222-408). Every name also goes through the
  * plain-Scala parsers, which must agree with the column parsers.
  */
class FilenamesSpec extends SparkSpec {
  import spark.implicits._

  private val hash64 = "a" * 63 + "b"

  test("single path layout and round-trip parse") {
    val df = Seq(723743L, 0L, 999L, 1000L, 1000000L).toDF("h")
      .select(col("h"),
        Filenames.singlePath(col("h"), "blocks").as("path"),
        Filenames.singleFile(col("h"), "blocks").as("file"))
    val got = df.select(col("h"), col("path"),
        Filenames.parseStart(col("file")).as("s"),
        Filenames.parseEnd(col("file")).as("e"),
        Filenames.parseKind(col("file")).as("k"),
        Filenames.parseForkHash(col("file")).as("fh"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(2) === r.getLong(0), "start round-trip")
      assert(r.getLong(3) === r.getLong(0), "end round-trip")
      // written as the singular `block` suffix (filenames.rs:53), parsed
      // back to the canonical kind (datakind.rs:42)
      assert(r.getString(4) === "blocks")
      assert(r.isNullAt(5), "no fork hash")
      assertScalaAgrees(r.getString(1), r.getString(4), r.getLong(2), r.getLong(3),
        Option(r.getString(5)))
    }
    val p = got.find(_.getLong(0) == 723743L).get.getString(1)
    assert(p === "000000000/000723000/000723743.block.avro")
    assert(got.length === 5)
  }

  test("range file round-trip parse") {
    val df = Seq((723745L, 723749L)).toDF("s", "e")
      .select(Filenames.rangeFile(col("s"), col("e"), "blocks").as("file"),
        Filenames.rangePath(col("s"), col("e"), "blocks").as("path"))
    val r = df.select(col("file"), col("path"),
        Filenames.parseStart(col("file")).as("ps"),
        Filenames.parseEnd(col("file")).as("pe"),
        Filenames.parseKind(col("file")).as("k"),
        Filenames.isRange(col("file")).as("ir"))
      .head()
    assert(r.getString(0) === "range-000723745_000723749.blocks.avro")
    assert(r.getString(1) === "000000000/range-000723745_000723749.blocks.avro")
    assert(r.getLong(2) === 723745L && r.getLong(3) === 723749L)
    assert(r.getString(4) === "blocks" && r.getBoolean(5))
    Seq(r.getString(0), r.getString(1)).foreach(
      assertScalaAgrees(_, r.getString(4), r.getLong(2), r.getLong(3)))
  }

  test("forked single carries its 64-hex hash") {
    val df = Seq((723743L, hash64)).toDF("h", "hash")
      .select(Filenames.singleFile(col("h"), "blocks", Some(col("hash"))).as("file"))
    val r = df.select(
        Filenames.parseForkHash(col("file")).as("fh"),
        Filenames.parseKind(col("file")).as("k"),
        Filenames.parseStart(col("file")).as("s"),
        Filenames.parseEnd(col("file")).as("e"),
        col("file"))
      .head()
    assert(r.getString(0) === hash64)
    assert(r.getString(1) === "blocks")
    assert(r.getLong(2) === 723743L)
    assertScalaAgrees(r.getString(4), r.getString(1), r.getLong(2), r.getLong(3),
      Option(r.getString(0)))
  }

  test("reference-written names parse: aliases, codec segment, wide heights") {
    val cases = Seq(
      // (file, kind, start, end, fork)
      ("000000101.block.avro", "blocks", 101L, 101L, null),
      ("000000101.txes.avro", "txes", 101L, 101L, null),
      (s"000000101.$hash64.block.avro", "blocks", 101L, 101L, hash64),
      // optional codec segment (filenames.rs:8: `(\w+\.)?avro`)
      ("000000101.traces.gz.avro", "traces", 101L, 101L, null),
      ("range-000000100_000000199.txes.gz.avro", "txes", 100L, 199L, null),
      // padding overflows 9 digits past 1e9 (`\d+`, not `\d{9}`)
      ("1230000000.block.avro", "blocks", 1230000000L, 1230000000L, null),
      ("range-1230000000_1230000999.blocks.avro", "blocks", 1230000000L, 1230000999L, null))
    val df = cases.map(_._1).toDF("file")
      .select(col("file"),
        Filenames.parseKind(col("file")).as("k"),
        Filenames.parseStart(col("file")).as("s"),
        Filenames.parseEnd(col("file")).as("e"),
        Filenames.parseForkHash(col("file")).as("fh"))
    val got = df.collect().map(r => r.getString(0) -> r).toMap
    cases.foreach { case (f, k, s, e, fh) =>
      val r = got(f)
      assert(r.getString(1) === k, f)
      assert(r.getLong(2) === s, f)
      assert(r.getLong(3) === e, f)
      assert(Option(r.getString(4)) === Option(fh), f)
      assertScalaAgrees(f, r.getString(1), r.getLong(2), r.getLong(3), Option(r.getString(4)))
    }
  }

  test("unknown kinds and foreign names parse to null kind (reference: None)") {
    val df = Seq("000000101.wat.avro", "part-00001.snappy.parquet",
        "000000101.abc123.block.avro", "_SUCCESS")
      .toDF("file")
      .select(Filenames.parseKind(col("file")).as("k"), col("file"))
    // `abc123` is not a 64-hex hash, so that name reads as kind=abc123 →
    // rejected, same as the reference regex
    assert(df.collect().forall(_.isNullAt(0)))
    df.collect().foreach { r =>
      assert(Filenames.parseKindS(r.getString(1)) === None, r.getString(1))
      assert(Filenames.parseForkHashS(r.getString(1)) === None, r.getString(1))
    }
  }

  /** The plain-Scala parsers read `name` (a basename or a whole path) the
    * way the column parsers read its basename.
    */
  private def assertScalaAgrees(name: String, kind: String, s: Long, e: Long,
      forkHash: Option[String] = None): Unit = {
    assert(Filenames.parseKindS(name) === Some(kind), name)
    assert(Filenames.parseRangeS(name) === Some((s, e)), name)
    assert(Filenames.parseForkHashS(name) === forkHash, name)
  }
}
