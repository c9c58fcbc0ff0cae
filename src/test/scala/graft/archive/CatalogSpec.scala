package graft.archive

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Mirrors the reference's find_incomplete_tables / range-group scenarios
  * (src/storage/mod.rs:260-611, src/archiver/range_group.rs).
  */
class CatalogSpec extends SparkSpec {
  import spark.implicits._

  private def catalogOf(files: String*) =
    Catalog.withParsedNames(files.toDF("path"))

  // fork hashes in filenames are always the full 64-hex block hash
  // (reference RE_SINGLE pins `[a-f0-9]{64}`, filenames.rs:8)
  private def h64(seed: Char) = seed.toString * 64

  test("parse mixed singles and ranges from paths") {
    val c = catalogOf(
      "/a/000000000/000000000/000000100.blocks.avro",
      "/a/000000000/range-000000200_000000299.txes.avro",
      s"/a/000000000/000000000/000000101.${h64('a')}.blocks.avro")
      .orderBy("start_h").collect()
    assert(c.map(_.getAs[Long]("start_h")).toSeq === Seq(100L, 101L, 200L))
    assert(c.map(_.getAs[Long]("end_h")).toSeq === Seq(100L, 101L, 299L))
    assert(c.map(_.getAs[String]("kind")).toSeq === Seq("blocks", "blocks", "txes"))
    assert(c.map(_.getAs[String]("fork_hash")).toSeq === Seq(null, h64('a'), null))
  }

  test("groupTables flags duplicates and incomplete groups") {
    val g = Catalog.groupTables(catalogOf(
      "/a/000000100.blocks.avro", "/a/000000100.txes.avro",      // complete
      "/a/000000101.blocks.avro",                                 // missing txes
      "/a/000000102.blocks.avro", s"/a/000000102.${h64('a')}.blocks.avro", // duplicate blocks
      "/a/000000102.txes.avro"))
      .orderBy("start_h").collect()
    assert(g.map(_.getAs[Boolean]("complete")).toSeq === Seq(true, false, true))
    assert(g.map(_.getAs[Boolean]("duplicate")).toSeq === Seq(false, false, true))
  }

  test("missingHeights: gaps vs mixed single+range coverage") {
    val c = catalogOf(
      "/a/000000010.blocks.avro",
      "/a/range-000000012_000000014.blocks.avro",
      "/a/000000017.blocks.avro")
    val missing = Catalog.missingHeights(spark, c, 10L, 18L)
      .orderBy("height").as[Long].collect().toSeq
    assert(missing === Seq(11L, 15L, 16L, 18L))
  }

  test("mergeSmall batches adjacent small ranges, leaves large ones alone") {
    // reference scenarios (verify.rs:237-267): contiguous singles batch
    // together; a big range keeps its own group; gaps split batches
    val spans = ((0L to 5L).map(h => (h, h)) ++ Seq(
      (100L, 999L), (1000L, 1000L), (1001L, 1001L), (2000L, 2000L)))
      .map { case (s, e) => Catalog.Span(s, e) }.toIndexedSeq
    val g = spans.map(_.start).zip(Catalog.mergeSmall(spans, threshold = 10L, chunkSize = 1000L))
      .map { case (s, (gs, ge)) => (s, gs, ge) }
    assert(g.filter(_._1 <= 5L).forall(x => x._2 === 0L && x._3 === 5L))
    assert(g.find(_._1 == 100L).get === ((100L, 100L, 999L)))
    assert(g.find(_._1 == 1000L).get === ((1000L, 1000L, 1001L)))
    assert(g.find(_._1 == 1001L).get === ((1001L, 1000L, 1001L)))
    assert(g.find(_._1 == 2000L).get === ((2000L, 2000L, 2000L)))
  }

  test("mergeSmall batches never cross a chunk") {
    // 8..12 are contiguous small singles, but 10 starts chunk 1 (size 10):
    // the batch breaks there, like the reference's per-chunk verify
    // (verify.rs:414 split_chunks). A range is judged in its start chunk,
    // and an unmergeable span stands alone even when small.
    val spans = IndexedSeq(
      Catalog.Span(8L, 8L), Catalog.Span(9L, 9L), Catalog.Span(10L, 10L),
      Catalog.Span(11L, 11L), Catalog.Span(12L, 12L),
      Catalog.Span(17L, 21L), Catalog.Span(22L, 22L),
      Catalog.Span(23L, 23L, mergeable = false), Catalog.Span(24L, 24L))
    assert(Catalog.mergeSmall(spans, threshold = 10L, chunkSize = 10L) === IndexedSeq(
      (8L, 9L), (8L, 9L), (10L, 12L), (10L, 12L), (10L, 12L),
      (17L, 21L), (22L, 22L), (23L, 23L), (24L, 24L)))
  }

  test("verify_chunk filename pass: dedup, forks, incomplete groups") {
    // composes groupTables + fork filtering the way verify_chunk does
    // (verify.rs:145-207): duplicate kind in a range → error; fork singles
    // (two hashes at one height) detected; incomplete group flagged.
    val c = catalogOf(
      "/a/000000001.blocks.avro", "/a/000000001.txes.avro",        // complete
      "/a/000000002.blocks.avro",                                   // incomplete
      "/a/000000003.blocks.avro", s"/a/000000003.${h64('b')}.blocks.avro", // fork/dup
      "/a/000000003.txes.avro")
    val g = Catalog.groupTables(c).orderBy("start_h").collect()
    assert(g.map(_.getAs[Boolean]("complete")).toSeq === Seq(true, false, true))
    assert(g.map(_.getAs[Boolean]("duplicate")).toSeq === Seq(false, false, true))
    // the forked height exposes both candidate hashes for canonical pick
    val forks = c.filter(org.apache.spark.sql.functions.col("start_h") === 3L)
      .select("fork_hash").collect().map(_.getString(0))
    assert(forks.toSet === Set(null, h64('b')))
  }

  test("intersecting prunes non-overlapping ranges") {
    val c = catalogOf(
      "/a/range-000000000_000000099.blocks.avro",
      "/a/range-000000100_000000199.blocks.avro",
      "/a/range-000000200_000000299.blocks.avro")
    val hit = Catalog.intersecting(c, 150L, 210L)
      .select("start_h").as[Long].collect().sorted.toSeq
    assert(hit === Seq(100L, 200L))
  }
}
