package graft.commands

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.archive.{Catalog, Filenames}

/** The driver-side filename decisions of verify and fix against the
  * Catalyst plans they replaced ([[DataFramePreprocess]]), over seeded
  * random catalogs, plus pins on how many Spark jobs the decisions run.
  */
class PreprocessDifferentialSpec extends SparkSpec {
  import spark.implicits._

  private val Hashes = Seq('a', 'b', 'c').map(_.toString * 64)
  private val Suffixes = Map(
    "blocks" -> Seq("block", "blocks"),
    "txes" -> Seq("txes", "tx", "transactions"),
    "traces" -> Seq("traces", "trace"))

  /** A seeded listing of up to 40 names over heights [0, 30): singles with
    * and without fork hashes, ranges that overlap and cross chunks, kind
    * aliases that share a slot, codec segments and foreign names.
    */
  private def listing(rnd: Random): Seq[String] =
    (0 until 1 + rnd.nextInt(40)).map { i =>
      val kind = Seq("blocks", "blocks", "txes", "txes", "traces")(rnd.nextInt(5))
      val suffix = Suffixes(kind)(rnd.nextInt(Suffixes(kind).size)) +
        (if (rnd.nextInt(8) == 0) ".gz" else "")
      val h = rnd.nextInt(30).toLong
      val name = rnd.nextInt(20) match {
        case 0          => f"$h%09d.wat.avro"
        case n if n < 8 =>
          val e = h + rnd.nextInt(12)
          f"range-$h%09d_$e%09d.${Suffixes(kind).last}.avro"
        case n if n < 13 => f"$h%09d.${Hashes(rnd.nextInt(3))}.$suffix.avro"
        case _          => f"$h%09d.$suffix.avro"
      }
      s"/arch/d$i/$name"
    }

  /** (height, hash) rows: mostly one pool hash, sometimes missing or null. */
  private def canonicalRows(rnd: Random): Seq[(Long, String)] =
    (0L until 45L).flatMap { h =>
      rnd.nextInt(10) match {
        case 0 => None
        case 1 => Some((h, null))
        case n => Some((h, Hashes(if (n < 7) 0 else 1)))
      }
    }

  private def options(i: Int, rnd: Random) = VerifyFull.Options(
    fixClean = (i & 1) != 0, checkTxes = (i & 2) != 0, checkTraces = (i & 4) != 0,
    mergeThreshold = Seq(1L, 3L, 10L)(rnd.nextInt(3)),
    chunkSize = Seq(5L, 10L, 1000L)(rnd.nextInt(3)))

  // the oracle plans run in their own session with few shuffle partitions
  private lazy val oracleSpark = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "2")
    s
  }

  test("verify preprocess: every file's fate matches the DataFrame plan (240 catalogs)") {
    (0 until 240).foreach { seed =>
      val rnd = new Random(seed)
      val files = listing(rnd)
      val canonical = canonicalRows(rnd).toDF("height", "hash")
      val opts = options(seed, rnd)
      val (s, e) = (rnd.nextInt(10).toLong, 20L + rnd.nextInt(25))
      val want = DataFramePreprocess.verify(oracleSpark, files, s, e, canonical, opts)
      val got = VerifyFull.preprocess(Catalog.entries(files, s, e), opts,
        VerifyFull.canonicalLookup(canonical))
      val ctx = s"seed $seed, [$s, $e], $opts"
      assert(got.deletions.sorted === want.deletions.sorted, ctx)
      assert(got.live.sorted === want.live.sorted, ctx)
    }
  }

  test("fix coverage: missing heights per kind match the explode/left_anti plan") {
    val kinds = Seq("blocks", "tx", "traces")
    (0 until 200).foreach { seed =>
      val rnd = new Random(seed)
      val files = listing(rnd)
      val (s, e) = (rnd.nextInt(10).toLong, 20L + rnd.nextInt(25))
      val want = DataFramePreprocess.fixMissing(oracleSpark, files, s, e, kinds)
      val entries = Catalog.entries(files, s, e)
      val got = Seq("blocks", "txes", "traces").flatMap { kind =>
        Catalog.gaps(entries.filter(_.kind == kind).map(x => (x.start, x.end)), s, e)
          .flatMap { case (a, b) => (a to b).map(kind -> _) }
      }
      assert(got.sorted === want.sorted, s"seed $seed, [$s, $e]")
    }
  }

  test("gaps: clipped to the range, merged across overlaps, empty range") {
    assert(Catalog.gaps(Seq((12L, 14L), (10L, 10L), (13L, 20L)), 8L, 25L) ===
      Seq((8L, 9L), (11L, 11L), (21L, 25L)))
    assert(Catalog.gaps(Seq((0L, 100L)), 10L, 20L) === Seq.empty)
    assert(Catalog.gaps(Seq.empty, 5L, 4L) === Seq.empty)
  }

  test("job pins: the preprocess runs 0 jobs uncontested, 1 with contested heights") {
    // a canonical chain that is not a local relation, so its lookup is a job
    val canonical = spark.range(0, 50)
      .select(col("id").as("height"), lit(Hashes.head).as("hash"))
    val opts = VerifyFull.Options(fixClean = true)
    val plain = (1L to 6L).flatMap(h => Seq(f"/a/$h%09d.block.avro", f"/a/$h%09d.txes.avro"))
    val forks = Hashes.take(2).flatMap(hh =>
      Seq(s"/a/000000003.$hh.block.avro", s"/a/000000003.$hh.txes.avro"))

    var quiet: VerifyFull.Fates = null
    assert(jobsDuring {
      quiet = VerifyFull.preprocess(Catalog.entries(plain), opts,
        VerifyFull.canonicalLookup(canonical))
    } === 0)
    assert(quiet.deletions.isEmpty && quiet.live.size === plain.size)

    var contested: VerifyFull.Fates = null
    assert(jobsDuring {
      contested = VerifyFull.preprocess(
        Catalog.entries(plain.filterNot(_.startsWith("/a/000000003.")) ++ forks),
        opts, VerifyFull.canonicalLookup(canonical))
    } === 1)
    assert(contested.deletions.map(_._2).toSet === Set("forked-out"))
    assert(contested.deletions.forall(_._1.contains(Hashes(1))))
  }

  test("job pins: fixAvro decides coverage without a Spark job") {
    val dir = Files.createTempDirectory("fix-jobs").toString
    // an empty container is enough: coverage reads names only
    (0L to 9L).foreach { h =>
      val f = new java.io.File(s"$dir/${Filenames.relativeSinglePath(h, "blocks")}")
      f.getParentFile.mkdirs()
      f.createNewFile()
    }
    val raw = Map("blocks" -> spark.range(0, 20).select(col("id").as("height")))
    // fully covered: nothing to refetch, no job at all
    assert(jobsDuring(Commands.fixAvro(spark, dir, raw, 0L, 9L)) === 0)
    // dry run over a gap: the call runs no job, and the gap is exact
    var missing: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring {
      missing = Commands.fixAvro(spark, dir, raw, 5L, 14L,
        Commands.RunOptions(dryRun = true))
    } === 0)
    assert(missing.as[(String, Long)].collect().sorted.toSeq ===
      (10L to 14L).map("blocks" -> _))
  }
}
