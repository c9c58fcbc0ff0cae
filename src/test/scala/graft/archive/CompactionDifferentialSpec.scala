package graft.archive

import java.io.File
import java.nio.file.{Files, Path => NioPath}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import graft.SparkSpec
import graft.sources.{AvroArchiveSource, Containers}

/** [[Compaction.compactAvro]] (one aggregate, driver verdicts) against the
  * per-kind Catalyst plan it replaced ([[DataFrameCompaction]]), over
  * seeded random archives written record by record: each side compacts
  * its own copy, and the verdict rows (schema and nulls included), the
  * deleted paths, the files left and every decoded row must be equal.
  */
class CompactionDifferentialSpec extends SparkSpec {

  private def hash(h: Long, fork: Int): String = f"$h%032x$fork%032x"

  /** The records of `kind` at `h`: one block, or 1–3 txes or traces. */
  private def records(kind: String, h: Long, rnd: Random): Seq[Map[String, Any]] =
    if (kind == "blocks") Seq(Map("height" -> h, "blockId" -> hash(h, 0)))
    else (0 until 1 + rnd.nextInt(3)).map(i =>
      Map("height" -> h, "blockId" -> hash(h, 0), "index" -> i.toLong, "txid" -> s"TX$h-$i"))

  /** A seeded archive of 3–4 chunks per kind. Each chunk is pre-ranged
    * (a range file, sometimes with residue singles beside it), an empty
    * claim at the range name beside residue singles, partial, absent or
    * complete singles. Now and then a height is forked (two hash-named
    * singles, or a plain and a hash-named one), and a single's rows name
    * another height than its filename does.
    */
  private def archive(dir: String, rnd: Random, chunk: Long): Unit = {
    def chance(n: Int) = rnd.nextInt(n) == 0
    val kinds = Seq("blocks", "txes") ++ (if (chance(2)) Seq("traces") else Nil)
    val chunks = 3 + rnd.nextInt(2)
    val top = chunks * chunk
    def single(kind: String, h: Long, fork: Option[String] = None, rowsAt: Long = -1): Unit =
      Containers.write(dir, Filenames.relativeSinglePath(h, kind, fork), kind,
        records(kind, if (rowsAt < 0) h else rowsAt, rnd))
    kinds.foreach { kind =>
      (0 until chunks).foreach { c =>
        val (s, e) = (c * chunk, c * chunk + chunk - 1)
        val residue = () => (s to e).filter(_ => chance(2)).foreach(single(kind, _))
        rnd.nextInt(7) match {
          case 0 => // a range file, and crash residue beside it now and then
            Containers.write(dir, Filenames.relativeRangePath(s, e, kind), kind,
              (s to e).flatMap(records(kind, _, rnd)))
            if (chance(2)) residue()
          case 1 => // a crashed write's empty claim beside its residue singles
            val claim = new File(dir, Filenames.relativeRangePath(s, e, kind))
            claim.getParentFile.mkdirs()
            Files.createFile(claim.toPath)
            residue()
          case 2 => (s to e).filter(_ => !chance(3)).foreach(single(kind, _)) // partial
          case 3 => ()
          case _ => (s to e).foreach(single(kind, _))
        }
      }
      if (chance(2)) { // a forked height
        val h = rnd.nextInt(top.toInt).toLong
        single(kind, h, Some(hash(h, 1)))
        if (chance(2)) single(kind, h, Some(hash(h, 2)))
      }
      if (chance(2)) { // a single whose rows disagree with its name
        val h = rnd.nextInt(top.toInt).toLong
        val at = if (chance(2)) (h + chunk) % top else h - h % chunk + (h + 1) % chunk
        single(kind, h, rowsAt = at)
      }
    }
  }

  private def copy(from: String, to: String): Unit =
    Files.walk(new File(from).toPath).iterator().asScala.toSeq.foreach { p: NioPath =>
      val target = new File(to).toPath.resolve(new File(from).toPath.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(target)
      else Files.copy(p, target)
    }

  private def rel(dir: String)(p: String): String = p.substring(p.indexOf(dir) + dir.length)

  private def verdictRows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (r.getAs[String]("kind"), r.getAs[Long]("chunk")))

  /** Every record of every file left, as (file, record) strings. */
  private def decoded(dir: String): Seq[String] = {
    val files = AvroArchiveSource.listAvroFiles(spark, dir)
    Seq("blocks", "txes", "traces").flatMap { kind =>
      AvroArchiveSource.readArchiveFilesWithPath(spark,
          AvroArchiveSource.filesOfKind(spark, files, kind), kind, lenient = true)
        .collect().toSeq.map(r => r.toSeq.map {
          case b: Array[Byte] => new String(b, "UTF-8")
          case p: String if p.contains(dir) => rel(dir)(p)
          case v => String.valueOf(v)
        }.mkString("|"))
    }.sorted
  }

  test("verdicts, deletions, files left and records match the DataFrame plan (18 random archives)") {
    var (complete, written, deleted, kept) = (0, 0, 0, 0)
    var (residueGone, residueKept) = (0, 0)
    for (chunk <- Seq(2L, 5L, 10L); dryRun <- Seq(false, true); seed <- 0 until 3) {
      val rnd = new Random(seed * 31 + chunk)
      val want = Files.createTempDirectory(s"cdiff-want-$chunk-$seed").toString
      val got = Files.createTempDirectory(s"cdiff-got-$chunk-$seed").toString
      archive(want, rnd, chunk)
      copy(want, got)
      val before = AvroArchiveSource.listAvroFiles(spark, want).map(rel(want)).toSet
      // (kind, chunk) → whether its pre-existing range file is an empty claim
      val ranges = Catalog.entries(AvroArchiveSource.listAvroFiles(spark, want))
        .filterNot(_.isSingle).map(r => (r.kind, r.start / chunk) ->
          (new File(r.path.stripPrefix("file:")).length == 0)).toMap
      val besideRange = (p: String) => Catalog.entries(Seq(p))
        .collect { case e if e.isSingle => ranges.get((e.kind, e.start / chunk)) }.flatten.headOption
      val (wantV, wantDel) = DataFrameCompaction.compactAvro(spark, want, chunk, dryRun)
      val (gotV, gotDel) = Compaction.compactAvro(spark, got, chunk, dryRun)
      val ctx = s"chunk $chunk, dryRun $dryRun, seed $seed"
      assert(gotV.schema === wantV.schema, ctx)
      val rows = verdictRows(wantV)
      assert(verdictRows(gotV) === rows, ctx)
      assert(gotDel.map(rel(got)).sorted === wantDel.map(rel(want)).sorted, ctx)
      val left = AvroArchiveSource.listAvroFiles(spark, got).map(rel(got)).toSet
      assert(left === AvroArchiveSource.listAvroFiles(spark, want).map(rel(want)).toSet, ctx)
      assert(decoded(got) === decoded(want), ctx)
      complete += rows.count(_.getAs[Boolean]("complete"))
      written += (left -- before).size
      deleted += gotDel.size
      kept += (before -- left).size - gotDel.size
      residueGone += gotDel.count(besideRange(_).contains(false))
      if (!dryRun) residueKept += left.count(besideRange(_).contains(true))
    }
    // the archives reach every outcome: complete chunks, new range files,
    // deleted singles; nothing vanishes that no deletion names
    assert(complete > 0 && written > 0 && deleted > 0)
    assert(kept === 0)
    // crash residue: deleted beside a full range, kept beside an empty claim
    assert(residueGone > 0 && residueKept > 0)
  }
}
