package graft.commands

import java.io.File
import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import graft.SparkSpec
import graft.archive.{Catalog, Filenames}
import graft.model.BitcoinAdapter
import graft.sources.{AvroArchiveSource, Containers}

/** Verify's content checks and deletion verdicts ([[VerifyFull.run]]: one
  * cogroup, [[VerifyFull.checkBatch]] per batch) against the Catalyst plan
  * they replaced ([[DataFrameContentChecks]]), over seeded random archives
  * whose containers are written record by record: every `Report.batches`
  * row must be equal, nulls included, and so must the deletions.
  */
class ContentChecksDifferentialSpec extends SparkSpec {
  import spark.implicits._

  private val Heights = 24

  private def hash(h: Long, fork: Int): String = f"$h%032x$fork%032x"
  private def txid(h: Long, i: Int): String = s"TX$h-$i"

  private def bytes(s: String): Array[Byte] = s.getBytes("UTF-8")

  private def blockJson(h: Long, hash: String, parent: String, txs: Seq[String]): String = {
    val fields = Seq(
      Option(hash).map(x => s""""hash":"$x""""),
      Option(parent).map(x => s""""previousblockhash":"$x""""),
      Some(s""""height":$h"""),
      Some(s""""tx":[${txs.map(t => if (t == null) "null" else s""""$t"""").mkString(",")}]"""))
    fields.flatten.mkString("{", ",", "}")
  }

  /** A seeded archive over heights [0, 24): singles and ranges, a forked
    * single now and then, each group's blocks, txes and (often) traces
    * file, every file with a random defect or none. Returns the canonical
    * chain: mostly fork 0, sometimes missing, null, another fork's hash
    * or two rows at one height.
    */
  private def archive(dir: String, rnd: Random): Seq[(Long, String)] = {
    def chance(n: Int) = rnd.nextInt(n) == 0
    def pick[A](xs: A*): A = xs(rnd.nextInt(xs.size))

    def writeGroup(s: Long, e: Long, fork: Int): Unit = {
      val rel = (kind: String) =>
        if (fork > 0) Filenames.relativeSinglePath(s, kind, Some(hash(s, fork)))
        else if (s == e && chance(2)) Filenames.relativeSinglePath(s, kind)
        else Filenames.relativeRangePath(s, e, kind)
      val txsOf = (s to e).map(h => h -> (0 until rnd.nextInt(4)).map(txid(h, _))).toMap
      def emit(kind: String, records: Seq[Map[String, Any]]): Unit = rnd.nextInt(14) match {
        case 0 => Containers.write(dir, rel(kind), kind, Seq.empty) // no records
        case 1 => // not an Avro container at all
          val f = new File(dir, rel(kind))
          f.getParentFile.mkdirs()
          Files.write(f.toPath, bytes("garbage"))
        case _ => Containers.write(dir, rel(kind), kind, records)
      }

      // blocks
      var blocks = (s to e).map(h => (h, hash(h, fork), hash(h - 1, 0), txsOf(h)))
      rnd.nextInt(12) match {
        case 0 => blocks = blocks.patch(rnd.nextInt(blocks.size), Nil, 1) // coverage
        case 1 => blocks = blocks :+ blocks(rnd.nextInt(blocks.size)) // duplicate height
        case 2 => blocks = blocks :+ ((e + 1, hash(e + 1, 0), hash(e, 0), IndexedSeq.empty)) // range
        case 3 => blocks = blocks.updated(0, blocks.head.copy(_2 = null)) // null hash
        case 4 => blocks = blocks.map(b => (b._1, b._2, null, b._4)) // null parent
        case 5 => // broken link
          val i = rnd.nextInt(blocks.size)
          blocks = blocks.updated(i, blocks(i).copy(_3 = hash(blocks(i)._1 - 1, 9)))
        case 6 => blocks = blocks.init :+ blocks.last.copy(_2 = hash(e, 7)) // top hash
        case 7 => // a null and a duplicate txid in a block's list
          val i = rnd.nextInt(blocks.size)
          blocks = blocks.updated(i, blocks(i).copy(_4 = blocks(i)._4 ++ Seq(null, txid(s, 0))))
        case _ => ()
      }
      val badJson = chance(12)
      emit("blocks", blocks.map { case (h, hh, p, txs) =>
        Map("height" -> h, "blockId" -> Option(hh).getOrElse("?"), "parentId" -> "?",
          "json" -> bytes(if (badJson && h == e) "{not json" else blockJson(h, hh, p, txs)))
      })

      // txes, one record per listed txid
      var txes = txsOf.toSeq.sortBy(_._1).flatMap { case (h, ids) => ids.map(h -> _) }
      rnd.nextInt(8) match {
        case 0 if txes.nonEmpty => txes = txes.patch(rnd.nextInt(txes.size), Nil, 1) // missing
        case 1 => txes = txes :+ ((s, "TX-unexpected")) // unexpected
        case 2 if txes.nonEmpty => txes = txes :+ txes(rnd.nextInt(txes.size)) // duplicate
        case _ => ()
      }
      val badPayload = chance(8)
      if (!chance(7))
        emit("txes", txes.zipWithIndex.map { case ((h, id), i) =>
          Map("height" -> h, "txid" -> id, "index" -> i.toLong,
            "json" -> bytes(if (badPayload && i == 0) pick("null", "") else """{"ok":1}"""),
            "raw" -> (if (badPayload && i == 0 && chance(2)) Array.emptyByteArray
              else Array[Byte](1)))
        })
      if (chance(2))
        emit("traces", txes.map { case (h, id) =>
          Map("height" -> h, "txid" -> id,
            "traceJson" -> (if (chance(6)) null else bytes("""{"t":1}""")),
            "stateDiffJson" -> (if (chance(6)) pick(null, bytes("null")) else bytes("{}")))
        })
    }

    var h = 0L
    while (h < Heights) {
      val len = if (chance(3)) 1 + rnd.nextInt(6) else 1
      val e = math.min(h + len - 1, Heights - 1L)
      if (!chance(8)) writeGroup(h, e, 0) // else a gap
      if (len == 1 && chance(6)) writeGroup(h, h, 1 + rnd.nextInt(2)) // a fork single
      if (chance(10)) writeGroup(h, h, 0) // an overlapping single
      h = e + 1
    }
    (0L until Heights + 2L).flatMap { h =>
      rnd.nextInt(12) match {
        case 0 => Nil
        case 1 => Seq(h -> null)
        case 2 => Seq(h -> hash(h, 0), h -> hash(h, 1))
        case 3 => Seq(h -> hash(h, 5))
        case _ => Seq(h -> hash(h, 0))
      }
    }
  }

  private def options(rnd: Random) = VerifyFull.Options(
    checkTxes = rnd.nextInt(5) != 0,
    checkTraces = rnd.nextBoolean(),
    includeTrace = rnd.nextBoolean(),
    includeStateDiff = rnd.nextBoolean(),
    fixClean = rnd.nextBoolean(),
    dryRun = rnd.nextInt(3) == 0,
    mergeThreshold = Seq(1L, 3L, 10L)(rnd.nextInt(3)),
    chunkSize = Seq(8L, 1000L)(rnd.nextInt(2)))

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(r => (r.getLong(0), r.getLong(1)))

  test("batch rows and deletions match the DataFrame plan (40 random archives)") {
    val seen = Seq.newBuilder[Map[String, Any]]
    (0 until 40).foreach { seed =>
      val rnd = new Random(seed)
      val dir = Files.createTempDirectory(s"vf-diff-$seed").toString
      val chain = archive(dir, rnd)
      val canonical = chain.toDF("height", "hash")
      val opts = options(rnd)
      val (s, e) = (rnd.nextInt(4).toLong, Heights - 1L - rnd.nextInt(6))
      val files = AvroArchiveSource.listAvroFiles(spark, dir)
      val fates = VerifyFull.preprocess(Catalog.entries(files, s, e), opts,
        VerifyFull.canonicalLookup(canonical))
      val want = DataFrameContentChecks.run(spark, BitcoinAdapter, canonical, opts, fates)
      val wantRows = rows(want.batches)
      val got = VerifyFull.run(spark, dir, BitcoinAdapter, s, e, canonical, opts)
      val ctx = s"seed $seed, [$s, $e], $opts"
      assert(got.batches.schema === want.batches.schema, ctx)
      assert(rows(got.batches) === wantRows, ctx)
      assert(got.deleted === want.deleted, ctx)
      val left = AvroArchiveSource.listAvroFiles(spark, dir).toSet
      assert(left === (if (opts.dryRun) files.toSet else files.toSet -- got.deleted.map(_._1)),
        ctx)
      seen ++= wantRows.map(r => want.batches.columns.toSeq.zip(r.toSeq).toMap)
    }
    // every defect the archives plant reached a verdict somewhere
    val all = seen.result()
    def some(column: String, p: Any => Boolean) =
      assert(all.exists(_.get(column).exists(p)), column)
    val positive = (v: Any) => v != null && v.asInstanceOf[Long] > 0
    Seq("b_range_viol", "b_bad_json", "b_breaks", "b_top_bad", "txes_bad_null",
      "txes_unexpected", "txes_missing", "traces_bad_null", "traces_missing")
      .foreach(some(_, positive))
    some("b_n", _ == null) // a batch with files but no decoded block
    some("b_top_bad", _ == 0L)
    assert(all.exists(r => r("b_n") != r("b_nd")), "duplicate heights")
    assert(all.exists(r => r.get("txes_n") != r.get("txes_nd")), "duplicate txids")
    some("no_block_file", _ == true)
    some("blocks_ok", _ == true)
    some("blocks_ok", _ == false)
    some("txes_ok", _ == false)
    some("traces_ok", _ == false)
  }
}
