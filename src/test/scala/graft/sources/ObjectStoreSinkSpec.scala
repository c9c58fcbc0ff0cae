package graft.sources

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.Row
import graft.SparkSpec
import graft.model.Schemas

/** Drives the sink's OBJECT-STORE path against a local stand-in with real
  * S3 create semantics ([[MockS3FileSystem]]; reference
  * `src/storage/objects.rs:170-330`): the non-file claim branch, the
  * `FileContext.rename(OVERWRITE)` commit, and — the documented caveat —
  * that `create(overwrite=false)` on an object store is check-then-act,
  * so concurrent claimants of one target can BOTH win (last PUT wins),
  * unlike `file://`'s O_EXCL claim which admits exactly one winner.
  */
class ObjectStoreSinkSpec extends SparkSpec {

  private def blockRow(h: Long): Row = Row(
    "BITCOIN", "BTC", new Timestamp(1700000000000L), h,
    s"hash-$h", s"hash-${h - 1}", new Timestamp(1600000000000L + h),
    s"""{"height":$h}""".getBytes("UTF-8"), 0, null, null)

  private def mockFs(out: String): FileSystem = {
    MockS3FileSystem.install(spark.sparkContext.hadoopConfiguration)
    new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
  }

  private def newOut(): String =
    "mocks3:" + Files.createTempDirectory("graft-mocks3").toString

  test("sink round-trips through the mocks3 scheme end to end") {
    val out = newOut()
    mockFs(out)
    val rows = spark.createDataFrame(
      spark.sparkContext.parallelize((0L to 39L).map(blockRow), 4), Schemas.block)
    assert(AvroArchiveSink.write(rows, "blocks", out, "snappy") === 40L)
    // the claim protocol ran on the non-file branch: discoverable range
    // files landed, no hidden temp orphan remains
    val files = AvroArchiveSource.listAvroFiles(spark, out)
    assert(files.size === 4)
    assert(files.forall(_.startsWith("mocks3:")), files.head)
    assert(!files.exists(_.contains(".graft-tmp-")))
    val back = AvroArchiveSource.readArchive(spark, out, "blocks")
    assert(back.count() === 40L)
    // replayed singles are skipped, not overwritten (stream.rs:49-52)
    assert(AvroArchiveSink.writeSingles(rows, "blocks", out) === 0L ||
      AvroArchiveSource.listAvroFiles(spark, out).size > 4)
  }

  test("never-overwrite skip holds sequentially on the object store") {
    val out = newOut()
    val fs = mockFs(out)
    val target = new Path(out, "005000/range-5000_5999.blocks.avro")
    assert(ArchiveFs.claim(fs, target), "first claim wins")
    assert(!ArchiveFs.claim(fs, target), "existing target is skipped")
  }

  test("documented caveat: concurrent object-store claimants can both win; last commit wins") {
    val out = newOut()
    val fs = mockFs(out)
    val target = new Path(out, "006000/range-6000_6999.blocks.avro")

    // hold writer A between its HEAD and its PUT
    val (window, entered) = MockS3FileSystem.armWindow()
    var aWon = false
    @volatile var aErr: Throwable = null
    val a = new Thread(() => {
      try aWon = ArchiveFs.claim(fs, target)
      catch { case t: Throwable => aErr = t; entered.countDown() }
    })
    a.start()
    assert(entered.await(30, TimeUnit.SECONDS), "A reached the HEAD→PUT window")
    if (aErr != null) fail(s"claimant A threw: $aErr")

    // B claims the SAME target inside A's window — its HEAD also sees no
    // object, so it PUTs and wins
    val bWon = ArchiveFs.claim(fs, target)
    assert(bWon, "B claims while A sits in the window")

    // A resumes: its PUT is unconditional — A 'wins' too (the race the
    // sink scaladoc documents; S3 create-exclusive does not exist)
    window.countDown()
    a.join(30000)
    assert(aWon, "object-store claim is best-effort: both claimants won")

    // both commit; the commit is rename(OVERWRITE), so the LAST one is
    // the surviving content — same last-PUT-wins as the reference backend
    def tempWith(tag: String): Path = {
      val t = new Path(out, s".graft-tmp-$tag")
      val os = fs.create(t, true); os.write(tag.getBytes("UTF-8")); os.close(); t
    }
    ArchiveFs.publish(fs, tempWith("writer-a"), target)
    ArchiveFs.publish(fs, tempWith("writer-b"), target)
    val in = fs.open(target)
    val buf = new Array[Byte](32)
    val n = in.read(buf); in.close()
    assert(new String(buf, 0, n, "UTF-8") === "writer-b", "last PUT wins")
  }

  test("contrast: the file:// O_EXCL claim admits exactly one concurrent winner") {
    val dir = Files.createTempDirectory("graft-excl").toString
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.getScheme === "file")
    val target = new Path(dir, "007000/range-7000_7999.blocks.avro")
    new Path(dir, "007000")
    fs.mkdirs(new Path(dir, "007000"))
    val start = new CountDownLatch(1)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val ts = (1 to 8).map { _ =>
      new Thread(() => {
        start.await()
        if (ArchiveFs.claim(fs, target)) wins.incrementAndGet()
      })
    }
    ts.foreach(_.start()); start.countDown(); ts.foreach(_.join(30000))
    assert(wins.get() === 1, "O_EXCL serializes the claim: exactly one winner")
  }
}
