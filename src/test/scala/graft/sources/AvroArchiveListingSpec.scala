package graft.sources

import graft.SparkSpec

/** The local-tree walk of [[AvroArchiveSource.listAvroFiles]] against
  * Hadoop's recursive `listFiles`, which it replaces on `file://`.
  */
class AvroArchiveListingSpec extends SparkSpec {

  test("listAvroFiles walks a local tree to the same paths as Hadoop's recursive listing") {
    val dir = java.nio.file.Files.createTempDirectory("listing")
    def touch(rel: String): Unit = {
      val p = dir.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.createFile(p)
    }
    Seq(
      "000000000/000000000/000000001.block.avro",          // L1/L2 single
      s"000000000/000000000/000000002.${"a" * 64}.txes.avro",
      "000000000/000001000/000001000.traces.avro",
      "000000000/range-000000100_000000199.blocks.avro",   // L1 range
      "000000000/000000000/.000000001.block.avro.crc",     // checksum sidecar
      "000000000/.graft-tmp-0b5e1c2a",                     // orphan temp
      "000000000/000000000/notes.txt",
      "top.blocks.avro"
    ).foreach(touch)
    java.nio.file.Files.createDirectories(dir.resolve("000001000/000001000")) // empty
    val root = new org.apache.hadoop.fs.Path(dir.toString)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hadoop = Seq.newBuilder[String]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".avro")) hadoop += f.getPath.toString
    }
    val got = AvroArchiveSource.listAvroFiles(spark, dir.toString)
    assert(got.sorted === hadoop.result().sorted)
    assert(got.size === 5)
    assert(AvroArchiveSource.listAvroFiles(spark, s"$dir/absent").isEmpty)
  }

  test("ArchiveFs.files sees the same (path, length, mtime) set as a recursive listStatus") {
    // a Spark-written table: part files, _SUCCESS and their .crc sidecars
    val dir = java.nio.file.Files.createTempDirectory("walk").resolve("t.parquet").toString
    spark.range(0, 40, 1, 3).withColumn("b", org.apache.spark.sql.functions.col("id") % 2)
      .write.partitionBy("b").parquet(dir)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def statuses(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap(s => if (s.isDirectory) statuses(s.getPath) else Seq(s))
    def fp(ss: Seq[org.apache.hadoop.fs.FileStatus]) =
      ss.map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).toSet
    val walked = ArchiveFs.files(fs, root).toSeq
    assert(fp(walked) === fp(statuses(root)))
    assert(walked.exists(_.getPath.getName == "_SUCCESS"))
    val file = walked.find(_.getPath.getName.endsWith(".parquet")).get.getPath
    assert(fp(ArchiveFs.files(fs, file).toSeq) === fp(Seq(fs.getFileStatus(file))))
    assert(ArchiveFs.files(fs, new org.apache.hadoop.fs.Path(s"$dir-absent")).isEmpty)
  }
}
