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
}
