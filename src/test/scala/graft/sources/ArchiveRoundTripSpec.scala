package graft.sources

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.model.Schemas

/** Writer × reader matrix over the Avro archive: every writer
  * (`write`, `writeSingles`, `writeChunked`, the V2 `save`) crossed with
  * every reader (`read`, `readArchiveFiles`, strict and lenient
  * `readArchiveFilesWithPath`, the V2 `load`) must hand back exactly the
  * rows that went in — for all three archive kinds, with nulls, empty and
  * non-UTF-8 binaries, non-ASCII strings and pre-epoch timestamps.
  */
class ArchiveRoundTripSpec extends SparkSpec {

  private val heights = 0L to 11L
  private val chunk = 4L

  /** A deterministic value for every field type the archive schemas use;
    * nullable fields cycle through null, empty and filled values.
    */
  private def value(f: StructField, h: Long, i: Int): Any = {
    val cycle = ((h + i) % 3).toInt
    f.dataType match {
      case _ if f.nullable && cycle == 0 => null
      case StringType  => s"${f.name}-$h-$i-é日本"
      case LongType    => if (f.name == "height") h else if (f.name == "index") i.toLong else h * 31 + i
      case IntegerType => ((h + i) % 5).toInt
      case TimestampType =>
        if (h == 0) new Timestamp(-86400123L - i) else new Timestamp(1600000000000L + h * 1000 + i * 7)
      case BinaryType =>
        if (f.nullable && cycle == 1) Array.emptyByteArray
        else s"""{"${f.name}":$h,"i":$i}""".getBytes("UTF-8") :+ 0xff.toByte
      case other => throw new IllegalArgumentException(s"no generator for $other")
    }
  }

  /** Blocks carry one row per height; txes and traces 1–3. */
  private def input(kind: String): (DataFrame, Seq[Row]) = {
    val schema = Schemas.schemaFor(kind)
    val rows = for {
      h <- heights
      i <- 0 until (if (kind == "blocks") 1 else 1 + (h % 3).toInt)
    } yield Row.fromSeq(schema.fields.toSeq.map(value(_, h, i)))
    (spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema), rows)
  }

  private val writers: Seq[(String, (DataFrame, String, String) => Unit)] = Seq(
    "write" -> { (df, kind, out) =>
      assert(AvroArchiveSink.write(df.repartitionByRange(3, col("height")), kind, out) ===
        df.count())
    },
    "writeSingles" -> { (df, kind, out) =>
      assert(AvroArchiveSink.writeSingles(df, kind, out) === df.count())
    },
    "writeChunked" -> { (df, kind, out) =>
      val chunked = df.withColumn("chunk", floor(col("height") / chunk).cast("long"))
      assert(AvroArchiveSink.writeChunked(chunked, kind, out, "chunk") === df.count())
    },
    "V2 save" -> { (df, kind, out) =>
      df.repartitionByRange(3, col("height"))
        .write.format("avro-archive").option("kind", kind).mode("append").save(out)
    })

  private val readers: Seq[(String, (String, Seq[String], String) => DataFrame)] = Seq(
    "read" -> ((_, files, kind) => AvroArchiveSource.read(spark, files.mkString(","), kind)),
    "readArchiveFiles" -> ((_, files, kind) =>
      AvroArchiveSource.readArchiveFiles(spark, files, kind)),
    "readArchiveFilesWithPath strict" -> ((_, files, kind) =>
      withPath(AvroArchiveSource.readArchiveFilesWithPath(spark, files, kind), files)),
    "readArchiveFilesWithPath lenient" -> ((_, files, kind) => withPath(
      AvroArchiveSource.readArchiveFilesWithPath(spark, files, kind, lenient = true), files)),
    "V2 load" -> ((out, _, kind) =>
      spark.read.format("avro-archive").option("kind", kind).load(out)))

  /** The `_path` values are exactly the read files that hold a record;
    * the rest is the record.
    */
  private def withPath(df: DataFrame, files: Seq[String]): DataFrame = {
    assert(paths(df) === holdingRows(files))
    df.drop("_path")
  }

  private def paths(df: DataFrame): Set[String] =
    df.select("_path").distinct().collect().map(_.getString(0)).toSet

  /** The files with at least one record, by the core Avro reader. */
  private def holdingRows(files: Seq[String]): Set[String] = files.filter { f =>
    val path = new org.apache.hadoop.fs.Path(f)
    val in = new DataFileStream[GenericRecord](
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).open(path),
      new GenericDatumReader[GenericRecord]())
    try in.hasNext finally in.close()
  }.toSet

  /** Order-free, value-comparable image of a row. */
  private def image(r: Row): String = r.toSeq.map {
    case null                => "null"
    case b: Array[Byte]      => b.map(x => f"$x%02x").mkString("0x", "", "")
    case t: Timestamp        => s"ts(${t.getTime},${t.getNanos})"
    case other               => other.toString
  }.mkString("|")

  for (kind <- Schemas.kinds; (wName, write) <- writers) {
    test(s"$kind written by $wName reads back identically through every reader") {
      val (df, rows) = input(kind)
      val out = Files.createTempDirectory(s"graft-rt-$kind-").toString
      write(df, kind, out)
      val all = AvroArchiveSource.listAvroFiles(spark, out)
      val files = AvroArchiveSource.filesOfKind(spark, all, kind)
      assert(files.nonEmpty && files.size === all.size, all)
      val expected = rows.map(image).sorted
      readers.foreach { case (rName, read) =>
        val back = read(out, files, kind)
        assert(back.schema.map(f => (f.name, f.dataType)) ===
          Schemas.schemaFor(kind).map(f => (f.name, f.dataType)), rName)
        assert(back.collect().toSeq.map(image).sorted === expected, s"$wName → $rName")
      }
    }
  }

  // "%20" and "%" survive only if `_path` is the listed string itself: a
  // SparkPath/URI round trip re-encodes them, a decode turns "%20" into " "
  for (scheme <- Seq("file", "mocks3")) {
    test(s"_path is the listed string on $scheme:// under a name with a space and a %") {
      MockS3FileSystem.install(spark.sparkContext.hadoopConfiguration)
      val dir = Files.createTempDirectory("graft-rt-path-").resolve("a b%20c%")
      Files.createDirectories(dir)
      val out = s"$scheme:$dir"
      val (df, rows) = input("txes")
      assert(AvroArchiveSink.writeSingles(df, "txes", out) === rows.size.toLong)
      val files = AvroArchiveSource.listAvroFiles(spark, out)
      assert(files.size === heights.size && files.forall(_.startsWith(s"$scheme:$dir/")), files)
      val back = AvroArchiveSource.readArchiveFilesWithPath(spark, files, "txes")
      assert(paths(back) === files.toSet)
      assert(back.drop("_path").collect().toSeq.map(image).sorted === rows.map(image).sorted)
    }
  }

  test("an enum-typed string field (the reference's blockchainType) reads as its symbol") {
    import org.apache.avro.{Schema, SchemaBuilder}
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter}
    val enumT = SchemaBuilder.enumeration("BlockchainType").symbols("ETHEREUM", "BITCOIN")
    val base = AvroArchiveSink.avroSchema(Schemas.block, "blocks")
    val schema = Schema.createRecord("blocks", null, "graft", false,
      base.getFields.asScala.map { f =>
        new Schema.Field(f.name, if (f.name == "blockchainType") enumT else f.schema,
          f.doc, f.defaultVal)
      }.asJava)
    val rec = new GenericData.Record(schema)
    Seq("blockchainType" -> new GenericData.EnumSymbol(enumT, "BITCOIN"),
      "blockchainId" -> "BTC", "archiveTimestamp" -> Long.box(1000L),
      "height" -> Long.box(7L), "blockId" -> "b7", "parentId" -> "b6",
      "timestamp" -> Long.box(7000L),
      "json" -> java.nio.ByteBuffer.wrap("{}".getBytes("UTF-8")),
      "unclesCount" -> Int.box(0)).foreach { case (k, v) => rec.put(k, v) }
    val dir = Files.createTempDirectory("graft-rt-enum-")
    val file = dir.resolve("000000000/000000000/000000007.block.avro")
    Files.createDirectories(file.getParent)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, file.toFile)
    w.append(rec)
    w.close()
    val v1 = AvroArchiveSource.readArchive(spark, dir.toString, "blocks")
    val v2 = spark.read.format("avro-archive").option("kind", "blocks").load(dir.toString)
    Seq(v1, v2).foreach { df =>
      assert(df.select("blockchainType", "height").collect().toSeq === Seq(Row("BITCOIN", 7L)))
    }
  }

  test("every writer leaves only .avro files in a file:// archive tree") {
    val root = Files.createTempDirectory("graft-rt-tree-")
    val (blocks, _) = input("blocks")
    val (txes, _) = input("txes")
    writers.foreach { case (wName, write) =>
      val dir = root.resolve(wName.replace(' ', '-'))
      write(blocks, "blocks", "file://" + dir)
      write(txes, "txes", "file://" + dir)
    }
    val left = Files.walk(root).iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString).toSeq
    assert(left.nonEmpty)
    assert(left.filterNot(_.endsWith(".avro")) === Seq.empty)
    assert(left.forall(p => !Paths.get(p).getFileName.toString.startsWith(".")), left)
  }
}
