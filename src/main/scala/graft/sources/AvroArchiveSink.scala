package graft.sources

import java.nio.ByteBuffer
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.file.{CodecFactory, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.archive.Filenames

/** Writer for the reference's Avro object-container archive format
  * (reference: src/storage/fs.rs:135-219; codecs snappy | zstd(9),
  * src/global.rs:34-46) — so archives this engine produces stay readable
  * by the reference tooling and vice versa.
  *
  * The Avro schema is DERIVED from the engine's static StructTypes
  * (graft.model.Schemas) — same field names/types the reference embeds.
  *
  * Commit protocol, shared by [[write]], [[writeSingles]], [[writeChunked]]
  * and the V2 connector's write side: rows stream into a hidden temp
  * container ([[TempContainer]]); the closed container's height range
  * names it ([[targetName]] — the filename IS the metadata,
  * src/archiver/filenames.rs:51-83); [[ArchiveFs.commit]] claims the name
  * and publishes the temp onto it, on any scheme (local, HDFS, object
  * stores — the reference's S3 backend, src/storage/objects.rs:170-330).
  */
object AvroArchiveSink {

  /** Avro record schema for a Spark StructType (timestamps as
    * timestamp-millis longs, binaries as bytes, nullables as unions —
    * matching src/avros.rs's shapes).
    */
  def avroSchema(st: StructType, name: String): Schema = {
    var fields = SchemaBuilder.record(name).namespace("graft").fields()
    st.fields.foreach { f =>
      val base = f.dataType match {
        case StringType    => Schema.create(Schema.Type.STRING)
        case LongType      => Schema.create(Schema.Type.LONG)
        case IntegerType   => Schema.create(Schema.Type.INT)
        case BinaryType    => Schema.create(Schema.Type.BYTES)
        case DoubleType    => Schema.create(Schema.Type.DOUBLE)
        case TimestampType | TimestampNTZType =>
          LogicalTypes.timestampMillis().addToSchema(Schema.create(Schema.Type.LONG))
        case other => throw new IllegalArgumentException(s"unsupported: $other")
      }
      fields =
        if (f.nullable)
          fields.name(f.name)
            .`type`(Schema.createUnion(Schema.create(Schema.Type.NULL), base))
            .withDefault(null)
        else
          fields.name(f.name).`type`(base).noDefault()
    }
    fields.endRecord()
  }

  private def codecFactory(codec: String): CodecFactory = codec match {
    case "snappy"  => CodecFactory.snappyCodec()
    case "zstd"    => CodecFactory.zstandardCodec(9)
    case "deflate" => CodecFactory.deflateCodec(6)
    case "null"    => CodecFactory.nullCodec()
    case other     => throw new IllegalArgumentException(s"codec: $other")
  }

  /** Catalyst value → Avro datum for one of [[avroSchema]]'s field types
    * (timestamps: micros → the schema's millis, floored).
    */
  private def toAvro(row: InternalRow, i: Int, dt: DataType): AnyRef =
    if (row.isNullAt(i)) null
    else dt match {
      case StringType  => new Utf8(row.getUTF8String(i).getBytes)
      case LongType    => java.lang.Long.valueOf(row.getLong(i))
      case IntegerType => java.lang.Integer.valueOf(row.getInt(i))
      case DoubleType  => java.lang.Double.valueOf(row.getDouble(i))
      case BinaryType  => ByteBuffer.wrap(row.getBinary(i))
      case TimestampType | TimestampNTZType =>
        java.lang.Long.valueOf(Math.floorDiv(row.getLong(i), 1000L))
      case other => throw new IllegalArgumentException(s"unsupported: $other")
    }

  /** A hidden temp container under `dir` being filled with rows of
    * `rowSchema`. Record fields are taken by name, so row columns the Avro
    * schema lacks (split keys) stay out of the file. Tracks the row count
    * and the min/max of the `heightIdx` column (-1: no height).
    */
  private[sources] final class TempContainer(fs: FileSystem, dir: String,
      rowSchema: StructType, avro: Schema, codec: String, heightIdx: Int) {
    val path = new Path(dir, s".graft-tmp-${UUID.randomUUID()}")
    var n = 0L
    var minH = Long.MaxValue
    var maxH = Long.MinValue
    private val slots = avro.getFields.asScala.map { af =>
      val i = rowSchema.fieldIndex(af.name)
      (i, rowSchema(i).dataType)
    }.toArray
    private val writer = {
      val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](avro))
      w.setCodec(codecFactory(codec))
      w.create(avro, ArchiveFs.createTemp(fs, path))
    }

    def append(row: InternalRow): Unit = {
      val rec = new GenericData.Record(avro)
      var j = 0
      while (j < slots.length) {
        rec.put(j, toAvro(row, slots(j)._1, slots(j)._2))
        j += 1
      }
      if (heightIdx >= 0) {
        val h = row.getLong(heightIdx)
        if (h < minH) minH = h
        if (h > maxH) maxH = h
      }
      writer.append(rec)
      n += 1
    }

    def close(): Unit = writer.close()

    def discard(): Unit = {
      try writer.close() catch { case _: Throwable => () }
      try ArchiveFs.delete(fs, path) catch { case _: Throwable => () }
    }
  }

  /** Reference kind of an archive table — one with a height column and a
    * kind alias the reference knows; None routes to flat part-file names.
    */
  private[sources] def refKind(kind: String, schema: StructType,
      heightCol: String): Option[String] =
    scala.util.Try(Filenames.normalizeKind(kind)).toOption
      .filter(_ => schema.fieldNames.contains(heightCol))

  /** Relative final name of a closed container: `L1/L2/<h>[.<hash>].<suffix>
    * .avro` for one height, `L1/range-<min>_<max>.<kind>.avro` otherwise
    * (filenames.rs:51-83); tables without a reference kind land at flat
    * `part-<pid>.<kind>.avro`.
    */
  private[sources] def targetName(kind: String, ref: Option[String], pid: Int,
      minH: Long, maxH: Long, fork: Option[String]): String = ref match {
    case Some(k) if minH == maxH => Filenames.relativeSinglePath(minH, k, fork)
    case Some(k)                 => Filenames.relativeRangePath(minH, maxH, k)
    case None                    => f"part-$pid%05d.$kind.avro"
  }

  /** Write `df` as one Avro container file per partition under `outDir`.
    *
    * Archive kinds (blocks/txes/traces aliases) with a `heightCol` column
    * get the reference's discoverable layout: each partition lands at
    * `L1/range-<min>_<max>.<kind>.avro`, or `L1/L2/<h>.<suffix>.avro` when
    * it holds a single height. Callers control file ranges by partitioning
    * (e.g. `repartition(col(chunk))`); partitions must not collide on a
    * name — an existing target fails the write. Non-archive tables (no
    * reference kind) fall back to flat `part-<pid>.<kind>.avro` names.
    *
    * Returns the number of records written.
    */
  def write(df: DataFrame, kind: String, outDir: String,
      codec: String = "snappy", heightCol: String = "height",
      forkHashCol: Option[String] = None): Long =
    writeSplits(df, kind, outDir, codec, df.schema,
      refKind(kind, df.schema, heightCol), heightCol, forkHashCol,
      splitCols = Nil, failIfTaken = true)

  /** Write one single-height container PER HEIGHT (the stream command's
    * file shape: one `L1/L2/<h>[.<hash>].<suffix>.avro` per archived
    * block, reference src/command/stream.rs + archiver.rs:53-113).
    * Existing targets are SKIPPED, not overwritten — the reference
    * stream's `overwrite: false` (stream.rs:49-52), which is what makes
    * replays idempotent. Rows are co-partitioned by height and split into
    * files on (height, fork-hash) boundaries inside each partition, so
    * hash-partition collisions can never merge two heights into a range
    * file. Returns the number of records in files that actually landed.
    */
  def writeSingles(df: DataFrame, kind: String, outDir: String,
      codec: String = "snappy", heightCol: String = "height",
      forkHashCol: Option[String] = None): Long = {
    val split = heightCol +: forkHashCol.toSeq
    writeSplits(df.repartition(col(heightCol)).sortWithinPartitions(split.map(col): _*),
      kind, outDir, codec, df.schema, Some(Filenames.normalizeKind(kind)),
      heightCol, forkHashCol, split, failIfTaken = false)
  }

  /** One container PER CHUNK (the compact command's range files): rows are
    * co-partitioned by `chunkCol` and split on chunk boundaries INSIDE
    * each sorted partition — hash-partition collisions can therefore never
    * merge two chunks into one file. Each file is named from its own
    * min/max height (`L1/range-<s>_<e>.<kind>.avro`, or a single path for
    * one-height chunks); existing targets are kept (create-if-absent).
    * Returns records written into files that landed.
    */
  def writeChunked(df: DataFrame, kind: String, outDir: String,
      chunkCol: String, codec: String = "zstd",
      heightCol: String = "height"): Long =
    writeSplits(
      df.repartition(col(chunkCol)).sortWithinPartitions(col(chunkCol), col(heightCol)),
      kind, outDir, codec,
      // the chunk key drives file splitting but is NOT part of the record
      StructType(df.schema.fields.filterNot(_.name == chunkCol)),
      Some(Filenames.normalizeKind(kind)), heightCol, None, Seq(chunkCol),
      failIfTaken = false)

  /** The v1 write loop: every partition's rows, in order, fill temp
    * containers of `recordSchema`; a new container starts whenever the
    * `splitCols` values change, and each closed one is committed under its
    * [[targetName]] (a fork-hash name takes the first row's hash). Returns
    * the records in containers that landed.
    */
  private def writeSplits(df: DataFrame, kind: String, outDir: String,
      codec: String, recordSchema: StructType, ref: Option[String],
      heightCol: String, forkHashCol: Option[String], splitCols: Seq[String],
      failIfTaken: Boolean): Long = {
    val schema = df.schema
    val avroJson = avroSchema(recordSchema, kind).toString
    val hIdx = ref.fold(-1)(_ => schema.fieldIndex(heightCol))
    val fIdx = forkHashCol.filter(_ => ref.isDefined).fold(-1)(schema.fieldIndex)
    val keys = splitCols.map(c => (schema.fieldIndex(c), schema(c).dataType)).toArray
    val conf = new SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    ArchiveFs.mkdirs(ArchiveFs.fs(new Path(outDir), conf.value), new Path(outDir))
    // Catalyst rows are reused between calls: keys copy their values out
    def copied(row: InternalRow, i: Int, dt: DataType): Any =
      if (row.isNullAt(i)) null
      else row.get(i, dt) match {
        case s: UTF8String => s.toString
        case v             => v
      }
    df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      val fs = ArchiveFs.fs(new Path(outDir), conf.value)
      val avro = new Schema.Parser().parse(avroJson)
      var landed = 0L
      var open: TempContainer = null
      var key: Seq[Any] = Nil
      var fork: Option[String] = None
      def close(): Unit = if (open != null) {
        open.close()
        val target = new Path(outDir,
          targetName(kind, ref, pid, open.minH, open.maxH, fork))
        if (ArchiveFs.commit(fs, open.path, target, failIfTaken)) landed += open.n
        open = null
      }
      rows.foreach { row =>
        val k = keys.toSeq.map { case (i, dt) => copied(row, i, dt) }
        if (open == null || k != key) {
          close()
          key = k
          fork = if (fIdx < 0) None else Option(copied(row, fIdx, StringType)).map(_.toString)
          open = new TempContainer(fs, outDir, schema, avro, codec, hIdx)
        }
        open.append(row)
      }
      close()
      Iterator.single(landed)
    }.sum().toLong
  }
}
