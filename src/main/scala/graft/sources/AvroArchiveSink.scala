package graft.sources

import java.nio.ByteBuffer
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.avro.{LogicalTypes, Schema, SchemaBuilder}
import org.apache.avro.file.{CodecFactory, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{classic, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.AppendData
import org.apache.spark.sql.execution.{CommandExecutionMode, QueryExecution}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.archive.Filenames
import graft.sources.v2.{AvroArchiveTable, AvroTemp}

/** Writer for the reference's Avro object-container archive format
  * (reference: src/storage/fs.rs:135-219; codecs snappy | zstd(9),
  * src/global.rs:34-46) — so archives this engine produces stay readable
  * by the reference tooling and vice versa.
  *
  * The Avro schema is DERIVED from the engine's static StructTypes
  * (graft.model.Schemas) — same field names/types the reference embeds.
  *
  * There is one write path: [[write]], [[writeColocatedSingles]] (under
  * [[writeSingles]]) and [[writeChunked]] are thin wrappers that plan an
  * `AppendData` into the `avro-archive` DataSourceV2 table with a
  * [[Layout]], the same write `df.write.format("avro-archive")` runs with
  * the default one. Each task's one `DataWriter` streams its rows into
  * hidden temp containers ([[TempContainer]]), a new one whenever the
  * layout's split key changes, and discards them all if the task fails.
  * The DRIVER then commits every closed container serially, in partition
  * order: its height range names it ([[targetName]] — the filename IS the
  * metadata,
  * src/archiver/filenames.rs:51-83), and [[ArchiveFs.commit]] claims the
  * name and publishes the temp onto it, on any scheme (local, HDFS, object
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
    * `rowSchema` (record fields taken by name, so split keys stay out of
    * the file), to be named with `fork`. Tracks the row count and the
    * min/max of the `heightIdx` column (-1: no height).
    */
  private[sources] final class TempContainer(fs: FileSystem, dir: String,
      rowSchema: StructType, avro: Schema, codec: String, heightIdx: Int,
      val fork: Option[String]) {
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

  /** How a write's rows become containers: `record` holds the Avro
    * record's columns (rows may carry more, such as a split key), a new
    * container starts whenever the `splitCols` values change and takes its
    * fork-hash name from `forkCol` of its first row, and a taken name fails
    * the write when `failIfTaken`, else drops the container.
    */
  private[sources] final case class Layout(record: StructType,
      splitCols: Seq[String], forkCol: Option[String], failIfTaken: Boolean)

  /** Write `df` as one Avro container file per partition under `outDir`.
    *
    * Archive kinds (blocks/txes/traces aliases) with a `height` column
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
      codec: String = "snappy", forkHashCol: Option[String] = None): Long =
    landed(append(df, kind, outDir, codec,
      Layout(df.schema, Nil, forkHashCol, failIfTaken = true)))

  /** Write one single-height snappy container PER HEIGHT (the stream
    * command's file shape: one `L1/L2/<h>[.<hash>].<suffix>.avro` per
    * archived block, reference src/command/stream.rs + archiver.rs:53-113).
    * Existing targets are SKIPPED, not overwritten — the reference
    * stream's `overwrite: false` (stream.rs:49-52), which is what makes
    * replays idempotent. Rows are co-partitioned by height
    * (`repartition(height)`) and written by [[writeColocatedSingles]], so
    * hash-partition collisions can never merge two heights into a range
    * file. Returns the number of records in files that actually landed.
    */
  def writeSingles(df: DataFrame, kind: String, outDir: String,
      forkHashCol: Option[String] = None): Long =
    writeColocatedSingles(df.repartition(col("height")), kind, outDir, forkHashCol)._1

  /** [[writeSingles]] without its exchange: each partition of `df` is
    * sorted on (height, fork) where it stands and split into one single per
    * (height, fork), so the write plans no shuffle. Precondition: every
    * (height, fork) sits in ONE partition of `df` (a one-partition frame,
    * say). Input that breaks it fails before any claim, since two of the
    * write's containers would name the same file, and leaves no file and
    * no temp. Returns the records in singles that landed, and the
    * (height, fork) of every single the rows formed, landed or skipped.
    */
  def writeColocatedSingles(df: DataFrame, kind: String, outDir: String,
      forkHashCol: Option[String] = None): (Long, Seq[(Long, Option[String])]) = {
    val split = "height" +: forkHashCol.toSeq
    val committed = append(df.sortWithinPartitions(split.map(col): _*), kind, outDir, "snappy",
      Layout(df.schema, split, forkHashCol, failIfTaken = false))
    (landed(committed), committed.map { case (t, _) => (t.minH, t.fork) })
  }

  /** One zstd container PER CHUNK (the compact command's range files): rows
    * are co-partitioned by `chunkCol` and split on chunk boundaries INSIDE
    * each sorted partition — hash-partition collisions can therefore never
    * merge two chunks into one file. Each file is named from its own
    * min/max height (`L1/range-<s>_<e>.<kind>.avro`, or a single path for
    * one-height chunks); existing targets are kept (create-if-absent).
    * Returns records written into files that landed.
    */
  def writeChunked(df: DataFrame, kind: String, outDir: String, chunkCol: String): Long =
    landed(append(df.repartition(col(chunkCol)).sortWithinPartitions(col(chunkCol), col("height")),
      kind, outDir, "zstd",
      // the chunk key drives file splitting but is NOT part of the record
      Layout(StructType(df.schema.fields.filterNot(_.name == chunkCol)), Seq(chunkCol),
        None, failIfTaken = false)))

  /** Plan the `avro-archive` append of `df` under `layout` and run it in the
    * caller's job context, as an RDD action runs: a SQL execution of its own
    * would describe the plan for the listeners on every write (~15% of a
    * small write's driver CPU). Returns every container the write formed,
    * in commit order, with whether it landed.
    */
  private def append(df: DataFrame, kind: String, outDir: String, codec: String,
      layout: Layout): Seq[(AvroTemp, Boolean)] = {
    val table = new AvroArchiveTable(df.schema, kind, outDir, layout = Some(layout))
    new QueryExecution(df.sparkSession.asInstanceOf[classic.SparkSession],
      AppendData.byPosition(DataSourceV2Relation.create(table, None, None),
        df.queryExecution.analyzed, Map("codec" -> codec)),
      mode = CommandExecutionMode.SKIP).executedPlan.executeCollect()
    table.committed
  }

  /** Records in the containers that landed. */
  private def landed(committed: Seq[(AvroTemp, Boolean)]): Long =
    committed.collect { case (t, true) => t.n }.sum
}
