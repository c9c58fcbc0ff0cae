package graft.sources.v2

import java.util

import org.apache.avro.Schema
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.archive.Filenames
import graft.model.Schemas
import graft.sources.{AvroArchiveSink, AvroArchiveSource}

/** DataSourceV2 connector for the reference's Avro object-container archive
  * layout: `spark.read.format("avro-archive").option("kind", "blocks")
  * .load(dir)`.
  *
  * What makes this the Spark-native read path (vs the binaryFiles seam in
  * [[graft.sources.AvroArchiveSource]]):
  *
  *  - **Filename-range partition pruning.** The archive's filename IS its
  *    zone map (`range-<min>_<max>.<kind>.avro` — reference
  *    src/archiver/filenames.rs:51-83), so height predicates prune whole
  *    container files at PLAN time: `pushFilters` extracts the conjunctive
  *    height bounds and `planInputPartitions` drops every file whose range
  *    doesn't intersect. A 100-TB archive query for one 1000-block chunk
  *    plans exactly one input partition. (Filters are still re-applied by
  *    Spark post-scan — the source prunes files, it does not claim
  *    row-exact evaluation.)
  *  - **Column-pruned decode.** `pruneColumns` narrows the conversion to
  *    the columns the query needs: a `select(height)` over a payload-heavy
  *    blocks archive never materializes the json/uncle blobs into rows
  *    (the container itself is row-major, so the byte stream is still
  *    read — the saving is decode/alloc, the dominant cost for blob
  *    columns).
  *  - **One file per partition** — the natural unit, since range files are
  *    chunk-bounded by construction (≤1000 blocks, src/args.rs:136).
  *
  * Schemas are the pinned static ones (Schemas.schemaFor — never
  * inference; reference src/storage/avro_reader.rs:28-70).
  */
class AvroArchiveDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "avro-archive"

  private def kindOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("kind")).getOrElse(
      throw new IllegalArgumentException(
        "avro-archive requires .option(\"kind\", blocks|txes|traces)"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Schemas.schemaFor(kindOf(options))

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new AvroArchiveTable(schema, kindOf(opts),
      Option(opts.get("path")).getOrElse(
        throw new IllegalArgumentException("avro-archive requires a path")))
  }
}

final class AvroArchiveTable(tableSchema: StructType, kind: String, dir: String)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"avro-archive($kind, $dir)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AvroArchiveScanBuilder(tableSchema, kind, dir,
      options.getBoolean("lenient", false))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new AvroArchiveWriteBuilder(info.schema(), kind, dir,
      Option(info.options.get("codec")).getOrElse("snappy"))
}

final class AvroArchiveScanBuilder(fullSchema: StructType, kind: String,
    dir: String, lenient: Boolean = false) extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = fullSchema
  private var accepted: Array[Filter] = Array.empty

  /** Conjunctive height bounds of a filter, as (lo, hi) deltas. */
  private def heightBounds(f: Filter): Option[(Long, Long)] = f match {
    case EqualTo("height", v: Long)            => Some((v, v))
    case GreaterThan("height", v: Long)        => Some((v + 1, Long.MaxValue))
    case GreaterThanOrEqual("height", v: Long) => Some((v, Long.MaxValue))
    case LessThan("height", v: Long)           => Some((Long.MinValue, v - 1))
    case LessThanOrEqual("height", v: Long)    => Some((Long.MinValue, v))
    case And(l, r) =>
      (heightBounds(l), heightBounds(r)) match {
        case (Some((a, b)), Some((c, e))) => Some((math.max(a, c), math.min(b, e)))
        case (one @ Some(_), None)        => one
        case (None, one)                  => one
      }
    case _ => None
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    accepted = filters.filter(heightBounds(_).isDefined)
    filters // conservative: Spark re-evaluates everything post-scan
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    val (lo, hi) = accepted.flatMap(heightBounds).foldLeft(
      (Long.MinValue, Long.MaxValue)) { case ((a, b), (c, e)) =>
      (math.max(a, c), math.min(b, e))
    }
    new AvroArchiveScan(required, kind, dir, lo, hi, lenient)
  }
}

final case class AvroFilePartition(path: String) extends InputPartition

final class AvroArchiveScan(required: StructType, kind: String, dir: String,
    lo: Long, hi: Long, lenient: Boolean = false) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  // Catalog-sized driver-side planning: list + filename-parse + prune.
  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val all = AvroArchiveSource.filesOfKind(spark,
      AvroArchiveSource.listAvroFiles(spark, dir), kind)
    val kept = all.filter { p =>
      // an unparsable range is never silently dropped
      Filenames.parseRangeS(p).forall { case (mn, mx) => mx >= lo && mn <= hi }
    }
    kept.map(AvroFilePartition(_): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConfiguration(
      SparkSession.active.sparkContext.hadoopConfiguration)
    new AvroPartitionReaderFactory(conf, required, lenient)
  }

  override def description(): String =
    s"avro-archive kind=$kind dir=$dir heightBounds=[$lo, $hi] " +
      s"readSchema=${required.fieldNames.mkString(",")}"
}

final class AvroPartitionReaderFactory(conf: SerializableConfiguration,
    required: StructType, lenient: Boolean = false)
    extends PartitionReaderFactory {

  /** One container per partition, decoded by the v1 source's decode loop
    * ([[AvroArchiveSource.Decoder]]) — so `lenient = true` has the same
    * meaning as in `AvroArchiveSource.readArchiveFilesWithPath`: an
    * unreadable or mid-stream-corrupt container ends its rows instead of
    * failing the task.
    */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val path = new Path(partition.asInstanceOf[AvroFilePartition].path)
    val rows = new AvroArchiveSource.Decoder(
      () => path.getFileSystem(conf.value).open(path), required.fields, lenient)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = rows.hasNext
      override def get(): InternalRow = rows.next()
      override def close(): Unit = rows.close()
    }
  }
}

/** The connector's write side: `df.write.format("avro-archive")
  * .option("kind", ...).mode("append").save(dir)`, on the sink's commit
  * protocol ([[AvroArchiveSink]]) with the claim moved to the driver:
  * every task streams its partition into a hidden temp container and
  * reports (temp, min/max height, count) in its commit message; the
  * DRIVER then claims + renames all winners serially in
  * `BatchWrite.commit`. Spark's task-commit coordination guarantees one
  * message per partition, so a speculative duplicate attempt can never
  * race a claim — its `abort` just deletes its temp. A name collision (two
  * partitions covering the same height range, or a pre-existing archive
  * file) fails the JOB, and the abort deletes every temp not yet renamed.
  */
final class AvroArchiveWriteBuilder(schema: StructType, kind: String,
    dir: String, codec: String) extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new AvroArchiveBatchWrite(
      schema, kind, dir, codec,
      new SerializableConfiguration(
        SparkSession.active.sparkContext.hadoopConfiguration))
  }
}

final case class AvroWriteCommit(tmpPath: String, partitionId: Int,
    minH: Long, maxH: Long, n: Long) extends WriterCommitMessage

final class AvroArchiveBatchWrite(schema: StructType, kind: String,
    dir: String, codec: String, conf: SerializableConfiguration)
    extends BatchWrite {

  private val refKind = AvroArchiveSink.refKind(kind, schema, "height")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new AvroArchiveWriterFactory(schema, kind, dir, codec, conf,
      refKind.isDefined)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(dir).getFileSystem(conf.value)
    messages.collect { case m: AvroWriteCommit if m.n > 0 =>
      val target = new Path(dir, AvroArchiveSink.targetName(
        kind, refKind, m.partitionId, m.minH, m.maxH, fork = None))
      AvroArchiveSink.commit(fs, new Path(m.tmpPath), target, failIfTaken = true)
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(dir).getFileSystem(conf.value)
    messages.foreach {
      case m: AvroWriteCommit =>
        try fs.delete(new Path(m.tmpPath), false)
        catch { case _: Throwable => () }
      case _ => ()
    }
  }
}

final class AvroArchiveWriterFactory(schema: StructType, kind: String,
    dir: String, codec: String, conf: SerializableConfiguration,
    trackHeight: Boolean) extends DataWriterFactory {

  private val schemaJson = AvroArchiveSink.avroSchema(schema, kind).toString

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val fs = new Path(dir).getFileSystem(conf.value)
      private val out = new AvroArchiveSink.TempContainer(fs, dir, schema,
        new Schema.Parser().parse(schemaJson), codec,
        if (trackHeight) schema.fieldIndex("height") else -1)

      override def write(row: InternalRow): Unit = out.append(row)

      override def commit(): WriterCommitMessage = {
        out.close()
        if (out.n == 0L) fs.delete(out.path, false)
        AvroWriteCommit(out.path.toString, partitionId, out.minH, out.maxH, out.n)
      }

      override def abort(): Unit = out.discard()

      override def close(): Unit = ()
    }
}
