package graft.sources.v2

import java.util

import org.apache.avro.Schema
import org.apache.hadoop.fs.Path
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.archive.Filenames
import graft.model.Schemas
import graft.sources.{ArchiveFs, AvroArchiveSink, AvroArchiveSource}

/** DataSourceV2 connector for the reference's Avro object-container archive
  * layout: `spark.read.format("avro-archive").option("kind", "blocks")
  * .load(dir)`. Its scan is the ONE way a container becomes rows: the v1
  * reads in [[graft.sources.AvroArchiveSource]] plan the same scan over an
  * explicit file list.
  *
  *  - **Filename-range partition pruning.** The archive's filename IS its
  *    zone map (`range-<min>_<max>.<kind>.avro` — reference
  *    src/archiver/filenames.rs:51-83), so height predicates prune whole
  *    container files at PLAN time: `pushFilters` extracts the conjunctive
  *    height bounds and `planInputPartitions` drops every file whose range
  *    doesn't intersect. A 100-TB archive query for one 1000-block chunk
  *    plans exactly one container. (Filters are still re-applied by
  *    Spark post-scan — the source prunes files, it does not claim
  *    row-exact evaluation.)
  *  - **Column-pruned conversion.** `pruneColumns` narrows the Catalyst
  *    conversion to the columns the query needs. The Avro decode itself
  *    still materializes every field of a record: the container is
  *    row-major and the decoder reads with the writer schema.
  *  - **Packed partitions.** Containers pack into [[FilePartition]]s by
  *    Spark's own file rule (`spark.sql.files.maxPartitionBytes` /
  *    `openCostInBytes`, largest first), so an archive of many small
  *    singles does not cost one task per file. Files are never split.
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

/** The archive's `kind` files under `dir`, listed at plan time — or, when
  * `files` is given, exactly those files, whatever their names' kind. A
  * schema field named [[AvroArchiveSource.PathColumn]] is filled with each
  * record's file, as the string it was listed by.
  */
final class AvroArchiveTable(tableSchema: StructType, kind: String, dir: String,
    files: Option[Seq[String]] = None)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"avro-archive($kind, ${files.fold(dir)(f => s"${f.size} files")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AvroArchiveScanBuilder(tableSchema, kind, dir, files,
      options.getBoolean("lenient", false))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new AvroArchiveWriteBuilder(info.schema(), kind, dir,
      Option(info.options.get("codec")).getOrElse("snappy"))
}

final class AvroArchiveScanBuilder(fullSchema: StructType, kind: String,
    dir: String, files: Option[Seq[String]], lenient: Boolean) extends ScanBuilder
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
    new AvroArchiveScan(required, kind, dir, files, lo, hi, lenient)
  }
}

final class AvroArchiveScan(required: StructType, kind: String, dir: String,
    files: Option[Seq[String]], lo: Long, hi: Long, lenient: Boolean)
    extends Scan with Batch {

  // the decoded fields, then the path column (the decoder appends it)
  private val (pathField, fields) =
    required.fields.partition(_.name == AvroArchiveSource.PathColumn)

  override def readSchema(): StructType = StructType(fields ++ pathField)
  override def toBatch: Batch = this

  // Catalog-sized driver-side planning: list (or stat the given files),
  // filename-prune, pack.
  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    // an unparsable range is never silently dropped
    val intersects = (p: String) =>
      Filenames.parseRangeS(p).forall { case (mn, mx) => mx >= lo && mn <= hi }
    val sized: Seq[(String, Long)] = files match {
      case Some(given) => given.filter(intersects).map { p =>
        (p, ArchiveFs.fs(new Path(p), conf).getFileStatus(new Path(p)).getLen)
      }
      case None =>
        val listed = AvroArchiveSource.listAvroStatuses(spark, dir)
          .map(f => (f.getPath.toString, f.getLen))
        val ofKind = AvroArchiveSource.filesOfKind(spark, listed.map(_._1), kind).toSet
        listed.filter { case (p, _) => ofKind(p) && intersects(p) }
    }
    val parts = sized.sortBy(-_._2).map { case (p, len) =>
      // the listed string rides along: `_path` must be exactly it, and
      // a SparkPath re-encodes
      PartitionedFile(InternalRow.empty, SparkPath.fromPathString(p), 0, len,
        Array.empty[String], 0L, len, Map(AvroArchiveSource.PathColumn -> p))
    }
    val openCost = SQLConf.get.filesOpenCostInBytes
    FilePartition.getFilePartitions(spark, parts,
      FilePartition.maxSplitBytes(spark, parts.map(_.length + openCost).sum)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConfiguration(
      SparkSession.active.sparkContext.hadoopConfiguration)
    new AvroPartitionReaderFactory(conf, fields, pathField.nonEmpty, lenient)
  }

  override def description(): String =
    s"avro-archive kind=$kind ${files.fold(s"dir=$dir")(f => s"files=${f.size}")} " +
      s"heightBounds=[$lo, $hi] readSchema=${readSchema().fieldNames.mkString(",")}"
}

final class AvroPartitionReaderFactory(conf: SerializableConfiguration,
    fields: Array[StructField], withPath: Boolean, lenient: Boolean)
    extends PartitionReaderFactory {

  /** The containers of one packed partition, in order, each decoded by its
    * own [[AvroArchiveSource.Decoder]] — so `lenient = true` ends only an
    * unreadable or mid-stream-corrupt container's rows, never the rest of
    * the partition, and a strict read fails the task.
    */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    var current: AvroArchiveSource.Decoder = null
    val rows = partition.asInstanceOf[FilePartition].files.iterator.flatMap { file =>
      val path = file.toPath
      current = new AvroArchiveSource.Decoder(
        () => ArchiveFs.fs(path, conf.value).open(path), fields, lenient,
        if (withPath) UTF8String.fromString(
          file.otherConstantMetadataColumnValues(AvroArchiveSource.PathColumn).toString)
        else null)
      current
    }
    new PartitionReader[InternalRow] {
      override def next(): Boolean = rows.hasNext
      override def get(): InternalRow = rows.next()
      override def close(): Unit = if (current != null) current.close()
    }
  }
}

/** The connector's write side: `df.write.format("avro-archive")
  * .option("kind", ...).mode("append").save(dir)`, on the sink's commit
  * protocol with the commit moved to the driver: every task streams its
  * partition into a temp container and reports (temp, min/max height,
  * count); the DRIVER then commits them serially ([[ArchiveFs.commit]]).
  * Spark's task-commit coordination guarantees one message per partition,
  * so a speculative duplicate attempt can never race a claim. A name
  * collision (two partitions covering the same height range, or a
  * pre-existing archive file) fails the JOB, and the abort deletes every
  * temp not yet published.
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
  private lazy val fs = ArchiveFs.fs(new Path(dir), conf.value)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new AvroArchiveWriterFactory(schema, kind, dir, codec, conf,
      refKind.isDefined)

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: AvroWriteCommit if m.n > 0 =>
      val target = new Path(dir, AvroArchiveSink.targetName(
        kind, refKind, m.partitionId, m.minH, m.maxH, fork = None))
      ArchiveFs.commit(fs, new Path(m.tmpPath), target, failIfTaken = true)
    }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: AvroWriteCommit =>
      try ArchiveFs.delete(fs, new Path(m.tmpPath)) catch { case _: Throwable => () }
    }
}

final class AvroArchiveWriterFactory(schema: StructType, kind: String,
    dir: String, codec: String, conf: SerializableConfiguration,
    trackHeight: Boolean) extends DataWriterFactory {

  private val schemaJson = AvroArchiveSink.avroSchema(schema, kind).toString

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val fs = ArchiveFs.fs(new Path(dir), conf.value)
      private val out = new AvroArchiveSink.TempContainer(fs, dir, schema,
        new Schema.Parser().parse(schemaJson), codec,
        if (trackHeight) schema.fieldIndex("height") else -1)

      override def write(row: InternalRow): Unit = out.append(row)

      override def commit(): WriterCommitMessage = {
        out.close()
        if (out.n == 0L) ArchiveFs.delete(fs, out.path)
        AvroWriteCommit(out.path.toString, partitionId, out.minH, out.maxH, out.n)
      }

      override def abort(): Unit = out.discard()

      override def close(): Unit = ()
    }
}
