package graft.sources.v2

import java.util

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

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
  * record's file, as the string it was listed by. A write lays its rows out
  * by `layout` and leaves every container it formed, with whether it landed,
  * in [[committed]].
  */
final class AvroArchiveTable(tableSchema: StructType, kind: String, dir: String,
    files: Option[Seq[String]] = None,
    layout: Option[AvroArchiveSink.Layout] = None)
    extends Table with SupportsRead with SupportsWrite {
  @volatile private[sources] var committed = Seq.empty[(AvroTemp, Boolean)]
  override def name(): String = s"avro-archive($kind, ${files.fold(dir)(f => s"${f.size} files")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AvroArchiveScanBuilder(tableSchema, kind, dir, files,
      options.getBoolean("lenient", false))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder {
    override def build(): Write = new Write {
      override def toBatch: BatchWrite = new AvroArchiveBatchWrite(info.schema(), kind, dir,
        Option(info.options.get("codec")).getOrElse("snappy"),
        layout.getOrElse(AvroArchiveSink.Layout(info.schema(), Nil, None, failIfTaken = true)),
        new SerializableConfiguration(SparkSession.active.sparkContext.hadoopConfiguration),
        c => committed = c)
    }
  }
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

/** The connector's write side, and the ONE way a container is written:
  * `df.write.format("avro-archive").option("kind", ...).mode("append")
  * .save(dir)` and the sink's wrappers ([[AvroArchiveSink.write]],
  * `writeSingles`, `writeChunked`) all run it. Every task streams its
  * partition into temp containers (a new one whenever the layout's split
  * key changes) and reports them; the DRIVER then commits them serially,
  * in partition order ([[ArchiveFs.commit]], its only caller). Spark's
  * task-commit coordination guarantees one message per partition, so a
  * speculative duplicate attempt can never race a claim. A taken name
  * either fails the JOB (then the abort deletes every temp not yet
  * published) or drops its container, by the layout's policy. A layout
  * that drops taken names first checks that no two containers of the write
  * name the same file: such input broke the layout's co-location (one
  * split key in two partitions), and claiming would silently drop a
  * container's rows, so the write fails before its first claim.
  */
final case class AvroTemp(path: String, minH: Long, maxH: Long, n: Long,
    fork: Option[String])

final case class AvroWriteCommit(partitionId: Int, temps: Seq[AvroTemp])
    extends WriterCommitMessage

final class AvroArchiveBatchWrite(schema: StructType, kind: String, dir: String,
    codec: String, layout: AvroArchiveSink.Layout, conf: SerializableConfiguration,
    report: Seq[(AvroTemp, Boolean)] => Unit) extends BatchWrite {

  // a table without a height column or a reference kind lands at flat part
  // names, one per partition — never a split layout's many containers
  private val ref =
    if (layout.splitCols.nonEmpty) Some(Filenames.normalizeKind(kind))
    else Try(Filenames.normalizeKind(kind)).toOption
      .filter(_ => layout.record.fieldNames.contains("height"))
  private lazy val fs = ArchiveFs.fs(new Path(dir), conf.value)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    ArchiveFs.mkdirs(fs, new Path(dir))
    new AvroArchiveWriterFactory(schema, kind, dir, codec, layout,
      if (ref.isDefined) schema.fieldIndex("height") else -1, conf)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val targets = messages.toSeq.collect { case m: AvroWriteCommit => m }
      .flatMap(m => m.temps.map(t => t -> new Path(dir,
        AvroArchiveSink.targetName(kind, ref, m.partitionId, t.minH, t.maxH, t.fork))))
    if (!layout.failIfTaken) targets.groupBy(_._2).find(_._2.size > 1).foreach {
      case (target, twice) => throw new IllegalStateException(
        s"${twice.size} containers of one write name $target — each split key " +
          s"(${layout.splitCols.mkString(", ")}) must sit in one partition")
    }
    report(targets.map { case (t, target) =>
      t -> ArchiveFs.commit(fs, new Path(t.path), target, layout.failIfTaken)
    })
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.collect { case m: AvroWriteCommit => m.temps.foreach { t =>
      try ArchiveFs.delete(fs, new Path(t.path)) catch { case _: Throwable => () }
    } }
}

/** One writer per task: its rows, in order, fill temp containers, a new one
  * whenever the layout's split key changes, named with the fork hash of its
  * first row (reference singles only: `heightIdx` >= 0). `commit` reports
  * every container; `abort` discards them all, none of them published yet.
  */
final class AvroArchiveWriterFactory(schema: StructType, kind: String,
    dir: String, codec: String, layout: AvroArchiveSink.Layout, heightIdx: Int,
    conf: SerializableConfiguration) extends DataWriterFactory {

  private val avroJson = AvroArchiveSink.avroSchema(layout.record, kind).toString
  private val keys = layout.splitCols.map(c => (schema.fieldIndex(c), schema(c).dataType))
  private val forkIdx = layout.forkCol.filter(_ => heightIdx >= 0).fold(-1)(schema.fieldIndex)

  // Catalyst rows are reused between calls: keys copy their values out
  private def copied(row: InternalRow, i: Int, dt: DataType): Any =
    if (row.isNullAt(i)) null
    else row.get(i, dt) match {
      case s: UTF8String => s.toString
      case v             => v
    }

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val fs = ArchiveFs.fs(new Path(dir), conf.value)
      private val avro = new Schema.Parser().parse(avroJson)
      private val temps = ArrayBuffer.empty[AvroArchiveSink.TempContainer]
      private var key: Seq[Any] = Nil

      override def write(row: InternalRow): Unit = {
        val k = keys.map { case (i, dt) => copied(row, i, dt) }
        if (temps.isEmpty || k != key) {
          temps.lastOption.foreach(_.close())
          key = k
          temps += new AvroArchiveSink.TempContainer(fs, dir, schema, avro, codec, heightIdx,
            if (forkIdx < 0) None else Option(row.getUTF8String(forkIdx)).map(_.toString))
        }
        temps.last.append(row)
      }

      override def commit(): WriterCommitMessage = {
        temps.lastOption.foreach(_.close())
        AvroWriteCommit(partitionId,
          temps.map(t => AvroTemp(t.path.toString, t.minH, t.maxH, t.n, t.fork)).toSeq)
      }

      override def abort(): Unit = temps.foreach(_.discard())

      override def close(): Unit = ()
    }
}
