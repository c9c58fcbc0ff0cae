package graft.sources

import java.io.{Closeable, FileNotFoundException, InputStream}
import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericEnumSymbol, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.archive.Filenames
import graft.model.Schemas
import graft.sources.v2.AvroArchiveTable

/** Reader for the reference's ACTUAL storage format — Avro object-container
  * files (reference writer: src/storage/fs.rs:135-219; reader:
  * src/storage/avro_reader.rs:28-70). The container ships no spark-avro
  * datasource, so this decodes via the core avro jar.
  *
  * There is one read path: every read here is a thin wrapper that plans
  * the `avro-archive` DataSourceV2 scan ([[graft.sources.v2.AvroArchiveScan]])
  * over an explicit file list, and that scan's partition reader is the only
  * user of the one decode loop ([[Decoder]]): records map by FIELD NAME
  * onto the static Spark schemas (graft.model.Schemas; the reference's
  * readers use the same fixed schemas, never inference) and become
  * Catalyst rows directly.
  */
object AvroArchiveSource {

  /** The column [[readArchiveFilesWithPath]] adds: the source container of
    * each record, as the exact path string the caller listed.
    */
  private[sources] val PathColumn = "_path"

  /** Read one-or-many `.avro` archive files (glob ok) as the given kind
    * ("blocks" | "txes" | "traces").
    */
  def read(spark: SparkSession, pathGlob: String, kind: String): DataFrame =
    read(spark, pathGlob, Schemas.schemaFor(kind))

  /** Read with an explicit pinned schema (arbitrary tables). `pathGlob` is
    * a comma-separated list of files or globs, expanded on the driver;
    * names starting with `_` or `.` (temp containers) are skipped, and an
    * entry that matches no file fails the read.
    */
  def read(spark: SparkSession, pathGlob: String, schema: StructType): DataFrame =
    scan(spark, schema, "", expand(spark, pathGlob), lenient = false)

  private def expand(spark: SparkSession, pathGlob: String): Seq[String] =
    pathGlob.split(",").toSeq.flatMap { entry =>
      val files = Option(ArchiveFs.fs(spark, entry).globStatus(new Path(entry))).toSeq.flatten
        .filter(f => f.isFile && !f.getPath.getName.matches("[_.].*"))
      if (files.isEmpty) throw new FileNotFoundException(s"avro-archive: no file matches $entry")
      files.map(_.getPath.toString)
    }

  /** All `.avro` files under `dir`, at any L1/(L2) nesting level — the
    * recursive walk the reference's listing does (src/storage/fs.rs:62-132).
    */
  def listAvroFiles(spark: SparkSession, dir: String): Seq[String] =
    listAvroStatuses(spark, dir).map(_.getPath.toString)

  /** [[listAvroFiles]] with each file's status, by [[ArchiveFs.files]]. */
  private[sources] def listAvroStatuses(spark: SparkSession, dir: String): Seq[FileStatus] =
    ArchiveFs.files(ArchiveFs.fs(spark, dir), new Path(dir))
      .filter(_.getPath.getName.endsWith(".avro")).toSeq

  /** Read every `<kind>` container file under an archive directory tree,
    * filtered by parsed filename kind. Empty-archive-safe: a missing or
    * empty dir yields an empty DataFrame (the reference verify's
    * does-nothing-on-empty-archive, src/command/verify.rs:951-970).
    */
  def readArchive(spark: SparkSession, dir: String, kind: String): DataFrame =
    readArchiveFiles(spark,
      filesOfKind(spark, listAvroFiles(spark, dir), kind), kind)

  /** The subset of `files` whose basename parses to `kind`. */
  def filesOfKind(spark: SparkSession, files: Seq[String], kind: String): Seq[String] = {
    val want = Filenames.normalizeKind(kind)
    files.filter(Filenames.parseKindS(_).contains(want))
  }

  /** Read an explicit list of container files (empty-safe). */
  def readArchiveFiles(spark: SparkSession, files: Seq[String], kind: String): DataFrame =
    scan(spark, Schemas.schemaFor(kind), kind, files, lenient = false)

  /** Like [[readArchiveFiles]] but with a `_path` column attributing every
    * record to its source container — the content verifier needs to mark
    * whole FILES broken, not rows (reference FileReference,
    * src/storage/mod.rs:231-258). `_path` is the exact string of `files`
    * the record came from, so it joins back against the caller's list.
    *
    * `lenient = true` turns an unreadable or mid-stream-corrupt container
    * into "the records stop here" instead of a task failure: the verify
    * pipeline then SURFACES the damage through its coverage/duplicate
    * checks and dooms the file set, exactly like the reference's per-batch
    * decode-error handling (verify.rs treats an avro read error as a
    * failed batch, never a crashed command). Strict reads (the default)
    * keep failing fast — silently truncating data outside a verifier
    * would mask corruption.
    */
  def readArchiveFilesWithPath(spark: SparkSession, files: Seq[String],
      kind: String, lenient: Boolean = false): DataFrame =
    scan(spark, Schemas.schemaFor(kind).add(PathColumn, StringType, nullable = false),
      kind, files, lenient)

  /** The V2 scan of an explicit file list, as a DataFrame over its relation
    * (the `lenient` reader option rides on the relation's options).
    */
  private def scan(spark: SparkSession, schema: StructType, kind: String,
      files: Seq[String], lenient: Boolean): DataFrame =
    Bridge.ofRows(spark, DataSourceV2Relation.create(
      new AvroArchiveTable(schema, kind, dir = "", Some(files)), None, None,
      new CaseInsensitiveStringMap(Map("lenient" -> lenient.toString).asJava)))

  /** The decode loop: the records of one container as Catalyst rows of
    * `fields`, plus a trailing `path` column when one is given. Lookahead —
    * the container opens and record N decodes inside `hasNext` — so an
    * unreadable or mid-stream-corrupt container surfaces there, as
    * end-of-file when `lenient` or as the task's failure otherwise, never
    * from a half-consumed `next()`.
    */
  private[sources] final class Decoder(open: () => InputStream,
      fields: Array[StructField], lenient: Boolean, path: UTF8String = null)
      extends Iterator[InternalRow] with Closeable {
    private var stream: DataFileStream[GenericRecord] = null
    // each field's position in the container's writer schema (fixed per
    // container), -1 when the container lacks it
    private var slots: Array[Int] = null
    private var pending: InternalRow = null
    private var done = false

    private def advance(): Unit = if (!done && pending == null) {
      try {
        if (stream == null) {
          val in = open()
          stream =
            try new DataFileStream[GenericRecord](in, new GenericDatumReader[GenericRecord]())
            catch { case t: Throwable => in.close(); throw t }
          val writer = stream.getSchema
          slots = fields.map(f => Option(writer.getField(f.name)).fold(-1)(_.pos))
        }
        if (stream.hasNext) pending = toRow(stream.next())
        else close()
      } catch {
        case t: Throwable =>
          close()
          if (!lenient) throw t
      }
    }

    private def toRow(rec: GenericRecord): InternalRow = {
      val row = new GenericInternalRow(fields.length + (if (path == null) 0 else 1))
      var i = 0
      while (i < fields.length) {
        val slot = slots(i)
        row.update(i, toCatalyst(if (slot < 0) null else rec.get(slot), fields(i)))
        i += 1
      }
      if (path != null) row.update(fields.length, path)
      row
    }

    def hasNext: Boolean = { advance(); pending != null }

    def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val r = pending
      pending = null
      r
    }

    def close(): Unit = {
      done = true
      if (stream != null) try stream.close() catch { case _: Throwable => () }
    }
  }

  /** Avro runtime value → Catalyst value of field `f` (timestamps: the
    * sink's timestamp-millis → micros). A field the container lacks reads
    * null; a null in a non-nullable field, or a value of another type, is a
    * decode error.
    */
  private def toCatalyst(v: Any, f: StructField): Any = (v, f.dataType) match {
    case (null, _) if f.nullable => null
    // Utf8's backing array over-allocates; copy exactly byteLength
    case (u: Utf8, StringType) =>
      UTF8String.fromBytes(java.util.Arrays.copyOfRange(u.getBytes, 0, u.getByteLength))
    case (s: CharSequence, StringType)          => UTF8String.fromString(s.toString)
    case (e: GenericEnumSymbol[_], StringType)  => UTF8String.fromString(e.toString)
    case (l: java.lang.Long, TimestampType | TimestampNTZType) => l * 1000L
    case (l: java.lang.Long, LongType)          => l
    case (d: java.lang.Double, DoubleType)      => d
    case (i: java.lang.Integer, IntegerType)    => i
    case (b: ByteBuffer, BinaryType) =>
      val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr); arr
    case (a: Array[Byte], BinaryType)           => a
    case (other, dt) =>
      throw new IllegalArgumentException(
        s"avro-archive: cannot read ${Option(other).fold("null")(_.getClass.getName)} " +
          s"as $dt (field ${f.name})")
  }
}
