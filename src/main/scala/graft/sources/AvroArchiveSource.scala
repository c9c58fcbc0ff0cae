package graft.sources

import java.io.{Closeable, InputStream}
import java.nio.ByteBuffer

import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericEnumSymbol, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.archive.Filenames
import graft.model.Schemas

/** Reader for the reference's ACTUAL storage format — Avro object-container
  * files (reference writer: src/storage/fs.rs:135-219; reader:
  * src/storage/avro_reader.rs:28-70). The container ships no spark-avro
  * datasource, so this decodes via the core avro jar inside
  * `binaryFiles` partitions, which pack many small containers into one
  * task.
  *
  * Every read — these v1 reads and the V2 connector's partition reader —
  * goes through one decode loop ([[Decoder]]): records map by FIELD NAME
  * onto the static Spark schemas (graft.model.Schemas; the reference's
  * readers use the same fixed schemas, never inference) and become
  * Catalyst rows directly.
  */
object AvroArchiveSource {

  /** Read one-or-many `.avro` archive files (glob ok) as the given kind
    * ("blocks" | "txes" | "traces").
    */
  def read(spark: SparkSession, pathGlob: String, kind: String): DataFrame =
    read(spark, pathGlob, Schemas.schemaFor(kind))

  /** Read with an explicit pinned schema (arbitrary tables). */
  def read(spark: SparkSession, pathGlob: String, schema: StructType): DataFrame =
    decodeFiles(spark, Seq(pathGlob), schema, lenient = false, withPath = false)

  /** All `.avro` files under `dir`, at any L1/(L2) nesting level — the
    * recursive walk the reference's listing does (src/storage/fs.rs:62-132).
    * On `file://` it walks `listStatusIterator`: the recursive `listFiles`
    * reads each local file's permissions, forking `ls` per file without
    * libhadoop. Elsewhere it is `listFiles` (on S3A one paginated LIST).
    */
  def listAvroFiles(spark: SparkSession, dir: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Seq.empty
    val out = Seq.newBuilder[String]
    def add(f: org.apache.hadoop.fs.FileStatus): Unit =
      if (f.isFile && f.getPath.getName.endsWith(".avro")) out += f.getPath.toString
    def walk(d: org.apache.hadoop.fs.Path): Unit = {
      val it = fs.listStatusIterator(d)
      while (it.hasNext) {
        val f = it.next()
        if (f.isDirectory) walk(f.getPath) else add(f)
      }
    }
    if (fs.getScheme == "file") walk(path)
    else {
      val it = fs.listFiles(path, true)
      while (it.hasNext) add(it.next())
    }
    out.result()
  }

  /** Read every `<kind>` container file under an archive directory tree,
    * filtered by parsed filename kind. Empty-archive-safe: a missing or
    * empty dir yields an empty DataFrame (the reference verify's
    * does-nothing-on-empty-archive, src/command/verify.rs:951-970) instead
    * of `binaryFiles` failing on a matchless glob.
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
    decodeFiles(spark, files, Schemas.schemaFor(kind), lenient = false, withPath = false)

  /** Like [[readArchiveFiles]] but with a `_path` column attributing every
    * record to its source container — the content verifier needs to mark
    * whole FILES broken, not rows (reference FileReference,
    * src/storage/mod.rs:231-258).
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
    decodeFiles(spark, files, Schemas.schemaFor(kind), lenient, withPath = true)

  /** Decode `paths` (files or globs) through `binaryFiles`; no paths → an
    * empty frame.
    */
  private def decodeFiles(spark: SparkSession, paths: Seq[String], schema: StructType,
      lenient: Boolean, withPath: Boolean): DataFrame = {
    val out =
      if (withPath) schema.add(StructField("_path", StringType, nullable = false))
      else schema
    val fields = schema.fields // serialize the field list, not the StructType
    val rows =
      if (paths.isEmpty) spark.sparkContext.emptyRDD[InternalRow]
      else spark.sparkContext.binaryFiles(paths.mkString(",")).flatMap { case (path, pds) =>
        new Decoder(() => pds.open(), fields, lenient,
          if (withPath) UTF8String.fromString(path) else null)
      }
    Bridge.dataFrame(spark, rows, out)
  }

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
    private var pending: InternalRow = null
    private var done = false

    private def advance(): Unit = if (!done && pending == null) {
      try {
        if (stream == null) {
          val in = open()
          stream =
            try new DataFileStream[GenericRecord](in, new GenericDatumReader[GenericRecord]())
            catch { case t: Throwable => in.close(); throw t }
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
        val slot = rec.getSchema.getField(fields(i).name)
        row.update(i, toCatalyst(if (slot == null) null else rec.get(slot.pos), fields(i)))
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
