package graft.sources

import java.io.File
import java.nio.ByteBuffer

import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.types._
import graft.model.Schemas

/** Archive containers written record by record, without Spark: specs that
  * build many small seeded archives plant exactly the records they name.
  */
object Containers {

  /** One Avro container at `rel` under `dir` holding `records` (field →
    * value; every other field gets a filler of its type, or null).
    */
  def write(dir: String, rel: String, kind: String, records: Seq[Map[String, Any]]): Unit = {
    val st = Schemas.schemaFor(kind)
    val schema = AvroArchiveSink.avroSchema(st, kind)
    val target = new File(dir, rel)
    target.getParentFile.mkdirs()
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, target)
    records.foreach { values =>
      val rec = new GenericData.Record(schema)
      st.fields.foreach { f =>
        val v = values.getOrElse(f.name, f.dataType match {
          case _ if f.nullable          => null
          case StringType               => "BITCOIN"
          case LongType | TimestampType => 0L
          case IntegerType              => 0
          case BinaryType               => "{}".getBytes("UTF-8")
        })
        rec.put(f.name, v match {
          case b: Array[Byte] => ByteBuffer.wrap(b)
          case other          => other
        })
      }
      w.append(rec)
    }
    w.close()
  }
}
