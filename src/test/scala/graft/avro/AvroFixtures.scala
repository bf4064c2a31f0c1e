package graft.avro

import java.io.File
import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

/** Test-only CDC Avro fixture writer (FIXTURES.md §A). */
object AvroFixtures {

  def writeAvro(path: String, schemaJson: String, rows: Seq[Map[String, Any]],
      codec: Option[String] = None): Unit = {
    val schema = new Schema.Parser().parse(schemaJson)
    val file = new File(path)
    file.getParentFile.mkdirs()
    val writer = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    codec.foreach(c =>
      writer.setCodec(org.apache.avro.file.CodecFactory.fromString(c)))
    writer.create(schema, file)
    try rows.foreach(r => writer.append(record(schema, r)))
    finally writer.close()
  }

  /** [[writeAvro]] into a hidden sibling, renamed into place when whole, so
    * a running stream that lists the directory never sees half a file.
    * `mtime`, when set, is the file's modification time in epoch millis.
    */
  def landAvro(path: String, schemaJson: String, rows: Seq[Map[String, Any]],
      mtime: Option[Long] = None): Unit = {
    val target = new File(path)
    val tmp = new File(target.getParentFile, s".${target.getName}.tmp")
    writeAvro(tmp.getPath, schemaJson, rows)
    mtime.foreach(t => require(tmp.setLastModified(t), s"cannot set mtime of $tmp"))
    java.nio.file.Files.move(tmp.toPath, target.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Build a GenericRecord from a Scala map, resolving unions to the first
    * branch compatible with the value.
    */
  def record(schema: Schema, values: Map[String, Any]): GenericRecord = {
    val rec = new GenericData.Record(schema)
    schema.getFields.asScala.foreach { f =>
      val v = values.get(f.name()).orNull
      rec.put(f.name(), datum(f.schema(), v))
    }
    rec
  }

  private def datum(schema: Schema, v: Any): Any = {
    import Schema.Type._
    schema.getType match {
      case UNION =>
        if (v == null) {
          if (schema.getTypes.asScala.exists(_.getType == NULL)) null
          else datum(schema.getTypes.get(0), null)
        } else {
          val branch = schema.getTypes.asScala
            .find(b => b.getType != NULL && compatible(b, v))
            .getOrElse(throw new IllegalArgumentException(
              s"no union branch for $v in $schema"))
          datum(branch, v)
        }
      case NULL => null
      case STRING => if (v == null) null else v.toString
      case BOOLEAN => v
      case INT => v match {
        case i: Int => java.lang.Integer.valueOf(i)
        case l: Long => java.lang.Integer.valueOf(l.toInt)
        case x => x
      }
      case LONG => v match {
        case i: Int => java.lang.Long.valueOf(i.toLong)
        case l: Long => java.lang.Long.valueOf(l)
        case x => x
      }
      case FLOAT => v match {
        case f: Float => java.lang.Float.valueOf(f)
        case d: Double => java.lang.Float.valueOf(d.toFloat)
        case x => x
      }
      case DOUBLE => v match {
        case f: Float => java.lang.Double.valueOf(f.toDouble)
        case d: Double => java.lang.Double.valueOf(d)
        case x => x
      }
      case BYTES => v match {
        case b: Array[Byte] => ByteBuffer.wrap(b)
        case b: ByteBuffer => b
        case s: String => ByteBuffer.wrap(s.getBytes("UTF-8"))
        case x => x
      }
      case ARRAY => v match {
        case s: Seq[_] => s.map(e => datum(schema.getElementType, e)).asJava
        case l: java.util.List[_] => l.asScala.map(e => datum(schema.getElementType, e)).asJava
        case x => x
      }
      case MAP => v match {
        case m: Map[_, _] =>
          m.map { case (k, value) => k.toString -> datum(schema.getValueType, value) }.asJava
        case x => x
      }
      case RECORD => v match {
        case m: Map[_, _] => record(schema, m.asInstanceOf[Map[String, Any]])
        case r: GenericRecord => r
        case x => throw new IllegalArgumentException(s"record field got $x")
      }
      case ENUM => v match {
        // the writer validates datum instanceof GenericEnumSymbol — wrap
        // a plain symbol string here, like FIXED below
        case s: String => new GenericData.EnumSymbol(schema, s)
        case x => x
      }
      case FIXED => v match {
        // GenericDatumWriter.writeFixed casts to GenericFixed — wrap raw
        // bytes here so value generators don't need the parsed schema
        case b: Array[Byte] => new GenericData.Fixed(schema, b)
        case x => x
      }
      case _ => v
    }
  }

  private def compatible(branch: Schema, v: Any): Boolean = {
    import Schema.Type._
    branch.getType match {
      case STRING => v.isInstanceOf[String]
      case BOOLEAN => v.isInstanceOf[Boolean]
      case INT => v.isInstanceOf[Int]
      case LONG => v.isInstanceOf[Long] || v.isInstanceOf[Int]
      case FLOAT => v.isInstanceOf[Float]
      case DOUBLE => v.isInstanceOf[Double] || v.isInstanceOf[Float]
      case BYTES => v.isInstanceOf[Array[Byte]] || v.isInstanceOf[ByteBuffer]
      case ENUM => v.isInstanceOf[String] &&
        branch.getEnumSymbols.contains(v.asInstanceOf[String])
      case FIXED => v.isInstanceOf[Array[Byte]] &&
        v.asInstanceOf[Array[Byte]].length == branch.getFixedSize
      case ARRAY => v.isInstanceOf[Seq[_]] || v.isInstanceOf[java.util.List[_]]
      case MAP => v.isInstanceOf[Map[_, _]]
      case RECORD => v.isInstanceOf[Map[_, _]] || v.isInstanceOf[GenericRecord]
      case _ => true
    }
  }

  /** FIXTURES.md A1 happy-path envelope schema. */
  val BasicEnvelope: String =
    """{"type":"record","name":"cdc_event","fields":[
      {"name":"uuid","type":"string"},
      {"name":"read_timestamp","type":{"type":"long","logicalType":"timestamp-millis"}},
      {"name":"sort_keys","type":["null","string"]},
      {"name":"source_metadata","type":{"type":"record","name":"sm","fields":[
        {"name":"schema","type":"string"},
        {"name":"table","type":"string"},
        {"name":"is_deleted","type":"boolean"},
        {"name":"change_type","type":"string"},
        {"name":"tx_id","type":["null","long"]},
        {"name":"lsn","type":["null","string"]},
        {"name":"primary_keys","type":{"type":"array","items":"string"}}]}},
      {"name":"payload","type":["null",{"type":"record","name":"p","fields":[
        {"name":"id","type":"long"},
        {"name":"name","type":["null","string"]},
        {"name":"active","type":["null","boolean"]},
        {"name":"qty","type":["null","int"]},
        {"name":"price","type":["null",{"type":"bytes","logicalType":"decimal","precision":38,"scale":30}]},
        {"name":"created_at","type":["null",{"type":"long","logicalType":"timestamp-micros"}]},
        {"name":"updated_on","type":["null",{"type":"int","logicalType":"date"}]}]}]}
    ]}"""

  def sm(
      table: String,
      isDeleted: Boolean = false,
      txId: Long = 1L,
      changeType: String = "UPDATE"): Map[String, Any] = Map(
    "schema" -> "public",
    "table" -> table,
    "is_deleted" -> isDeleted,
    "change_type" -> changeType,
    "tx_id" -> txId,
    "lsn" -> "0/16B3748",
    "primary_keys" -> Seq("id"),
  )

  def scale30(unscaled: String): Array[Byte] = new java.math.BigInteger(unscaled).toByteArray
}
