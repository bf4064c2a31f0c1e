package graft.avro

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.nio.ByteBuffer
import java.sql.{Date, Timestamp}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.avro.generic.{GenericFixed, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.types.StructType

import AvroSparkType._

/** The record → row path as it was before [[CdcRowReader]]: Avro datums
  * converted to external `Row` values (`java.sql.Timestamp`,
  * `java.sql.Date`, `java.math.BigDecimal`, `String`, nested `Row`s, Scala
  * `Seq`/`Map`), then to `UnsafeRow` by Spark's `RowEncoder` serializer.
  * Kept as the reference the row builder must match byte for byte.
  */
object ExternalRowReference {
  import Coercions._

  /** The old rows' serializer: external `Row` → `UnsafeRow`. */
  def serializer(schema: StructType): ExpressionEncoder.Serializer[Row] =
    ExpressionEncoder(RowEncoder.encoderFor(schema)).createSerializer()

  /** The converter's old row: `flatten` plus the input path. */
  def converterRow(record: GenericRecord, flat: AvroSchemaConverter.FlatSchema,
      mode: Option[ConvertMode], path: String): Row = {
    val row = mode match {
      case Some(m) => flatten(record, flat, m)
      case None => flattenFallback(record, flat)
    }
    Row.fromSeq(row.toSeq :+ path)
  }

  /** The `cdc-avro` scan's old per-row conversion of `record` for the
    * `required` columns, with targets from the file's writer schema. */
  def scanRow(record: GenericRecord, writer: org.apache.avro.Schema, required: StructType,
      tableFlat: AvroSchemaConverter.FlatSchema, path: String): Row = {
    val tableByName = tableFlat.payloadFields.map(f => f.name -> f).toMap
    val targetByName: Map[String, Option[AvroSparkType]] =
      AvroSchemaConverter.deriveFlatSchema(writer.toString).payloadFields.map { f =>
        f.name -> (tableByName.get(f.name) match {
          case Some(t) if t.tpe == f.tpe => Some(f.tpe)
          case Some(t) if t.tpe == AvroSparkType.TString => Some(AvroSparkType.TString)
          case Some(_) => None
          case None => Some(f.tpe)
        })
      }.toMap
    val payload = recordField(record, "payload")
    Row.fromSeq(required.fields.toSeq.map { f =>
      f.name match {
        case graft.sources.AvroCdcDataSource.InputPathCol => path
        case "source_metadata" => convertSourceMetadata(recordField(record, "source_metadata"))
        case name =>
          targetByName.get(name).flatten match {
            case Some(t) => convert(fieldOf(payload, name), t, ConvertMode.Standard)
            case None => null
          }
      }
    })
  }

  def convert(value: Any, target: AvroSparkType, mode: ConvertMode): Any = {
    if (value == null) return null
    target match {
      case TTimestamp(unit) =>
        value match {
          case n: java.lang.Long    => toTimestamp(n.longValue(), unit)
          case n: java.lang.Integer => toTimestamp(n.longValue(), unit)
          case n: java.lang.Double  => toTimestamp(n.longValue(), unit)
          case n: java.lang.Float   => toTimestamp(n.longValue(), unit)
          // reference passes non-numerics through → Arrow build fails → fallback
          case other => throw FallbackConversionError(s"timestamp target got ${other.getClass}")
        }
      case TDate =>
        value match {
          case n: java.lang.Integer => toDate(n.intValue())
          case n: java.lang.Long    => toDate(n.intValue())
          case other => throw FallbackConversionError(s"date target got ${other.getClass}")
        }
      case TDecimal =>
        value match {
          case b: ByteBuffer   => decimalFromBytes(byteArray(b))
          case b: Array[Byte]  => decimalFromBytes(b)
          case f: GenericFixed => decimalFromBytes(f.bytes())
          case n @ (_: java.lang.Integer | _: java.lang.Long | _: java.lang.Float |
                    _: java.lang.Double | _: JBigDecimal) => decimalFromNumber(n)
          case _ => DecimalZero // reference main.py:198: anything else → 0
        }
      case TInt =>
        lenientLong(value).map(l => java.lang.Integer.valueOf(l.toInt)).orNull
      case TLong =>
        lenientLong(value).map(java.lang.Long.valueOf).orNull
      case TFloat =>
        lenientDouble(value).map(d => java.lang.Float.valueOf(d.toFloat)).orNull
      case TDouble =>
        lenientDouble(value).map(java.lang.Double.valueOf).orNull
      case TBoolean => toBoolLenient(value)
      case TString  => CanonicalJson.stringify(value)
      case TBinary =>
        mode match {
          case ConvertMode.Standard =>
            value match {
              case b: ByteBuffer   => byteArray(b)
              case b: Array[Byte]  => b
              case f: GenericFixed => f.bytes()
              case other => CanonicalJson.stringify(other).getBytes("UTF-8")
            }
          case ConvertMode.ReferenceExact =>
            // reference stringifies (main.py:236) and Arrow then rejects a
            // str for a binary column → whole-file fallback
            throw FallbackConversionError("binary column in ReferenceExact mode")
        }
      case TArray(elem) =>
        mode match {
          case ConvertMode.Standard =>
            value match {
              case c: java.util.Collection[_] =>
                c.asScala.toSeq.map(v => convert(v, elem, mode))
              case other => throw FallbackConversionError(s"array target got ${other.getClass}")
            }
          case ConvertMode.ReferenceExact =>
            throw FallbackConversionError("complex column in ReferenceExact mode")
        }
      case TMap(vt) =>
        mode match {
          case ConvertMode.Standard =>
            value match {
              case m: java.util.Map[_, _] =>
                m.asScala.map { case (k, v) =>
                  CanonicalJson.stringify(k) -> convert(v, vt, mode)
                }.toMap
              case other => throw FallbackConversionError(s"map target got ${other.getClass}")
            }
          case ConvertMode.ReferenceExact =>
            throw FallbackConversionError("complex column in ReferenceExact mode")
        }
      case st @ TStruct(fields) =>
        mode match {
          case ConvertMode.Standard =>
            value match {
              case r: GenericRecord =>
                Row.fromSeq(fields.map { f =>
                  convert(fieldOf(r, f.name), f.tpe, mode)
                })
              case other => throw FallbackConversionError(s"struct target got ${other.getClass}")
            }
          case ConvertMode.ReferenceExact =>
            throw FallbackConversionError("complex column in ReferenceExact mode")
        }
    }
  }

  /** reference main.py:201-208: int(value), null on ValueError/TypeError.
    * Note python int(bool) == 0/1 and int("1.5") raises.
    */
  private def lenientLong(value: Any): Option[Long] = value match {
    case b: java.lang.Boolean => Some(if (b) 1L else 0L)
    case n: java.lang.Integer => Some(n.longValue())
    case n: java.lang.Long    => Some(n.longValue())
    case n: java.lang.Float   => Some(n.longValue())
    case n: java.lang.Double  => Some(n.longValue())
    case s @ (_: Utf8 | _: String) =>
      val t = Coercions.scalarString(s).trim
      try Some(t.toLong) catch { case _: Exception => None }
    case _ => None
  }

  /** reference main.py:210-232: bytes → scale-30 decimal → double (null on
    * error); else float(value) with null on failure.
    */
  private def lenientDouble(value: Any): Option[Double] = value match {
    case b: ByteBuffer   => bytesToDouble(byteArray(b))
    case b: Array[Byte]  => bytesToDouble(b)
    case f: GenericFixed => bytesToDouble(f.bytes())
    case b: java.lang.Boolean => Some(if (b) 1.0 else 0.0)
    case n: java.lang.Integer => Some(n.doubleValue())
    case n: java.lang.Long    => Some(n.doubleValue())
    case n: java.lang.Float   => Some(n.doubleValue())
    case n: java.lang.Double  => Some(n.doubleValue())
    case s @ (_: Utf8 | _: String) =>
      val t = Coercions.scalarString(s).trim
      try Some(t.toDouble) catch { case _: Exception => None }
    case _ => None
  }

  private def bytesToDouble(bytes: Array[Byte]): Option[Double] =
    try {
      if (bytes.length == 0) Some(0.0)
      else {
        val unscaled = new BigInteger(bytes)
        Some(new JBigDecimal(unscaled, Coercions.SourceScale).doubleValue())
      }
    } catch { case _: Exception => None }

  private def toTimestamp(v: Long, unit: String): Timestamp = {
    val micros = if (unit == "millis") Math.multiplyExact(v, 1000L) else v
    val ts = new Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
    ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
    ts
  }

  private def toDate(days: Int): Date = Date.valueOf(LocalDate.ofEpochDay(days.toLong))

  private def byteArray(b: ByteBuffer): Array[Byte] = {
    val dup = b.duplicate()
    val arr = new Array[Byte](dup.remaining())
    dup.get(arr)
    arr
  }

  /** Field `name` of `r`; null when `r` is null or its schema has no such
    * field (a file generation that predates the field).
    */
  def fieldOf(r: GenericRecord, name: String): Any =
    if (r == null || r.getSchema.getField(name) == null) null else r.get(name)

  /** Field `name` of `r` when it holds a record (the envelope's
    * `source_metadata` and `payload`); null when absent, null, or a
    * non-record union branch.
    */
  def recordField(r: GenericRecord, name: String): GenericRecord =
    fieldOf(r, name) match {
      case g: GenericRecord => g
      case _ => null
    }

  /** The fixed source_metadata conversion (reference main.py:117-128). */
  def convertSourceMetadata(sm: GenericRecord): Row = {
    def str(name: String): String = {
      val v = fieldOf(sm, name)
      if (v == null) null else CanonicalJson.stringify(v)
    }
    Row(
      str("schema"),
      str("table"),
      Coercions.toBoolLenient(fieldOf(sm, "is_deleted")),
      str("change_type"),
      Coercions.toLongStrict(fieldOf(sm, "tx_id")), // throws on garbage — hard failure
      str("lsn"),
      Coercions.toListOfStr(fieldOf(sm, "primary_keys")),
    )
  }

  /** One Avro record → flat external Row (source_metadata + payload.*).
    * Payload fields absent from the record are null; payload fields in the
    * record but not in the schema are dropped; a null payload yields all
    * null payload columns (reference main.py:111-145 + from_pylist).
    */
  def flatten(
      record: GenericRecord,
      flat: AvroSchemaConverter.FlatSchema,
      mode: ConvertMode): Row = {
    val sm = convertSourceMetadata(recordField(record, "source_metadata"))
    val payload = recordField(record, "payload")
    val values = flat.payloadFields.map { f =>
      convert(fieldOf(payload, f.name), f.tpe, mode)
    }
    Row.fromSeq(sm +: values)
  }

  /** The fallback path stringifies the CONVERTED value, not the raw datum
    * (reference main.py:556-563 runs `_stringify_any` over `flat_rows`,
    * which already went through `_convert_value_to_pyarrow_type`): a
    * decimal-bytes value becomes the rescaled decimal's string; a lenient
    * int that converted to null stays null; timestamps/dates — passthrough
    * in the typed conversion — stay the raw numeric's string form.
    */
  private def fallbackValue(value: Any, target: AvroSparkType): String = {
    if (value == null) return null
    target match {
      case TTimestamp(_) | TDate => CanonicalJson.stringify(value) // raw passthrough
      case TDecimal =>
        val d = convert(value, TDecimal, ConvertMode.Standard).asInstanceOf[JBigDecimal]
        d.toPlainString
      case TInt | TLong =>
        lenientLong(value).map(_.toString).orNull
      case TFloat | TDouble =>
        lenientDouble(value).map(d => java.lang.Double.toString(d)).orNull
      case TBoolean =>
        Option(toBoolLenient(value)).map(_.toString).orNull
      case TString | TBinary => CanonicalJson.stringify(value)
      case _: TArray | _: TMap | _: TStruct => CanonicalJson.stringify(value)
    }
  }

  /** All-string fallback row (reference main.py:556-563): source_metadata
    * kept typed, every payload value stringified post-conversion.
    */
  def flattenFallback(record: GenericRecord, flat: AvroSchemaConverter.FlatSchema): Row = {
    val sm = convertSourceMetadata(recordField(record, "source_metadata"))
    val payload = recordField(record, "payload")
    val values = flat.payloadFields.map { f =>
      fallbackValue(fieldOf(payload, f.name), f.tpe)
    }
    Row.fromSeq(sm +: values)
  }
}
