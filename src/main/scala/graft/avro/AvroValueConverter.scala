package graft.avro

import java.math.{BigDecimal => JBigDecimal, BigInteger, RoundingMode}
import java.nio.ByteBuffer
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.avro.generic.{GenericFixed, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, DateTimeUtils, GenericArrayData, RebaseDateTime}
import org.apache.spark.sql.types.Decimal
import org.apache.spark.unsafe.types.UTF8String

import AvroSparkType._

/** Defensive scalar coercions, mirroring the reference's conversion
  * functions (never-fail semantics where the reference has them, hard
  * failures where the reference hard-fails).
  *
  * Reference sources: `_to_bool` main.py:26-37, `_to_int` main.py:39-46,
  * `_to_list_of_str` main.py:48-52, `_convert_value_to_pyarrow_type`
  * main.py:147-240.
  */
object Coercions {

  /** Lenient bool (reference main.py:26-37): token table, then the
    * `bool(int(s))` tail — any string parsing as a nonzero INTEGER is true;
    * unparseable → null. Python's `int(s)` rejects '1.0', '2.', '1e3'
    * (ValueError → None in the reference), so the tail is gated on an
    * integer regex — the same `^[+-]?[0-9]+$` the declarative
    * `CdcColumns.toBoolLenient` uses, keeping the Avro reader path and the
    * Column path in agreement. (Known narrow divergence, on BOTH paths:
    * Python int() also accepts digit-group underscores like '1_0'; we
    * return null for those.)
    */
  private val IntegerRe = "^[+-]?[0-9]+$".r
  private val TrueTokens = Set("true", "t", "1", "yes", "y")
  private val FalseTokens = Set("false", "f", "0", "no", "n")

  def toBoolLenient(x: Any): java.lang.Boolean = x match {
    case null => null
    case b: java.lang.Boolean => b
    case other =>
      // Locale.ROOT matches the reference's locale-independent
      // str.lower() token table (main.py _to_bool); a default-locale
      // lowercase would make data coercion depend on the executor
      // JVM's -Duser.language (the tr-TR I→ı class)
      val s = scalarString(other).trim.toLowerCase(java.util.Locale.ROOT)
      if (TrueTokens.contains(s)) java.lang.Boolean.TRUE
      else if (FalseTokens.contains(s)) java.lang.Boolean.FALSE
      else if (IntegerRe.matches(s))
        java.lang.Boolean.valueOf(new BigInteger(s).signum() != 0)
      else null
  }

  /** Strict-ish int (reference main.py:39-46): numerics truncate, strings
    * must parse (leading '+' stripped) — a garbage string THROWS, which at
    * the file level is a hard failure exactly as in the reference (used
    * only on source_metadata.tx_id).
    */
  def toLongStrict(x: Any): java.lang.Long = x match {
    case null => null
    case b: java.lang.Boolean => java.lang.Long.valueOf(if (b) 1L else 0L)
    case n: java.lang.Integer => java.lang.Long.valueOf(n.longValue())
    case n: java.lang.Long    => n
    case n: java.lang.Float   => java.lang.Long.valueOf(n.longValue())
    case n: java.lang.Double  => java.lang.Long.valueOf(n.longValue())
    case other =>
      var s = scalarString(other).trim
      if (s.startsWith("+")) s = s.substring(1)
      java.lang.Long.valueOf(s.toLong) // throws on garbage, by design
  }

  /** reference main.py:48-52 */
  def toListOfStr(x: Any): Seq[String] = x match {
    case null => null
    case c: java.util.Collection[_] =>
      c.asScala.toSeq.map(v => if (v == null) null else CanonicalJson.stringify(v))
    case s: Seq[_] => s.map(v => if (v == null) null else CanonicalJson.stringify(v))
    case other => Seq(CanonicalJson.stringify(other))
  }

  /** Decimal-bytes normalization (reference main.py:170-199): big-endian
    * signed unscaled int, ASSUMED source scale 30, rescaled to scale 9
    * with HALF_EVEN; any error → 0.000000000.
    */
  val DecimalZero: JBigDecimal = new JBigDecimal(BigInteger.ZERO, 9)
  val SourceScale = 30
  val TargetScale = 9

  /** Python's default decimal context is prec=28, so the reference's
    * `quantize(1e-9)` raises InvalidOperation whenever the result needs
    * more than 28 total digits — i.e. ≥ 20 integer digits. Values in
    * [1e19, 1e29) therefore fail in the reference long before they'd
    * overflow DECIMAL(38,9); we mirror that envelope exactly.
    */
  val MaxIntegerDigits = 19

  def decimalFromBytes(bytes: Array[Byte]): JBigDecimal =
    try {
      if (bytes.length == 0) DecimalZero // int.from_bytes(b"") == 0
      else {
        val unscaled = new BigInteger(bytes) // big-endian signed
        val d = new JBigDecimal(unscaled, SourceScale)
          .setScale(TargetScale, RoundingMode.HALF_EVEN)
        if (d.precision - d.scale > MaxIntegerDigits) DecimalZero // quantize would raise in the reference
        else d
      }
    } catch { case _: Exception => DecimalZero }

  /** Numeric → Decimal(38,9), HALF_EVEN quantize. Overflow beyond the
    * (38,9) envelope is a HARD failure, mirroring the reference where the
    * uncaught quantize InvalidOperation kills the file (main.py:192-197 has
    * no try/except on the numeric branch).
    */
  def decimalFromNumber(x: Any): JBigDecimal = {
    val d = x match {
      case n: java.lang.Integer => JBigDecimal.valueOf(n.longValue())
      case n: java.lang.Long    => JBigDecimal.valueOf(n.longValue())
      case n: java.lang.Float   => new JBigDecimal(n.toString) // shortest-repr, like Decimal(str(x))
      case n: java.lang.Double  => new JBigDecimal(n.toString)
      case n: JBigDecimal       => n
      case other => throw HardConversionError(s"decimal target got ${other.getClass}")
    }
    val q = d.setScale(TargetScale, RoundingMode.HALF_EVEN)
    if (q.precision - q.scale > MaxIntegerDigits)
      throw HardConversionError(
        s"decimal overflow: $q exceeds the reference's prec-28 quantize envelope")
    q
  }

  /** A timestamp datum (`millis` or micros since the epoch) as Catalyst
    * micros: the value Spark stores for the `java.sql.Timestamp` of that
    * instant. From the 1582 calendar switch on that is the micros count
    * itself; before it, the hybrid Julian calendar's reading moves the
    * instant, so those go through the `Timestamp` as before (as do their
    * overflows, near the ends of the range). Millis beyond the micros
    * range throw `ArithmeticException`.
    */
  def timestampMicros(v: Long, millis: Boolean): Long = {
    val micros = if (millis) Math.multiplyExact(v, 1000L) else v
    if (micros >= RebaseDateTime.lastSwitchJulianTs) micros
    else {
      val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
      ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
      try DateTimeUtils.fromJavaTimestamp(ts)
      catch { case e: ArithmeticException => throw new RebaseOverflow(e) }
    }
  }

  /** A date datum (days since the epoch) as Catalyst days: the value Spark
    * stores for the `java.sql.Date` of that proleptic-Gregorian day, which
    * differs from `days` only before the 1582 calendar switch (and throws
    * `ArithmeticException` far outside the `java.sql.Date` range).
    */
  def dateDays(days: Int): Int =
    if (days >= RebaseDateTime.lastSwitchGregorianDay) days
    else
      try DateTimeUtils.fromJavaDate(java.sql.Date.valueOf(LocalDate.ofEpochDay(days.toLong)))
      catch { case e: ArithmeticException => throw new RebaseOverflow(e) }

  /** A timestamp or date whose `java.sql` form Spark cannot store (a few
    * hundred micros from the ends of the `Long` range, days far outside
    * `java.sql.Date`'s range). The external-`Row` path met these in
    * Spark's encoder, after the whole record had converted, so
    * [[CdcRowReader]] ranks them after every other failure of the record.
    */
  final class RebaseOverflow(cause: ArithmeticException)
    extends ArithmeticException(cause.getMessage)

  private[avro] def scalarString(x: Any): String = x match {
    case s: Utf8 => s.toString
    case other   => other.toString
  }
}

/** A failure that, in the reference, escapes the per-file try/except and
  * marks the whole file failed (no fallback): flatten-time errors such as a
  * garbage tx_id (main.py:522 runs before the try at main.py:524) or a
  * decimal numeric overflow.
  */
final case class HardConversionError(msg: String) extends RuntimeException(msg)

/** A failure that, in the reference, surfaces at Arrow-table build time and
  * routes the file through the all-string fallback (main.py:524-564).
  */
final case class FallbackConversionError(msg: String) extends RuntimeException(msg)

/** Converts Avro datums (as produced by `GenericDatumReader`) into Spark
  * Catalyst values for a target [[AvroSparkType]], following the
  * reference's per-type coercion semantics (main.py:147-240): `UTF8String`
  * strings, `Decimal(38,9)` decimals, micros `Long` timestamps, days `Int`
  * dates, and array, map and row data for complex values.
  *
  * These are the value rules stated over whole datums. [[CdcRowReader]]
  * applies the same rules straight off the Avro decoder and falls back to
  * [[coerce]] for the shapes it does not decode natively; [[flatten]] and
  * the probe's column forensics use them directly.
  */
object AvroValueConverter {
  import Coercions._

  /** How one value is coerced: a payload column ([[Typed]], or
    * [[AsString]] in the all-string fallback) or one of the fixed
    * source_metadata rules.
    */
  sealed trait Target extends Serializable
  final case class Typed(tpe: AvroSparkType, mode: ConvertMode) extends Target
  /** The all-string fallback's value (reference main.py:556-563). */
  final case class AsString(tpe: AvroSparkType) extends Target
  /** `source_metadata.tx_id`: [[Coercions.toLongStrict]]. */
  case object StrictLong extends Target
  /** `source_metadata.primary_keys`: [[Coercions.toListOfStr]]. */
  case object StringList extends Target

  private val Str = Typed(TString, ConvertMode.Standard)

  /** The fixed source_metadata conversion (reference main.py:117-128), one
    * rule per field of [[AvroSchemaConverter.SourceMetadataType]], in its
    * order. A garbage tx_id throws: a hard failure.
    */
  val SourceMetadataTargets: IndexedSeq[(String, Target)] = IndexedSeq(
    "schema" -> Str,
    "table" -> Str,
    "is_deleted" -> Typed(TBoolean, ConvertMode.Standard),
    "change_type" -> Str,
    "tx_id" -> StrictLong,
    "lsn" -> Str,
    "primary_keys" -> StringList)

  /** `value` coerced by `target`, as a Catalyst value. */
  def coerce(value: Any, target: Target): Any = target match {
    case Typed(tpe, mode) => convert(value, tpe, mode)
    case AsString(tpe) => UTF8String.fromString(fallbackValue(value, tpe))
    case StrictLong => toLongStrict(value)
    case StringList =>
      val xs = toListOfStr(value)
      if (xs == null) null else new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])
  }

  def convert(value: Any, target: AvroSparkType, mode: ConvertMode): Any = {
    if (value == null) return null
    target match {
      case TTimestamp(unit) =>
        val millis = unit == "millis"
        value match {
          case n: java.lang.Long    => timestampMicros(n.longValue(), millis)
          case n: java.lang.Integer => timestampMicros(n.longValue(), millis)
          case n: java.lang.Double  => timestampMicros(n.longValue(), millis)
          case n: java.lang.Float   => timestampMicros(n.longValue(), millis)
          // reference passes non-numerics through → Arrow build fails → fallback
          case other => throw FallbackConversionError(s"timestamp target got ${other.getClass}")
        }
      case TDate =>
        value match {
          case n: java.lang.Integer => dateDays(n.intValue())
          case n: java.lang.Long    => dateDays(n.intValue())
          case other => throw FallbackConversionError(s"date target got ${other.getClass}")
        }
      case TDecimal => Decimal(decimalOf(value))
      case TInt =>
        lenientLong(value).map(l => java.lang.Integer.valueOf(l.toInt)).orNull
      case TLong =>
        lenientLong(value).map(java.lang.Long.valueOf).orNull
      case TFloat =>
        lenientDouble(value).map(d => java.lang.Float.valueOf(d.toFloat)).orNull
      case TDouble =>
        lenientDouble(value).map(java.lang.Double.valueOf).orNull
      case TBoolean => toBoolLenient(value)
      case TString  => UTF8String.fromString(CanonicalJson.stringify(value))
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
                new GenericArrayData(c.asScala.map(v => convert(v, elem, mode)).toArray[Any])
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
                // entries in this Scala Map's iteration order, the order
                // earlier outputs hold, so a map column's bytes stay put
                val entries = m.asScala.map { case (k, v) =>
                  CanonicalJson.stringify(k) -> convert(v, vt, mode)
                }.toMap
                val keys, values = new Array[Any](entries.size)
                var i = 0
                entries.foreach { case (k, v) =>
                  keys(i) = UTF8String.fromString(k)
                  values(i) = v
                  i += 1
                }
                ArrayBasedMapData(keys, values)
              case other => throw FallbackConversionError(s"map target got ${other.getClass}")
            }
          case ConvertMode.ReferenceExact =>
            throw FallbackConversionError("complex column in ReferenceExact mode")
        }
      case TStruct(fields) =>
        mode match {
          case ConvertMode.Standard =>
            value match {
              case r: GenericRecord =>
                new GenericInternalRow(fields.map { f =>
                  convert(fieldOf(r, f.name), f.tpe, mode)
                }.toArray[Any])
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

  /** The decimal target's rule (reference main.py:170-199): bytes rescale
    * and never fail, numerics quantize and fail on overflow, anything
    * else is zero.
    */
  private def decimalOf(value: Any): JBigDecimal = value match {
    case b: ByteBuffer   => decimalFromBytes(byteArray(b))
    case b: Array[Byte]  => decimalFromBytes(b)
    case f: GenericFixed => decimalFromBytes(f.bytes())
    case n @ (_: java.lang.Integer | _: java.lang.Long | _: java.lang.Float |
              _: java.lang.Double | _: JBigDecimal) => decimalFromNumber(n)
    case _ => DecimalZero // reference main.py:198: anything else → 0
  }

  private def byteArray(b: ByteBuffer): Array[Byte] = {
    val dup = b.duplicate()
    val arr = new Array[Byte](dup.remaining())
    dup.get(arr)
    arr
  }

  /** Field `name` of `r`; null when `r` is null or its schema has no such
    * field (a file generation that predates the field).
    */
  private[graft] def fieldOf(r: GenericRecord, name: String): Any =
    if (r == null || r.getSchema.getField(name) == null) null else r.get(name)

  /** Field `name` of `r` when it holds a record (the envelope's
    * `source_metadata` and `payload`); null when absent, null, or a
    * non-record union branch.
    */
  private[graft] def recordField(r: GenericRecord, name: String): GenericRecord =
    fieldOf(r, name) match {
      case g: GenericRecord => g
      case _ => null
    }

  /** The source_metadata struct of `sm` ([[SourceMetadataTargets]]); a
    * null `sm` gives a struct of nulls.
    */
  def convertSourceMetadata(sm: GenericRecord): InternalRow =
    new GenericInternalRow(SourceMetadataTargets.map { case (name, t) =>
      coerce(fieldOf(sm, name), t)
    }.toArray[Any])

  /** One Avro record → flat row (source_metadata + payload.*).
    * Payload fields absent from the record are null; payload fields in the
    * record but not in the schema are dropped; a null payload yields all
    * null payload columns (reference main.py:111-145 + from_pylist).
    */
  def flatten(
      record: GenericRecord,
      flat: AvroSchemaConverter.FlatSchema,
      mode: ConvertMode): InternalRow = {
    val sm = convertSourceMetadata(recordField(record, "source_metadata"))
    val payload = recordField(record, "payload")
    val values = flat.payloadFields.map { f =>
      convert(fieldOf(payload, f.name), f.tpe, mode)
    }
    new GenericInternalRow((sm +: values).toArray[Any])
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
      case TDecimal => decimalOf(value).toPlainString
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
}
