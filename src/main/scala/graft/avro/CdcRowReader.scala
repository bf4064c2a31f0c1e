package graft.avro

import scala.jdk.CollectionConverters._

import org.apache.avro.{AvroRuntimeException, Schema}
import org.apache.avro.Schema.Type
import org.apache.avro.generic.GenericDatumReader
import org.apache.avro.io.{DatumReader, Decoder}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.Decimal
import org.apache.spark.unsafe.types.UTF8String

import AvroSparkType._
import AvroValueConverter.{StrictLong, StringList, Target, Typed}

/** The one row builder: decodes CDC envelope records straight into flat
  * Catalyst rows, the converter's and the `cdc-avro` scan's only record →
  * row path.
  *
  * `setSchema` (called once per container, from its header) compiles the
  * writer schema against the output `columns` into a tree of small
  * readers. Each reads its value off the Avro `Decoder` and applies the
  * [[AvroValueConverter]] rule for its target inline, so no
  * `GenericRecord`, external `Row` or encoder sits between the bytes and
  * the row. Envelope fields and payload fields no column asks for are
  * skipped undecoded. Shapes with no native reader (enums, fixed, maps,
  * records read as strings, a value whose writer type differs from its
  * target) decode their sub-datum with a `GenericDatumReader` and go
  * through [[AvroValueConverter.coerce]], so every shape converts by the
  * same rules.
  *
  * Error classes stay apart. A decode failure throws from `read` as it
  * happens, as avro-java's own reader does. A coercion failure is held
  * until the record is fully decoded, then thrown as
  * [[CdcRowReader.ConversionFailure]], carrying the failure of the first
  * failing column in output order, the one a column-by-column conversion
  * of the decoded record would have met first.
  */
final class CdcRowReader(columns: Schema => Seq[CdcRowReader.Column])
    extends DatumReader[InternalRow] {

  private var envelope: CdcRowReader.Envelope = _

  override def setSchema(writer: Schema): Unit =
    envelope = new CdcRowReader.Envelope(writer, columns(writer).toIndexedSeq)

  override def read(reuse: InternalRow, in: Decoder): InternalRow = envelope.read(in)
}

object CdcRowReader {

  /** One column of the output row. */
  sealed trait Column extends Serializable
  /** The fixed source_metadata struct; a struct of nulls when the record
    * has none. */
  case object SourceMetadata extends Column
  /** Payload field `name` coerced by `target`; null when the record's
    * payload has no such field or is not a record. */
  final case class Payload(name: String, target: Target) extends Column
  /** The same Catalyst value in every row. */
  final case class Constant(value: Any) extends Column

  /** The converter's typed columns: source_metadata, then every payload
    * field of `flat` in its order. */
  def flatColumns(flat: AvroSchemaConverter.FlatSchema, mode: ConvertMode): Seq[Column] =
    SourceMetadata +: flat.payloadFields.map(f => Payload(f.name, Typed(f.tpe, mode)))

  /** The all-string fallback's columns (reference main.py:556-563). */
  def fallbackColumns(flat: AvroSchemaConverter.FlatSchema): Seq[Column] =
    SourceMetadata +: flat.payloadFields.map(f =>
      Payload(f.name, AvroValueConverter.AsString(f.tpe)))

  /** A record that decoded but did not convert; `cause` is the coercion's
    * own exception. */
  final case class ConversionFailure(cause: Throwable) extends RuntimeException(cause)

  /** The coercion failures of the record being read, in a row of `width`
    * columns: the first by output column, a [[Coercions.RebaseOverflow]]
    * after any other. */
  private final class Failures(width: Int) {
    /** The output column being read. */
    var slot = 0
    private var first: Throwable = null
    private var firstRank = Int.MaxValue

    def record(e: Throwable): Unit = {
      val rank = e match {
        case _: Coercions.RebaseOverflow => width + slot
        case _ => slot
      }
      if (rank < firstRank) { first = e; firstRank = rank }
    }

    def throwIfAny(): Unit =
      if (first != null) {
        val e = first
        first = null
        firstRank = Int.MaxValue
        throw ConversionFailure(e)
      }
  }

  private val Str = Typed(TString, ConvertMode.Standard)

  private abstract class Value { def read(in: Decoder): Any }
  private abstract class Step { def read(in: Decoder, out: Array[Any]): Unit }

  private def sourceMetadataOfNulls(): InternalRow =
    new GenericInternalRow(AvroValueConverter.SourceMetadataTargets.size)

  /** One writer schema compiled against the output columns. */
  private final class Envelope(writer: Schema, columns: IndexedSeq[Column]) {
    if (writer.getType != Type.RECORD)
      throw new AvroRuntimeException(s"CDC envelope is not a record: ${writer.getType}")

    private val width = columns.size
    private val failures = new Failures(width)
    private val constants = columns.zipWithIndex.collect {
      case (Constant(v), i) if v != null => (i, v)
    }.toArray
    private val smSlot = columns.indexOf(SourceMetadata)
    private val smAbsent = smSlot >= 0 && writer.getField("source_metadata") == null
    private val payloadSlots: Map[String, (Int, Target)] =
      columns.zipWithIndex.collect { case (Payload(name, t), i) => name -> (i, t) }.toMap

    private val steps: Array[Step] = writer.getFields.asScala.map { f =>
      f.name match {
        case "source_metadata" if smSlot >= 0 => new Top(smSlot, sourceMetadata(f.schema))
        case "payload" if payloadSlots.nonEmpty => payload(f.schema)
        case _ => new Skip(f.schema)
      }
    }.toArray

    def read(in: Decoder): InternalRow = {
      val out = new Array[Any](width)
      var i = 0
      while (i < constants.length) { out(constants(i)._1) = constants(i)._2; i += 1 }
      i = 0
      while (i < steps.length) { steps(i).read(in, out); i += 1 }
      if (smAbsent) out(smSlot) = sourceMetadataOfNulls()
      failures.throwIfAny()
      new GenericInternalRow(out)
    }

    /** A top-level column: coercion failures are charged to `slot`. */
    private final class Top(slot: Int, value: Value) extends Step {
      def read(in: Decoder, out: Array[Any]): Unit = {
        failures.slot = slot
        out(slot) = value.read(in)
      }
    }

    private def payload(schema: Schema): Step = schema.getType match {
      case Type.RECORD => payloadRecord(schema)
      case Type.UNION =>
        new UnionStep(schema.getTypes.asScala.map { b =>
          if (b.getType == Type.RECORD) payloadRecord(b) else new Skip(b)
        }.toArray)
      case _ => new Skip(schema)
    }

    private def payloadRecord(record: Schema): Step =
      new Steps(record.getFields.asScala.map { f =>
        payloadSlots.get(f.name) match {
          case Some((slot, t)) => new Top(slot, value(f.schema, t))
          case None => new Skip(f.schema)
        }
      }.toArray)

    private def sourceMetadata(schema: Schema): Value = schema.getType match {
      case Type.RECORD => sourceMetadataRecord(schema)
      case Type.UNION =>
        new UnionValue(schema.getTypes.asScala.map { b =>
          if (b.getType == Type.RECORD) sourceMetadataRecord(b)
          else new SkipThen(b, sourceMetadataOfNulls())
        }.toArray)
      case _ => new SkipThen(schema, sourceMetadataOfNulls())
    }

    private def sourceMetadataRecord(record: Schema): Value = {
      val targets = AvroValueConverter.SourceMetadataTargets
      new StructValue(targets.size, record.getFields.asScala.map { f =>
        targets.indexWhere(_._1 == f.name) match {
          case -1 => new Skip(f.schema)
          case i => new Into(i, value(f.schema, targets(i)._2))
        }
      }.toArray)
    }

    /** The reader of one value of writer schema `w` coerced by `t`. */
    private def value(w: Schema, t: Target): Value = (w.getType, t) match {
      case (Type.UNION, _) => new UnionValue(w.getTypes.asScala.map(value(_, t)).toArray)
      case (Type.NULL, _) => NullValue
      case (Type.STRING, Typed(TString, _)) => new StringValue
      case (Type.LONG, Typed(TLong, _) | StrictLong) => LongValue
      case (Type.INT, StrictLong) => IntAsLongValue
      case (Type.INT, Typed(TInt, _)) => IntValue
      case (Type.DOUBLE, Typed(TDouble, _)) => DoubleValue
      case (Type.FLOAT, Typed(TFloat, _)) => FloatValue
      case (Type.BOOLEAN, Typed(TBoolean, _)) => BooleanValue
      case (Type.LONG | Type.INT, Typed(TTimestamp(unit), _)) =>
        new TimestampValue(w.getType == Type.INT, unit == "millis")
      case (Type.INT, Typed(TDate, _)) => DateValue
      case (Type.BYTES, Typed(TDecimal, _)) => DecimalBytesValue
      case (Type.BYTES, Typed(TBinary, ConvertMode.Standard)) => BytesValue
      case (Type.RECORD, Typed(TStruct(fields), ConvertMode.Standard)) =>
        new StructValue(fields.size, w.getFields.asScala.map { f =>
          fields.indexWhere(_.name == f.name) match {
            case -1 => new Skip(f.schema)
            case i => new Into(i, value(f.schema, Typed(fields(i).tpe, ConvertMode.Standard)))
          }
        }.toArray)
      case (Type.ARRAY, Typed(TArray(elem), ConvertMode.Standard)) =>
        new ArrayValue(value(w.getElementType, Typed(elem, ConvertMode.Standard)))
      case (Type.ARRAY, StringList) => new ArrayValue(value(w.getElementType, Str))
      case _ => new Coerced(w, t)
    }

    private final class TimestampValue(fromInt: Boolean, millis: Boolean) extends Value {
      def read(in: Decoder): Any = {
        val v = if (fromInt) in.readInt().toLong else in.readLong()
        try Coercions.timestampMicros(v, millis)
        catch { case e: Exception => failures.record(e); null }
      }
    }

    private object DateValue extends Value {
      def read(in: Decoder): Any = {
        val days = in.readInt()
        try Coercions.dateDays(days)
        catch { case e: Exception => failures.record(e); null }
      }
    }

    /** The rule-by-datum path: decode the datum avro-java's generic reader
      * would produce, then coerce it. */
    private final class Coerced(w: Schema, t: Target) extends Value {
      private val generic = w.getType match {
        case Type.ENUM | Type.FIXED | Type.RECORD | Type.ARRAY | Type.MAP =>
          new GenericDatumReader[Any](w, w, AvroCdcReader.readerData)
        case _ => null
      }
      private def datum(in: Decoder): Any = w.getType match {
        case Type.BOOLEAN => in.readBoolean()
        case Type.INT => in.readInt()
        case Type.LONG => in.readLong()
        case Type.FLOAT => in.readFloat()
        case Type.DOUBLE => in.readDouble()
        case Type.STRING => in.readString(null)
        case Type.BYTES => in.readBytes(null)
        case _ => generic.read(null, in)
      }
      def read(in: Decoder): Any = {
        val v = datum(in)
        try AvroValueConverter.coerce(v, t)
        catch { case e: Exception => failures.record(e); null }
      }
    }
  }

  private final class Into(slot: Int, value: Value) extends Step {
    def read(in: Decoder, out: Array[Any]): Unit = out(slot) = value.read(in)
  }

  private final class Skip(schema: Schema) extends Step {
    def read(in: Decoder, out: Array[Any]): Unit = GenericDatumReader.skip(schema, in)
  }

  private final class Steps(steps: Array[Step]) extends Step {
    def read(in: Decoder, out: Array[Any]): Unit = {
      var i = 0
      while (i < steps.length) { steps(i).read(in, out); i += 1 }
    }
  }

  private final class UnionStep(branches: Array[Step]) extends Step {
    def read(in: Decoder, out: Array[Any]): Unit = branches(in.readIndex()).read(in, out)
  }

  private final class UnionValue(branches: Array[Value]) extends Value {
    def read(in: Decoder): Any = branches(in.readIndex()).read(in)
  }

  /** Skips a value of `schema`, reading as `result`. */
  private final class SkipThen(schema: Schema, result: => Any) extends Value {
    def read(in: Decoder): Any = { GenericDatumReader.skip(schema, in); result }
  }

  private final class StructValue(width: Int, steps: Array[Step]) extends Value {
    def read(in: Decoder): Any = {
      val out = new Array[Any](width)
      var i = 0
      while (i < steps.length) { steps(i).read(in, out); i += 1 }
      new GenericInternalRow(out)
    }
  }

  private final class ArrayValue(element: Value) extends Value {
    def read(in: Decoder): Any = {
      var out = new Array[Any](0)
      var size = 0
      var n = in.readArrayStart()
      while (n > 0) {
        var i = 0L
        while (i < n) {
          // grow by doubling rather than by the block count: a corrupt
          // count then fails on the decode, not on the allocation
          if (size == out.length) {
            val grown = new Array[Any](math.max(4, size * 2))
            System.arraycopy(out, 0, grown, 0, size)
            out = grown
          }
          out(size) = element.read(in)
          size += 1
          i += 1
        }
        n = in.arrayNext()
      }
      new GenericArrayData(if (size == out.length) out else java.util.Arrays.copyOf(
        out.asInstanceOf[Array[AnyRef]], size).asInstanceOf[Array[Any]])
    }
  }

  private object NullValue extends Value {
    def read(in: Decoder): Any = { in.readNull(); null }
  }

  /** `Utf8.toString` decoding: valid UTF-8 is kept as is; invalid bytes
    * become U+FFFD, exactly as in the `String` the generic reader's value
    * converts through. */
  private final class StringValue extends Value {
    private val scratch = new Utf8()
    def read(in: Decoder): Any = {
      val s = in.readString(scratch)
      val bytes = s.getBytes
      val n = s.getByteLength
      var i = 0
      while (i < n && bytes(i) >= 0) i += 1
      if (i == n) UTF8String.fromBytes(java.util.Arrays.copyOf(bytes, n))
      else UTF8String.fromString(s.toString)
    }
  }

  private object LongValue extends Value {
    def read(in: Decoder): Any = in.readLong()
  }

  private object IntAsLongValue extends Value {
    def read(in: Decoder): Any = in.readInt().toLong
  }

  private object IntValue extends Value {
    def read(in: Decoder): Any = in.readInt()
  }

  private object DoubleValue extends Value {
    def read(in: Decoder): Any = in.readDouble()
  }

  /** Through double and back, as the lenient float rule converts. */
  private object FloatValue extends Value {
    def read(in: Decoder): Any = in.readFloat().toDouble.toFloat
  }

  private object BooleanValue extends Value {
    def read(in: Decoder): Any = in.readBoolean()
  }

  private def bytes(in: Decoder): Array[Byte] = {
    val b = in.readBytes(null)
    if (b.hasArray && b.arrayOffset == 0 && b.position == 0 && b.remaining == b.array.length)
      b.array
    else {
      val arr = new Array[Byte](b.remaining)
      b.duplicate().get(arr)
      arr
    }
  }

  private object DecimalBytesValue extends Value {
    def read(in: Decoder): Any = Decimal(Coercions.decimalFromBytes(bytes(in)))
  }

  private object BytesValue extends Value {
    def read(in: Decoder): Any = bytes(in)
  }
}
