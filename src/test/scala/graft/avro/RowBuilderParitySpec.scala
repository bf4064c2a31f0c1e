package graft.avro

import java.io.ByteArrayOutputStream
import java.math.BigInteger
import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}
import org.apache.avro.util.Utf8
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{AvroCdcDataSource, AvroCdcPartitionReader}

/** Differential spec of the row builder: for seeded random records of
  * several CDC writer schemas, [[CdcRowReader]]'s row must be byte-equal,
  * as an `UnsafeRow`, to the row of the record → external `Row` →
  * `RowEncoder` path it replaced ([[ExternalRowReference]]); a record the
  * old path failed to convert must fail in the builder with the same
  * exception. Covered: the converter's Standard, ReferenceExact and
  * all-string fallback columns, flat schemas with missing and extra fields
  * and fingerprint-equal type variants, and the `cdc-avro` scan's columns
  * over random `required` subsets, merged-table type conflicts and
  * `_input_path`.
  */
class RowBuilderParitySpec extends AnyFunSuite {
  import RowBuilderParitySpec._

  private val Records = 400
  private val Path = "file:/landing/avro/orders/part-0.avro"

  /** Each record of `writer`, its old-path and builder outcomes compared;
    * returns the number of records that converted. */
  private def compare(
      caseName: String,
      writer: Schema,
      schema: StructType,
      columns: Seq[CdcRowReader.Column],
      seed: Long)(reference: GenericRecord => Row): Int = {
    val rnd = new Random(seed)
    val serializer = ExternalRowReference.serializer(schema)
    val project = UnsafeProjection.create(schema)
    val builder = new CdcRowReader(_ => columns)
    builder.setSchema(writer)
    val generic = new GenericDatumReader[GenericRecord](writer, writer, AvroCdcReader.readerData)
    var failures, rows = 0
    (0 until Records).foreach { n =>
      val bytes = encode(writer, datum(writer, rnd))
      val record = generic.read(null, DecoderFactory.get.binaryDecoder(bytes, null))
      // a timestamp or date the encoder could not store failed there,
      // wrapped: the builder reports it as a RebaseOverflow
      var fromEncoder = false
      val expected: Either[Throwable, Array[Byte]] =
        try {
          val row = reference(record)
          try Right(serializer(row).asInstanceOf[UnsafeRow].getBytes)
          catch { case e: Exception => fromEncoder = true; Left(e.getCause) }
        } catch { case e: Exception => Left(e) }
      val actual: Either[Throwable, Array[Byte]] =
        try Right(project(builder.read(null, DecoderFactory.get.binaryDecoder(bytes, null))).getBytes)
        catch { case CdcRowReader.ConversionFailure(e) => Left(e) }
      (expected, actual) match {
        case (Right(e), Right(a)) =>
          rows += 1
          assert(java.util.Arrays.equals(e, a),
            s"$caseName record $n: rows differ in ${differing(schema, e, a)}\n  record $record")
        case (Left(e), Left(a)) =>
          failures += 1
          val expectedClass =
            if (fromEncoder && e.isInstanceOf[ArithmeticException]) classOf[Coercions.RebaseOverflow]
            else e.getClass
          assert(expectedClass == a.getClass && e.getMessage == a.getMessage,
            s"$caseName record $n: failures differ: ${brief(e)} vs ${brief(a)}\n  record $record")
        case _ =>
          fail(s"$caseName record $n: expected ${expected.left.map(brief)}, " +
            s"got ${actual.left.map(brief)}\n  record $record")
      }
    }
    assert(rows + failures == Records)
    rows
  }

  private val modes: Seq[(String, Option[ConvertMode])] = Seq(
    "Standard" -> Some(ConvertMode.Standard),
    "ReferenceExact" -> Some(ConvertMode.ReferenceExact),
    "fallback" -> None)

  /** The converted-record count of each mode. */
  private def converterCase(writerName: String, flatName: String, seed: Long): Seq[Int] = {
    val writer = envelopes(writerName)
    val flat = AvroSchemaConverter.deriveFlatSchema(envelopes(flatName).toString)
    modes.map { case (modeName, mode) =>
      val (schemaFlat, columns) = mode match {
        case Some(m) => (flat, CdcRowReader.flatColumns(flat, m))
        case None => (AvroSchemaConverter.fallbackSchema(flat), CdcRowReader.fallbackColumns(flat))
      }
      val schema = AvroCdcReader.sparkSchema(schemaFlat, AvroCdcReader.InputPathCol)
      val path = CdcRowReader.Constant(org.apache.spark.unsafe.types.UTF8String.fromString(Path))
      compare(s"$writerName as $flatName, $modeName", writer, schema, columns :+ path, seed)(
        ExternalRowReference.converterRow(_, flat, mode, Path))
    }
  }

  // ReferenceExact fails every record holding a complex or binary value,
  // so its rows come from the payloads without one; every mode must
  // convert a good share of the records it is given
  private def assertConverted(counts: Seq[Seq[Int]]): Unit =
    modes.indices.foreach { m =>
      assert(counts.map(_(m)).sum >= Records / 2, s"${modes(m)._1}: ${counts.map(_(m))}")
    }

  test("converter rows: every mode, the writer's own flat schema") {
    assertConverted(Seq("kitchen", "evolved", "twoPayloads", "noPayload").zipWithIndex.map {
      case (name, i) => converterCase(name, name, 7101L + i)
    })
  }

  test("converter rows: flat schema with missing, extra and retyped fields") {
    assertConverted(Seq(
      converterCase("kitchen", "evolved", 7201L),
      converterCase("evolved", "kitchen", 7202L),
      converterCase("twoPayloads", "kitchen", 7203L)))
  }

  test("the datum form (flatten, convert) matches the old path too") {
    val rnd = new Random(7301L)
    val writer = envelopes("kitchen")
    val flat = AvroSchemaConverter.deriveFlatSchema(writer.toString)
    val schema = AvroCdcReader.sparkSchema(flat, AvroCdcReader.InputPathCol)
    val noPath = StructType(schema.fields.dropRight(1))
    val serializer = ExternalRowReference.serializer(noPath)
    val project = UnsafeProjection.create(noPath)
    val generic = new GenericDatumReader[GenericRecord](writer, writer, AvroCdcReader.readerData)
    var compared = 0
    (0 until Records).foreach { _ =>
      val bytes = encode(writer, datum(writer, rnd))
      val record = generic.read(null, DecoderFactory.get.binaryDecoder(bytes, null))
      val expected =
        try Some(serializer(ExternalRowReference.flatten(record, flat, ConvertMode.Standard))
          .asInstanceOf[UnsafeRow].getBytes)
        catch { case _: Exception => None }
      expected.foreach { e =>
        val a = project(AvroValueConverter.flatten(record, flat, ConvertMode.Standard)).getBytes
        assert(java.util.Arrays.equals(e, a), s"record $record")
        compared += 1
      }
    }
    assert(compared > 0)
  }

  test("cdc-avro scan rows: random required subsets, merged-type conflicts, _input_path") {
    val merged = AvroCdcDataSource.mergeFlatSchemas(Seq("kitchen", "evolved").map(n =>
      AvroSchemaConverter.deriveFlatSchema(envelopes(n).toString)))
    val rnd = new Random(7401L)
    var converted = 0
    for {
      writerName <- Seq("kitchen", "evolved", "twoPayloads")
      (tableName, tableFlat) <- Seq(
        "merged" -> merged,
        "own" -> AvroSchemaConverter.deriveFlatSchema(envelopes(writerName).toString))
      round <- 0 until 4
    } {
      val writer = envelopes(writerName)
      val full = AvroCdcDataSource.sparkSchema(tableFlat)
      val required =
        if (round == 0) full
        else StructType(full.fields.filter(_ => rnd.nextInt(3) > 0))
      val columns = AvroCdcPartitionReader.columns(required, tableFlat, Path)(writer)
      converted += compare(s"scan of $writerName, $tableName table, round $round", writer,
        required, columns, rnd.nextLong())(
        ExternalRowReference.scanRow(_, writer, required, tableFlat, Path))
    }
    assert(converted >= Records * 6)
  }
}

object RowBuilderParitySpec {

  private def brief(e: Throwable): String = String.valueOf(e).take(300)

  /** The columns whose values differ between two `UnsafeRow`s' bytes. */
  def differing(schema: StructType, expected: Array[Byte], actual: Array[Byte]): String = {
    def row(b: Array[Byte]) = {
      val r = new UnsafeRow(schema.size)
      r.pointTo(b, b.length)
      r
    }
    val (e, a) = (row(expected), row(actual))
    schema.fields.indices.filter { i =>
      val dt = schema(i).dataType
      e.isNullAt(i) != a.isNullAt(i) || (!e.isNullAt(i) && ((e.get(i, dt), a.get(i, dt)) match {
        case (x: Array[Byte], y: Array[Byte]) => !java.util.Arrays.equals(x, y)
        case (x, y) => x != y
      }))
    }.map { i =>
      val dt = schema(i).dataType
      def show(r: UnsafeRow) = if (r.isNullAt(i)) "null" else r.get(i, dt) match {
        case m: org.apache.spark.sql.catalyst.util.MapData =>
          m.keyArray.toSeq[Any](org.apache.spark.sql.types.StringType).mkString("[", ",", "]")
        case b: Array[Byte] => b.mkString("[", ",", "]")
        case v => String.valueOf(v)
      }
      s"${schema(i).name}: ${show(e)} vs ${show(a)}"
    }.mkString("; ")
  }

  private val SourceMetadata =
    """{"type":"record","name":"sm","fields":[
      {"name":"schema","type":"string"},
      {"name":"table","type":["null","string"]},
      {"name":"is_deleted","type":["null","boolean","string"]},
      {"name":"change_type","type":"string"},
      {"name":"tx_id","type":["null","long","string","double"]},
      {"name":"lsn","type":["null","string","long"]},
      {"name":"primary_keys","type":["null",{"type":"array","items":["null","string","long"]},"string"]}
    ]}"""

  /** A payload field of every shape the schema rules type differently. */
  private val KitchenPayload =
    """{"type":"record","name":"p","fields":[
      {"name":"s","type":"string"},
      {"name":"ns","type":["null","string"]},
      {"name":"l","type":"long"},
      {"name":"nl","type":["null","long"]},
      {"name":"i","type":"int"},
      {"name":"ni","type":["null","int"]},
      {"name":"f","type":"float"},
      {"name":"d","type":"double"},
      {"name":"nd","type":["null","double"]},
      {"name":"b","type":"boolean"},
      {"name":"nb","type":["null","boolean"]},
      {"name":"tsm","type":["null",{"type":"long","logicalType":"timestamp-millis"}]},
      {"name":"tsu","type":["null",{"type":"long","logicalType":"timestamp-micros"}]},
      {"name":"tsbare","type":{"type":"long","logicalType":"timestamp-micros"}},
      {"name":"tsi","type":["null",{"type":"int","logicalType":"timestamp-millis"}]},
      {"name":"dt","type":["null",{"type":"int","logicalType":"date"}]},
      {"name":"dec","type":["null",{"type":"bytes","logicalType":"decimal","precision":38,"scale":30}]},
      {"name":"decfix","type":["null",{"type":"fixed","name":"f16","size":16,"logicalType":"decimal","precision":38,"scale":30}]},
      {"name":"declong","type":["null",{"type":"long","logicalType":"decimal","precision":38,"scale":9}]},
      {"name":"decdbl","type":["null",{"type":"double","logicalType":"decimal","precision":38,"scale":9}]},
      {"name":"bin","type":"bytes"},
      {"name":"multi","type":["string","long"]},
      {"name":"nls","type":["null","long","string"]},
      {"name":"nsl","type":["null","string","long"]},
      {"name":"tsstr","type":["null",{"type":"long","logicalType":"timestamp-micros"},"string"]},
      {"name":"dtlong","type":["null",{"type":"int","logicalType":"date"},"long"]},
      {"name":"arr","type":{"type":"array","items":["null","long"]}},
      {"name":"arrs","type":{"type":"array","items":"string"}},
      {"name":"mp","type":{"type":"map","values":["null","int"]}},
      {"name":"rec","type":{"type":"record","name":"r","fields":[
        {"name":"a","type":"long"},
        {"name":"b","type":["null","string"]},
        {"name":"ts","type":{"type":"long","logicalType":"timestamp-millis"}},
        {"name":"xs","type":{"type":"array","items":"double"}}]}},
      {"name":"nrec","type":["null",{"type":"record","name":"r2","fields":[
        {"name":"k","type":"string"},{"name":"v","type":["null","double"]}]}]},
      {"name":"en","type":["null",{"type":"enum","name":"e","symbols":["A","B","C"]}]},
      {"name":"enbare","type":{"type":"enum","name":"e2","symbols":["X","Y"]}}
    ]}"""

  /** Another generation: fields dropped, added and retyped (`tsu` in
    * millis, `l` a string, `dt` a long). */
  private val EvolvedPayload =
    """{"type":"record","name":"p","fields":[
      {"name":"s","type":["null","string"]},
      {"name":"l","type":["null","string"]},
      {"name":"tsu","type":["null",{"type":"long","logicalType":"timestamp-millis"}]},
      {"name":"dt","type":["null","long"]},
      {"name":"dec","type":["null",{"type":"bytes","logicalType":"decimal","precision":38,"scale":30}]},
      {"name":"extra","type":["null","double"]},
      {"name":"arr","type":{"type":"array","items":["null","long"]}},
      {"name":"mp","type":{"type":"map","values":"string"}}
    ]}"""

  private def parse(json: String): Schema = new Schema.Parser().parse(json)

  val envelopes: Map[String, Schema] = Map(
    // envelope fields around the two CDC ones, a union payload with a
    // non-record branch, a field after the payload
    "kitchen" -> parse(
      s"""{"type":"record","name":"cdc","fields":[
        {"name":"uuid","type":"string"},
        {"name":"read_timestamp","type":{"type":"long","logicalType":"timestamp-millis"}},
        {"name":"meta","type":{"type":"map","values":"string"}},
        {"name":"source_metadata","type":$SourceMetadata},
        {"name":"payload","type":["null",$KitchenPayload,"string"]},
        {"name":"trailer","type":["null","long"]}]}"""),
    // source_metadata as a union with a non-record branch, a bare-record payload
    "evolved" -> parse(
      s"""{"type":"record","name":"cdc","fields":[
        {"name":"source_metadata","type":["null",{"type":"record","name":"sm","fields":[
          {"name":"tx_id","type":"string"},
          {"name":"primary_keys","type":{"type":"array","items":"string"}},
          {"name":"extra","type":"long"}]},"long"]},
        {"name":"payload","type":$EvolvedPayload}]}"""),
    // no source_metadata; two record branches
    "twoPayloads" -> parse(
      s"""{"type":"record","name":"cdc","fields":[
        {"name":"payload","type":["null",$KitchenPayload,{"type":"record","name":"p3","fields":[
          {"name":"s","type":"long"},{"name":"l","type":"string"},{"name":"only3","type":"int"}]}]}]}"""),
    "noPayload" -> parse(
      s"""{"type":"record","name":"cdc","fields":[
        {"name":"source_metadata","type":$SourceMetadata}]}"""))

  def encode(schema: Schema, datum: Any): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val enc = EncoderFactory.get.binaryEncoder(out, null)
    new GenericDatumWriter[Any](schema).write(datum, enc)
    enc.flush()
    out.toByteArray
  }

  /** Micros at the Gregorian switch (1582-10-15) and the day count. */
  private val SwitchMicros = -12219292800000000L
  private val SwitchDay = -141427

  private val longs: IndexedSeq[Long] = IndexedSeq(0L, 1L, -1L, 5L, Long.MaxValue, Long.MinValue,
    1704067200123456L, -1704067200123456L, 1704067200123L, -1704067200123L,
    SwitchMicros, SwitchMicros - 1, SwitchMicros - 86400000000L * 5,
    SwitchMicros - 86400000000L * 11, -62135596800000000L, -62135596800000001L,
    SwitchMicros / 1000, SwitchMicros / 1000 - 86400000L * 7, -30000000000000L,
    Long.MaxValue / 1000 + 1, Long.MinValue / 1000 - 1, 9223372036854L, 10000000000000000L)

  private val ints: IndexedSeq[Int] = IndexedSeq(0, 1, -1, 5, 19723, -19723, Int.MaxValue, Int.MinValue,
    SwitchDay, SwitchDay - 1, SwitchDay - 5, SwitchDay - 10, SwitchDay - 11, SwitchDay + 1,
    -200000, -719162, -719163, -1000000)

  /** Lone continuation, cut-short sequences, an encoded surrogate, an
    * overlong NUL, a code point past U+10FFFF. */
  private val invalidUtf8: IndexedSeq[Array[Byte]] = IndexedSeq[Seq[Int]](
    Seq(0xff), Seq('a', 0xc3), Seq(0xed, 0xa0, 0x80), Seq(0xc0, 0x80),
    Seq(0xf4, 0x90, 0x80, 0x80), Seq('x', 0x80, 'y'), Seq(0xe2, 0x82)).map(_.map(_.toByte).toArray)

  private val strings: IndexedSeq[String] = IndexedSeq("alpha", "", "12", " +7 ", "-0", "1.5",
    "1e3", "true", "Yes", "n", "F", "0", "héllo", "日本語", "ctl\u0001\n\"q\"", "😀",
    "9223372036854775808", "-42", "NaN", "2.")

  private def string(rnd: Random): CharSequence = rnd.nextInt(10) match {
    case 0 => new Utf8(invalidUtf8(rnd.nextInt(invalidUtf8.size)))
    case 1 => rnd.alphanumeric.take(rnd.nextInt(12)).mkString
    case _ => new Utf8(strings(rnd.nextInt(strings.size)))
  }

  private def bytes(rnd: Random): Array[Byte] = rnd.nextInt(6) match {
    case 0 => Array.emptyByteArray
    case 1 => new BigInteger("1234500000000000000000000000000").toByteArray // 1.2345
    case 2 => BigInteger.TEN.pow(50).toByteArray // beyond the prec-28 envelope
    case 3 => BigInteger.valueOf(rnd.nextLong()).multiply(BigInteger.TEN.pow(21)).toByteArray
    case 4 => Array.fill(rnd.nextInt(24))(rnd.nextInt(256).toByte)
    case _ => "abcé".getBytes("UTF-8")
  }

  private def double(rnd: Random): Double = rnd.nextInt(8) match {
    case 0 => Double.NaN
    case 1 => Double.PositiveInfinity
    case 2 => -0.0
    case 3 => 1e30
    case 4 => 2.5e-9
    case 5 => 1.5
    case _ => (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(24))
  }

  /** A random datum of `schema`, as `GenericDatumWriter` takes it. */
  def datum(schema: Schema, rnd: Random): Any = {
    import Schema.Type._
    schema.getType match {
      case NULL => null
      case BOOLEAN => rnd.nextBoolean()
      case INT => if (rnd.nextBoolean()) ints(rnd.nextInt(ints.size)) else rnd.nextInt(2000000) - 1000000
      case LONG =>
        if (rnd.nextBoolean()) longs(rnd.nextInt(longs.size))
        else if (rnd.nextBoolean()) rnd.nextLong()
        else (rnd.nextDouble() * 2e16 - 1e16).toLong
      case FLOAT => double(rnd).toFloat
      case DOUBLE => double(rnd)
      case STRING => string(rnd)
      case BYTES => ByteBuffer.wrap(bytes(rnd))
      case FIXED =>
        val b = bytes(rnd)
        new GenericData.Fixed(schema, java.util.Arrays.copyOf(b, schema.getFixedSize))
      case ENUM =>
        val symbols = schema.getEnumSymbols
        new GenericData.EnumSymbol(schema, symbols.get(rnd.nextInt(symbols.size)))
      case ARRAY =>
        val xs = new java.util.ArrayList[Any]()
        (0 until rnd.nextInt(4)).foreach(_ => xs.add(datum(schema.getElementType, rnd)))
        xs
      case MAP =>
        val m = new java.util.HashMap[Utf8, Any]()
        (0 until rnd.nextInt(8)).foreach(i =>
          m.put(new Utf8(s"k$i${rnd.nextInt(100)}"), datum(schema.getValueType, rnd)))
        m
      case RECORD =>
        val r = new GenericData.Record(schema)
        schema.getFields.asScala.foreach(f => r.put(f.pos, datum(f.schema, rnd)))
        r
      case UNION =>
        val branches = schema.getTypes
        // the null branch a third of the time, else a random branch
        val nullAt = branches.asScala.indexWhere(_.getType == NULL)
        val pick = if (nullAt >= 0 && rnd.nextInt(3) == 0) nullAt else rnd.nextInt(branches.size)
        datum(branches.get(pick), rnd)
    }
  }
}
