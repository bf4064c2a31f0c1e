package graft.avro

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import java.nio.ByteBuffer

import org.scalatest.funsuite.AnyFunSuite

import AvroSparkType._

class CoercionsSpec extends AnyFunSuite {

  // ---- _to_bool (main.py:26-37) ----
  test("toBoolLenient token table") {
    for (s <- Seq("true", "T", "1", "yes", "Y", " TRUE ")) {
      assert(Coercions.toBoolLenient(s) == java.lang.Boolean.TRUE, s)
    }
    for (s <- Seq("false", "F", "0", "no", "N", " False ")) {
      assert(Coercions.toBoolLenient(s) == java.lang.Boolean.FALSE, s)
    }
  }

  test("toBoolLenient bool(int(s)) tail: integer strings coerce by non-zero-ness") {
    assert(Coercions.toBoolLenient("5") == java.lang.Boolean.TRUE)
    assert(Coercions.toBoolLenient("-3") == java.lang.Boolean.TRUE)
    assert(Coercions.toBoolLenient("garbage") == null)
    assert(Coercions.toBoolLenient("2.5") == null) // python int("2.5") raises
    assert(Coercions.toBoolLenient(null) == null)
    assert(Coercions.toBoolLenient(java.lang.Boolean.TRUE) == java.lang.Boolean.TRUE)
    // python int() rejects float-ish and scientific strings → None, and the
    // tail must agree with CdcColumns.toBoolLenient's ^[+-]?[0-9]+$ gate
    assert(Coercions.toBoolLenient("1.0") == null)
    assert(Coercions.toBoolLenient("2.") == null)
    assert(Coercions.toBoolLenient("1e3") == null)
    assert(Coercions.toBoolLenient("+7") == java.lang.Boolean.TRUE)
    assert(Coercions.toBoolLenient("-0") == java.lang.Boolean.FALSE)
    assert(Coercions.toBoolLenient("00") == java.lang.Boolean.FALSE)
    // beyond Long range: python ints are unbounded
    assert(Coercions.toBoolLenient("10000000000000000000000") == java.lang.Boolean.TRUE)
  }

  // ---- _to_int (main.py:39-46) ----
  test("toLongStrict: numerics truncate, '+' stripped, garbage throws") {
    assert(Coercions.toLongStrict(java.lang.Boolean.TRUE) == 1L)
    assert(Coercions.toLongStrict(java.lang.Double.valueOf(3.9)) == 3L)
    assert(Coercions.toLongStrict("+42 ") == 42L)
    assert(Coercions.toLongStrict(null) == null)
    intercept[Exception](Coercions.toLongStrict("abc"))
  }

  // ---- _to_list_of_str (main.py:48-52) ----
  test("toListOfStr") {
    assert(Coercions.toListOfStr(null) == null)
    assert(Coercions.toListOfStr(java.util.Arrays.asList("a", null, java.lang.Integer.valueOf(2)))
      == Seq("a", null, "2"))
    assert(Coercions.toListOfStr("x") == Seq("x"))
  }

  // ---- decimal normalization goldens (main.py:170-199) ----
  private def scale30Bytes(unscaled: String): Array[Byte] =
    new BigInteger(unscaled).toByteArray

  test("decimalFromBytes: scale-30 → scale-9 rescale") {
    // 1.2345 at scale 30
    val b = scale30Bytes("1234500000000000000000000000000")
    assert(Coercions.decimalFromBytes(b) == new JBigDecimal("1.234500000"))
  }

  test("decimalFromBytes: HALF_EVEN at the midpoint digit") {
    // 0.0000000005 (5e-10): digit 10 is the exact midpoint → rounds to even (0)
    assert(Coercions.decimalFromBytes(scale30Bytes("500000000000000000000")) ==
      new JBigDecimal("0.000000000"))
    // 1.5e-9 → half rounds to even neighbor 2e-9
    assert(Coercions.decimalFromBytes(scale30Bytes("1500000000000000000000")) ==
      new JBigDecimal("0.000000002"))
    // 2.5e-9 → stays at even 2e-9
    assert(Coercions.decimalFromBytes(scale30Bytes("2500000000000000000000")) ==
      new JBigDecimal("0.000000002"))
    // non-midpoint: 2.5000...1e-9 → 3e-9
    assert(Coercions.decimalFromBytes(scale30Bytes("2500000000000000000001")) ==
      new JBigDecimal("0.000000003"))
    // negative midpoint: -1.5e-9 → -2e-9 (HALF_EVEN is sign-symmetric)
    assert(Coercions.decimalFromBytes(scale30Bytes("-1500000000000000000000")) ==
      new JBigDecimal("-0.000000002"))
  }

  test("decimalFromBytes: empty and overflowing inputs → 0.000000000") {
    assert(Coercions.decimalFromBytes(Array.emptyByteArray) == Coercions.DecimalZero)
    // 1e31 at scale 30 → 10^31 integral digits... value 1e31 needs precision 41 > 38
    val huge = scale30Bytes("1" + "0" * 61)
    assert(Coercions.decimalFromBytes(huge) == Coercions.DecimalZero)
  }

  test("decimalFromNumber: quantize to scale 9, overflow is hard error") {
    assert(Coercions.decimalFromNumber(java.lang.Long.valueOf(7L)) ==
      new JBigDecimal("7.000000000"))
    assert(Coercions.decimalFromNumber(java.lang.Double.valueOf(2.5e-9)) ==
      new JBigDecimal("0.000000002")) // HALF_EVEN
    intercept[HardConversionError](
      Coercions.decimalFromNumber(java.lang.Double.valueOf(1e30)))
  }

  // ---- value conversion against targets ----
  test("lenient int/float: parse failures → null, bools numeric") {
    import ConvertMode.Standard
    assert(AvroValueConverter.convert("12", TLong, Standard) == java.lang.Long.valueOf(12L))
    assert(AvroValueConverter.convert("1.5", TLong, Standard) == null) // python int("1.5") raises
    assert(AvroValueConverter.convert(java.lang.Boolean.TRUE, TLong, Standard) == 1L)
    assert(AvroValueConverter.convert("1.5", TDouble, Standard) == 1.5)
    assert(AvroValueConverter.convert("nope", TDouble, Standard) == null)
    assert(AvroValueConverter.convert(java.lang.Boolean.TRUE, TDouble, Standard) == 1.0)
  }

  test("float target receiving decimal bytes: scale-30 big-endian → double") {
    import ConvertMode.Standard
    val b = ByteBuffer.wrap(scale30Bytes("2500000000000000000000000000000")) // 2.5
    assert(AvroValueConverter.convert(b, TDouble, Standard) == 2.5)
  }

  test("timestamp conversion: millis and micros units") {
    import ConvertMode.Standard
    // Catalyst timestamps: micros since the epoch
    val tMs = AvroValueConverter
      .convert(java.lang.Long.valueOf(1704067200123L), TTimestamp("millis"), Standard)
    assert(tMs == 1704067200123000L)
    val tUs = AvroValueConverter
      .convert(java.lang.Long.valueOf(1704067200123456L), TTimestamp("micros"), Standard)
    assert(tUs == 1704067200123456L)
  }

  test("date conversion: days since epoch") {
    import ConvertMode.Standard
    // Catalyst dates: days since the epoch
    val d = AvroValueConverter.convert(java.lang.Integer.valueOf(19723), TDate, Standard)
    assert(d == 19723) // 2024-01-01
  }

  // ---- canonical JSON (_stringify_any, main.py:16-24) ----
  test("CanonicalJson: sorted keys, compact separators") {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("b", java.lang.Integer.valueOf(2))
    m.put("a", java.util.Arrays.asList("x", null))
    assert(CanonicalJson.json(m) == """{"a":["x",null],"b":2}""")
  }

  test("CanonicalJson: scalar stringify") {
    assert(Coercions.scalarString(new org.apache.avro.util.Utf8("héllo")) == "héllo")
    assert(CanonicalJson.stringify(java.lang.Long.valueOf(5L)) == "5")
    assert(CanonicalJson.stringify(null) == null)
  }

  // ---- parse_duration_to_seconds (main.py:242-246) ----
  test("parseDurationToSeconds") {
    import graft.convert.AvroToParquetJob.parseDurationToSeconds
    assert(parseDurationToSeconds("30m") == 1800)
    assert(parseDurationToSeconds(" 1H ") == 3600)
    assert(parseDurationToSeconds("2d") == 172800)
    assert(parseDurationToSeconds("45s") == 45)
    intercept[IllegalArgumentException](parseDurationToSeconds("1 fortnight"))
  }
}
