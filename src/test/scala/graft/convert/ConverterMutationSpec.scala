package graft.convert

import java.io.File
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.avro.{AvroFixtures, ConvertMode}

/** Hostile-input sweep over the CONVERTER — the same perturbed-data
  * discipline the round-12 query sweeps ran, applied to `runOnce` and the
  * DSv2 scan. The reference's own failure surface (main.py:524-567) is
  * exactly this class: files that are truncated, corrupt mid-container,
  * empty, tiny, or that exercise a union branch the derived flat schema
  * didn't privilege. Every scenario pins (a) the blast radius — a bad
  * file never takes down the batch or a sibling file — and (b) split-read
  * exactly-once for whatever rows remain readable.
  */
class ConverterMutationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** `n` rows with ~1 KB names so the container spans several 64 KB-ish
    * Avro blocks — multi-block layout is what makes truncation and
    * mid-file sync corruption distinct scenarios.
    */
  private def writeRows(path: String, n: Int, idBase: Long = 0L): Unit = {
    val pad = "x" * 1024
    AvroFixtures.writeAvro(path, AvroFixtures.BasicEnvelope,
      (1 to n).map(i => Map[String, Any](
        "uuid" -> s"u$i", "read_timestamp" -> 0L,
        "source_metadata" -> AvroFixtures.sm("t"),
        "payload" -> Map("id" -> (idBase + i), "name" -> s"$pad-$i"))))
  }

  /** Offsets of every occurrence of the file's 16-byte sync marker (read
    * from the tail — every Avro block ends with the marker, so the last 16
    * bytes of a well-formed container ARE it). Occurrence 0 closes the
    * header; later ones separate blocks.
    */
  private def syncOffsets(path: String): (Array[Byte], Seq[Int]) = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val marker = bytes.takeRight(16)
    val hits = (0 to bytes.length - 16)
      .filter(o => marker.indices.forall(j => bytes(o + j) == marker(j)))
    (bytes, hits)
  }

  private def withTinySplits[T](bytes: String)(f: => T): T = {
    val key = "spark.sql.files.maxPartitionBytes"
    val keep = spark.conf.getOption(key)
    try { spark.conf.set(key, bytes); f }
    finally keep.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def outIds(out: String): Seq[Long] = {
    val d = new File(s"$out/t")
    if (!d.isDirectory) return Seq.empty
    spark.read.parquet(d.getAbsolutePath)
      .select("id").collect().map(_.getLong(0)).toSeq.sorted
  }

  test("M1 truncated container, whole-file read: atomic failure — zero " +
    "rows from the bad file, the sibling converts in full") {
    val in = tmpDir("graft-mut-trunc"); val out = tmpDir("graft-mut-trunc-out")
    writeRows(s"$in/avro/t/good.avro", 50)
    writeRows(s"$in/avro/t/bad.avro", 300, idBase = 1000L)
    val ch = java.nio.channels.FileChannel.open(
      Paths.get(s"$in/avro/t/bad.avro"), StandardOpenOption.WRITE)
    try ch.truncate(ch.size() - 37) finally ch.close() // mid final block
    val report = AvroToParquetJob.runOnce(
      spark, s"$in/avro/*/*.avro", out, ingestionDate = Some("2024-06-01"))
    assert(report.discovered == 2)
    assert(report.failed.exists(_.endsWith("bad.avro")),
      s"truncated file must be reported failed: $report")
    assert(report.converted.exists(_.endsWith("good.avro")))
    assert(outIds(out) == (1L to 50L),
      "single-split failure is atomic: only the sibling's rows land")
  }

  test("M2 truncated container, split read: intact prefix blocks convert " +
    "exactly once, only the truncated range drops, path still failed") {
    val in = tmpDir("graft-mut-trsp"); val out = tmpDir("graft-mut-trsp-out")
    writeRows(s"$in/avro/t/bad.avro", 300)
    val p = s"$in/avro/t/bad.avro"
    val ch = java.nio.channels.FileChannel.open(
      Paths.get(p), StandardOpenOption.WRITE)
    try ch.truncate(ch.size() - 37) finally ch.close()
    val report = withTinySplits("16k") {
      AvroToParquetJob.runOnce(
        spark, s"$in/avro/*/*.avro", out, ingestionDate = Some("2024-06-01"))
    }
    assert(report.failed.exists(_.endsWith("bad.avro")))
    val ids = outIds(out)
    assert(ids.nonEmpty && ids.size < 300,
      s"prefix blocks must survive, the cut block must not: ${ids.size}")
    assert(ids.distinct == ids, "no row may convert twice across splits")
    assert(ids.toSet.subsetOf((1L to 300L).toSet))
  }

  test("M3 corrupt sync marker mid-file: the batch survives, the path is " +
    "failed, a sibling file is untouched") {
    val in = tmpDir("graft-mut-sync"); val out = tmpDir("graft-mut-sync-out")
    writeRows(s"$in/avro/t/good.avro", 50)
    val p = s"$in/avro/t/bad.avro"
    writeRows(p, 300, idBase = 1000L)
    val (bytes, hits) = syncOffsets(p)
    assert(hits.size >= 3, s"need a MID-file sync marker, got ${hits.size}")
    val mid = hits(hits.size / 2)
    (0 until 16).foreach(j => bytes(mid + j) = (bytes(mid + j) ^ 0x5A).toByte)
    Files.write(Paths.get(p), bytes)
    val report = AvroToParquetJob.runOnce(
      spark, s"$in/avro/*/*.avro", out, ingestionDate = Some("2024-06-01"))
    assert(report.failed.exists(_.endsWith("bad.avro")),
      s"sync-corrupt file must be reported failed: $report")
    assert(report.converted.exists(_.endsWith("good.avro")))
    val ids = outIds(out)
    assert(ids.take(50) == (1L to 50L), "sibling rows must all convert")
    assert(ids.distinct == ids, "corruption must never duplicate rows")
  }

  test("M4 zero-row and 1-row containers: both convert cleanly alongside " +
    "a normal sibling; the 1-row file's row lands exactly once") {
    val in = tmpDir("graft-mut-tiny"); val out = tmpDir("graft-mut-tiny-out")
    AvroFixtures.writeAvro(s"$in/avro/t/empty.avro",
      AvroFixtures.BasicEnvelope, Seq.empty)
    writeRows(s"$in/avro/t/one.avro", 1, idBase = 500L)
    writeRows(s"$in/avro/t/good.avro", 50)
    val report = AvroToParquetJob.runOnce(
      spark, s"$in/avro/*/*.avro", out, ingestionDate = Some("2024-06-01"))
    assert(report.discovered == 3 && report.failed.isEmpty,
      s"empty/1-row containers are VALID inputs, not failures: $report")
    assert(report.converted.size == 3)
    assert(outIds(out) == ((1L to 50L) :+ 501L).sorted)
  }

  test("M5 1-row container under a split grid finer than the file: " +
    "exactly one row from runOnce AND the DSv2 scan") {
    val in = tmpDir("graft-mut-one"); val out = tmpDir("graft-mut-one-out")
    val p = s"$in/avro/t/one.avro"
    writeRows(p, 1)
    withTinySplits("64") {
      val report = AvroToParquetJob.runOnce(
        spark, s"$in/avro/*/*.avro", out, ingestionDate = Some("2024-06-01"))
      assert(report.failed.isEmpty && report.converted.size == 1)
      assert(outIds(out) == Seq(1L))
      val scan = spark.read.format("cdc-avro").load(p)
      assert(scan.select("id").collect().map(_.getLong(0)).toSeq == Seq(1L),
        "DSv2 scan must read the single row exactly once across ranges")
    }
  }

  test("M8 codec coverage: null, deflate and snappy containers of the " +
    "same schema convert together in one batch, rows exactly once") {
    val in = tmpDir("graft-mut-codec"); val out = tmpDir("graft-mut-codec-out")
    def rows(base: Long) = (1 to 20).map(i => Map[String, Any](
      "uuid" -> s"u$i", "read_timestamp" -> 0L,
      "source_metadata" -> AvroFixtures.sm("t"),
      "payload" -> Map("id" -> (base + i), "name" -> s"n$i")))
    AvroFixtures.writeAvro(s"$in/avro/t/plain.avro",
      AvroFixtures.BasicEnvelope, rows(0))
    AvroFixtures.writeAvro(s"$in/avro/t/deflate.avro",
      AvroFixtures.BasicEnvelope, rows(100), codec = Some("deflate"))
    AvroFixtures.writeAvro(s"$in/avro/t/snappy.avro",
      AvroFixtures.BasicEnvelope, rows(200), codec = Some("snappy"))
    val report = AvroToParquetJob.runOnce(
      spark, s"$in/avro/*/*.avro", out, ingestionDate = Some("2024-06-01"))
    assert(report.failed.isEmpty && report.converted.size == 3, s"$report")
    assert(outIds(out) ==
      ((1L to 20L) ++ (101L to 120L) ++ (201L to 220L)).sorted)
  }

  test("M10 codec-level corruption with INTACT structure (snappy CRC " +
    "breaks, every sync/size is valid): structural validation passes, " +
    "decode stops at the corrupt block — prefix rows stand, path failed, " +
    "sibling untouched (the documented ignoreCorruptFiles-like semantics " +
    "of the lazy reader's guarded emission)") {
    val in = tmpDir("graft-mut-crc"); val out = tmpDir("graft-mut-crc-out")
    writeRows(s"$in/avro/t/good.avro", 50)
    val p = s"$in/avro/t/bad.avro"
    val pad = "x" * 1024
    AvroFixtures.writeAvro(p, AvroFixtures.BasicEnvelope,
      (1 to 300).map(i => Map[String, Any](
        "uuid" -> s"u$i", "read_timestamp" -> 0L,
        "source_metadata" -> AvroFixtures.sm("t"),
        "payload" -> Map("id" -> (1000L + i), "name" -> s"$pad-$i"))),
      codec = Some("snappy"))
    val (bytes, hits) = syncOffsets(p)
    assert(hits.size >= 3, s"need a multi-block snappy container: ${hits.size}")
    // corrupt one byte DEEP inside a middle block's compressed data —
    // far from the block-header varints and from both bounding syncs,
    // so the structural walk sees a perfectly healthy container and
    // only snappy's CRC can catch it
    val dataMid = (hits(1) + 16 + 64 + (hits(2) - hits(1) - 80) / 2)
    bytes(dataMid) = (bytes(dataMid) ^ 0x5A).toByte
    Files.write(Paths.get(p), bytes)
    // the walk must PASS — this corruption is invisible to structure
    val len = bytes.length.toLong
    graft.avro.AvroCdcReader.validateRange(
      graft.avro.AvroCdcReader.FileSplit(p, 0L, len, len),
      spark.sparkContext.hadoopConfiguration)
    val report = AvroToParquetJob.runOnce(
      spark, s"$in/avro/*/*.avro", out, ingestionDate = Some("2024-06-01"))
    assert(report.failed.exists(_.endsWith("bad.avro")),
      s"CRC-corrupt file must be reported failed: $report")
    assert(report.converted.exists(_.endsWith("good.avro")))
    val ids = outIds(out)
    assert(ids.take(50) == (1L to 50L), "sibling rows must all convert")
    assert(ids.distinct == ids, "corruption must never duplicate rows")
    assert(ids.count(_ > 1000L) < 300,
      "the corrupt block and everything after it must not convert")
  }

  test("M11 hard CONVERSION error mid-file (strict-cast failure at row " +
    "~150 of 300): whole-file atomic — zero rows from the bad file, the " +
    "same-folder sibling converts exactly once via the probe-and-rewrite " +
    "fallback") {
    val in = tmpDir("graft-mut-conv"); val out = tmpDir("graft-mut-conv-out")
    // tx_id declared ["null","string"] but flattened strict-long (the
    // reference's _to_int): a non-numeric value is a HARD error
    val schema =
      """{"type":"record","name":"e","fields":[
        {"name":"source_metadata","type":{"type":"record","name":"sm","fields":[
          {"name":"schema","type":"string"},{"name":"table","type":"string"},
          {"name":"is_deleted","type":"boolean"},{"name":"change_type","type":"string"},
          {"name":"tx_id","type":["null","string"]},
          {"name":"lsn","type":["null","string"]},
          {"name":"primary_keys","type":{"type":"array","items":"string"}}]}},
        {"name":"payload","type":["null",{"type":"record","name":"p","fields":[
          {"name":"id","type":"long"},{"name":"name","type":["null","string"]}]}]}
      ]}"""
    val pad = "x" * 512
    def row(id: Long, tx: String) = Map[String, Any](
      "source_metadata" -> (AvroFixtures.sm("t") + ("tx_id" -> tx)),
      "payload" -> Map("id" -> id, "name" -> s"$pad-$id"))
    AvroFixtures.writeAvro(s"$in/avro/t/good.avro", schema,
      (1 to 50).map(i => row(i.toLong, "7")))
    AvroFixtures.writeAvro(s"$in/avro/t/bad.avro", schema,
      (1 to 300).map(i => row(1000L + i,
        if (i == 150) "not-a-number" else "7")))
    val report = AvroToParquetJob.runOnce(
      spark, s"$in/avro/*/*.avro", out, ConvertMode.Standard,
      ingestionDate = Some("2024-06-01"))
    assert(report.failed.exists(_.endsWith("bad.avro")),
      s"hard conversion error must fail the file: $report")
    assert(report.converted.size == 1 &&
      report.converted.head.endsWith("good.avro"), s"$report")
    assert(outIds(out) == (1L to 50L),
      "conversion failure must be whole-file atomic: no prefix rows from " +
        "the bad file, the sibling's rows exactly once")
  }

  test("M12 fallback-CLASS conversion error in Standard mode (string in " +
    "a timestamp-derived union mid-file): Standard has no all-string " +
    "fallback, so the file fails whole-file atomically, sibling intact") {
    val in = tmpDir("graft-mut-fbc"); val out = tmpDir("graft-mut-fbc-out")
    // ts declared ["null", long timestamp-micros, string]: derivation
    // inspects only the 2nd branch → TIMESTAMP; a string datum at row
    // 150 is a FallbackConversionError at convert time in BOTH modes
    val schema =
      """{"type":"record","name":"e","fields":[
        {"name":"source_metadata","type":{"type":"record","name":"sm","fields":[
          {"name":"schema","type":"string"},{"name":"table","type":"string"},
          {"name":"is_deleted","type":"boolean"},{"name":"change_type","type":"string"},
          {"name":"tx_id","type":["null","long"]},
          {"name":"lsn","type":["null","string"]},
          {"name":"primary_keys","type":{"type":"array","items":"string"}}]}},
        {"name":"payload","type":["null",{"type":"record","name":"p","fields":[
          {"name":"id","type":"long"},
          {"name":"ts","type":["null",{"type":"long","logicalType":"timestamp-micros"},"string"]}]}]}
      ]}"""
    def row(id: Long, ts: Any) = Map[String, Any](
      "source_metadata" -> AvroFixtures.sm("t"),
      "payload" -> Map("id" -> id, "ts" -> ts))
    AvroFixtures.writeAvro(s"$in/avro/t/good.avro", schema,
      (1 to 50).map(i => row(i.toLong, 1000000L * i)))
    AvroFixtures.writeAvro(s"$in/avro/t/bad.avro", schema,
      (1 to 300).map(i => row(1000L + i,
        if (i == 150) "not-a-timestamp" else 1000000L * i)))
    val report = AvroToParquetJob.runOnce(
      spark, s"$in/avro/*/*.avro", out, ConvertMode.Standard,
      ingestionDate = Some("2024-06-01"))
    assert(report.failed.exists(_.endsWith("bad.avro")),
      s"fallback-class error must fail the file in Standard mode: $report")
    assert(report.converted.size == 1 &&
      report.converted.head.endsWith("good.avro"), s"$report")
    // the whole report: no fallback file and no column forensics
    assert(report.discovered == 2 && report.failed.size == 1 &&
      report.fallback.isEmpty && report.columnFailures.isEmpty, s"$report")
    assert(outIds(out) == (1L to 50L),
      "whole-file atomic: no prefix rows from the bad file")
    // the probe-and-rewrite's probe fails the file outright: with no
    // fallback to write, it does not re-read the file for column forensics
    val statuses = graft.avro.AvroCdcReader.probe(spark, Seq(s"$in/avro/t/bad.avro"),
      graft.avro.AvroSchemaConverter.deriveFlatSchema(schema), ConvertMode.Standard)
    assert(statuses.collect { case f: graft.avro.AvroCdcReader.FileFailed => f.path }
      .map(_.split('/').last) == Seq("bad.avro"), s"$statuses")
  }

  test("M9 truncated container through the DSv2 scan: loud failure by " +
    "default, documented prefix-read under ignoreCorruptFiles") {
    val in = tmpDir("graft-mut-dsv2")
    val p = s"$in/avro/t/bad.avro"
    writeRows(p, 300)
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(p), StandardOpenOption.WRITE)
    try ch.truncate(ch.size() - 37) finally ch.close()
    // the batch scan plans byte-range partitions; the stream plans one
    // whole-file partition per new file
    def ids(streaming: Boolean, ignoreCorrupt: Boolean): Seq[Long] =
      if (!streaming)
        spark.read.format("cdc-avro")
          .option("ignoreCorruptFiles", ignoreCorrupt.toString).load(p)
          .select("id").collect().map(_.getLong(0)).toSeq.sorted
      else {
        val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]
        val q = spark.readStream.format("cdc-avro")
          .option("ignoreCorruptFiles", ignoreCorrupt.toString).load(p)
          .select("id").writeStream
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.collect().foreach(r => got.add(r.getLong(0)))
          }
          .option("checkpointLocation", tmpDir("graft-mut-ckpt"))
          .start()
        try q.processAllAvailable() finally q.stop()
        got.toArray.map(_.asInstanceOf[Long]).toSeq.sorted
      }
    def causes(e: Throwable): Iterator[Throwable] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(20)
    val prefix = ids(streaming = false, ignoreCorrupt = true)
    assert(prefix.nonEmpty && prefix.length < 300 &&
      prefix.distinct.length == prefix.length,
      "ignoreCorruptFiles keeps the intact prefix exactly once")
    Seq(false, true).foreach { streaming =>
      val e = intercept[Exception](ids(streaming, ignoreCorrupt = false))
      val failure =
        if (streaming) classOf[org.apache.spark.sql.streaming.StreamingQueryException]
        else classOf[org.apache.spark.SparkException]
      assert(failure.isInstance(e), s"$e")
      assert(causes(e).exists(c => String.valueOf(c.getMessage)
        .contains("truncated Avro container")),
        s"default scan (streaming=$streaming) must fail loudly on truncation: $e")
    }
    assert(ids(streaming = true, ignoreCorrupt = true) == prefix,
      "the stream's whole-file partition keeps the same prefix, once")
    // clean end-of-stream of a zero-row container must NOT trip the guard
    AvroFixtures.writeAvro(s"$in/avro/t2/empty.avro",
      AvroFixtures.BasicEnvelope, Seq.empty)
    assert(spark.read.format("cdc-avro")
      .load(s"$in/avro/t2/empty.avro").count() == 0)
  }

  // ["null","long","string"]: the union rules derive LONG (only the
  // second branch is inspected, main.py:324) — so the string branch is
  // "never seen at schema-derivation time" and only shows up in data
  private val TriUnionEnvelope: String =
    """{"type":"record","name":"cdc_event","fields":[
      {"name":"uuid","type":"string"},
      {"name":"read_timestamp","type":{"type":"long","logicalType":"timestamp-millis"}},
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
        {"name":"flex","type":["null","long","string"]}]}]}
    ]}"""

  test("M6 union branch unseen at schema derivation (string in a " +
    "long-derived 3-way union): lenient coercion per row, no failure") {
    val in = tmpDir("graft-mut-union"); val out = tmpDir("graft-mut-union-out")
    AvroFixtures.writeAvro(s"$in/avro/t/mix.avro", TriUnionEnvelope, Seq(
      Map("uuid" -> "a", "read_timestamp" -> 0L,
        "source_metadata" -> AvroFixtures.sm("t"),
        "payload" -> Map("id" -> 1L, "flex" -> 7L)),
      Map("uuid" -> "b", "read_timestamp" -> 0L,
        "source_metadata" -> AvroFixtures.sm("t"),
        "payload" -> Map("id" -> 2L, "flex" -> "123")), // numeric string
      Map("uuid" -> "c", "read_timestamp" -> 0L,
        "source_metadata" -> AvroFixtures.sm("t"),
        "payload" -> Map("id" -> 3L, "flex" -> "abc")))) // garbage string
    val report = AvroToParquetJob.runOnce(
      spark, s"$in/avro/*/*.avro", out, ingestionDate = Some("2024-06-01"))
    assert(report.failed.isEmpty && report.converted.size == 1, s"$report")
    val rows = spark.read.parquet(s"$out/t")
      .select("id", "flex").orderBy(col("id")).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(rows(0).getLong(1) == 7L, "long branch passes through")
    assert(rows(1).getLong(1) == 123L,
      "numeric-string branch coerces via the strict int parse (_to_int)")
    assert(rows(2).isNullAt(1),
      "garbage-string branch nulls (null-on-failure cast, main.py:201-240)")
  }

  test("M7 ReferenceExact + a union branch the derived type rejects " +
    "(string in a timestamp-derived union): per-column probe routes the " +
    "file to the all-string fallback, sibling stays typed") {
    val in = tmpDir("graft-mut-fb"); val out = tmpDir("graft-mut-fb-out")
    val env = TriUnionEnvelope.replace(
      """{"name":"flex","type":["null","long","string"]}""",
      """{"name":"flex","type":["null",{"type":"long","logicalType":"timestamp-micros"},"string"]}""")
    AvroFixtures.writeAvro(s"$in/avro/t/typed.avro", env, Seq(
      Map("uuid" -> "a", "read_timestamp" -> 0L,
        "source_metadata" -> AvroFixtures.sm("t"),
        "payload" -> Map("id" -> 1L, "flex" -> 1704067200000000L))))
    AvroFixtures.writeAvro(s"$in/avro/t/hostile.avro", env, Seq(
      Map("uuid" -> "b", "read_timestamp" -> 0L,
        "source_metadata" -> AvroFixtures.sm("t"),
        "payload" -> Map("id" -> 2L, "flex" -> "not-a-timestamp"))))
    val report = AvroToParquetJob.runOnce(
      spark, s"$in/avro/*/*.avro", out, ConvertMode.ReferenceExact,
      ingestionDate = Some("2024-06-01"))
    assert(report.failed.isEmpty, s"$report")
    assert(report.converted.exists(_.endsWith("typed.avro")))
    assert(report.fallback.exists(_.endsWith("hostile.avro")),
      s"string-in-timestamp-union must fall back, not fail: $report")
    assert(report.columnFailures.values.flatten
      .exists(_.column == "flex"), "the probe must name the column")
  }
}
