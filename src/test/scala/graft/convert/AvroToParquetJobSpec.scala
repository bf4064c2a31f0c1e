package graft.convert

import java.io.File
import java.math.{BigDecimal => JBigDecimal}
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.avro.{AvroFixtures, ConvertMode}

class AvroToParquetJobSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  test("A1 happy path: flatten, cast, partitioned snappy write") {
    val in = tmpDir("graft-in")
    val out = tmpDir("graft-out")
    val f = s"$in/avro/users/batch1.avro"
    AvroFixtures.writeAvro(f, AvroFixtures.BasicEnvelope, Seq(
      Map(
        "uuid" -> "u1", "read_timestamp" -> 1704067200000L, "sort_keys" -> "sk",
        "source_metadata" -> AvroFixtures.sm("users", isDeleted = false, txId = 77L),
        "payload" -> Map(
          "id" -> 1L, "name" -> "alice", "active" -> true, "qty" -> 5,
          // 2.5e-9 at scale 30 → HALF_EVEN → 0.000000002
          "price" -> AvroFixtures.scale30("2500000000000000000000"),
          "created_at" -> 1704067200123456L,
          "updated_on" -> 19723)),
      Map(
        "uuid" -> "u2", "read_timestamp" -> 1704067201000L,
        "source_metadata" -> AvroFixtures.sm("users", isDeleted = true, txId = 78L,
          changeType = "DELETE"),
        "payload" -> Map("id" -> 2L)), // all optional payload fields absent → null
      Map(
        "uuid" -> "u3", "read_timestamp" -> 1704067202000L,
        "source_metadata" -> AvroFixtures.sm("users", txId = 79L)
        // payload null → all payload columns null
      ),
    ))

    val report = AvroToParquetJob.runOnce(
      spark, s"$in/avro/*/*.avro", out, ConvertMode.Standard,
      ingestionDate = Some("2024-06-01"))
    assert(report.discovered == 1 && report.converted.size == 1 && report.failed.isEmpty)

    // reference layout: <prefix>/users/ingestion_date=2024-06-01/
    // (folder is a plain path segment, main.py:574 — not a Hive key)
    assert(new File(s"$out/users/ingestion_date=2024-06-01").isDirectory)

    val df = spark.read.parquet(s"$out/users")
    assert(df.columns.sorted.toSeq ==
      Seq("active", "created_at", "id", "ingestion_date", "name",
        "price", "qty", "source_metadata", "updated_on"))
    val rows = df.orderBy(org.apache.spark.sql.functions.col("id").asc_nulls_last).collect()
    assert(rows.length == 3)

    val r1 = rows(0)
    val sm1 = r1.getStruct(r1.fieldIndex("source_metadata"))
    assert(sm1.getString(sm1.fieldIndex("table")) == "users")
    assert(!sm1.getBoolean(sm1.fieldIndex("is_deleted")))
    assert(sm1.getLong(sm1.fieldIndex("tx_id")) == 77L)
    assert(sm1.getSeq[String](sm1.fieldIndex("primary_keys")) == Seq("id"))
    assert(r1.getString(r1.fieldIndex("name")) == "alice")
    assert(r1.getAs[JBigDecimal]("price").compareTo(new JBigDecimal("0.000000002")) == 0)
    val ts = r1.getTimestamp(r1.fieldIndex("created_at"))
    assert(ts.getTime == 1704067200123L && ts.getNanos == 123456000)
    assert(r1.getDate(r1.fieldIndex("updated_on")).toLocalDate ==
      java.time.LocalDate.of(2024, 1, 1))

    val r2 = rows(1)
    assert(r2.isNullAt(r2.fieldIndex("name")) && r2.isNullAt(r2.fieldIndex("price")))
    val r3 = rows(2)
    assert(r3.isNullAt(r3.fieldIndex("id"))) // null payload → null payload columns
    val sm3 = r3.getStruct(r3.fieldIndex("source_metadata"))
    assert(sm3.getLong(sm3.fieldIndex("tx_id")) == 79L)
  }

  test("A5 folder layout: path without /avro/<x>/ goes to the unknown folder") {
    val in = tmpDir("graft-in2")
    val out = tmpDir("graft-out2")
    AvroFixtures.writeAvro(s"$in/stray.avro", AvroFixtures.BasicEnvelope, Seq(
      Map("uuid" -> "u", "read_timestamp" -> 0L,
        "source_metadata" -> AvroFixtures.sm("t"),
        "payload" -> Map("id" -> 1L))))
    AvroToParquetJob.runOnce(spark, s"$in/*.avro", out, ConvertMode.Standard,
      ingestionDate = Some("2024-06-01"))
    assert(new File(s"$out/unknown/ingestion_date=2024-06-01").isDirectory)

    // the streaming converter applies the same rule to `_input_path`
    val streamOut = tmpDir("graft-out2s")
    val q = AvroToParquetJob.runStreaming(spark, s"$in/*.avro", streamOut,
      tmpDir("graft-ck2s"), ingestionDate = Some("2024-06-01"))
    try q.processAllAvailable() finally q.stop()
    assert(new File(streamOut).list().toSeq.filterNot(_.startsWith(".")) == Seq("unknown"))
    assert(spark.read.parquet(s"$streamOut/unknown/ingestion_date=2024-06-01")
      .select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  private val complexEnvelope =
    """{"type":"record","name":"cdc_event","fields":[
      {"name":"source_metadata","type":{"type":"record","name":"sm","fields":[
        {"name":"schema","type":"string"},{"name":"table","type":"string"},
        {"name":"is_deleted","type":"boolean"},{"name":"change_type","type":"string"},
        {"name":"tx_id","type":["null","long"]},{"name":"lsn","type":["null","string"]},
        {"name":"primary_keys","type":{"type":"array","items":"string"}}]}},
      {"name":"payload","type":["null",{"type":"record","name":"p","fields":[
        {"name":"id","type":"long"},
        {"name":"tags","type":{"type":"array","items":"string"}},
        {"name":"attrs","type":{"type":"map","values":"long"}},
        {"name":"blob","type":"bytes"}]}]}
    ]}"""

  test("complex payload: Standard mode keeps typed arrays/maps/binary") {
    val in = tmpDir("graft-in3")
    val out = tmpDir("graft-out3")
    AvroFixtures.writeAvro(s"$in/avro/t1/c.avro", complexEnvelope, Seq(
      Map("source_metadata" -> AvroFixtures.sm("t1"),
        "payload" -> Map(
          "id" -> 1L,
          "tags" -> Seq("x", "y"),
          "attrs" -> Map("k1" -> 10L, "k2" -> 20L),
          "blob" -> "raw-bytes".getBytes("UTF-8")))))
    val rep = AvroToParquetJob.runOnce(spark, s"$in/avro/*/*.avro", out,
      ConvertMode.Standard, ingestionDate = Some("2024-06-01"))
    assert(rep.converted.size == 1 && rep.fallback.isEmpty)
    val row = spark.read.parquet(out).collect().head
    assert(row.getSeq[String](row.fieldIndex("tags")) == Seq("x", "y"))
    assert(row.getMap[String, Long](row.fieldIndex("attrs")).toMap ==
      Map("k1" -> 10L, "k2" -> 20L))
    assert(new String(row.getAs[Array[Byte]]("blob"), "UTF-8") == "raw-bytes")
  }

  test("complex payload: ReferenceExact mode routes the file through the " +
    "all-string fallback (like Arrow rejecting str-for-complex)") {
    val in = tmpDir("graft-in4")
    val out = tmpDir("graft-out4")
    AvroFixtures.writeAvro(s"$in/avro/t1/c.avro", complexEnvelope, Seq(
      Map("source_metadata" -> AvroFixtures.sm("t1"),
        "payload" -> Map(
          "id" -> 7L,
          "tags" -> Seq("x", "y"),
          "attrs" -> Map("k" -> 1L),
          "blob" -> "bb".getBytes("UTF-8")))))
    val rep = AvroToParquetJob.runOnce(spark, s"$in/avro/*/*.avro", out,
      ConvertMode.ReferenceExact, ingestionDate = Some("2024-06-01"))
    assert(rep.fallback.size == 1 && rep.converted.isEmpty && rep.failed.isEmpty)
    val row = spark.read.parquet(out).collect().head
    // all payload columns stringified; canonical JSON for complex values
    assert(row.getString(row.fieldIndex("id")) == "7")
    assert(row.getString(row.fieldIndex("tags")) == """["x","y"]""")
    assert(row.getString(row.fieldIndex("attrs")) == """{"k":1}""")
    // source_metadata survives as a typed struct
    val sm = row.getStruct(row.fieldIndex("source_metadata"))
    assert(sm.getString(sm.fieldIndex("table")) == "t1")
  }

  test("fallback forensics: every offending column is named in the report " +
    "with type/sample/error, and the audit log carries the lines") {
    val in = tmpDir("graft-in4f")
    val out = tmpDir("graft-out4f")
    AvroFixtures.writeAvro(s"$in/avro/t1/f.avro", complexEnvelope, Seq(
      Map("source_metadata" -> AvroFixtures.sm("t1"),
        "payload" -> Map(
          "id" -> 7L,
          "tags" -> Seq("x", "y"),
          "attrs" -> Map("k" -> 1L),
          "blob" -> "bb".getBytes("UTF-8")))))
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    val rep = AvroToParquetJob.runOnce(spark, s"$in/avro/*/*.avro", out,
      ConvertMode.ReferenceExact, ingestionDate = Some("2024-06-01"),
      audit = Some(lines += _))
    assert(rep.fallback.size == 1)
    val failures = rep.columnFailures(rep.fallback.head)
    // the three complex/binary columns are identified individually — not
    // just "file needs fallback" (reference main.py:529-540 parity)
    assert(failures.map(_.column).toSet == Set("tags", "attrs", "blob"),
      s"got ${failures.map(_.column)}")
    val tagsF = failures.find(_.column == "tags").get
    assert(tagsF.declaredType.nonEmpty && tagsF.error.nonEmpty &&
      tagsF.sampleValue.nonEmpty)
    assert(lines.exists(_.startsWith("[AVRO-SCHEMA]")))
    assert(lines.exists(_.startsWith("[FLAT-SCHEMA]")))
    val colLines = lines.filter(_.startsWith("[COLUMN-FAILURE]"))
    assert(colLines.size == 3 && colLines.forall(_.contains("file=")))
  }

  test("schema audit log: decimal fields are called out per schema group") {
    val in = tmpDir("graft-in-audit")
    val out = tmpDir("graft-out-audit")
    graft.BenchData.writeCdcAvro(s"$in/avro/b/part-0.avro", rows = 10)
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    AvroToParquetJob.runOnce(spark, s"$in/avro/*/*.avro", out,
      ConvertMode.Standard, ingestionDate = Some("2024-06-01"),
      audit = Some(lines += _))
    assert(lines.exists(l =>
      l.startsWith("[DECIMAL-FIELD]") && l.contains("field=price")))
    assert(lines.exists(l =>
      l.startsWith("[AVRO-SCHEMA]") && l.contains("fingerprint=")))
  }

  test("schema audit log: 2 folders x 2 schemas with one fallback file give " +
    "the one-group-at-a-time line sequence, all on the calling thread") {
    val in = tmpDir("graft-in-audit2")
    val out = tmpDir("graft-out-audit2")
    // schema B: a timestamp-derived union with a string branch — a string
    // datum sends the file to the all-string fallback in ReferenceExact
    val flexEnvelope =
      """{"type":"record","name":"cdc_event","fields":[
        {"name":"source_metadata","type":{"type":"record","name":"sm","fields":[
          {"name":"schema","type":"string"},{"name":"table","type":"string"},
          {"name":"is_deleted","type":"boolean"},{"name":"change_type","type":"string"},
          {"name":"tx_id","type":["null","long"]},{"name":"lsn","type":["null","string"]},
          {"name":"primary_keys","type":{"type":"array","items":"string"}}]}},
        {"name":"payload","type":["null",{"type":"record","name":"p","fields":[
          {"name":"id","type":"long"},
          {"name":"flex","type":["null",{"type":"long","logicalType":"timestamp-micros"},"string"]}]}]}
      ]}"""
    Seq("a", "b").foreach { folder =>
      AvroFixtures.writeAvro(s"$in/avro/$folder/basic.avro", AvroFixtures.BasicEnvelope, Seq(
        Map("uuid" -> "u", "read_timestamp" -> 0L,
          "source_metadata" -> AvroFixtures.sm(folder),
          "payload" -> Map("id" -> 1L, "name" -> folder))))
      AvroFixtures.writeAvro(s"$in/avro/$folder/flex.avro", flexEnvelope, Seq(
        Map("source_metadata" -> AvroFixtures.sm(folder),
          "payload" -> Map("id" -> 2L,
            "flex" -> (if (folder == "b") "not-a-timestamp" else 1704067200000000L)))))
    }
    val caller = Thread.currentThread
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    val threads = scala.collection.mutable.Set[Thread]()
    val rep = AvroToParquetJob.runOnce(spark, s"$in/avro/*/*.avro", out,
      ConvertMode.ReferenceExact, ingestionDate = Some("2024-06-01"),
      audit = Some { l => threads += Thread.currentThread; lines += l })
    assert(rep.fallback.map(relPath) == Seq("b/flex.avro"), s"$rep")
    assert(threads == Set(caller), "the audit sink must see only the caller")
    // each line's tag and subject; the full text is rendered per schema
    // group by code that runs once per group, as before
    val shape = lines.map { l =>
      val tag = l.takeWhile(_ != ' ')
      val keys = "(example_file|file|field|column)=(\\S+)".r.findAllMatchIn(l)
        .map(m => s"${m.group(1)}=${relPath(m.group(2))}").mkString(" ")
      s"$tag $keys"
    }
    // recorded from the one-unit-at-a-time loop this replaced
    assert(shape == Seq(
      "[AVRO-SCHEMA] example_file=a/flex.avro",
      "[FLAT-SCHEMA] example_file=a/flex.avro",
      "[COLUMN-FAILURE] file=b/flex.avro column=flex",
      "[AVRO-SCHEMA] example_file=a/basic.avro",
      "[FLAT-SCHEMA] example_file=a/basic.avro",
      "[DECIMAL-FIELD] field=price"), shape.mkString("\n"))
  }

  /** `path` from its folder segment on: `…/avro/<folder>/<file>` →
    * `<folder>/<file>` (other values pass through).
    */
  private def relPath(path: String): String = {
    val i = path.indexOf("/avro/")
    if (i < 0) path else path.substring(i + "/avro/".length)
  }

  /** tx_id declared ["null","string"] but flattened strict-long: a
    * non-numeric value is a HARD conversion error (probe-and-rewrite).
    * Generation 2 adds a payload column, so it is a second writer schema.
    */
  private def txStringEnvelope(gen: Int): String = {
    val name = if (gen == 2) """,{"name":"name","type":["null","string"]}""" else ""
    s"""{"type":"record","name":"cdc_event","fields":[
      {"name":"source_metadata","type":{"type":"record","name":"sm","fields":[
        {"name":"schema","type":"string"},{"name":"table","type":"string"},
        {"name":"is_deleted","type":"boolean"},{"name":"change_type","type":"string"},
        {"name":"tx_id","type":["null","string"]},{"name":"lsn","type":["null","string"]},
        {"name":"primary_keys","type":{"type":"array","items":"string"}}]}},
      {"name":"payload","type":["null",{"type":"record","name":"p","fields":[
        {"name":"id","type":"long"}$name]}]}
    ]}"""
  }

  /** A batch over `folders` x 2 writer schemas, two 5-row files per
    * (folder, schema); the first folder also holds a hard-error file and the
    * second a truncated one. Returns the ids each folder's output must hold.
    */
  private def writeFolderBatch(in: String, folders: Seq[String]): Map[String, Seq[Long]] = {
    def row(folder: String, id: Long, tx: String) = Map[String, Any](
      "source_metadata" -> (AvroFixtures.sm(folder) + ("tx_id" -> tx)),
      "payload" -> Map("id" -> id, "name" -> ("n" * 512)))
    val expected = for ((folder, fi) <- folders.zipWithIndex) yield {
      val ids = for (gen <- 1 to 2; k <- 0 until 2) yield {
        val ids = (1 to 5).map(i => fi * 1000L + gen * 100 + k * 10 + i)
        AvroFixtures.writeAvro(s"$in/avro/$folder/g$gen-$k.avro",
          txStringEnvelope(gen), ids.map(id => row(folder, id, id.toString)))
        ids
      }
      folder -> ids.flatten.sorted
    }
    AvroFixtures.writeAvro(s"$in/avro/${folders(0)}/g1-bad.avro", txStringEnvelope(1),
      Seq(row(folders(0), 9001L, "9001"), row(folders(0), 9002L, "not-a-number")))
    val trunc = s"$in/avro/${folders(1)}/g2-trunc.avro"
    AvroFixtures.writeAvro(trunc, txStringEnvelope(2),
      (1 to 300).map(i => row(folders(1), 8000L + i, i.toString)))
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(trunc), java.nio.file.StandardOpenOption.WRITE)
    try ch.truncate(ch.size() - 37) finally ch.close() // mid final block
    expected.toMap
  }

  private def allNames(dir: File): Seq[String] =
    Option(dir.listFiles).toSeq.flatten.flatMap(f =>
      f.getName +: (if (f.isDirectory) allNames(f) else Nil))

  test("concurrent folder writes: 3 folders x 2 writer schemas with a " +
    "hard-error and a truncated file give the sequential report and rows") {
    val in = tmpDir("graft-in-conc")
    val expected = writeFolderBatch(in, Seq("f1", "f2", "f3"))
    // recorded from the one-unit-at-a-time loop this replaced (the same in
    // both modes): schema groups, then folders, in hash-map order
    val converted = Seq(
      "f1/g2-0.avro", "f1/g2-1.avro", "f3/g2-0.avro", "f3/g2-1.avro",
      "f2/g2-0.avro", "f2/g2-1.avro", "f1/g1-0.avro", "f1/g1-1.avro",
      "f3/g1-0.avro", "f3/g1-1.avro", "f2/g1-0.avro", "f2/g1-1.avro")
    val failed = Seq("f2/g2-trunc.avro", "f1/g1-bad.avro")
    Seq(ConvertMode.Standard, ConvertMode.ReferenceExact).foreach { mode =>
      val out = tmpDir("graft-out-conc")
      val rep = AvroToParquetJob.runOnce(spark, s"$in/avro/*/*.avro", out,
        mode, ingestionDate = Some("2024-06-01"))
      assert(rep.discovered == 14)
      assert(rep.converted.map(relPath) == converted, s"$mode")
      assert(rep.failed.map(relPath) == failed, s"$mode")
      assert(rep.fallback.isEmpty && rep.columnFailures.isEmpty)
      expected.foreach { case (folder, ids) =>
        val got = spark.read.parquet(s"$out/$folder").select("id")
          .collect().map(_.getLong(0)).toSeq.sorted
        // both writer schemas' units landed in the shared folder, once
        assert(got == ids, s"$mode $folder")
        assert(!allNames(new File(s"$out/$folder")).contains("_temporary"),
          s"$mode $folder")
      }
    }
  }

  test("concurrent folder writes: at most defaultParallelism write jobs at " +
    "once, and more than one") {
    val in = tmpDir("graft-in-conc6")
    val out = tmpDir("graft-out-conc6")
    val folders = (1 to 6).map(i => s"p$i")
    val expected = writeFolderBatch(in, folders)
    var running = 0
    var peak = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        running += 1; peak = math.max(peak, running)
      }
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        running -= 1
    }
    org.apache.spark.sql.graft.ListenerBusBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val rep = try AvroToParquetJob.runOnce(spark, s"$in/avro/*/*.avro", out,
      ConvertMode.Standard, ingestionDate = Some("2024-06-01"))
    finally {
      org.apache.spark.sql.graft.ListenerBusBridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(rep.converted.size == 24 && rep.failed.size == 2, s"$rep")
    // the listener bus delivers on one thread in posting order, and a job's
    // end is posted before its caller resumes, so `peak` is exact
    assert(peak <= spark.sparkContext.defaultParallelism, s"peak $peak")
    assert(peak > 1, "folders must overlap")
    expected.foreach { case (folder, ids) =>
      assert(spark.read.parquet(s"$out/$folder").select("id")
        .collect().map(_.getLong(0)).toSeq.sorted == ids, folder)
    }
  }

  test("concurrent folder writes: one unwritable folder fails the poll only " +
    "after every write job has finished; only committed units are ledgered, " +
    "so the retry writes each row once") {
    val in = tmpDir("graft-in-concfail")
    val out = tmpDir("graft-out-concfail")
    val ledger = tmpDir("graft-ledger-concfail")
    val expected = writeFolderBatch(in, Seq("f1", "f2", "f3"))
    // a regular file where the f2 output folder should be
    assert(new File(s"$out/f2").createNewFile())
    def poll() = AvroToParquetJob.runOnce(spark, s"$in/avro/*/*.avro", out,
      ConvertMode.Standard, Some(ledger), ingestionDate = Some("2024-06-01"))
    intercept[Exception](poll())
    org.apache.spark.sql.graft.ListenerBusBridge.drainListenerBus(spark)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
      "no write job may outlive the failed poll")
    Seq("f1", "f3").foreach(f =>
      assert(!allNames(new File(s"$out/$f")).contains("_temporary"), f))

    def seen() = new FileLedger(ledger, spark.sparkContext.hadoopConfiguration)
      .seen().map(relPath)
    def idsIn(folder: String): Seq[Long] =
      spark.read.parquet(s"$out/$folder").select("id")
        .collect().map(_.getLong(0)).toSeq.sorted
    // a write unit is one writer schema (generation g1/g2, the hundreds
    // digit of an id) in one folder; which f1/f3 units committed before
    // the failure stopped their chains depends on timing
    def gen(id: Long) = id % 1000 / 100
    val committed = Seq("f1", "f3").flatMap { folder =>
      val got = if (new File(s"$out/$folder").isDirectory) idsIn(folder) else Nil
      val gens = got.map(gen).toSet
      assert(got == expected(folder).filter(id => gens(gen(id))),
        s"$folder holds whole units only")
      gens.toSeq.map(g => folder -> g)
    }
    val committedFiles = committed.flatMap { case (folder, g) =>
      new File(s"$in/avro/$folder").list().toSeq
        .filter(_.startsWith(s"g$g-")).map(f => s"$folder/$f")
    }
    assert(seen() == committedFiles.toSet, s"committed units $committed")

    assert(new File(s"$out/f2").delete())
    val rep = poll()
    assert(rep.discovered == 14 - committedFiles.size)
    assert(seen().size == 14)
    expected.foreach { case (folder, ids) => assert(idsIn(folder) == ids, folder) }
  }

  test("hard failure: garbage tx_id fails the file in both modes, others convert") {
    val in = tmpDir("graft-in5")
    val out = tmpDir("graft-out5")
    val badSchema =
      """{"type":"record","name":"cdc_event","fields":[
        {"name":"source_metadata","type":{"type":"record","name":"sm","fields":[
          {"name":"schema","type":"string"},{"name":"table","type":"string"},
          {"name":"is_deleted","type":"boolean"},{"name":"change_type","type":"string"},
          {"name":"tx_id","type":["null","string"]},
          {"name":"lsn","type":["null","string"]},
          {"name":"primary_keys","type":{"type":"array","items":"string"}}]}},
        {"name":"payload","type":["null",{"type":"record","name":"p","fields":[
          {"name":"id","type":"long"}]}]}
      ]}"""
    AvroFixtures.writeAvro(s"$in/avro/t/bad.avro", badSchema, Seq(
      Map("source_metadata" -> (AvroFixtures.sm("t") + ("tx_id" -> "not-a-number")),
        "payload" -> Map("id" -> 1L))))
    AvroFixtures.writeAvro(s"$in/avro/t/good.avro", badSchema, Seq(
      Map("source_metadata" -> (AvroFixtures.sm("t") + ("tx_id" -> "123")),
        "payload" -> Map("id" -> 2L))))
    val rep = AvroToParquetJob.runOnce(spark, s"$in/avro/*/*.avro", out,
      ConvertMode.Standard, ingestionDate = Some("2024-06-01"))
    assert(rep.failed.size == 1 && rep.failed.head.endsWith("bad.avro"))
    assert(rep.converted.size == 1)
    val rows = spark.read.parquet(out).collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("id") == 2L)
  }

  test("multiple writer schemas in one batch: fingerprint grouping produces " +
    "both outputs; continuous ledger skips processed files") {
    val in = tmpDir("graft-in6")
    val out = tmpDir("graft-out6")
    val ledger = tmpDir("graft-ledger")
    AvroFixtures.writeAvro(s"$in/avro/a/one.avro", AvroFixtures.BasicEnvelope, Seq(
      Map("uuid" -> "u", "read_timestamp" -> 0L,
        "source_metadata" -> AvroFixtures.sm("a"),
        "payload" -> Map("id" -> 1L, "name" -> "n1"))))
    AvroFixtures.writeAvro(s"$in/avro/b/two.avro", complexEnvelope, Seq(
      Map("source_metadata" -> AvroFixtures.sm("b"),
        "payload" -> Map("id" -> 2L, "tags" -> Seq("t"), "attrs" -> Map("k" -> 1L),
          "blob" -> "z".getBytes("UTF-8")))))

    val rep1 = AvroToParquetJob.runOnce(spark, s"$in/avro/*/*.avro", out,
      ConvertMode.Standard, Some(ledger), ingestionDate = Some("2024-06-01"))
    assert(rep1.discovered == 2 && rep1.converted.size == 2)
    assert(new File(s"$out/a").isDirectory && new File(s"$out/b").isDirectory)

    // second run: nothing new
    val rep2 = AvroToParquetJob.runOnce(spark, s"$in/avro/*/*.avro", out,
      ConvertMode.Standard, Some(ledger), ingestionDate = Some("2024-06-01"))
    assert(rep2.discovered == 0)

    // a new file appears → only it is processed
    AvroFixtures.writeAvro(s"$in/avro/a/three.avro", AvroFixtures.BasicEnvelope, Seq(
      Map("uuid" -> "u3", "read_timestamp" -> 0L,
        "source_metadata" -> AvroFixtures.sm("a"),
        "payload" -> Map("id" -> 3L, "name" -> "n3"))))
    val rep3 = AvroToParquetJob.runOnce(spark, s"$in/avro/*/*.avro", out,
      ConvertMode.Standard, Some(ledger), ingestionDate = Some("2024-06-01"))
    assert(rep3.discovered == 1 && rep3.converted.head.endsWith("three.avro"))

    // continuous wrapper drains immediately with maxIterations
    val reports = AvroToParquetJob.runContinuous(
      spark, s"$in/avro/*/*.avro", out, ledger, intervalSeconds = 1,
      maxIterations = 1)
    assert(reports.size == 1 && reports.head.discovered == 0)
  }

  test("ledger compaction: batch files fold into one, seen set unchanged, " +
    "below-threshold and empty ledgers untouched") {
    val dir = tmpDir("graft-ledger-compact")
    val conf = spark.sparkContext.hadoopConfiguration
    val ledger = new FileLedger(dir, conf)

    // empty ledger: nothing to do
    assert(ledger.compact(4) == 0)

    (1 to 6).foreach(i => ledger.add(Seq(s"/data/f$i.avro", s"/data/g$i.avro")))
    val before = ledger.seen()
    assert(before.size == 12)
    assert(new File(dir).listFiles().count(_.getName.startsWith("batch-")) == 6)

    // below threshold: untouched
    assert(ledger.compact(8) == 0)
    assert(new File(dir).listFiles().count(_.getName.startsWith("batch-")) == 6)

    // above threshold: 6 files fold into 1, same seen set
    assert(ledger.compact(4) == 6)
    assert(new File(dir).listFiles().count(_.getName.startsWith("batch-")) == 1)
    assert(ledger.seen() == before)

    // appends keep working after compaction
    ledger.add(Seq("/data/h.avro"))
    assert(ledger.seen() == before + "/data/h.avro")
  }

  test("sharded ledger: hash-prefix shards route stably, seen() unions, " +
    "each shard compacts independently (the 100x-file-count layout)") {
    val dir = tmpDir("graft-ledger-shards")
    val conf = spark.sparkContext.hadoopConfiguration
    val ledger = new FileLedger(dir, conf, shards = 2)

    val paths = (1 to 20).map(i => s"/data/f$i.avro")
    ledger.add(paths)
    // routing is stable and total: both shard dirs exist, union is exact
    val shardDirs = new File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted
    assert(shardDirs.toSeq == Seq("shard-00", "shard-01"))
    assert(ledger.seen() == paths.toSet)
    val bySeen = (0 until 2).map(ledger.seenShard)
    assert(bySeen.forall(_.nonEmpty), "both shards must receive paths")
    assert(bySeen(0) ++ bySeen(1) == paths.toSet)
    assert(bySeen(0).intersect(bySeen(1)).isEmpty)
    // routing agrees with a fresh instance (restart survives)
    val reopened = new FileLedger(dir, conf, shards = 2)
    assert(paths.forall(p => reopened.shardOf(p) == ledger.shardOf(p)))
    assert(reopened.seen() == paths.toSet)

    // grow one shard past the threshold: only that shard folds
    val hot = (21 to 40).map(i => s"/data/h$i.avro")
      .filter(p => ledger.shardOf(p) == 0)
    hot.foreach(p => ledger.add(Seq(p))) // one batch file per add
    val before = ledger.seen()
    val s0files = new File(s"$dir/shard-00").listFiles()
      .count(_.getName.startsWith("batch-"))
    val s1files = new File(s"$dir/shard-01").listFiles()
      .count(_.getName.startsWith("batch-"))
    assert(s0files > 4 && s1files <= 4)
    assert(ledger.compact(4) == s0files)
    assert(new File(s"$dir/shard-00").listFiles()
      .count(_.getName.startsWith("batch-")) == 1)
    assert(new File(s"$dir/shard-01").listFiles()
      .count(_.getName.startsWith("batch-")) == s1files,
      "the below-threshold shard must be untouched")
    assert(ledger.seen() == before)
  }

  test("corrupt input file: isolated as failed, healthy files still convert") {
    val in = tmpDir("graft-in-corrupt")
    val out = tmpDir("graft-out-corrupt")
    // a healthy file and a garbage .avro
    AvroFixtures.writeAvro(s"$in/avro/t/good.avro", AvroFixtures.BasicEnvelope, Seq(
      Map("uuid" -> "u", "read_timestamp" -> 0L,
        "source_metadata" -> AvroFixtures.sm("t"),
        "payload" -> Map("id" -> 1L, "name" -> "ok"))))
    val junk = new File(s"$in/avro/t/corrupt.avro")
    java.nio.file.Files.write(junk.toPath,
      Array.fill(256)(scala.util.Random.nextInt(256).toByte))

    // discovery-time schema read of the corrupt file throws inside the
    // distributed fingerprint pass — the job must surface it, not die
    val rep = try {
      AvroToParquetJob.runOnce(spark, s"$in/avro/*/*.avro", out,
        ConvertMode.Standard, ingestionDate = Some("2024-06-01"))
    } catch {
      case e: Throwable =>
        fail(s"corrupt file killed the whole batch: ${e.getMessage.take(200)}")
    }
    assert(rep.converted.exists(_.endsWith("good.avro")))
    assert(rep.failed.exists(_.endsWith("corrupt.avro")))
    val rows = spark.read.parquet(out).collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("id") == 1L)
  }

  test("union-typed payload fields follow reference union rules end-to-end") {
    // A2-style: u1 first-branch-non-null → string; u2 3-way → long
    val unionSchema =
      """{"type":"record","name":"cdc_event","fields":[
        {"name":"source_metadata","type":{"type":"record","name":"sm","fields":[
          {"name":"schema","type":"string"},{"name":"table","type":"string"},
          {"name":"is_deleted","type":"boolean"},{"name":"change_type","type":"string"},
          {"name":"tx_id","type":["null","long"]},{"name":"lsn","type":["null","string"]},
          {"name":"primary_keys","type":{"type":"array","items":"string"}}]}},
        {"name":"payload","type":["null",{"type":"record","name":"p","fields":[
          {"name":"id","type":"long"},
          {"name":"u1","type":["string","null"]},
          {"name":"u2","type":["null","long","string"]}]}]}
      ]}"""
    val in = tmpDir("graft-in7")
    val out = tmpDir("graft-out7")
    AvroFixtures.writeAvro(s"$in/avro/u/f.avro", unionSchema, Seq(
      Map("source_metadata" -> AvroFixtures.sm("u"),
        "payload" -> Map("id" -> 1L, "u1" -> "sv", "u2" -> 42L)),
      Map("source_metadata" -> AvroFixtures.sm("u"),
        // u2 carries its STRING branch: lenient int of "99" → 99
        "payload" -> Map("id" -> 2L, "u1" -> "s2", "u2" -> "99")),
      Map("source_metadata" -> AvroFixtures.sm("u"),
        // u2 string branch, unparseable → null (never-fail coercion)
        "payload" -> Map("id" -> 3L, "u1" -> "s3", "u2" -> "xyz"))))
    AvroToParquetJob.runOnce(spark, s"$in/avro/*/*.avro", out,
      ConvertMode.Standard, ingestionDate = Some("2024-06-01"))
    val df = spark.read.parquet(out)
    assert(df.schema("u1").dataType == org.apache.spark.sql.types.StringType)
    assert(df.schema("u2").dataType == org.apache.spark.sql.types.LongType)
    val rows = df.orderBy("id").collect()
    assert(rows(0).getAs[Long]("u2") == 42L)
    assert(rows(1).getAs[Long]("u2") == 99L)
    assert(rows(2).isNullAt(rows(2).fieldIndex("u2")))
  }

  test("compaction: many one-per-input parquet files bin-pack into few, " +
    "same rows, reference layout preserved") {
    val in = tmpDir("graft-in9")
    val out = tmpDir("graft-out9")
    // 6 ledgered polls of one new avro file each → 6 output parquet
    // files (the reference's one-file-per-file shape)
    (0 until 6).foreach { i =>
      AvroFixtures.writeAvro(s"$in/avro/users/f$i.avro",
        AvroFixtures.BasicEnvelope, Seq(
          Map("uuid" -> s"u$i", "read_timestamp" -> 0L,
            "source_metadata" -> AvroFixtures.sm("users", txId = i.toLong),
            "payload" -> Map("id" -> i.toLong, "name" -> s"n$i"))))
      AvroToParquetJob.runOnce(spark, s"$in/avro/*/*.avro", out,
        ConvertMode.Standard, ledgerDir = Some(s"$in/_ledger"),
        ingestionDate = Some("2024-06-01"))
    }
    val dir = new java.io.File(s"$out/users/ingestion_date=2024-06-01")
    def parquets() = dir.listFiles.count(_.getName.endsWith(".parquet"))
    assert(parquets() >= 6)
    val before = spark.read.parquet(dir.getAbsolutePath)
      .orderBy("id").collect().map(_.toString).toSeq

    val reports = Compaction.compactAll(spark, out, targetBytes = Long.MaxValue)
    assert(reports.size == 1 && reports.head.filesBefore >= 6 &&
      reports.head.filesAfter == 1 && reports.head.rows == 6)
    assert(parquets() == 1)
    val after = spark.read.parquet(dir.getAbsolutePath)
      .orderBy("id").collect().map(_.toString).toSeq
    assert(after == before)
    // idempotent: already compacted → no-op
    assert(Compaction.compactAll(spark, out, targetBytes = Long.MaxValue).isEmpty)
  }

  test("runStreaming: checkpointed incremental conversion with the " +
    "reference layout, restart-safe without a ledger") {
    val in = tmpDir("graft-in8")
    val out = tmpDir("graft-out8")
    val ckpt = tmpDir("graft-ck8")
    def rec(table: String, id: Long) = Map(
      "uuid" -> s"u$id", "read_timestamp" -> 0L,
      "source_metadata" -> AvroFixtures.sm(table, txId = id),
      "payload" -> Map("id" -> id, "name" -> s"n$id"))
    AvroFixtures.writeAvro(s"$in/avro/users/a.avro",
      AvroFixtures.BasicEnvelope, Seq(rec("users", 1L), rec("users", 2L)))
    AvroFixtures.writeAvro(s"$in/avro/orders/b.avro",
      AvroFixtures.BasicEnvelope, Seq(rec("orders", 10L)))

    // sorted lists, not sets: a file converted twice shows as duplicates
    def idsUnder(folder: String): Seq[Long] =
      spark.read
        .parquet(s"$out/$folder/ingestion_date=2024-06-01")
        .collect().map(_.getAs[Long]("id")).toSeq.sorted

    val q1 = AvroToParquetJob.runStreaming(spark, s"$in/avro/*/*.avro", out,
      ckpt, ingestionDate = Some("2024-06-01"))
    try {
      q1.processAllAvailable()
      // reference layout: plain <folder> segment + hive ingestion_date
      assert(idsUnder("users") == Seq(1L, 2L))
      assert(idsUnder("orders") == Seq(10L))
    } finally q1.stop()

    // restart from the same checkpoint: old files are NOT reconverted,
    // a newly appeared file is
    AvroFixtures.writeAvro(s"$in/avro/users/c.avro",
      AvroFixtures.BasicEnvelope, Seq(rec("users", 3L)))
    val q2 = AvroToParquetJob.runStreaming(spark, s"$in/avro/*/*.avro", out,
      ckpt, ingestionDate = Some("2024-06-01"))
    try {
      q2.processAllAvailable()
      assert(idsUnder("users") == Seq(1L, 2L, 3L)) // no duplicates of 1,2
      assert(idsUnder("orders") == Seq(10L))
    } finally q2.stop()
  }

  test("runStreaming: a batch replayed after one folder's write failed " +
    "converts only the uncommitted folder, so no row lands twice") {
    val in = tmpDir("graft-in-replay")
    val out = tmpDir("graft-out-replay")
    val ckpt = tmpDir("graft-ck-replay")
    def rec(folder: String, id: Long) = Map(
      "uuid" -> s"u$id", "read_timestamp" -> 0L,
      "source_metadata" -> AvroFixtures.sm(folder, txId = id),
      "payload" -> Map("id" -> id, "name" -> s"n$id"))
    val expected = Map("f1" -> (1L to 10L), "f2" -> (101L to 110L))
    expected.foreach { case (folder, ids) =>
      AvroFixtures.writeAvro(s"$in/avro/$folder/a.avro",
        AvroFixtures.BasicEnvelope, ids.map(rec(folder, _)))
    }
    def idsIn(folder: String): Seq[Long] =
      spark.read.parquet(s"$out/$folder").select("id")
        .collect().map(_.getLong(0)).toSeq.sorted
    def run(): Unit = {
      val q = AvroToParquetJob.runStreaming(spark, s"$in/avro/*/*.avro", out,
        ckpt, ingestionDate = Some("2024-06-01"))
      try q.processAllAvailable() finally q.stop()
    }
    // a regular file where the f2 output folder should be: batch 0 fails
    // after f1's write unit committed, so Spark replays it on restart
    assert(new File(s"$out/f2").createNewFile())
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    assert(idsIn("f1") == expected("f1"), "f1 committed before the failure")
    assert(new File(s"$out/f2").delete())
    run()
    expected.foreach { case (folder, ids) => assert(idsIn(folder) == ids, folder) }
    // the replayed batch committed: its ledger goes when the next batch runs
    AvroFixtures.writeAvro(s"$in/avro/f1/b.avro", AvroFixtures.BasicEnvelope,
      Seq(rec("f1", 11L)))
    run()
    assert(idsIn("f1") == (1L to 11L))
    assert(new File(s"$ckpt/graft_batches").list().toSeq == Seq("1"))
  }

  test("ledger layout migration: flat history reopened sharded (and back) " +
    "keeps the seen set — a shard-count change never re-converts history") {
    val dir = tmpDir("graft-ledger-migrate")
    val conf = spark.sparkContext.hadoopConfiguration
    val flat = new FileLedger(dir, conf)
    val history = (1 to 50).map(i => s"/data/m$i.avro")
    flat.add(history)

    // reopen SHARDED: root batch files move into shard dirs on first
    // access, so membership still sees the full flat history
    val sharded = new FileLedger(dir, conf, shards = 4)
    assert(sharded.filterUnseen(history :+ "/data/new.avro")
      == Seq("/data/new.avro"),
      "flat history must stay visible after re-opening sharded")
    assert(sharded.seen() == history.toSet)
    assert(new File(dir).listFiles().count(f =>
      f.isFile && f.getName.startsWith("batch-")) == 0,
      "root batch files must have migrated into shards")
    sharded.add(Seq("/data/new.avro"))

    // reopen FLAT again: shard dirs fold back into the root
    val flat2 = new FileLedger(dir, conf)
    assert(flat2.seen() == history.toSet + "/data/new.avro")
    assert(new File(dir).listFiles().count(_.isDirectory) == 0,
      "shard dirs must have folded back to the flat layout")
    // and the migrated ledger keeps deduplicating
    assert(flat2.filterUnseen(Seq(history.head, "/data/new2.avro"))
      == Seq("/data/new2.avro"))
  }

  test("filterUnseen loads ONLY the shards this poll's candidates touch " +
    "(per-poll driver memory = one shard, not the full history)") {
    val dir = tmpDir("graft-ledger-filter")
    val conf = spark.sparkContext.hadoopConfiguration
    val shards = 8
    val ledger = new FileLedger(dir, conf, shards)
    val history = (1 to 200).map(i => s"/data/old$i.avro")
    ledger.add(history)

    // candidates: a seen path + two unseen ones, chosen to span few shards
    val seenOne = history.head
    val fresh = Seq("/data/new1.avro", "/data/new2.avro")
    val candidates = Seq(fresh.head, seenOne, fresh(1))
    val touched = candidates.map(ledger.shardOf).toSet

    val loaded = scala.collection.mutable.ArrayBuffer[Int]()
    val unseen = ledger.filterUnseen(candidates, loaded += _)
    assert(unseen == fresh.head +: fresh.drop(1),
      "seen path filtered out, caller order preserved")
    assert(loaded.toSet == touched,
      s"must read exactly the touched shards, got $loaded vs $touched")
    assert(loaded.size == touched.size, "each touched shard read once")
    assert(touched.size < shards,
      "fixture sanity: candidates must not touch every shard")

    // empty candidates: zero shard reads
    val loads2 = scala.collection.mutable.ArrayBuffer[Int]()
    assert(ledger.filterUnseen(Nil, loads2 += _).isEmpty && loads2.isEmpty)

    // shards=1 degenerates to the flat full read
    val flat = new FileLedger(tmpDir("graft-ledger-flat"), conf)
    flat.add(Seq("/d/a.avro"))
    assert(flat.filterUnseen(Seq("/d/a.avro", "/d/b.avro")) == Seq("/d/b.avro"))
  }

  test("runOnce with a sharded ledger: dedup across polls holds, only new " +
    "files convert (the millions-of-ledgered-files driver-memory posture)") {
    val in = tmpDir("graft-in-shardledger")
    val out = tmpDir("graft-out-shardledger")
    val ledger = tmpDir("graft-ledger-sharded")
    AvroFixtures.writeAvro(s"$in/avro/a/one.avro", AvroFixtures.BasicEnvelope, Seq(
      Map("uuid" -> "u1", "read_timestamp" -> 0L,
        "source_metadata" -> AvroFixtures.sm("a"),
        "payload" -> Map("id" -> 1L, "name" -> "n1"))))
    val rep1 = AvroToParquetJob.runOnce(spark, s"$in/avro/*/*.avro", out,
      ConvertMode.Standard, Some(ledger), ingestionDate = Some("2024-06-01"),
      ledgerShards = 4)
    assert(rep1.discovered == 1 && rep1.converted.size == 1)
    // second poll: membership via shard-filtered loads, nothing new
    val rep2 = AvroToParquetJob.runOnce(spark, s"$in/avro/*/*.avro", out,
      ConvertMode.Standard, Some(ledger), ingestionDate = Some("2024-06-01"),
      ledgerShards = 4)
    assert(rep2.discovered == 0)
    // a new file converts alone; the ledger laid out shard dirs
    AvroFixtures.writeAvro(s"$in/avro/a/two.avro", AvroFixtures.BasicEnvelope, Seq(
      Map("uuid" -> "u2", "read_timestamp" -> 0L,
        "source_metadata" -> AvroFixtures.sm("a"),
        "payload" -> Map("id" -> 2L, "name" -> "n2"))))
    val rep3 = AvroToParquetJob.runOnce(spark, s"$in/avro/*/*.avro", out,
      ConvertMode.Standard, Some(ledger), ingestionDate = Some("2024-06-01"),
      ledgerShards = 4)
    assert(rep3.discovered == 1 && rep3.converted.head.endsWith("two.avro"))
    assert(new File(ledger).listFiles().exists(f =>
      f.isDirectory && f.getName.startsWith("shard-")))
    val ids = spark.read.parquet(s"$out/a").collect()
      .map(_.getAs[Long]("id")).toSet
    assert(ids == Set(1L, 2L), "no duplicate conversion across sharded polls")
  }

  test("hasConversionCause: typed cause and both re-wrapped marker forms " +
    "route to probe-and-rewrite; a message merely quoting the tag does NOT") {
    val typed = new RuntimeException("outer",
      graft.avro.AvroCdcReader.ConversionTaskError("/p/f.avro",
        new IllegalArgumentException("bad int")))
    assert(AvroToParquetJob.hasConversionCause(typed))

    val msgForm = "graft.ConversionTaskError: hard conversion failure in /p/f.avro"
    val toStringForm =
      classOf[graft.avro.AvroCdcReader.ConversionTaskError].getName +
        ": " + msgForm
    // driver-only re-wraps: remote toString (FQCN-prefixed) AND a
    // getMessage-based wrapper (no class name) — both at frame boundaries
    assert(AvroToParquetJob.hasConversionCause(new RuntimeException(
      s"Job aborted: Lost task 0.0: $toStringForm\n\tat x")))
    assert(AvroToParquetJob.hasConversionCause(new RuntimeException(toStringForm)))
    assert(AvroToParquetJob.hasConversionCause(new RuntimeException(
      s"Writing job aborted: $msgForm")))
    assert(AvroToParquetJob.hasConversionCause(new RuntimeException(msgForm)))
    // a quoted copy early in the message must not hide a real one later
    assert(AvroToParquetJob.hasConversionCause(new RuntimeException(
      s"saw(${msgForm}) then: $msgForm")))

    // the round-14 false-positive class: the bare tag, or the full
    // marker only mid-token
    assert(!AvroToParquetJob.hasConversionCause(new RuntimeException(
      "upstream log mentioned graft.ConversionTaskError while reading")))
    assert(!AvroToParquetJob.hasConversionCause(new RuntimeException(
      "prefix(" + msgForm + ")")), "marker mid-token is not a frame start")
    assert(!AvroToParquetJob.hasConversionCause(
      new RuntimeException("plain read failure")))
  }
}
