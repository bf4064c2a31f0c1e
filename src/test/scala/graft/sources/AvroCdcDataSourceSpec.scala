package graft.sources

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.avro.AvroFixtures

class AvroCdcDataSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Runs `f` with `file:` paths on a fresh [[CountingLocalFs]] per use. */
  private def withCountingFs[T](f: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl" -> classOf[CountingLocalFs].getName,
      "fs.file.impl.disable.cache" -> "true")
    val saved = keys.map { case (k, _) => k -> Option(conf.get(k)) }
    keys.foreach { case (k, v) => conf.set(k, v) }
    try f
    finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  private def writeFixture(): String = {
    val in = Files.createTempDirectory("graft-dsv2").toFile.getAbsolutePath
    AvroFixtures.writeAvro(s"$in/avro/users/a.avro", AvroFixtures.BasicEnvelope, Seq(
      Map("uuid" -> "u1", "read_timestamp" -> 0L,
        "source_metadata" -> AvroFixtures.sm("users", txId = 5L),
        "payload" -> Map("id" -> 1L, "name" -> "alice", "qty" -> 7)),
      Map("uuid" -> "u2", "read_timestamp" -> 0L,
        "source_metadata" -> AvroFixtures.sm("users", txId = 6L),
        "payload" -> Map("id" -> 2L, "name" -> "bob"))))
    AvroFixtures.writeAvro(s"$in/avro/users/b.avro", AvroFixtures.BasicEnvelope, Seq(
      Map("uuid" -> "u3", "read_timestamp" -> 0L,
        "source_metadata" -> AvroFixtures.sm("users", txId = 7L),
        "payload" -> Map("id" -> 3L, "name" -> "carol", "qty" -> 9))))
    in
  }

  test("cdc-avro DSv2: flattened typed read over a glob, two tiny files " +
    "packed into one partition") {
    val in = writeFixture()
    val df = spark.read.format("cdc-avro").load(s"$in/avro/*/*.avro")
    assert(df.columns.contains("source_metadata") && df.columns.contains("id"))
    assert(df.rdd.getNumPartitions == 1)
    val paths = df.select("id", "_input_path").collect()
      .map(r => r.getLong(0) -> r.getString(1).split('/').last).toSeq
    assert(paths.sorted == Seq(1L -> "a.avro", 2L -> "a.avro", 3L -> "b.avro"))
    val rows = df.orderBy("id").collect()
    assert(rows.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L, 3L))
    val sm = rows(0).getStruct(rows(0).fieldIndex("source_metadata"))
    assert(sm.getLong(sm.fieldIndex("tx_id")) == 5L)
    assert(rows(1).isNullAt(rows(1).fieldIndex("qty")))
    assert(rows(2).getAs[String]("_input_path").endsWith("b.avro"))
  }

  test("cdc-avro DSv2: load(p1, p2) reads every path") {
    val in = writeFixture()
    val df = spark.read.format("cdc-avro")
      .load(s"$in/avro/users/a.avro", s"$in/avro/users/b.avro")
    assert(df.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("cdc-avro DSv2: overlapping globs read each file once") {
    val in = writeFixture()
    val df = spark.read.format("cdc-avro")
      .load(s"$in/avro/*/*.avro", s"$in/avro/users/a.avro", s"$in/avro/users/*.avro")
    assert(df.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("cdc-avro DSv2: one load lists each glob once and opens each file's " +
    "header once, with mergeSchema") {
    val in = writeFixture()
    val globs = Seq(s"$in/avro/users/a.avro", s"$in/avro/users/b*.avro")
    CountingLocalFs.reset()
    val df = withCountingFs(
      spark.read.format("cdc-avro").option("mergeSchema", "true").load(globs: _*))
    assert(CountingLocalFs.counts("glob") == globs.map(_ -> 1).toMap)
    assert(CountingLocalFs.counts("open") == Map("a.avro" -> 1, "b.avro" -> 1))
    assert(df.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("cdc-avro DSv2: one scan reads each file's length once, for both its " +
    "partitions and its size estimate") {
    val in = writeFixture()
    withCountingFs {
      val df = spark.read.format("cdc-avro").load(s"$in/avro/*/*.avro")
      CountingLocalFs.reset()
      assert(df.queryExecution.executedPlan.execute().getNumPartitions == 1)
      assert(df.queryExecution.optimizedPlan.stats.sizeInBytes > 0)
    }
    assert(CountingLocalFs.counts("status") == Map("a.avro" -> 1, "b.avro" -> 1))
  }

  test("cdc-avro DSv2: column pruning reaches the scan") {
    val in = writeFixture()
    val df = spark.read.format("cdc-avro").load(s"$in/avro/*/*.avro")
      .select("id", "name")
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("columns=[id,name]"), scanDesc)
    assert(df.orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("alice", "bob", "carol"))
  }

  test("cdc-avro DSv2 streaming: new files become micro-batches; checkpoint " +
    "survives restart without reprocessing") {
    val in = writeFixture()
    val ckpt = Files.createTempDirectory("graft-ckpt").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft-stream-out").toFile.getAbsolutePath

    // parquet sink: supports checkpoint recovery (memory sink does not)
    def startQuery() =
      spark.readStream.format("cdc-avro").load(s"$in/avro/*/*.avro")
        .selectExpr("id", "name", "_input_path")
        .writeStream
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .format("parquet")
        .outputMode("append")
        .start()

    def outIds(): Set[Long] =
      spark.read.parquet(out).collect().map(_.getAs[Long]("id")).toSet

    val q1 = startQuery()
    try {
      q1.processAllAvailable()
      assert(outIds() == Set(1L, 2L, 3L)) // a.avro + b.avro

      // a new file appears mid-stream → exactly its rows arrive
      AvroFixtures.writeAvro(s"$in/avro/users/c.avro", AvroFixtures.BasicEnvelope, Seq(
        Map("uuid" -> "u4", "read_timestamp" -> 0L,
          "source_metadata" -> AvroFixtures.sm("users", txId = 8L),
          "payload" -> Map("id" -> 4L, "name" -> "dave"))))
      q1.processAllAvailable()
      assert(outIds() == Set(1L, 2L, 3L, 4L))
    } finally q1.stop()

    // restart from the same checkpoint: nothing reprocessed, new files flow
    AvroFixtures.writeAvro(s"$in/avro/users/d.avro", AvroFixtures.BasicEnvelope, Seq(
      Map("uuid" -> "u5", "read_timestamp" -> 0L,
        "source_metadata" -> AvroFixtures.sm("users", txId = 9L),
        "payload" -> Map("id" -> 5L, "name" -> "erin"))))
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      assert(outIds() == Set(1L, 2L, 3L, 4L, 5L)) // 1-4 appear exactly once
      assert(spark.read.parquet(out).count() == 5)
    } finally q2.stop()
  }

  test("cdc-avro DSv2 mergeSchema: heterogeneous file generations union " +
    "their payload columns; type conflicts collapse to string") {
    val in = Files.createTempDirectory("graft-merge").toFile.getAbsolutePath
    // generation 1: id long, name string, qty int
    val gen1 =
      """{"type":"record","name":"e","fields":[
        {"name":"source_metadata","type":{"type":"record","name":"sm","fields":[
          {"name":"schema","type":"string"},{"name":"table","type":"string"},
          {"name":"is_deleted","type":"boolean"},{"name":"change_type","type":"string"},
          {"name":"tx_id","type":["null","long"]},{"name":"lsn","type":["null","string"]},
          {"name":"primary_keys","type":{"type":"array","items":"string"}}]}},
        {"name":"payload","type":["null",{"type":"record","name":"p1","fields":[
          {"name":"id","type":"long"},
          {"name":"name","type":["null","string"]},
          {"name":"qty","type":["null","int"]}]}]}
      ]}"""
    // generation 2: id long, qty became a STRING, new column city
    val gen2 = gen1
      .replace("\"name\":\"p1\"", "\"name\":\"p2\"")
      .replace("""{"name":"qty","type":["null","int"]}""",
        """{"name":"qty","type":["null","string"]},
           {"name":"city","type":["null","string"]}""")
      .replace("""{"name":"name","type":["null","string"]},""", "")

    AvroFixtures.writeAvro(s"$in/avro/g/one.avro", gen1, Seq(
      Map("source_metadata" -> AvroFixtures.sm("g"),
        "payload" -> Map("id" -> 1L, "name" -> "n1", "qty" -> 7))))
    AvroFixtures.writeAvro(s"$in/avro/g/two.avro", gen2, Seq(
      Map("source_metadata" -> AvroFixtures.sm("g"),
        "payload" -> Map("id" -> 2L, "qty" -> "9ish", "city" -> "paris"))))

    val df = spark.read.format("cdc-avro")
      .option("mergeSchema", "true")
      .load(s"$in/avro/*/*.avro")
    // merged columns: id, name, qty(→string), city
    assert(df.schema("qty").dataType == org.apache.spark.sql.types.StringType)
    assert(df.columns.contains("city") && df.columns.contains("name"))
    val rows = df.orderBy("id").collect()
    assert(rows(0).getAs[String]("qty") == "7")      // int stringified
    assert(rows(0).isNullAt(rows(0).fieldIndex("city"))) // absent in gen1
    assert(rows(1).getAs[String]("qty") == "9ish")
    assert(rows(1).getAs[String]("city") == "paris")
    assert(rows(1).isNullAt(rows(1).fieldIndex("name")))
  }

  test("cdc-avro DSv2: corrupt files skipped at inference; " +
    "ignoreCorruptFiles=true reads past them") {
    val in = writeFixture()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$in/avro/users/junk.avro"),
      Array.tabulate(100)(i => (i * 13 % 256).toByte))

    // inference skips the junk header; strict read then fails on the data
    val strict = spark.read.format("cdc-avro").load(s"$in/avro/*/*.avro")
    intercept[Exception] { strict.count() }

    val lenient = spark.read.format("cdc-avro")
      .option("ignoreCorruptFiles", "true")
      .load(s"$in/avro/*/*.avro")
    assert(lenient.orderBy("id").collect().map(_.getAs[Long]("id")).toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("cdc-avro DSv2 cold start: avroSchema option streams from an EMPTY " +
    "directory; files appearing later flow through") {
    val in = Files.createTempDirectory("graft-cold").toFile.getAbsolutePath
    new java.io.File(s"$in/avro/users").mkdirs()
    val ckpt = Files.createTempDirectory("graft-cold-ckpt").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft-cold-out").toFile.getAbsolutePath

    // zero files on disk: inference would fail, the explicit writer schema
    // must carry the stream
    val q = spark.readStream.format("cdc-avro")
      .option("avroSchema", AvroFixtures.BasicEnvelope)
      .load(s"$in/avro/*/*.avro")
      .selectExpr("id", "name")
      .writeStream
      .option("checkpointLocation", ckpt)
      .option("path", out)
      .format("parquet")
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable() // empty batch, no failure
      AvroFixtures.writeAvro(s"$in/avro/users/late.avro", AvroFixtures.BasicEnvelope, Seq(
        Map("uuid" -> "u1", "read_timestamp" -> 0L,
          "source_metadata" -> AvroFixtures.sm("users", txId = 1L),
          "payload" -> Map("id" -> 42L, "name" -> "late"))))
      q.processAllAvailable()
      val rows = spark.read.parquet(out).collect()
      assert(rows.map(_.getAs[Long]("id")).toSeq == Seq(42L))
    } finally q.stop()

    // batch path: same option works with zero matches too
    val empty2 = Files.createTempDirectory("graft-cold2").toFile.getAbsolutePath
    val df = spark.read.format("cdc-avro")
      .option("avroSchema", AvroFixtures.BasicEnvelope)
      .load(s"$empty2/avro/*/*.avro")
    assert(df.count() == 0 && df.columns.contains("source_metadata"))
  }

  test("cdc-avro DSv2: _input_path filters prune FILES at planning; " +
    "LIMIT caps per-partition decoding; stats enable broadcast") {
    import org.apache.spark.sql.functions.col
    val in = writeFixture() // users/a.avro (2 rows) + users/b.avro (1 row)
    val df = spark.read.format("cdc-avro").load(s"$in/avro/*/*.avro")

    // file pruning: only a.avro's partition survives the planning
    val pruned = df.filter(col(AvroCdcDataSource.InputPathCol).endsWith("a.avro"))
    assert(pruned.rdd.getNumPartitions == 1, "expected one surviving file")
    assert(pruned.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 2L))
    // non-path filters stay residual and still evaluate correctly
    val residual = df.filter(
      col(AvroCdcDataSource.InputPathCol).endsWith("a.avro") && col("id") === 2L)
    assert(residual.select("id").collect().map(_.getLong(0)).toSeq == Seq(2L))

    // pushed limit: global limit still exact
    assert(df.limit(2).count() == 2)

    // statistics: on-disk size is reported, so the planner can broadcast
    val scan = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.head
    val size = scan.computeStats().sizeInBytes
    assert(size > 0 && size < 1000000, s"unexpected size estimate $size")
  }

  test("cdc-avro DSv2: SQL over the source via a view") {
    val in = writeFixture()
    spark.read.format("cdc-avro").load(s"$in/avro/*/*.avro")
      .createOrReplaceTempView("cdc_users")
    val got = spark.sql(
      "SELECT count(*) AS n, sum(qty) AS q FROM cdc_users WHERE NOT source_metadata.is_deleted")
      .collect().head
    assert(got.getLong(0) == 3L && got.getLong(1) == 16L)
  }
}

/** The local file system, counting glob listings (by pattern) and opens (by
  * file name) across every instance.
  */
class CountingLocalFs extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path}
  override def globStatus(p: Path): Array[FileStatus] = {
    CountingLocalFs.count("glob", p.toString); super.globStatus(p)
  }
  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFs.count("open", p.getName); super.open(p, bufferSize)
  }
  override def getFileStatus(p: Path): FileStatus = {
    CountingLocalFs.count("status", p.getName); super.getFileStatus(p)
  }
}

object CountingLocalFs {
  private val seen = scala.collection.mutable.Map[(String, String), Int]()
  def count(kind: String, key: String): Unit = synchronized {
    seen((kind, key)) = seen.getOrElse((kind, key), 0) + 1
  }
  def counts(kind: String): Map[String, Int] = synchronized {
    seen.collect { case ((`kind`, key), n) => key -> n }.toMap
  }
  def reset(): Unit = synchronized(seen.clear())
}
