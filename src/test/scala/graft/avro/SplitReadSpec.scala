package graft.avro

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Byte-range split reading of large Avro containers (the 100 TB posture
  * for FEW GIANT FILES: without splits, one 10 GB container pins one core;
  * with them, conversion fans out across the cluster like Spark's own file
  * sources).
  */
class SplitReadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def writeBig(n: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-split")
      .toFile.getAbsolutePath
    val path = s"$dir/avro/t/big.avro"
    val rows = (1 to n).map(i => Map[String, Any](
      "uuid" -> s"uuid-$i", "read_timestamp" -> 0L,
      "source_metadata" -> AvroFixtures.sm("t"),
      "payload" -> Map("id" -> i.toLong, "name" -> s"name-$i")))
    AvroFixtures.writeAvro(path, AvroFixtures.BasicEnvelope, rows)
    path
  }

  test("byte-range splits partition a container's records exactly: " +
    "no loss, no duplication, any split size") {
    val path = writeBig(5000)
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(8 * 1024L, 32 * 1024L, 1L << 20).foreach { splitBytes =>
      val splits = AvroCdcReader.planSplits(spark, Seq(path), conf,
        Some(splitBytes))
      val ids = splits.flatMap(s => AvroCdcReader.readRange(s, conf))
        .map(r => r.get("payload").asInstanceOf[
          org.apache.avro.generic.GenericRecord].get("id").asInstanceOf[Long])
      assert(ids.sorted == (1L to 5000L),
        s"splitBytes=$splitBytes: ranges must partition the records exactly")
      if (splitBytes < 64 * 1024L)
        assert(splits.size > 3, s"file must actually split at $splitBytes")
    }
  }

  test("DSv2 batch scan plans byte-range partitions: a single large " +
    "container occupies multiple tasks, rows exactly once") {
    val path = writeBig(5000)
    val key = "spark.sql.files.maxPartitionBytes"
    val keep = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "16k")
      val df = spark.read.format("cdc-avro").load(path)
      assert(df.rdd.getNumPartitions > 1,
        "the batch scan must split the container")
      val ids = df.select("id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == (1L to 5000L))
    } finally keep.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("readGroup fans a single large container out over conf-sized splits " +
    "and converts every row exactly once") {
    val path = writeBig(5000)
    val key = "spark.sql.files.maxPartitionBytes"
    val keep = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "16k")
      val (schemas, errs) =
        AvroCdcReader.schemaFingerprints(spark, Seq(path))
      assert(errs.isEmpty && schemas.size == 1)
      val flat = AvroSchemaConverter.deriveFlatSchema(schemas.head.schemaJson)
      val acc = spark.sparkContext
        .collectionAccumulator[String]("graft.splitReadSpec")
      val df = AvroCdcReader.readGroup(spark, Seq(path), flat,
        ConvertMode.Standard, acc)
      val ids = df.select("id").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == (1L to 5000L),
        "split-read conversion must emit every record exactly once")
      assert(df.rdd.getNumPartitions > 1,
        "a large container must occupy more than one task")
      assert(acc.value.isEmpty)
    } finally keep.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
