package graft.convert

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{LogCapture, SparkTestSession}
import graft.avro.AvroFixtures

/** `runStreaming` runs `runOnce`'s conversion per micro-batch: a failed
  * file is reported and the stream moves on, its offsets do not grow with
  * the files seen, its writes are packed like `runOnce`'s, and its source
  * lists what `discover` lists.
  */
class RunStreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def row(id: Long) = Map[String, Any](
    "uuid" -> s"u$id", "read_timestamp" -> 0L,
    "source_metadata" -> AvroFixtures.sm("t", txId = id),
    "payload" -> Map("id" -> id, "name" -> s"n$id"))

  private def writeIds(path: String, ids: Seq[Long]): Unit =
    AvroFixtures.landAvro(path, AvroFixtures.BasicEnvelope, ids.map(row))

  private def ids(out: String): Seq[Long] =
    spark.read.parquet(s"$out/t").select("id").collect().map(_.getLong(0)).toSeq.sorted

  /** A stream over `<in>/avro/<folder>/<file>.avro`; `body` drives it. */
  private def streaming[T](in: String, out: String)(
      body: org.apache.spark.sql.streaming.StreamingQuery => T): T = {
    val q = AvroToParquetJob.runStreaming(spark, s"$in/avro/*/*.avro", out,
      s"$out/_ckpt", ingestionDate = Some("2024-06-01"))
    try body(q) finally q.stop()
  }

  test("a truncated file in a runStreaming batch is reported failed, its " +
    "clean sibling lands, and a later batch still converts") {
    val in = tmpDir("graft-rs-trunc"); val out = tmpDir("graft-rs-trunc-out")
    writeIds(s"$in/avro/t/a.avro", 1L to 5L)
    val trunc = s"$in/avro/t/b-trunc.avro"
    AvroFixtures.writeAvro(trunc, AvroFixtures.BasicEnvelope, (100L until 400L).map(row))
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(trunc), java.nio.file.StandardOpenOption.WRITE)
    try ch.truncate(ch.size() - 37) finally ch.close() // mid final block
    val truncPath = AvroToParquetJob.discover(spark, trunc).head

    val (_, lines) = LogCapture.messages(AvroToParquetJob) {
      streaming(in, out) { q =>
        q.processAllAvailable()
        assert(ids(out) == (1L to 5L))
        writeIds(s"$in/avro/t/c.avro", Seq(6L, 7L))
        q.processAllAvailable()
        assert(q.exception.isEmpty)
      }
    }
    assert(ids(out) == (1L to 7L))
    val batch0 = lines.filter(_.startsWith("runStreaming batch 0:"))
    assert(batch0.size == 1 && batch0.head.contains(truncPath), s"$lines")
    assert(lines.exists(_.startsWith("runStreaming batch 1:")), s"$lines")
  }

  test("a runStreaming offset has the same size after 5 and after 500 files") {
    val in = tmpDir("graft-rs-off"); val out = tmpDir("graft-rs-off-out")
    // every batch's offset: the first over 5 files, the last after 500
    def offsets = new File(s"$out/_ckpt/offsets").listFiles
      .filterNot(_.getName.startsWith(".")).sortBy(_.getName.toInt).map(_.length).toSeq
    (1 to 5).foreach(i => writeIds(s"$in/avro/t/f$i.avro", Seq(i.toLong)))
    streaming(in, out) { q =>
      q.processAllAvailable()
      assert(offsets.size == 1)
      (6 to 500).foreach(i => writeIds(s"$in/avro/t/f$i.avro", Seq(i.toLong)))
      q.processAllAvailable()
    }
    assert(ids(out) == (1L to 500L))
    assert(offsets.size >= 2 && offsets.distinct.size == 1, s"$offsets")
  }

  test("the first runStreaming batch over 200 one-row files runs at most " +
    "defaultParallelism write tasks per write unit") {
    val in = tmpDir("graft-rs-tasks"); val out = tmpDir("graft-rs-tasks-out")
    (1 to 200).foreach(i => writeIds(s"$in/avro/t/f$i.avro", Seq(i.toLong)))
    // a write task is one that wrote output bytes; one folder and one writer
    // schema make one write unit, one stage
    val writeTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && e.taskMetrics.outputMetrics.bytesWritten > 0)
          writeTasks.merge(e.stageId, 1, _ + _)
    }
    org.apache.spark.sql.graft.ListenerBusBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try streaming(in, out)(_.processAllAvailable())
    finally {
      org.apache.spark.sql.graft.ListenerBusBridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(ids(out) == (1L to 200L))
    assert(writeTasks.size == 1, s"$writeTasks")
    assert(writeTasks.values.iterator.next() <= spark.sparkContext.defaultParallelism,
      s"$writeTasks")
  }

  test("runStreaming converts a file that lands late with an mtime 30 days old") {
    val in = tmpDir("graft-rs-late"); val out = tmpDir("graft-rs-late-out")
    writeIds(s"$in/avro/t/a.avro", Seq(1L))
    streaming(in, out) { q =>
      q.processAllAvailable()
      AvroFixtures.landAvro(s"$in/avro/t/b.avro", AvroFixtures.BasicEnvelope, Seq(row(2L)),
        mtime = Some(System.currentTimeMillis - 30L * 24 * 3600 * 1000))
      q.processAllAvailable()
    }
    assert(ids(out) == Seq(1L, 2L))
  }

  test("runStreaming converts a file whose name contains a space and " +
    "reports it by the path discover yields") {
    val in = tmpDir("graft-rs-space"); val out = tmpDir("graft-rs-space-out")
    writeIds(s"$in/avro/t/a b.avro", Seq(1L))
    val discovered = AvroToParquetJob.discover(spark, s"$in/avro/*/*.avro")
    assert(discovered.size == 1 && discovered.head.endsWith("/a b.avro"))
    val (_, lines) = LogCapture.messages(AvroToParquetJob) {
      streaming(in, out)(_.processAllAvailable())
    }
    assert(ids(out) == Seq(1L))
    // one converted path, in discover's form
    assert(lines.size == 1 && lines.head.startsWith("runStreaming batch 0: ConvertReport(1,") &&
      lines.head.contains(s"(${discovered.head}),"), s"$lines")
  }
}
