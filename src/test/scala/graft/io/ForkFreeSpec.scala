package graft.io

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkTestSession}
import graft.avro.AvroFixtures
import graft.convert.AvroToParquetJob

/** The engine's local writes spawn no `chmod`, `readlink`, `ls` or `stat`
  * process (counted with JFR's `jdk.ProcessStart` events), and leave the
  * caller's session conf as it was. Through Hadoop's own local classes
  * the same scenarios started 22 `chmod` (ledgered `runOnce` with a
  * hard-error file), 19 `chmod` + 24 `readlink` (one `runStreaming`
  * batch) and 136 `chmod` + 336 `readlink` (`q_stream_join` at sf0.001).
  */
class ForkFreeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Watched = Set("chmod", "readlink", "ls", "stat")

  /** `f`'s result and the watched process starts, by command, JFR saw
    * while it ran.
    */
  private def forks[T](f: => T): (T, Map[String, Int]) = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    val file = Files.createTempFile("graft-forks", ".jfr")
    try {
      rec.start()
      val out = try f finally rec.stop()
      rec.dump(file)
      val commands = RecordingFile.readAllEvents(file).asScala.toSeq
        .map(_.getString("command").trim.split("\\s+").head.split('/').last)
      (out, commands.filter(Watched).groupBy(identity).map { case (c, s) => c -> s.size })
    } finally {
      rec.close()
      Files.deleteIfExists(file)
    }
  }

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def conf: Map[String, String] = spark.conf.getAll

  /** A 1-row clean container and a container whose third row is a hard
    * conversion error (`tx_id` flattens to a strict long).
    */
  private def landingZone(in: String): (String, String) = {
    def row(id: Long, tx: String) = Map[String, Any](
      "uuid" -> s"u$id", "read_timestamp" -> 0L,
      "source_metadata" -> (AvroFixtures.sm("t") + ("tx_id" -> tx)),
      "payload" -> Map("id" -> id, "name" -> s"n$id"))
    val schema = AvroFixtures.BasicEnvelope.replace(
      """{"name":"tx_id","type":["null","long"]}""",
      """{"name":"tx_id","type":["null","string"]}""")
    require(schema != AvroFixtures.BasicEnvelope, "tx_id field not found")
    val clean = s"$in/avro/t/a-clean.avro"
    val hard = s"$in/avro/t/b-hard.avro"
    AvroFixtures.writeAvro(clean, schema, Seq(row(1L, "7")))
    AvroFixtures.writeAvro(hard, schema, Seq(row(2L, "7"), row(3L, "7"), row(4L, "x")))
    (clean, hard)
  }

  test("a ledgered runOnce with a hard-error file (aborted job, then " +
    "probe-and-rewrite) starts no chmod/readlink/ls/stat and leaves the " +
    "session conf unchanged") {
    val in = tmpDir("graft-forkfree-in"); val out = tmpDir("graft-forkfree-out")
    val (clean, hard) = landingZone(in)
    val before = conf
    val (report, seen) = forks(AvroToParquetJob.runOnce(spark, s"$in/avro/*/*.avro", out,
      ledgerDir = Some(s"$out/_graft_ledger"), ingestionDate = Some("2024-06-01")))
    assert(report.converted == Seq("file:" + clean), s"$report")
    assert(report.failed == Seq("file:" + hard), s"$report")
    assert(spark.read.parquet(s"$out/t").count() == 1L)
    assert(seen.isEmpty, s"process starts: $seen")
    assert(conf == before)
  }

  test("one runStreaming batch starts no chmod/readlink/ls/stat and leaves " +
    "the session conf unchanged apart from CheckpointTuning's default") {
    val in = tmpDir("graft-forkfree-sin"); val out = tmpDir("graft-forkfree-sout")
    val (clean, hard) = landingZone(in)
    Files.delete(java.nio.file.Paths.get(hard))
    val before = conf
    val (_, seen) = forks {
      val q = AvroToParquetJob.runStreaming(spark, s"$in/avro/*/*.avro", out,
        s"$out/_ckpt", ingestionDate = Some("2024-06-01"))
      try q.processAllAvailable() finally q.stop()
    }
    assert(spark.read.parquet(s"$out/t").select("id").collect().map(_.getLong(0)).toSeq ==
      Seq(1L), clean)
    assert(seen.isEmpty, s"process starts: $seen")
    assert(conf == before)
  }

  test("q_stream_join at sf0.001 starts no chmod/readlink/ls/stat and " +
    "leaves the session conf unchanged") {
    val run = SparkEntry.queries("q_stream_join")
    val dir = "/root/testdata/sf0.001"
    run(spark, dir).collect() // fixture and table caches, outside the window
    val before = conf
    val (rows, seen) = forks(run(spark, dir).collect())
    assert(rows.nonEmpty)
    assert(seen.isEmpty, s"process starts: $seen")
    assert(conf == before)
  }

  test("a file-source stream started under LocalFs.aroundStart creates its " +
    "source log fork-free and leaves the session conf unchanged") {
    val in = tmpDir("graft-forkfree-fsrc")
    spark.range(3).write.mode("overwrite").parquet(s"$in/data")
    val before = conf
    val (_, seen) = forks {
      val q = LocalFs.aroundStart(spark) {
        spark.readStream.schema("id LONG").parquet(s"$in/data").writeStream
          .format("noop").option("checkpointLocation", s"$in/_ckpt").start()
      }
      try q.processAllAvailable() finally q.stop()
    }
    assert(new java.io.File(s"$in/_ckpt/sources/0").isDirectory)
    assert(seen.isEmpty, s"process starts: $seen")
    assert(conf == before)
  }

  test("a deployment's own fs.file.impl or fs.AbstractFileSystem.file.impl " +
    "is kept: no entries are applied") {
    assert(LocalFs.options(spark).nonEmpty)
    for ((key, impl) <- Seq(
        "fs.file.impl" -> classOf[org.apache.hadoop.fs.LocalFileSystem],
        "fs.AbstractFileSystem.file.impl" -> classOf[org.apache.hadoop.fs.local.LocalFs])) {
      spark.conf.set(key, impl.getName)
      try assert(LocalFs.options(spark).isEmpty, key)
      finally spark.conf.unset(key)
    }
    assert(LocalFs.options(spark).nonEmpty)
  }
}
