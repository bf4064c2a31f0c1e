package graft.sources

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.avro.{AvroCdcReader, AvroFixtures}

/** Every reader of a container header must close its file when the header
  * does not parse: a landing zone that keeps a few broken uploads around
  * would otherwise cost a long-running driver or executor one descriptor
  * per broken file per poll, scan or table load.
  */
class HeaderHandleLeakSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val fdDir = new File("/proc/self/fd")

  private def openFds(): Int = fdDir.list().length

  /** `<root>/avro/t/` holding `junk` non-Avro files that sort before one
    * valid one-row container.
    */
  private def landing(junk: Int): String = {
    val root = Files.createTempDirectory("graft-fdleak").toFile.getAbsolutePath
    val dir = s"$root/avro/t"
    AvroFixtures.writeAvro(s"$dir/z.avro", AvroFixtures.BasicEnvelope, Seq(
      Map("uuid" -> "u1", "read_timestamp" -> 0L,
        "source_metadata" -> AvroFixtures.sm("t", txId = 1L),
        "payload" -> Map("id" -> 1L, "name" -> "n1"))))
    (0 until junk).foreach { i =>
      Files.write(Paths.get(f"$dir/a$i%03d.avro"),
        Array.tabulate(100)(j => ((i + j) * 13 % 256).toByte))
    }
    root
  }

  /** Each header reader once over `root`, returning the descriptor growth
    * of each.
    */
  private def legs(root: String, junk: Int): Seq[(String, Int)] = {
    val glob = s"$root/avro/t/*.avro"
    def leg(name: String)(f: => Unit): (String, Int) = {
      val before = openFds()
      f
      name -> (openFds() - before)
    }
    Seq(
      leg("schemaFingerprints") {
        val files = graft.convert.AvroToParquetJob.discover(spark, glob)
        val (ok, bad) = AvroCdcReader.schemaFingerprints(spark, files)
        assert(ok.size == 1 && bad.size == junk)
      },
      leg("inference") {
        assert(spark.read.format("cdc-avro").load(glob).schema.fieldNames.contains("id"))
      },
      leg("ignoreCorruptFiles scan") {
        assert(spark.read.format("cdc-avro").option("ignoreCorruptFiles", "true")
          .load(glob).select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
      },
      leg("catalog loadTable") {
        val cat = new AvroCdcCatalog
        cat.initialize("leak", new CaseInsensitiveStringMap(
          java.util.Map.of("root", root)))
        assert(cat.loadTable(Identifier.of(Array.empty, "t")).schema()
          .fieldNames.contains("id"))
      })
  }

  test("a non-Avro file leaks no descriptor through any header reader") {
    assume(fdDir.isDirectory, "/proc/self/fd is absent")
    legs(landing(1), 1) // first use of each path opens jars and caches
    val before = openFds()
    val growth = legs(landing(200), 200)
    val total = openFds() - before
    assert(total < 20, s"open descriptors grew by $total: $growth")
  }
}
