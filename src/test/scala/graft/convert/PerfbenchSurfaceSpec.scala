package graft.convert

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.avro.{AvroCdcReader, AvroFixtures, AvroSchemaConverter, AvroValueConverter, ConvertMode}
import graft.convert.AvroToParquetJob.ConvertReport

/** Every program name the converter benchmark (`perfbench/src`) calls,
  * called with the benchmark's own argument shapes. The benchmark compiles
  * against this source tree, so a rename or signature change that would
  * break its build fails here, at `Test/compile`, first.
  */
class PerfbenchSurfaceSpec extends AnyFunSuite {
  private lazy val spark: SparkSession = SparkTestSession.spark

  private val TxString = AvroFixtures.BasicEnvelope.replace(
    """{"name":"tx_id","type":["null","long"]}""", """{"name":"tx_id","type":["null","string"]}""")

  /** A landing zone `<dir>/avro/orders/` of two clean files and one whose
    * second record has a non-numeric tx_id. */
  private def zone(): String = {
    val dir = Files.createTempDirectory("graft-perfbench-surface").toFile.getAbsolutePath
    def rows(base: Long, n: Int, tx: Long => Any) = (1 to n).map { i =>
      Map[String, Any](
        "uuid" -> s"u${base + i}", "read_timestamp" -> 0L,
        "source_metadata" -> (AvroFixtures.sm("orders") + ("tx_id" -> tx(base + i))),
        "payload" -> Map("id" -> (base + i), "name" -> s"n$i"))
    }
    AvroFixtures.writeAvro(s"$dir/avro/orders/a.avro", AvroFixtures.BasicEnvelope, rows(0, 20, identity))
    AvroFixtures.writeAvro(s"$dir/avro/orders/b.avro", AvroFixtures.BasicEnvelope, rows(100, 30, identity))
    AvroFixtures.writeAvro(s"$dir/avro/orders/c.avro", TxString,
      rows(200, 5, i => if (i == 202) "not-a-number" else i.toString))
    dir
  }

  test("TraceRun's replay of runOnce, layer by layer") {
    val dir = zone()
    val glob = s"$dir/avro/*/*.avro"
    val ledger = new FileLedger(s"$dir/_ledger", spark.sparkContext.hadoopConfiguration)
    val all = AvroToParquetJob.discover(spark, glob)
    val paths = ledger.filterUnseen(all)
    assert(paths.size == 3)
    val (schemas, unreadable) = AvroCdcReader.schemaFingerprints(spark, paths)
    assert(unreadable.isEmpty)
    var converted, bad = Seq.empty[String]
    schemas.groupBy(_.fingerprint).values.foreach { group =>
      val flat = AvroSchemaConverter.deriveFlatSchema(group.head.schemaJson)
      group.groupBy(s => AvroToParquetJob.folderOf(s.path)).foreach { case (folder, sub) =>
        assert(folder == "orders")
        val ps = sub.map(_.path)
        val acc = spark.sparkContext.collectionAccumulator[String]("graft.failedFiles")
        try {
          AvroCdcReader.readGroup(spark, ps, flat, ConvertMode.Standard, acc)
            .drop(AvroCdcReader.InputPathCol).write.format("noop").mode("overwrite").save()
          val b = acc.value.asScala.map(_.split('\t').head).toSet
          bad ++= b; converted ++= ps.filterNot(b.contains)
        } catch {
          case e: Throwable if AvroToParquetJob.hasConversionCause(e) =>
            val st = AvroCdcReader.probe(spark, ps, flat, ConvertMode.Standard)
            val ok = st.collect { case AvroCdcReader.FileOk(p) => p }
            bad ++= st.filterNot(_.isInstanceOf[AvroCdcReader.FileOk]).map(_.path)
            converted ++= ok
        }
      }
    }
    ledger.add(paths)
    ledger.compact()
    val rep = ConvertReport(paths.size, converted, Nil, bad)
    assert(rep.converted.size == 2 && rep.failed.map(_.split('/').last) == Seq("c.avro"))
    assert(ConvertReport(0, Nil, Nil, Nil).discovered == 0)
    assert(ledger.filterUnseen(AvroToParquetJob.discover(spark, glob)).isEmpty)
  }

  test("TraceRun's Spark-free avro layers") {
    val dir = zone()
    val conf = spark.sparkContext.hadoopConfiguration
    val all = AvroToParquetJob.discover(spark, s"$dir/avro/*/*.avro")
    val jsons = AvroCdcReader.schemaFingerprints(spark, all)._1.map(_.schemaJson).distinct
    jsons.foreach(AvroSchemaConverter.deriveFlatSchema(_: String))
    val paths = all.filterNot(_.endsWith("c.avro"))
    val flat = AvroSchemaConverter.deriveFlatSchema(
      AvroCdcReader.schemaFingerprints(spark, paths)._1.head.schemaJson)
    val splits = AvroCdcReader.planSplits(spark, paths, conf)
    splits.foreach(AvroCdcReader.validateRange(_, conf))
    var decoded = 0L
    splits.foreach { s =>
      val it = new AvroCdcReader.RangeRecordIterator(s, conf)
      try while (it.hasNext) { it.next(); decoded += 1 } finally it.close()
    }
    assert(decoded == 50)
    val flattened = splits.map { s =>
      val recs = AvroCdcReader.readRange(s, conf)
      recs.foreach(AvroValueConverter.flatten(_, flat, ConvertMode.Standard))
      recs.size
    }.sum
    assert(flattened == 50)
  }

  test("the workloads' runOnce and the query lake") {
    val dir = zone()
    val out = s"$dir/out"
    val rep = AvroToParquetJob.runOnce(spark, s"$dir/avro/*/*.avro", out, ConvertMode.Standard,
      ledgerDir = Some(s"$out/_graft_ledger"), ingestionDate = Some("2024-06-01"))
    assert(rep.converted.size == 2 && rep.failed.size == 1)
    new FileLedger(s"$out/_graft_ledger", spark.sparkContext.hadoopConfiguration).compact()
    AvroToParquetJob.runOnce(spark, s"$dir/avro/orders/a.avro", s"$dir/converted",
      ConvertMode.Standard, ingestionDate = Some("2024-06-01"))
    val lake = spark.read.format("cdc-avro").option("mergeSchema", "true")
      .load(s"$dir/avro/{orders}/[ab].avro")
      .groupBy(col("source_metadata.change_type")).agg(count(lit(1)))
    val rows = lake.collect()
    assert(graft.Verify.normalizedHash(rows.toSeq, Seq("c0", "c1")).nonEmpty)
    val applied = graft.cdc.CdcColumns.applyChanges(
      spark.read.option("mergeSchema", "true").parquet(s"$dir/converted/orders"),
      Seq("id"), Seq(col("source_metadata.tx_id")), col("source_metadata.is_deleted"))
    assert(applied.count() == 20)
    val fn: (SparkSession, String) => org.apache.spark.sql.DataFrame =
      graft.SparkEntry.queries("q_sql_kernels")
    assert(fn != null)
  }
}
