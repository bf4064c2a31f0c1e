package graft.avro

import java.nio.file.{Files, StandardOpenOption}

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.convert.AvroToParquetJob

/** The split plan (`AvroCdcReader.planBins`) behind the converter's write
  * tasks and the `cdc-avro` scan's partitions: for random mixes of file
  * sizes, codecs and `maxPartitionBytes` caps the bins partition the
  * records exactly, never cut a file that fits the target, and stay within
  * ceil(groupBytes / target); and one bin holding a truncated container, a
  * hard-conversion-error container and clean files keeps the converter's
  * failure contracts.
  */
class SplitPlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val MaxPartitionBytes = "spark.sql.files.maxPartitionBytes"

  private def forAll[A](g: Gen[A], n: Int)(f: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(i.toLong)).foreach { a =>
        try f(a)
        catch {
          case e: Throwable =>
            throw new AssertionError(s"property failed for sample: $a", e)
        }
      }
    }

  private def withMaxPartitionBytes[T](bytes: Long)(f: => T): T = {
    val keep = spark.conf.getOption(MaxPartitionBytes)
    spark.conf.set(MaxPartitionBytes, bytes.toString)
    try f
    finally keep.fold(spark.conf.unset(MaxPartitionBytes))(spark.conf.set(MaxPartitionBytes, _))
  }

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  /** `n` rows with ids `idBase + 1 ..`, each padded by `pad` bytes. */
  private def rows(n: Int, idBase: Long, pad: Int): Seq[Map[String, Any]] =
    (1 to n).map(i => Map[String, Any](
      "uuid" -> s"u$i", "read_timestamp" -> 0L,
      "source_metadata" -> AvroFixtures.sm("t"),
      "payload" -> Map("id" -> (idBase + i), "name" -> s"${"z" * pad}-$i")))

  private val files = Gen.zip(
    Gen.choose(0, 900),
    Gen.choose(1, 600),
    Gen.oneOf(Option.empty[String], Some("deflate"), Some("snappy")))

  private val cases = for {
    n <- Gen.choose(1, 8)
    mix <- Gen.listOfN(n, files)
    cap <- Gen.oneOf(Gen.choose(4L << 10, 256L << 10), Gen.const(2L << 20))
  } yield (mix, cap)

  test("random file mixes and caps: the bins hold every record once, no " +
    "bin is empty, a file within the target is never cut, and there are " +
    "at most ceil(groupBytes / target) bins") {
    val conf = spark.sparkContext.hadoopConfiguration
    forAll(cases, n = 20) { case (mix, cap) =>
      val dir = tmpDir("graft-splitplan")
      val paths = mix.zipWithIndex.map { case ((n, pad, codec), f) =>
        val p = s"$dir/avro/t/f$f.avro"
        AvroFixtures.writeAvro(p, AvroFixtures.BasicEnvelope, rows(n, f * 1000L, pad), codec)
        p
      }
      val whole = paths.map(AvroCdcReader.wholeFile(_, conf))
      val groupBytes = whole.map(_.length).sum
      val target = math.min(cap, math.max(AvroCdcReader.MinSplitBytes,
        groupBytes / spark.sparkContext.defaultParallelism))
      val bins = withMaxPartitionBytes(cap)(AvroCdcReader.planBins(spark, whole))

      assert(bins.nonEmpty && bins.forall(_.nonEmpty), s"empty bin in $bins")
      assert(bins.size <= (groupBytes + target - 1) / target,
        s"${bins.size} bins for $groupBytes bytes at target $target")
      val splits = bins.flatten
      whole.filter(_.length <= target).foreach { f =>
        assert(splits.filter(_.path == f.path) == Seq(f), s"${f.path} was cut")
      }
      assert(splits.forall(s => s.end - s.start <= target))
      val ids = splits.flatMap(AvroCdcReader.readRange(_, conf))
        .map(_.get("payload").asInstanceOf[
          org.apache.avro.generic.GenericRecord].get("id").asInstanceOf[Long])
      val expected = mix.zipWithIndex.flatMap { case ((n, _, _), f) =>
        (1 to n).map(f * 1000L + _)
      }
      assert(ids.sorted == expected.sorted)
    }
  }

  test("one bin of clean, truncated and hard-conversion-error containers: " +
    "guarded emission and probe-and-rewrite hold, zero rows from the " +
    "failed files, every clean row exactly once") {
    val in = tmpDir("graft-splitplan-bin"); val out = tmpDir("graft-splitplan-bin-out")
    // tx_id declared ["null","string"] but flattened strict-long: a
    // non-numeric value is a hard conversion error
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
    def write(name: String, ids: Range, tx: Long => String): String = {
      val p = s"$in/avro/t/$name.avro"
      AvroFixtures.writeAvro(p, schema, ids.map(i => Map[String, Any](
        "source_metadata" -> (AvroFixtures.sm("t") + ("tx_id" -> tx(i.toLong))),
        "payload" -> Map("id" -> i.toLong, "name" -> s"${"x" * 512}-$i"))))
      p
    }
    // path order inside the bin: clean, hard error, truncated, clean
    val clean = Seq(write("a-clean", 1 to 50, _ => "7"), write("d-clean", 51 to 80, _ => "7"))
    val hard = write("b-hard", 1001 to 1300, i => if (i == 1150) "not-a-number" else "7")
    val truncated = write("c-truncated", 2001 to 2300, _ => "7")
    val ch = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(truncated), StandardOpenOption.WRITE)
    try ch.truncate(ch.size() - 37) finally ch.close()

    val conf = spark.sparkContext.hadoopConfiguration
    val all = (clean :+ hard :+ truncated).sorted
    assert(AvroCdcReader.planBins(spark, all.map(AvroCdcReader.wholeFile(_, conf))).size == 1)
    def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("id").collect().map(_.getLong(0)).toSeq.sorted

    // guarded emission inside the bin: the truncated file stops, the
    // clean files after it in the same task still convert
    val flat = AvroSchemaConverter.deriveFlatSchema(schema)
    val acc = spark.sparkContext.collectionAccumulator[String]("graft.splitPlanSpec")
    val read = ids(AvroCdcReader.readGroup(spark, (clean :+ truncated).sorted, flat,
      ConvertMode.Standard, acc))
    assert(read == (1L to 80L))
    assert(acc.value.toArray.map(_.toString.split('\t').head).toSeq == Seq(truncated))

    // the hard error fails the bin's task; probe-and-rewrite converts the
    // clean files alone
    val report = AvroToParquetJob.runOnce(spark, s"$in/avro/*/*.avro", out,
      ConvertMode.Standard, ingestionDate = Some("2024-06-01"))
    assert(report.discovered == 4, s"$report")
    assert(report.failed.sorted == Seq(hard, truncated).map("file:" + _), s"$report")
    assert(report.converted.sorted == clean.map("file:" + _), s"$report")
    assert(ids(spark.read.parquet(s"$out/t")) == (1L to 80L))
  }
}
