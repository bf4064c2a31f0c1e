package graft.convert

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction for the converted landing zone.
  *
  * The reference emits exactly ONE parquet file per input Avro file
  * (main.py:574-577) — at CDC cadence that is thousands of KB-sized files
  * per partition per day, and at 100 TB the scan cost becomes
  * footer-reads and task-scheduling overhead instead of IO. Compaction
  * bin-packs a day partition into ~`targetBytes` files:
  *
  *  - `coalesce` (narrow, no shuffle) merges the small files — each
  *    output task concatenates neighbors, nothing crosses the wire;
  *  - the rewrite goes to a sibling temp dir, is row-count-verified, and
  *    swapped in with two renames — readers see the old or the new file
  *    set, never a mix (rename is atomic on HDFS-like stores; on object
  *    stores front this with the usual manifest/committer);
  *  - the conversion ledger tracks INPUT Avro paths, so compacting
  *    output never causes reconversion.
  */
object Compaction {

  final case class CompactReport(
      partition: String,
      filesBefore: Int,
      filesAfter: Int,
      bytesBefore: Long,
      rows: Long)

  /** Compact one `<prefix>/<folder>/ingestion_date=<date>` partition.
    * No-op (returns None) when the partition already meets the target.
    */
  def compactPartition(
      spark: SparkSession,
      outputPrefix: String,
      folder: String,
      ingestionDate: String,
      targetBytes: Long = 128L * 1024 * 1024): Option[CompactReport] = {
    val dir = new Path(s"$outputPrefix/$folder/ingestion_date=$ingestionDate")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) return None

    val parts = fs.listStatus(dir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val bytes = parts.map(_.getLen).sum
    val targetFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    if (parts.length <= targetFiles) return None

    val df = spark.read.parquet(dir.toString)
    val expected = df.count()

    val tmp = new Path(dir.getParent, s".${dir.getName}._compact_tmp")
    fs.delete(tmp, true)
    df.coalesce(targetFiles)
      .write.options(graft.io.LocalFs.options(spark))
      .option("compression", "snappy").parquet(tmp.toString)

    val written = spark.read.parquet(tmp.toString)
    require(written.count() == expected,
      s"compaction row-count mismatch under $tmp — aborting swap")

    val old = new Path(dir.getParent, s".${dir.getName}._compact_old")
    fs.delete(old, true)
    require(fs.rename(dir, old), s"could not move $dir aside")
    require(fs.rename(tmp, dir), s"could not publish $tmp")
    fs.delete(old, true)

    val after = fs.listStatus(dir)
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    Some(CompactReport(dir.toString, parts.length, after, bytes, expected))
  }

  /** Compact every `ingestion_date=` partition under every folder of the
    * converted output (driver-side directory walk; each partition rewrite
    * is its own distributed job, so folders can also be compacted
    * selectively/in parallel by external orchestration).
    */
  def compactAll(
      spark: SparkSession,
      outputPrefix: String,
      targetBytes: Long = 128L * 1024 * 1024): Seq[CompactReport] = {
    val root = new Path(outputPrefix)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    for {
      folder <- fs.listStatus(root).toSeq
      if folder.isDirectory && !folder.getPath.getName.startsWith("_")
      part <- fs.listStatus(folder.getPath).toSeq
      if part.isDirectory && part.getPath.getName.startsWith("ingestion_date=")
      date = part.getPath.getName.stripPrefix("ingestion_date=")
      report <- compactPartition(spark, outputPrefix,
        folder.getPath.getName, date, targetBytes)
    } yield report
  }
}
