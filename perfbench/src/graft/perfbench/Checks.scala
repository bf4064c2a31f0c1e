package graft.perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}

import graft.Verify
import graft.perfbench.CdcGen.{FileSpec, Rec}

/** Output checks. Expected values come from the generator's own model
  * (rows regenerated from the seed), never from the program under test;
  * digests use `graft.Verify.normalizedHash`, the gate's row hash.
  */
object Checks {

  /** Converted-row projection hashed on both sides. */
  val DigestCols: Seq[String] = Seq("folder", "tx_id", "is_deleted", "change_type",
    "lsn", "id", "name", "qty", "price", "created_us", "note", "score")

  /** The row digest covers every row whose tx id is a multiple of this
    * (hashing all rows costs several seconds per side);
    * [[folderSums]] covers every row. */
  val DigestSample = 8

  def expectedRow(folder: String, r: Rec): Row =
    Row(folder, r.txId, r.deleted, r.changeType, r.lsn, r.id, r.name, r.qty,
      r.price, r.createdMicros, r.note, r.score)

  def expectedDigest(seed: Long, files: Seq[FileSpec]): String =
    Verify.normalizedHash(
      files.flatMap(f => CdcGen.rows(seed, f).filter(_.txId % DigestSample == 0)
        .map(expectedRow(f.folder, _))),
      DigestCols)

  /** The converted folders, projected to [[DigestCols]]. */
  def converted(spark: SparkSession, out: String, folders: Seq[String]): DataFrame =
    folders.map { folder =>
      val df = spark.read.option("mergeSchema", "true").parquet(s"$out/$folder")
      def opt(c: String, t: org.apache.spark.sql.types.DataType) =
        if (df.columns.contains(c)) col(c) else lit(null).cast(t)
      df.select(lit(folder).as("folder"),
        col("source_metadata.tx_id").as("tx_id"),
        col("source_metadata.is_deleted").as("is_deleted"),
        col("source_metadata.change_type").as("change_type"),
        col("source_metadata.lsn").as("lsn"),
        col("id"), col("name"), col("qty"), col("price"),
        unix_micros(col("created_at")).as("created_us"),
        opt("note", StringType).as("note"), opt("score", DoubleType).as("score"))
    }.reduce(_ unionByName _)

  def actualDigest(rows: DataFrame): String =
    Verify.normalizedHash(rows.filter(col("tx_id") % DigestSample === 0).collect().toSeq,
      DigestCols)

  val SumCols: Seq[String] = Seq("folder", "n", "tx", "id", "qty", "names", "price")

  /** Per folder, over every converted row: count, sum(tx_id), sum(id),
    * sum(qty), count(name), sum(price). */
  def folderSums(rows: DataFrame): String =
    Verify.normalizedHash(rows.groupBy(col("folder")).agg(count(lit(1)), sum(col("tx_id")),
      sum(col("id")), sum(col("qty")), count(col("name")), sum(col("price"))).collect().toSeq,
      SumCols)

  def expectedSums(seed: Long, files: Seq[FileSpec]): String =
    Verify.normalizedHash(files.groupBy(_.folder).toSeq.map { case (folder, fs) =>
      val rs = fs.iterator.flatMap(CdcGen.rows(seed, _))
      var n, tx, id, qty, names = 0L
      var price = java.math.BigDecimal.ZERO.setScale(9)
      rs.foreach { r =>
        n += 1; tx += r.txId; id += r.id
        if (r.qty != null) qty += r.qty.longValue
        if (r.name != null) names += 1
        price = price.add(r.price)
      }
      Row(folder, n, tx, id, qty, names, price)
    }, SumCols)

  /** Rows in every Parquet file under `dir`, from the footers alone. */
  def parquetRows(dir: File): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    files(dir, ".parquet").map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toURI), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  def expectedCounts(files: Seq[FileSpec]): Map[String, Long] =
    files.groupBy(_.folder).map { case (f, fs) => f -> fs.map(_.rows.toLong).sum }

  /** Regular files under `dir` whose names end with `suffix`. */
  def files(dir: File, suffix: String): Seq[File] =
    if (dir.isFile) (if (dir.getName.endsWith(suffix)) Seq(dir) else Nil)
    else Option(dir.listFiles()).toSeq.flatten.flatMap(files(_, suffix))

  def fileBytes(dir: File, suffix: String): Long = files(dir, suffix).map(_.length).sum

  def countFiles(dir: File, suffix: String): Int = files(dir, suffix).size

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}

/** Expected results of the `query` workload's lake reads, from the model
  * of the (defect-free) landing zone. */
final class LakeModel(seed: Long, files: Seq[FileSpec]) {
  private def all: Iterator[(FileSpec, Rec)] =
    files.iterator.flatMap(f => CdcGen.rows(seed, f).map(f -> _))

  private def dec(sum: java.math.BigDecimal) = sum.setScale(9)

  /** groupBy(change_type): count, sum(qty), sum(price). */
  val scanFull: Seq[Row] = {
    val acc = scala.collection.mutable.Map.empty[String, (Long, Long, java.math.BigDecimal)]
    all.foreach { case (_, r) =>
      val (n, q, p) = acc.getOrElse(r.changeType, (0L, 0L, java.math.BigDecimal.ZERO))
      acc(r.changeType) = (n + 1, q + Option(r.qty).map(_.longValue).getOrElse(0L), p.add(r.price))
    }
    acc.toSeq.map { case (ct, (n, q, p)) => Row(ct, n, q, dec(p)) }
  }

  /** The file the pruned scan selects by `_input_path`. */
  val prunedFile: FileSpec = files.find(f => f.folder == "users" && f.name == "part-05.avro").get

  /** count, sum(id), sum(qty) of [[prunedFile]]. */
  val scanPruned: Seq[Row] = {
    val rs = CdcGen.rows(seed, prunedFile).toSeq
    Seq(Row(rs.size.toLong, rs.map(_.id).sum, rs.flatMap(r => Option(r.qty)).map(_.longValue).sum))
  }

  private val minTx = files.map(_.txBase).min
  private val idByTx: Array[Long] = {
    val a = Array.fill((files.map(f => f.txBase + f.rows).max - minTx).toInt)(-1L)
    all.foreach { case (_, r) => a((r.txId - minTx).toInt) = r.id }
    a
  }

  /** A LIMIT result is any `n` distinct generated (id, tx_id) pairs. */
  def limitOk(rows: Seq[Row], n: Int): Boolean =
    rows.size == n && rows.map(_.getLong(1)).distinct.size == n && rows.forall { r =>
      val i = r.getLong(1) - minTx
      i >= 0 && i < idByTx.length && idByTx(i.toInt) == r.getLong(0)
    }

  /** orders JOIN distinct users ids: count, sum(qty). */
  val catalogJoin: Seq[Row] = {
    val users = files.filter(_.folder == "users").flatMap(CdcGen.rows(seed, _).map(_.id)).toSet
    val hits = files.filter(_.folder == "orders").iterator
      .flatMap(CdcGen.rows(seed, _)).filter(r => users.contains(r.id)).toSeq
    Seq(Row(hits.size.toLong, hits.flatMap(r => Option(r.qty)).map(_.longValue).sum))
  }

  /** applyChanges over users (latest tx per id, deletes dropped):
    * count, sum(qty), sum(id). */
  val applied: Seq[Row] = {
    val latest = scala.collection.mutable.Map.empty[Long, Rec]
    files.filter(_.folder == "users").iterator.flatMap(CdcGen.rows(seed, _)).foreach { r =>
      latest.get(r.id) match {
        case Some(o) if o.txId > r.txId => ()
        case _ => latest(r.id) = r
      }
    }
    val live = latest.values.filterNot(_.deleted).toSeq
    Seq(Row(live.size.toLong, live.flatMap(r => Option(r.qty)).map(_.longValue).sum,
      live.map(_.id).sum))
  }
}
