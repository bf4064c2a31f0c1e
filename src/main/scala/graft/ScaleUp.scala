package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev utility (r17 verdict item 7): synthesize a K×-scale copy of a test
  * scale-factor directory so core-count scaling is measurable — at sf0.1
  * (17 MB) the suite is scheduler-bound and an 8-core run reads FASTER
  * than 32 cores (r17: median ratio 0.875), so sf0.1 ratios say nothing
  * about the plans.
  *
  * Each fact/entity table is unioned from K KEY-SHIFTED replicas (every
  * key column offset by `i × (max_key + 1)`, the max taken over the key's
  * whole domain, so join relationships are preserved within a replica), so
  * equi-joins scale LINEARLY like a real larger scale factor — naive row
  * duplication would multiply join output quadratically and measure an
  * exploding join, not scaling. Document text gets a per-replica tag
  * token prepended so the shingle/dedup families see 10× distinct
  * documents, not 10 exact clones of each (which would multiply near-dup
  * pair output ~100×). `nation`/`region` stay single-copy (dimensions —
  * a real SF increase does not grow them). Timestamps are left as-is: K×
  * the traffic over the same calendar, K× distinct users/keys.
  *
  * NOT part of any graded artifact: results at the scaled dir are not
  * oracle-checked (keys exceed the oracle corpus by construction); the
  * output exists only so `SPARK_GRAFT_SF_DIR=<out> SPARK_GRAFT_CPUS=8|32
  * SPARK_GRAFT_ONLY=...` pairs measure parallel speedup at a data size
  * where compute dominates scheduling.
  *
  * Usage: `sbt "runMain graft.ScaleUp <srcDir> <outDir> [K=10]"`.
  */
object ScaleUp {

  /** Key domains as (table, column). Every column of one domain is shifted
    * by ONE offset, the max over all of them plus 1, so replica i's
    * foreign keys meet replica i's keys and no other replica's.
    */
  private val domains: Seq[Seq[(String, String)]] = Seq(
    Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey"),
    Seq("orders" -> "o_custkey", "customer" -> "c_custkey"),
    Seq("lineitem" -> "l_partkey", "part" -> "p_partkey"),
    Seq("lineitem" -> "l_suppkey", "supplier" -> "s_suppkey"),
    // vec_id is joined AS doc_id by the cross-modal queries
    Seq("documents" -> "doc_id", "embeddings" -> "vec_id"),
    Seq("events" -> "event_id"),
    Seq("events" -> "user_id"))

  private def shifted(df: DataFrame, keyCols: Seq[String], k: Int,
      offs: Map[String, Long], textTag: Option[String]): DataFrame =
    (0 until k).map { i =>
      val base = keyCols.foldLeft(df) { (d, c) =>
        d.withColumn(c, col(c) + lit(i.toLong * offs(c)))
      }
      textTag.fold(base) { tcol =>
        base.withColumn(tcol, concat(lit(s"r${i}x "), col(tcol)))
      }
    }.reduce(_ unionByName _)

  /** Writes the K× copy of `src` to `out`. Reading an `events` table with
    * nanosecond timestamps needs `spark.sql.legacy.parquet.nanosAsLong`.
    */
  def scale(spark: SparkSession, src: String, out: String, k: Int): Unit = {
    def read(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$name.parquet")

    val offs: Map[String, Long] = domains.flatMap { d =>
      val off = d.map { case (t, c) =>
        read(t).agg(max(col(c))).head().getLong(0)
      }.max + 1L
      d.map { case (_, c) => c -> off }
    }.toMap
    def copy(name: String, parts: Int, textTag: Option[String] = None): Unit = {
      val keys = domains.flatten.collect { case (`name`, c) => c }
      write(shifted(read(name), keys, k, offs, textTag), name, parts)
    }
    copy("lineitem", 16)
    copy("orders", 8)
    copy("customer", 4)
    copy("supplier", 2)
    copy("part", 4)
    copy("events", 8)
    copy("documents", 8, textTag = Some("text"))
    copy("embeddings", 8)
    // dimensions: single copy
    write(read("nation"), "nation", 1)
    write(read("region"), "region", 1)
  }

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val k = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    scale(spark, src, out, k)
    println(s"[scaleup] wrote ${k}x of $src to $out")
    spark.stop()
  }
}
