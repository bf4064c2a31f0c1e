package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ScaleUp's K× copy must keep every foreign-key join linear: replica i's
  * keys meet replica i's keys only.
  */
class ScaleUpSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  private val K = 2

  private case class FkJoin(left: String, right: String, on: Column,
      cols: Seq[String])

  // the non-key columns of both sides: a replica joined to the wrong
  // replica pairs rows the source never pairs
  private val joins = Seq(
    FkJoin("lineitem", "orders", col("l_orderkey") === col("o_orderkey"),
      Seq("l_linenumber", "l_extendedprice", "o_totalprice", "o_orderdate")),
    FkJoin("orders", "customer", col("o_custkey") === col("c_custkey"),
      Seq("o_totalprice", "o_orderdate", "c_name", "c_acctbal")),
    FkJoin("lineitem", "part", col("l_partkey") === col("p_partkey"),
      Seq("l_linenumber", "l_extendedprice", "p_name", "p_retailprice")),
    FkJoin("lineitem", "supplier", col("l_suppkey") === col("s_suppkey"),
      Seq("l_linenumber", "l_extendedprice", "s_name", "s_acctbal")),
    FkJoin("documents", "embeddings", col("doc_id") === col("vec_id"),
      Seq("lang", "source", "n_chars", "label")))

  test("ScaleUp: at K=2 every FK join returns exactly K x the source's " +
    "joined rows, also where a referencing column stops below the max of " +
    "the key it references") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-scaleup").toFile
    try {
      def read(d: String, t: String): DataFrame =
        spark.read.parquet(s"$d/$t.parquet")
      def maxOf(t: String, c: String): Long =
        read(dir, t).agg(max(col(c))).head().getLong(0)
      // At sf0.001 every key's referencing and referenced maxima coincide,
      // which hides a per-table offset. Drop the referencing rows of each
      // domain's top key (as TPC-H's customers without orders do), so the
      // referencing side's max ends below the referenced side's.
      val trim = Map(
        "lineitem" -> (col("l_orderkey") < maxOf("orders", "o_orderkey") &&
          col("l_partkey") < maxOf("part", "p_partkey") &&
          col("l_suppkey") < maxOf("supplier", "s_suppkey")),
        "orders" -> (col("o_custkey") < maxOf("customer", "c_custkey")),
        "embeddings" -> (col("vec_id") < maxOf("documents", "doc_id")))
      val src = s"$tmp/src"
      val out = s"$tmp/out"
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "documents", "embeddings", "events").foreach { t =>
        trim.get(t).fold(read(dir, t))(read(dir, t).filter(_))
          .write.parquet(s"$src/$t.parquet")
      }

      ScaleUp.scale(spark, src, out, K)

      Seq("region", "nation").foreach { t =>
        assert(read(out, t).count() == read(src, t).count(), t)
      }
      Seq("customer", "supplier", "part", "orders", "lineitem", "documents",
        "embeddings", "events").foreach { t =>
        assert(read(out, t).count() == K * read(src, t).count(), t)
      }
      joins.foreach { j =>
        def joined(d: String): DataFrame =
          read(d, j.left).join(read(d, j.right), j.on).select(j.cols.map(col): _*)
        val base = joined(src)
        val scaled = joined(out)
        val expected = (1 until K).foldLeft(base)((acc, _) => acc.unionAll(base))
        val what = s"${j.left} x ${j.right}"
        assert(scaled.count() == K * base.count(), what)
        assert(scaled.exceptAll(expected).isEmpty, s"$what: rows the source never pairs")
        assert(expected.exceptAll(scaled).isEmpty, s"$what: source pairs missing")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }
}
