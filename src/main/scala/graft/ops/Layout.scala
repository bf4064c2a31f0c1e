package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.GraftQuery

/** Data-layout operators: multi-dimensional clustering for scan pruning.
  *
  * Parquet keeps min/max statistics per row group and Spark pushes
  * comparison predicates into the reader, so row groups whose stat range
  * excludes the predicate never decompress. A plain sort clusters ONE
  * column; a Z-ORDER (Morton) sort interleaves the bits of several
  * columns, so row groups stay tight in every interleaved dimension at
  * once — selective filters on ANY of them skip most of a 100 TB table.
  * This is the same layout lever as Delta's `OPTIMIZE ZORDER BY`,
  * expressed with plain Spark: rank-normalize → interleave bits →
  * range-repartition + sort by the z-value → write.
  */
object Layout {

  /** Morton interleave of two pre-normalized integer columns (each in
    * [0, 2^bits)): bit i of `a` lands at even position 2i, bit i of `b`
    * at odd position 2i+1. Pure bit arithmetic — codegen'd, no UDF.
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      (shiftright(a, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i))) +
        (shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1)))
    }.reduce(_ + _)

  /** Rank resolution: 1024 quantile buckets per dimension — far finer
    * than row-group granularity (the pruning unit), at a sketch size the
    * driver holds trivially.
    */
  private val ResBits = 10

  /** Monotone double image of an orderable column, so one quantile/bucket
    * path serves numerics, dates, and timestamps (rank is preserved under
    * any strictly monotone map).
    */
  private def rankable(df: DataFrame, colName: String): Column =
    df.schema(colName).dataType match {
      case org.apache.spark.sql.types.DateType =>
        unix_date(col(colName)).cast("double")
      case org.apache.spark.sql.types.TimestampType =>
        unix_micros(col(colName)).cast("double")
      case _: org.apache.spark.sql.types.NumericType =>
        col(colName).cast("double")
      case t => throw new IllegalArgumentException(
        s"z-order: unsupported column type $t for $colName")
    }

  /** Rank-normalize a column to [0, 2^bits) fixed-point — makes the
    * interleave robust to skewed value distributions (raw values would
    * starve one dimension of bits).
    *
    * Scale path: ONE distributed approx-quantile pass (Greenwald-Khanna
    * sketch, merged per-partition — no sort, no shuffle) computes 2^10−1
    * boundary values on the driver; each row then maps to its bucket by
    * binary search against that array riding in codegen as a reference
    * object ([[graft.functions.Bucketize]]). The previous spelling — a
    * no-partition `Window.orderBy` percent_rank — pushed the ENTIRE
    * dataset through a single sort task, the one place this operator
    * broke at 100×. Bucket indices are scaled up to the 2^bits z-domain
    * so [[zValue]]'s interleave contract is unchanged.
    */
  def rankBucket(df: DataFrame, colName: String, bits: Int = 16): Column = {
    val resBits = math.min(bits, ResBits)
    val nb = 1 << resBits
    val probs = (1 until nb).map(_.toDouble / nb).toArray
    val proj = df.select(rankable(df, colName).as("__rk"))
    val bounds = proj.stat.approxQuantile("__rk", probs, 1.0 / (4 * nb))
    val bucket = graft.functions.Bucketize
      .bucketOfCol(rankable(df, colName), bounds)
    (bucket * lit(1L << (bits - resBits))).cast("long")
  }

  /** Z-order `df` by two columns into `numFiles` z-range buckets at
    * `path`. Files stay disjoint in z-space (each bucket = one tight
    * z-range = tight min/max on BOTH source columns); the within-bucket
    * sort tightens row groups further.
    *
    * Bucket boundaries come from a SECOND approx-quantile pass over the
    * z-value, not `repartitionByRange`: range partitioning draws its
    * boundaries from an RDD-id-seeded random sample, so the produced
    * layout drifts from run to run (and at 100 TB the sampling pass is
    * an extra scan you'd replace with a histogram anyway). The quantile
    * boundaries are deterministic for a given dataset; `partitionBy` on
    * the bucket id then guarantees every physical file holds exactly one
    * z-range even when the shuffle hashes two bucket ids into one task.
    */
  /** The ORACLED demonstration of Morton locality ([[zorderWrite]]'s
    * pruning argument, made hash-checkable): interleave two
    * uniform-domain key columns at [[ZqBits]] bits, cut the z-range into
    * [[ZqBuckets]] equal buckets (= the physical files [[zorderWrite]]
    * would produce), and report each bucket's row count and min/max
    * extent in BOTH source dimensions plus the extent-to-domain ratio.
    * The ratios land near 1/8 in EACH dimension (64 buckets = top 3
    * z-levels per axis): the two-dimensional tightness that makes a
    * selective filter on EITHER column skip ~7/8 of a 100 TB table's
    * row groups, which a single-column sort only achieves for its own
    * column. Everything is integer bit arithmetic in both engines — the
    * one operator family where cross-engine exactness is free — and the
    * ratio is a final divide of exact integers.
    */
  private val ZqBits = 10
  private val ZqBuckets = 64

  def qLayoutZorder(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val dom = 1L << ZqBits
    val l = Tables.lineitem(spark, dir).select(
      (col("l_partkey") % dom).as("a"), (col("l_suppkey") % dom).as("b"))
    l.withColumn("z", zValue(col("a"), col("b"), ZqBits))
      .withColumn("bucket",
        shiftright(col("z"), 2 * ZqBits - 6).cast("long")) // 2^6 buckets
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("a")).as("a_min"), max(col("a")).as("a_max"),
        min(col("b")).as("b_min"), max(col("b")).as("b_max"))
      .withColumn("a_extent",
        round((col("a_max") - col("a_min") + 1).cast("double") / dom, 6))
      .withColumn("b_extent",
        round((col("b_max") - col("b_min") + 1).cast("double") / dom, 6))
      .orderBy(col("bucket"))
  }

  val qLayoutZorderOracle: String = {
    val terms = (0 until ZqBits).map { i =>
      s"(((a >> $i) & 1)::BIGINT << ${2 * i}) + " +
        s"(((b >> $i) & 1)::BIGINT << ${2 * i + 1})"
    }.mkString(" + ")
    s"""WITH k AS (SELECT l_partkey % ${1L << ZqBits} AS a,
        l_suppkey % ${1L << ZqBits} AS b FROM lineitem),
      z AS (SELECT a, b, ($terms) AS zv FROM k),
      g AS (SELECT zv >> ${2 * ZqBits - 6} AS bucket, count(*) AS n,
          min(a) a_min, max(a) a_max, min(b) b_min, max(b) b_max
        FROM z GROUP BY 1)
      SELECT bucket, n, a_min, a_max, b_min, b_max,
        round((a_max - a_min + 1) / ${(1L << ZqBits)}.0, 6) AS a_extent,
        round((b_max - b_min + 1) / ${(1L << ZqBits)}.0, 6) AS b_extent
      FROM g ORDER BY bucket"""
  }

  def zorderWrite(
      df: DataFrame, colA: String, colB: String,
      path: String, numFiles: Int, bits: Int = 16): Unit = {
    val z = zValue(rankBucket(df, colA, bits), rankBucket(df, colB, bits),
      bits)
    val withZ = df.withColumn("__z", z)
    val probs = (1 until numFiles).map(_.toDouble / numFiles).toArray
    val zBounds = withZ.select(col("__z").cast("double").as("__z"))
      .stat.approxQuantile("__z", probs, 1.0 / (8 * numFiles))
    withZ
      .withColumn("__zfile", graft.functions.Bucketize
        .bucketOfCol(col("__z").cast("double"), zBounds).cast("int"))
      .repartition(numFiles, col("__zfile"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").partitionBy("__zfile").parquet(path)
  }

  // ---------- zone-map file skipping: sorted vs hashed layout ----------
  /** The file-skipping audit that quantifies WHY layout matters at
    * 100 TB: the same table, the same per-file min/max zone maps, the
    * same one-year predicate — under two layouts. `sorted` assigns rows
    * to [[SkipFiles]] files by shipdate range (what a sort-clustered
    * write produces); `hashed` assigns them by key hash (what an
    * unclustered ingest produces). A file is SKIPPABLE when its zone
    * [min, max] misses the predicate window — exactly the decision
    * parquet row-group stats + pushed filters make — so the readout
    * (files skipped, rows scanned vs rows matched, scan ratio) is the
    * I/O the predicate actually pays. On the sorted layout the scan
    * ratio collapses toward the selectivity; on the hashed layout every
    * zone spans the full domain and NOTHING skips — the 1:8 vs 8:8 scan
    * difference IS the cluster-by recommendation, made hash-checkable.
    *
    * Everything is integer day arithmetic (file ids from integer
    * scaling, zones as min/max days, one final ratio divide); the file
    * model is the same logical-layout discipline as [[qLayoutZorder]]
    * (the physical counterpart is [[zorderWrite]]; parquet writers keep
    * these stats per row group automatically).
    */
  private val SkipFiles = 32L

  def qLayoutSkipping(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val epoch = to_date(lit("1970-01-01"))
    val li = Tables.lineitem(spark, dir)
      .select(datediff(to_date(col("l_shipdate")), epoch).cast("long").as("d"),
        col("l_orderkey"))
    val span = li.agg(min(col("d")).as("dmin"), max(col("d")).as("dmax"))
    val lo = datediff(to_date(lit("1996-01-01")), epoch).cast("long")
    val hi = datediff(to_date(lit("1996-12-31")), epoch).cast("long")
    val assigned = li.crossJoin(broadcast(span))
      .withColumn("f_sorted",
        expr(s"((d - dmin) * $SkipFiles) DIV (dmax - dmin + 1)"))
      .withColumn("f_hashed", pmod(col("l_orderkey"), lit(SkipFiles)))
      .withColumn("matched", (col("d") >= lo && col("d") <= hi))
    def zones(fileCol: String, layout: String): DataFrame =
      assigned.groupBy(col(fileCol).as("f"))
        .agg(count(lit(1)).as("n"), min(col("d")).as("zmin"),
          max(col("d")).as("zmax"),
          sum(when(col("matched"), 1L).otherwise(0L)).as("m"))
        .withColumn("skip", col("zmax") < lo || col("zmin") > hi)
        .agg(count(lit(1)).as("n_files"),
          sum(when(col("skip"), 1L).otherwise(0L)).as("n_skipped"),
          sum(col("n")).as("rows_total"),
          sum(when(!col("skip"), col("n")).otherwise(0L)).as("rows_scanned"),
          sum(col("m")).as("rows_matched"))
        .select(lit(layout).as("layout"), col("n_files"), col("n_skipped"),
          col("rows_total"), col("rows_scanned"), col("rows_matched"),
          round(col("rows_scanned").cast("double") /
            col("rows_total").cast("double"), 6).as("scan_ratio6"))
    zones("f_sorted", "sorted").unionByName(zones("f_hashed", "hashed"))
      .orderBy(col("layout").desc)
  }

  val qLayoutSkippingOracle: String =
    s"""WITH li AS (SELECT datediff('day', DATE '1970-01-01',
          l_shipdate::DATE)::BIGINT d, l_orderkey FROM lineitem),
      span AS (SELECT min(d) dmin, max(d) dmax FROM li),
      c AS (SELECT datediff('day', DATE '1970-01-01',
          DATE '1996-01-01')::BIGINT lo,
        datediff('day', DATE '1970-01-01', DATE '1996-12-31')::BIGINT hi),
      a AS (SELECT d,
          (d - dmin) * $SkipFiles // (dmax - dmin + 1) AS f_sorted,
          l_orderkey % $SkipFiles AS f_hashed,
          d >= lo AND d <= hi AS matched
        FROM li CROSS JOIN span CROSS JOIN c),
      zs AS (SELECT f_sorted f, count(*)::BIGINT n, min(d) zmin,
          max(d) zmax, sum(CASE WHEN matched THEN 1 ELSE 0 END)::BIGINT m
        FROM a GROUP BY 1),
      zh AS (SELECT f_hashed f, count(*)::BIGINT n, min(d) zmin,
          max(d) zmax, sum(CASE WHEN matched THEN 1 ELSE 0 END)::BIGINT m
        FROM a GROUP BY 1),
      rs AS (SELECT 'sorted' layout, count(*)::BIGINT n_files,
          sum(CASE WHEN zmax < lo OR zmin > hi THEN 1 ELSE 0 END)::BIGINT
            n_skipped,
          sum(n)::BIGINT rows_total,
          sum(CASE WHEN zmax < lo OR zmin > hi THEN 0 ELSE n END)::BIGINT
            rows_scanned,
          sum(m)::BIGINT rows_matched
        FROM zs CROSS JOIN c),
      rh AS (SELECT 'hashed' layout, count(*)::BIGINT n_files,
          sum(CASE WHEN zmax < lo OR zmin > hi THEN 1 ELSE 0 END)::BIGINT
            n_skipped,
          sum(n)::BIGINT rows_total,
          sum(CASE WHEN zmax < lo OR zmin > hi THEN 0 ELSE n END)::BIGINT
            rows_scanned,
          sum(m)::BIGINT rows_matched
        FROM zh CROSS JOIN c)
      SELECT layout, n_files, n_skipped, rows_total, rows_scanned,
        rows_matched,
        round(rows_scanned::DOUBLE / rows_total::DOUBLE, 6) AS scan_ratio6
      FROM (SELECT * FROM rs UNION ALL SELECT * FROM rh)
      ORDER BY layout DESC"""

  // ---------- Hilbert-curve locality audit (the z-order upgrade) ----------
  /** [[qLayoutZorder]]'s experiment re-run on the HILBERT curve — the
    * space-filling order Delta/Iceberg reach for when Morton's quadrant
    * jumps hurt: Hilbert is CONTINUOUS (consecutive cells are always
    * grid-neighbors), so equal curve ranges give equal-or-tighter
    * min/max boxes in both dimensions, with no pathological buckets
    * straddling a quadrant seam.
    *
    * The classic sequential xy→d transform (per-bit rotate/reflect)
    * unrolls into [[ZqBits]] pure integer rounds — generated from ONE
    * Scala loop into BOTH engines (withColumn chain here, chained CTEs
    * in the oracle), so the bit-twiddling cannot drift between them.
    * Everything stays exact integer arithmetic; the extent ratios are
    * one final divide.
    *
    * Scale shape: scan-side per-row integer math (wholly codegen) + one
    * combine-fed 64-group aggregate — the cheapest possible audit of a
    * layout decision that governs 100 TB of row-group pruning.
    */
  def qLayoutHilbert(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val dom = 1L << ZqBits
    var df = Tables.lineitem(spark, dir).select(
        (col("l_partkey") % dom).as("a"), (col("l_suppkey") % dom).as("b"))
      .withColumn("x", col("a")).withColumn("y", col("b"))
      .withColumn("h", lit(0L))
    for (i <- 0 until ZqBits) {
      val s = 1L << (ZqBits - 1 - i)
      df = df
        .withColumn("rx", when((col("x").bitwiseAND(s)) > 0L, 1L)
          .otherwise(0L))
        .withColumn("ry", when((col("y").bitwiseAND(s)) > 0L, 1L)
          .otherwise(0L))
        .withColumn("h",
          col("h") + lit(s * s) * (lit(3L) * col("rx")).bitwiseXOR(col("ry")))
        .withColumn("xr", when(col("ry") === 0L && col("rx") === 1L,
          lit(s - 1) - col("x")).otherwise(col("x")))
        .withColumn("yr", when(col("ry") === 0L && col("rx") === 1L,
          lit(s - 1) - col("y")).otherwise(col("y")))
        .withColumn("xn", when(col("ry") === 0L, col("yr"))
          .otherwise(col("xr")))
        .withColumn("yn", when(col("ry") === 0L, col("xr"))
          .otherwise(col("yr")))
        .withColumn("x", col("xn")).withColumn("y", col("yn"))
        .drop("rx", "ry", "xr", "yr", "xn", "yn")
    }
    df.withColumn("bucket",
        shiftright(col("h"), 2 * ZqBits - 6).cast("long"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("a")).as("a_min"), max(col("a")).as("a_max"),
        min(col("b")).as("b_min"), max(col("b")).as("b_max"))
      .withColumn("a_extent",
        round((col("a_max") - col("a_min") + 1).cast("double") / dom, 6))
      .withColumn("b_extent",
        round((col("b_max") - col("b_min") + 1).cast("double") / dom, 6))
      .orderBy(col("bucket"))
  }

  val qLayoutHilbertOracle: String = {
    val rounds = (0 until ZqBits).map { i =>
      val s = 1L << (ZqBits - 1 - i)
      s"""h${i + 1} AS (SELECT a, b,
          CASE WHEN ry = 0 THEN yr ELSE xr END AS x,
          CASE WHEN ry = 0 THEN xr ELSE yr END AS y,
          d FROM (
        SELECT a, b, x, y, rx, ry,
          d + ${s * s} * xor(3 * rx, ry) AS d,
          CASE WHEN ry = 0 AND rx = 1 THEN ${s - 1} - x ELSE x END AS xr,
          CASE WHEN ry = 0 AND rx = 1 THEN ${s - 1} - y ELSE y END AS yr
        FROM (SELECT *,
            CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
            CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry
          FROM h$i) t1) t2)"""
    }.mkString(",\n      ")
    s"""WITH h0 AS (SELECT l_partkey % ${1L << ZqBits} AS a,
        l_suppkey % ${1L << ZqBits} AS b,
        l_partkey % ${1L << ZqBits} AS x,
        l_suppkey % ${1L << ZqBits} AS y, 0::BIGINT AS d
      FROM lineitem),
      $rounds,
      g AS (SELECT d >> ${2 * ZqBits - 6} AS bucket, count(*) AS n,
          min(a) a_min, max(a) a_max, min(b) b_min, max(b) b_max
        FROM h$ZqBits GROUP BY 1)
      SELECT bucket, n, a_min, a_max, b_min, b_max,
        round((a_max - a_min + 1) / ${(1L << ZqBits)}.0, 6) AS a_extent,
        round((b_max - b_min + 1) / ${(1L << ZqBits)}.0, 6) AS b_extent
      FROM g ORDER BY bucket"""
  }

  val registry: Seq[GraftQuery] = Seq(
    GraftQuery("q_layout_zorder", qLayoutZorder, qLayoutZorderOracle),
    GraftQuery("q_layout_hilbert", qLayoutHilbert, qLayoutHilbertOracle),
    GraftQuery("q_layout_skipping", qLayoutSkipping, qLayoutSkippingOracle),
  )
}
