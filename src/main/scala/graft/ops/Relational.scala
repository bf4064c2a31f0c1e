package graft.ops

import Checkpoints._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftQuery

/** Relational operator coverage over the TPC-H-ish test tables: scans with
  * pushdown, aggregations, joins of every flavor, window functions,
  * rollup/cube, set operations, subqueries, pivot, top-k.
  *
  * Every query is paired with equivalent ANSI SQL (the DuckDB oracle).
  * Conventions that keep the hash-compare honest across engines:
  *  - every computed column is aliased identically on both sides;
  *  - double aggregates are rounded (sums of binary fractions differ in the
  *    last ulp across summation orders);
  *  - every query has a total deterministic ORDER BY.
  *
  * Scale notes (100 TB posture): group-bys aggregate partially map-side;
  * the dimension sides of joins (nation/region/part/supplier/customer at
  * their natural scale) are broadcast; no collect()s anywhere; sorts are
  * either top-k (global limit pushed into TakeOrderedAndProject) or
  * partition-local.
  */
object Relational {

  // ---------- broadcast dimension join ----------
  def qJoinBroadcast(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)),
        $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"p_brand")

  val qJoinBroadcastOracle: String =
    """SELECT p_brand,
      round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      count(*) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand"""

  // ---------- bucketed co-located join (exchange-free fact-fact) ----------
  /** The bucketing discipline for REPEATED fact-to-fact joins: both
    * sides are written once as bucketed tables (8 buckets on the join
    * key, bucket-sorted), after which every join on that key reads
    * co-located buckets and the join plans with NO Exchange on either
    * side — the shuffle is paid once at layout time, not per query.
    * At 100 TB this is the difference between re-shuffling two
    * multi-TB facts on every analytical run and a pure merge of
    * pre-partitioned files; it is also the batch analogue of the
    * DSv2 source's partitioned layout. The PlanAudit pins the contract:
    * zero `Exchange hashpartitioning` below the join.
    *
    * The aggregation itself is the priority-mix revenue rollup, oracled
    * against DuckDB joining the ORIGINAL parquet — proving the bucketed
    * round-trip byte-preserves the data.
    */
  /** Which sf dir the current session's bucketed layout was built from —
    * the layout is built ONCE per (session, dir) and reused, which is the
    * bucketing discipline itself: the shuffle is paid at layout time, and
    * every subsequent join on the key (including a bench's repeated
    * passes) reads co-located buckets. A fresh session re-lays-out (the
    * in-memory catalog died with the old one).
    */
  def qJoinBucketed(spark: SparkSession, dir: String): DataFrame = {
    val B = 8
    // content-tagged table names: concurrent processes over different
    // data never share a bucketed layout's warehouse directory
    // (SessionFixtures.contentTag); old-content generations leak one dir
    // each until the warehouse is cleaned — the price of not deleting a
    // directory another live process may be reading
    val tag = SessionFixtures.contentTag(spark, dir)
    val liTable = s"graft_bucketed_lineitem_$tag"
    val ordTable = s"graft_bucketed_orders_$tag"
    val haveCatalog = spark.catalog.tableExists(liTable) &&
      spark.catalog.tableExists(ordTable)
    if (SessionFixtures.stale("bucketed_layout", spark, dir) || !haveCatalog) {
      // the managed-table LOCATION outlives the in-memory catalog: a fresh
      // session doesn't know the table, so overwrite can't reclaim it —
      // drop both the entry and the directory before (re)laying out
      val wh = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"))
      val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq(liTable, ordTable).foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        fs.delete(new org.apache.hadoop.fs.Path(wh, t), true)
      }
      Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_quantity", $"l_extendedprice", $"l_discount")
        .write.mode("overwrite").format("parquet")
        .bucketBy(B, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(liTable)
      Tables.orders(spark, dir)
        .select($"o_orderkey", $"o_orderpriority")
        .write.mode("overwrite").format("parquet")
        .bucketBy(B, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(ordTable)
      SessionFixtures.mark("bucketed_layout", spark, dir)
    }
    spark.table(ordTable)
      .join(spark.table(liTable),
        $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        sum($"l_quantity").as("sum_qty"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2)
          .as("revenue"))
      .orderBy($"o_orderpriority")
  }

  val qJoinBucketedOracle: String =
    """SELECT o_orderpriority, count(*) AS n_items,
      sum(l_quantity) AS sum_qty,
      round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // ---------- semi / anti joins ----------
  def qSemiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(year($"o_orderdate") === 1995),
        $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")

  val qSemiJoinOracle: String =
    """SELECT c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995)
      ORDER BY c_custkey"""

  // anti-join against the 1995 order subset: non-vacuous at every SF
  // (every customer has SOME order in this data, so a bare anti-join
  // would always return 0 rows and test nothing)
  def qAntiJoin(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir).filter(year($"o_orderdate") === 1995),
        $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")

  val qAntiJoinOracle: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995)
      ORDER BY c_custkey"""

  // ---------- outer join + conditional agg ----------
  def qOuterJoinAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), $"c_custkey" === $"o_custkey", "left_outer")
      .groupBy($"c_custkey")
      .agg(
        count($"o_orderkey").as("n_orders"),
        round(sum(coalesce($"o_totalprice", lit(0.0))), 2).as("total_spent"))
      .orderBy($"c_custkey")

  val qOuterJoinAggOracle: String =
    """SELECT c_custkey, count(o_orderkey) AS n_orders,
      round(sum(coalesce(o_totalprice, 0.0)), 2) AS total_spent
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey ORDER BY c_custkey"""

  // ---------- window: rank / running / lag ----------
  def qWindowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey".asc)
    Tables.orders(spark, dir)
      .withColumn("rnk", rank().over(w))
      .filter($"rnk" <= 3)
      .select($"o_custkey", $"o_orderkey", round($"o_totalprice", 2).as("price"), $"rnk")
      .orderBy($"o_custkey", $"rnk", $"o_orderkey")
  }

  val qWindowRankOracle: String =
    """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rnk FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
        rank() OVER (PARTITION BY o_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      FROM orders) t WHERE rnk <= 3
      ORDER BY o_custkey, rnk, o_orderkey"""

  def qWindowRunning(spark: SparkSession, dir: String): DataFrame = {
    // l_quantity closes the ordering: (orderkey, linenumber) is NOT a key
    // in this testdata (true duplicates, up to 6 deep), and two tied rows
    // with DIFFERENT quantities make the running sum order-dependent —
    // flaky across engines and across runs (observed once at sf0.1).
    // With quantity as the last tiebreak, any remaining ties contribute
    // identical values, so every prefix sum is order-invariant.
    val w = Window.partitionBy($"l_suppkey")
      .orderBy($"l_shipdate", $"l_orderkey", $"l_linenumber", $"l_quantity")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(spark, dir)
      .withColumn("run_qty", sum($"l_quantity").over(w))
      .select($"l_suppkey", $"l_orderkey", $"l_linenumber", $"run_qty")
      .orderBy($"l_suppkey", $"l_orderkey", $"l_linenumber")
  }

  val qWindowRunningOracle: String =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      sum(l_quantity) OVER (PARTITION BY l_suppkey
        ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_qty
      FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber"""

  // ---------- DISTINCT aggregation over a moving window ----------
  /** Rolling DISTINCT count — the SQL-surface gap users actually hit:
    * Spark rejects `COUNT(DISTINCT …) OVER`, so the rolling type
    * diversity of a user's last 10 events is spelled
    * `size(array_distinct(collect_list(…) over w))` — the frame's values
    * ride as an array and dedup in the projection, which is exactly how
    * an engine would implement frame-distinct anyway (the frame is
    * BOUNDED at 10 rows, so the per-row array is O(frame), not
    * O(partition) — this spelling is only safe with bounded frames, a
    * constraint the scaladoc is the right place to record). The oracle
    * uses DuckDB's native windowed `count(DISTINCT)`, so the hash match
    * certifies the emulation against an engine that implements the real
    * thing. Rolled up to each user's PEAK diversity (one combine-fed
    * aggregate on the same user key — no second shuffle: the window
    * already partitioned by user).
    */
  def qWindowDistinct(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(-9, Window.currentRow)
    Tables.events(spark, dir)
      .withColumn("rt", size(array_distinct(collect_list($"event_type").over(w))))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), max($"rt").as("peak_types"))
      .orderBy($"user_id")
  }

  val qWindowDistinctOracle: String =
    """WITH r AS (SELECT user_id, count(DISTINCT event_type) OVER
        (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS rt
      FROM events)
      SELECT user_id, count(*) AS n_events, max(rt)::INT AS peak_types
      FROM r GROUP BY user_id ORDER BY user_id"""

  def qWindowLag(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(spark, dir)
      .withColumn("prev_price", round(lag($"o_totalprice", 1).over(w), 2))
      .withColumn("next_key", lead($"o_orderkey", 1).over(w))
      .withColumn("days_since_prev",
        datediff($"o_orderdate".cast("date"),
          lag($"o_orderdate", 1).over(w).cast("date")))
      .select($"o_custkey", $"o_orderkey", $"prev_price", $"next_key", $"days_since_prev")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  val qWindowLagOracle: String =
    """SELECT o_custkey, o_orderkey,
      round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
      lead(o_orderkey, 1) OVER w AS next_key,
      date_diff('day', (lag(o_orderdate, 1) OVER w)::DATE, o_orderdate::DATE)::INT
        AS days_since_prev
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      ORDER BY o_custkey, o_orderkey"""

  // ---------- window: first_value / last_value / nth_value ----------
  /** Whole-partition value picks: each customer's first, last, and second
    * order key in date order, via the unbounded-both-ends frame. One
    * shuffle on the partition key; the row_number filter keeps exactly
    * one row per customer, so the output is partition-sized, not
    * row-sized.
    */
  def qWindowFirstLast(spark: SparkSession, dir: String): DataFrame = {
    val wOrd = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    val wFull = wOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("first_key", first($"o_orderkey").over(wFull))
      .withColumn("last_key", last($"o_orderkey").over(wFull))
      .withColumn("second_key", nth_value($"o_orderkey", 2).over(wFull))
      .filter($"rn" === 1)
      .select($"o_custkey", $"first_key", $"last_key", $"second_key")
      .orderBy($"o_custkey")
  }

  val qWindowFirstLastOracle: String =
    """SELECT o_custkey, first_key, last_key, second_key FROM (
      SELECT o_custkey,
        row_number() OVER w1 AS rn,
        first_value(o_orderkey) OVER w AS first_key,
        last_value(o_orderkey) OVER w AS last_key,
        nth_value(o_orderkey, 2) OVER w AS second_key
      FROM orders
      WINDOW w1 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      ) t WHERE rn = 1 ORDER BY o_custkey"""

  // ---------- rollup / cube ----------
  def qRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), sum($"l_quantity").as("sum_qty"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)

  val qRollupOracle: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""

  def qCube(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total"))
      .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)

  val qCubeOracle: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      round(sum(o_totalprice), 2) AS total
      FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST"""

  // ---------- set operations ----------
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val building = c.filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val automobile = c.filter($"c_mktsegment" === "AUTOMOBILE").select($"c_custkey")
    val withOrders = o.select($"o_custkey".as("c_custkey"))
    val negative = c.filter($"c_acctbal" < 0).select($"c_custkey")
    building.intersect(withOrders)
      .union(automobile)
      .except(negative)
      .distinct()
      .orderBy($"c_custkey")
  }

  val qSetOpsOracle: String =
    """SELECT DISTINCT c_custkey FROM (
      (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
       INTERSECT SELECT o_custkey FROM orders)
      UNION
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
      EXCEPT
      SELECT c_custkey FROM customer WHERE c_acctbal < 0) t
      ORDER BY c_custkey"""

  // ---------- distinct aggregates ----------
  def qDistinctAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        countDistinct($"l_orderkey").as("n_orders"),
        countDistinct($"l_partkey").as("n_parts"))
      .orderBy($"l_returnflag")

  val qDistinctAggOracle: String =
    """SELECT l_returnflag, count(*) AS n,
      count(DISTINCT l_orderkey) AS n_orders,
      count(DISTINCT l_partkey) AS n_parts
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  // ---------- exact-moment correlation matrix ----------
  /** Pearson correlation across the lineitem numeric measures from ONE
    * corpus scan — the dataset-card correlation panel ("is discount
    * independent of quantity?") computed the only way two engines can
    * agree on it bit-for-bit: every sufficient statistic is an EXACT
    * integer (measures quantize to their natural grids — whole units,
    * whole dollars, basis points — chosen so Σq² stays inside BIGINT
    * past sf100), the cross products that exceed 63 bits go through
    * DECIMAL(38,0)/HUGEINT arithmetic (still exact), and doubles appear
    * only in the LAST expression — division and square root of
    * identical exact operands, both correctly rounded IEEE on both
    * engines, so `round(corr, 6)` matches by construction rather than
    * by luck (the r6 cent-boundary lesson applied to second moments).
    *
    * Scale shape: all 14 moment sums (4 firsts + 10 seconds) fuse into
    * ONE scan-side aggregate — a single combine-fed exchange carrying
    * one partial row per task, the cheapest possible plan for a moment
    * matrix on a fact table (the [[graft.ops.Similarity]] covariance
    * kernel explodes pair cells instead, fine at 36 cells on the
    * embedding table; on the fact table the explode shuffled 10× the
    * rows and measured 5× slower). The 6-row correlation panel unfolds
    * from the aggregate row with a one-row explode. Corr is
    * scale-invariant, so the quantization grids cost nothing but the
    * documented overflow budget.
    */
  def qStatsCorr(spark: SparkSession, dir: String): DataFrame = {
    // all 14 moment sums fuse into ONE scan-side aggregate row (no row
    // explosion: an earlier explode-10-cells form shuffled 10x the fact
    // rows and measured 3.7 s vs ~0.7 s at sf0.1); the 6-row output
    // panel then unfolds from that single row with a trivial explode
    val dims = Seq("quantity", "price_usd", "discount", "tax")
    val moments = Tables.lineitem(spark, dir)
      .select(expr(
        """array(CAST(round(l_quantity) AS BIGINT),
                 CAST(round(l_extendedprice) AS BIGINT),
                 CAST(round(l_discount * 100) AS BIGINT),
                 CAST(round(l_tax * 100) AS BIGINT))""").as("q"))
      .agg(count(lit(1)).as("n"),
        (for (i <- 0 until 4) yield
          sum(expr(s"q[$i]")).as(s"s$i")) ++
        (for (i <- 0 until 4; j <- i until 4) yield
          sum(expr(s"q[$i] * q[$j]")).as(s"p$i$j")): _*)
    val cells = (for (i <- 0 until 4; j <- i + 1 until 4) yield
      s"""struct('${dims(i)}' AS col_i, '${dims(j)}' AS col_j,
           s$i AS si, s$j AS sj, p$i$j AS sij,
           p$i$i AS sii, p$j$j AS sjj)""").mkString("array(", ", ", ")")
    moments
      .select(col("n"), explode(expr(cells)).as("c"))
      .select(
        col("c.col_i").as("col_i"), col("c.col_j").as("col_j"), col("n"),
        round(
          expr("""CAST(CAST(n AS DECIMAL(38,0)) * c.sij
                    - CAST(c.si AS DECIMAL(38,0)) * c.sj AS DOUBLE)""") /
          (sqrt(expr("""CAST(CAST(n AS DECIMAL(38,0)) * c.sii
                    - CAST(c.si AS DECIMAL(38,0)) * c.si AS DOUBLE)""")) *
           sqrt(expr("""CAST(CAST(n AS DECIMAL(38,0)) * c.sjj
                    - CAST(c.sj AS DECIMAL(38,0)) * c.sj AS DOUBLE)"""))),
          6).as("corr6"))
      .orderBy(col("col_i"), col("col_j"))
  }

  val qStatsCorrOracle: String =
    """WITH q AS (SELECT round(l_quantity)::BIGINT q0,
        round(l_extendedprice)::BIGINT q1,
        round(l_discount * 100)::BIGINT q2,
        round(l_tax * 100)::BIGINT q3 FROM lineitem),
      u AS (SELECT i::INT i, j::INT j,
          CASE i WHEN 0 THEN q0 WHEN 1 THEN q1 WHEN 2 THEN q2 ELSE q3 END qi,
          CASE j WHEN 0 THEN q0 WHEN 1 THEN q1 WHEN 2 THEN q2 ELSE q3 END qj
        FROM q, range(0, 4) ti(i), range(0, 4) tj(j) WHERE j >= i),
      cells AS (SELECT i, j, count(*)::BIGINT n, sum(qi)::BIGINT s_i,
          sum(qj)::BIGINT s_j, sum(qi * qj)::BIGINT s_ij
        FROM u GROUP BY i, j),
      diag AS (SELECT i d, s_i sd, s_ij sdd FROM cells WHERE i = j),
      nm AS (SELECT unnest(range(0, 4))::INT ix,
        unnest(['quantity', 'price_usd', 'discount', 'tax']) nam)
      SELECT n1.nam AS col_i, n2.nam AS col_j, c.n,
        round((c.n::HUGEINT * c.s_ij - c.s_i::HUGEINT * c.s_j)::DOUBLE /
          (sqrt((c.n::HUGEINT * d1.sdd - d1.sd::HUGEINT * d1.sd)::DOUBLE) *
           sqrt((c.n::HUGEINT * d2.sdd - d2.sd::HUGEINT * d2.sd)::DOUBLE)),
          6) AS corr6
      FROM cells c
      JOIN diag d1 ON d1.d = c.i JOIN diag d2 ON d2.d = c.j
      JOIN nm n1 ON n1.ix = c.i JOIN nm n2 ON n2.ix = c.j
      WHERE c.i < c.j
      ORDER BY col_i, col_j"""

  // ---------- skyline (Pareto frontier) ----------
  /** The SKYLINE / Pareto-frontier preference query (Börzsönyi et al.
    * 2001): parts not dominated on (larger size, higher retail price) —
    * no other part is ≥ on both dimensions and > on one. Classic
    * example of an operator SQL lacks a keyword for that still reduces
    * to a scale-correct plan: the fact first collapses to ONE
    * candidate per x-value (`max(price) per size` — dominated rows
    * within a size can never be skyline, so this combine-fed aggregate
    * is lossless), and the frontier test runs on that DOMAIN-bounded
    * table (≤ |distinct sizes| rows) as a running-max window ordered
    * by size descending: a candidate survives iff its price strictly
    * exceeds every larger size's price. The window is partition-less
    * but its input is bounded by the SIZE DOMAIN, not the corpus —
    * pinned in the global-window allowlist with that rationale.
    * Prices compare as DECIMAL(18,2), so dominance is exact.
    */
  def qSkyline(spark: SparkSession, dir: String): DataFrame = {
    val perSize = Tables.part(spark, dir)
      .groupBy($"p_size")
      .agg(max($"p_retailprice".cast("decimal(18,2)")).as("best_price"),
        count(lit(1)).as("n_parts"))
    perSize
      .withColumn("max_above",
        max($"best_price").over(Window.orderBy($"p_size".desc)
          .rowsBetween(Window.unboundedPreceding, -1)))
      .filter($"max_above".isNull || $"best_price" > $"max_above")
      .select($"p_size", $"best_price".cast("string").as("best_price"),
        $"n_parts")
      .orderBy($"p_size")
  }

  val qSkylineOracle: String =
    """WITH ps AS (SELECT p_size,
        max(p_retailprice::DECIMAL(18,2)) best_price,
        count(*) n_parts
      FROM part GROUP BY p_size),
      sky AS (SELECT *, max(best_price) OVER (ORDER BY p_size DESC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) max_above
        FROM ps)
      SELECT p_size, best_price::VARCHAR AS best_price, n_parts
      FROM sky WHERE max_above IS NULL OR best_price > max_above
      ORDER BY p_size"""

  // ---------- fuzzy entity matching (edit-distance on the dictionary) ----------
  /** Entity-resolution by EDIT DISTANCE — the data-cleaning pass that
    * catches what token/shingle dedup structurally cannot (typo-level
    * variants: `"red bolt"` vs `"red bolts"`). Fuzzy matching never runs
    * on the corpus — the DISTINCT value dictionary collapses first (one
    * combine-fed aggregate, cardinality = |vocabulary|,
    * Heaps-sublinear) — and the dictionary self-comparison is a BLOCKED
    * equi-join, never a cartesian: at 10⁷–10⁸ dictionary entries an
    * all-pairs `a < b` is 10¹⁴⁺ candidates, a scale-killer even though
    * the verify step is cheap per pair.
    *
    * Blocking is PROVABLY COMPLETE for `ed ≤ τ =` [[FuzzyMaxDist]] via
    * the q-gram prefix-filter lemma (Gravano et al. VLDB'01 bound +
    * the PPJoin prefix principle already used in `Dedup.qDedupPpjoin`):
    * each edit destroys at most q gram occurrences, so the DISTINCT
    * 2-gram sets of two strings within distance τ differ by ≤ q·τ per
    * side, i.e. share ≥ max(|Qa|,|Qb|) − q·τ grams — and by the prefix
    * lemma any such pair shares a gram among each side's q·τ+1 = 7
    * RAREST grams (global document-frequency order, rarest first, so
    * the blocking buckets are the emptiest ones available). The only
    * uncovered case — BOTH sides have ≤ q·τ distinct grams — meets in
    * one sentinel bucket (bounded: near-empty on real text). Candidates
    * additionally require |len(a) − len(b)| ≤ τ (length lower-bounds
    * edit distance) before the integer-DP `levenshtein` verify. The
    * oracle stays the naive all-pairs join, so the hash match doubles
    * as an end-to-end completeness proof of the blocking at every SF.
    */
  private val FuzzyMaxDist = 3
  private val FuzzyGramLen = 2
  private val FuzzyPrefix = FuzzyGramLen * FuzzyMaxDist + 1 // q·τ+1 = 7

  /** The blocked edit-distance pipeline over an arbitrary `(p_name, n)`
    * dictionary — extracted so the completeness property spec can drive
    * it on adversarial dictionaries (planted ≤τ-edit variants, strings
    * short enough to need the sentinel bucket). Returns every pair
    * within [[FuzzyMaxDist]] with support counts, unordered.
    */
  private[ops] def fuzzyPairs(names: DataFrame): DataFrame = {
    // distinct 2-grams per dictionary entry (≤ len−1 of them)
    val grams = names.select($"p_name", $"n",
      explode(array_distinct(expr(
        s"transform(sequence(1, greatest(length(p_name) - 1, 1)), " +
          s"i -> substring(p_name, i, $FuzzyGramLen))"))).as("g"))

    // global gram rarity (document frequency over the dictionary): the
    // gram DOMAIN is ≤ alphabet², so this side always broadcasts
    val gramDf = grams.groupBy($"g").agg(count(lit(1)).as("df"))
    val ranked = grams.join(broadcast(gramDf), "g")
      .withColumn("rk", row_number().over(
        Window.partitionBy($"p_name").orderBy($"df", $"g")))

    val prefix = ranked.filter($"rk" <= FuzzyPrefix)
      .select($"p_name", $"n", $"g")
    // names whose distinct-gram set is ≤ q·τ fall outside the lemma's
    // hypothesis when paired with EACH OTHER — route them through a
    // sentinel bucket (mixed short/long pairs are still prefix-covered)
    val short = ranked.groupBy($"p_name", $"n").agg(max($"rk").as("ng"))
      .filter($"ng" <= FuzzyGramLen * FuzzyMaxDist)
      .select($"p_name", $"n", lit("\u0000").as("g"))
    val keyed = prefix.unionByName(short)

    val cand = keyed.toDF("a", "na", "g")
      .join(keyed.toDF("b", "nb", "gb"),
        $"g" === $"gb" && $"a" < $"b" &&
          abs(length($"a") - length($"b")) <= FuzzyMaxDist)
      .select($"a", $"b", $"na", $"nb").distinct()

    cand.withColumn("dist", levenshtein($"a", $"b"))
      .filter($"dist" <= FuzzyMaxDist)
  }

  /** The part-name dictionary (name, support count) — vocabulary-scale,
    * checkpointed once per (session, dir, content) and shared by both
    * fuzzy consumers.
    */
  private[ops] def nameDict(spark: SparkSession, dir: String): DataFrame =
    SessionFixtures.cachedFrame("name_dict", spark, dir)(
      Tables.part(spark, dir)
        .groupBy($"p_name").agg(count(lit(1)).as("n")).stageCheckpoint())

  /** The verified ≤τ-edit pair graph over [[nameDict]] — like the dedup
    * pair table, a persisted pipeline artifact (pair-table-sized) with
    * two registered consumers ([[qFuzzyMatch]], [[qEntityResolve]]),
    * each of which previously re-ran the q-gram blocking + levenshtein
    * verify per invocation.
    */
  private[ops] def fuzzyNamePairs(spark: SparkSession, dir: String): DataFrame =
    SessionFixtures.cachedFrame("fuzzy_name_pairs", spark, dir)(
      fuzzyPairs(nameDict(spark, dir)).stageCheckpoint())

  def qFuzzyMatch(spark: SparkSession, dir: String): DataFrame =
    fuzzyNamePairs(spark, dir)
      .select($"a", $"b", $"dist", $"na", $"nb")
      .orderBy($"dist", $"a", $"b")
      .limit(30)

  val qFuzzyMatchOracle: String =
    s"""WITH names AS (SELECT p_name, count(*)::BIGINT n FROM part
        GROUP BY p_name)
      SELECT a.p_name AS a, b.p_name AS b,
        levenshtein(a.p_name, b.p_name)::INT AS dist,
        a.n AS na, b.n AS nb
      FROM names a JOIN names b ON a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= $FuzzyMaxDist
      ORDER BY dist, a, b LIMIT 30"""

  // ---------- scalar subquery ----------
  def qScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val avgPrice = p.agg(avg($"p_retailprice").as("ap"))
    p.crossJoin(broadcast(avgPrice))
      .filter($"p_retailprice" > $"ap")
      .select($"p_partkey", $"p_name", round($"p_retailprice", 2).as("price"))
      .orderBy($"p_partkey")
  }

  val qScalarSubqueryOracle: String =
    """SELECT p_partkey, p_name, round(p_retailprice, 2) AS price FROM part
      WHERE p_retailprice > (SELECT avg(p_retailprice) FROM part)
      ORDER BY p_partkey"""

  // ---------- case / conditional aggregation ----------
  def qCaseWhen(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .withColumn("bucket",
        when($"o_totalprice" < 50000, "low")
          .when($"o_totalprice" < 150000, "mid")
          .otherwise("high"))
      .groupBy($"o_orderstatus", $"bucket")
      .agg(count(lit(1)).as("n"),
        sum(when($"o_orderpriority" === "1-URGENT", 1).otherwise(0)).as("n_urgent"))
      .orderBy($"o_orderstatus", $"bucket")

  val qCaseWhenOracle: String =
    """SELECT o_orderstatus,
      CASE WHEN o_totalprice < 50000 THEN 'low'
           WHEN o_totalprice < 150000 THEN 'mid'
           ELSE 'high' END AS bucket,
      count(*) AS n,
      sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT AS n_urgent
      FROM orders GROUP BY o_orderstatus, bucket
      ORDER BY o_orderstatus, bucket"""

  // ---------- string functions ----------
  def qStringFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .groupBy($"p_brand")
      .agg(
        count(lit(1)).as("n"),
        round(avg(length($"p_name")), 4).as("avg_name_len"),
        sum(when(upper($"p_type").contains("BRASS"), 1).otherwise(0)).as("n_brass"),
        min(substring($"p_name", 1, 8)).as("first_prefix"))
      .orderBy($"p_brand")

  val qStringFuncsOracle: String =
    """SELECT p_brand, count(*) AS n,
      round(avg(length(p_name)), 4) AS avg_name_len,
      sum(CASE WHEN upper(p_type) LIKE '%BRASS%' THEN 1 ELSE 0 END)::BIGINT AS n_brass,
      min(substr(p_name, 1, 8)) AS first_prefix
      FROM part GROUP BY p_brand ORDER BY p_brand"""

  // ---------- date functions ----------
  def qDateFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(year($"o_orderdate").as("yr"), month($"o_orderdate").as("mo"))
      .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total"),
        min($"o_orderdate").as("first_order"))
      .orderBy($"yr", $"mo")

  val qDateFuncsOracle: String =
    """SELECT year(o_orderdate)::INT AS yr, month(o_orderdate)::INT AS mo,
      count(*) AS n, round(sum(o_totalprice), 2) AS total,
      min(o_orderdate) AS first_order
      FROM orders GROUP BY yr, mo ORDER BY yr, mo"""

  // ---------- having ----------
  def qHaving(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"))
      .filter($"n_orders" >= 15)
      .orderBy($"o_custkey")

  val qHavingOracle: String =
    """SELECT o_custkey, count(*) AS n_orders FROM orders
      GROUP BY o_custkey HAVING count(*) >= 15 ORDER BY o_custkey"""

  // ---------- pivot ----------
  def qPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy($"l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum($"l_quantity"))
      .na.fill(0.0)
      .orderBy($"l_linestatus")

  val qPivotOracle: String =
    """SELECT l_linestatus,
      coalesce(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 0) AS A,
      coalesce(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 0) AS N,
      coalesce(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 0) AS R
      FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus"""

  // ---------- statistical aggregates ----------
  def qStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
        round(expr("percentile(l_quantity, 0.9)"), 4).as("p90_qty"),
        round(stddev_samp($"l_extendedprice"), 4).as("sd_price"),
        round(var_samp($"l_discount"), 6).as("var_disc"),
        round(corr($"l_quantity", $"l_extendedprice"), 6).as("corr_qty_price"))
      .orderBy($"l_returnflag")

  /** Spark `percentile` and DuckDB `quantile_cont` share the (n-1)p linear
    * interpolation definition; moment aggregates are rounded to absorb
    * summation-order ulp differences.
    */
  val qStatsOracle: String =
    """SELECT l_returnflag,
      round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
      round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
      round(stddev_samp(l_extendedprice), 4) AS sd_price,
      round(var_samp(l_discount), 6) AS var_disc,
      round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  // ---------- custom aggregate (typed Aggregator via udaf) ----------
  def qGeomMean(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .groupBy($"p_brand")
      .agg(round(graft.functions.GeomMean.geomMean($"p_retailprice"), 4)
        .as("gm_price"))
      .orderBy($"p_brand")

  val qGeomMeanOracle: String =
    """SELECT p_brand, round(exp(avg(ln(p_retailprice))), 4) AS gm_price
      FROM part WHERE p_retailprice > 0 GROUP BY p_brand ORDER BY p_brand"""

  // ---------- range (non-equi) join ----------
  /** For each signup event: activity by the same user within the following
    * hour. A time-band non-equi join — the pattern behind sessionized
    * attribution at scale (band condition keeps the join from degenerating
    * to a cross product; Spark plans it as a broadcast/BNLJ with the band
    * predicate, and at cluster scale the user_id equi-key carries the
    * shuffle).
    */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val signups = e.filter($"event_type" === "signup")
      .select($"user_id", $"event_id".as("signup_id"), $"ts".as("signup_ts"))
    val acts = e.select($"user_id", $"ts".as("act_ts"), $"event_type")
    signups.join(acts,
        Seq("user_id"))
      .filter($"act_ts" > $"signup_ts" &&
        $"act_ts" <= $"signup_ts" + expr("INTERVAL 1 HOUR"))
      .groupBy($"signup_id", $"user_id")
      .agg(count(lit(1)).as("n_acts"),
        countDistinct($"event_type").as("n_types"))
      .orderBy($"signup_id")
  }

  val qRangeJoinOracle: String =
    """SELECT s.event_id AS signup_id, s.user_id,
      count(*) AS n_acts, count(DISTINCT a.event_type) AS n_types
      FROM events s JOIN events a ON s.user_id = a.user_id
        AND a.ts > s.ts AND a.ts <= s.ts + INTERVAL 1 HOUR
      WHERE s.event_type = 'signup'
      GROUP BY signup_id, s.user_id ORDER BY signup_id"""

  // ---------- salted join (skew-mitigation pattern, result-identical) ----------
  /** Key-salting demo: the build side is replicated `Salt` ways and the
    * probe side's key is salted with a deterministic hash, spreading a hot
    * key over `Salt` reducers. Result is identical to the plain join (the
    * oracle is the plain join) — this query exists to keep the technique
    * exercised and verified; at 100 TB it is the fallback when AQE's
    * skew-join splitting can't help (e.g. skewed build side of a
    * shuffle-hash join).
    */
  def qSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val salt = 4
    val li = Tables.lineitem(spark, dir)
      .withColumn("salt", pmod(xxhash64($"l_linenumber"), lit(salt)).cast("int"))
    val ord = Tables.orders(spark, dir)
      .withColumn("salt", explode(array((0 until salt).map(lit): _*)))
    li.join(ord, li("l_orderkey") === ord("o_orderkey") && li("salt") === ord("salt"))
      .groupBy($"o_orderpriority")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"o_orderpriority")
  }

  val qSaltedJoinOracle: String =
    """SELECT o_orderpriority,
      round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
      count(*) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // ---------- heap-based top-k per key (TypedImperativeAggregate) ----------
  /** Top-3 orders per customer WITHOUT a window sort: the bounded-heap
    * aggregate ([[graft.functions.TopKByScore]]) keeps k entries per group
    * through partial aggregation, so the shuffle carries O(groups × k)
    * instead of every row. Same answer as the row_number window
    * formulation — which is exactly what the oracle runs.
    */
  def qTopkAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumn("price", round($"o_totalprice", 2))
    o.groupBy($"o_custkey")
      .agg(graft.functions.TopKByScore.topKByScore($"price", $"o_orderkey", 3).as("top"))
      .select($"o_custkey", posexplode($"top").as(Seq("i", "e")))
      .select($"o_custkey", ($"i" + 1).cast("int").as("rnk"),
        $"e.id".as("o_orderkey"), $"e.score".as("price"))
      .orderBy($"o_custkey", $"rnk")
  }

  val qTopkAggOracle: String =
    """SELECT o_custkey, rnk, o_orderkey, price FROM (
      SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
        row_number() OVER (PARTITION BY o_custkey
          ORDER BY round(o_totalprice, 2) DESC, o_orderkey ASC)::INT AS rnk
      FROM orders) t WHERE rnk <= 3
      ORDER BY o_custkey, rnk"""

  // ---------- typed Dataset[T] surface ----------
  /** The case-class-typed API (`Dataset[Order]`, `groupByKey`, typed
    * `mapGroups`) over the same data: compile-time field checks where the
    * row shape is static. Output identical to the untyped formulation the
    * oracle runs. mapGroups is deliberate here (not agg): it demonstrates
    * arbitrary per-group JVM logic — min/max/total in one pass.
    */
  def qTypedDataset(spark: SparkSession, dir: String): DataFrame = {
    // col(), not this object's $-interpolator: spark.implicits._ brings its
    // own StringContext $ and the two would be ambiguous
    import spark.implicits.{newProductEncoder, rddToDatasetHolder}
    val ds = Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
      .as[(Long, Double, String)](
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaDouble,
          org.apache.spark.sql.Encoders.STRING))
    implicit val longEnc = org.apache.spark.sql.Encoders.scalaLong
    implicit val outEnc =
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaDouble,
        org.apache.spark.sql.Encoders.scalaLong)
    ds.groupByKey(_._1)
      .mapGroups { (cust, rows) =>
        var n = 0L
        var total = 0.0
        var maxP = Double.MinValue
        var urgent = 0L
        rows.foreach { case (_, price, prio) =>
          n += 1; total += price
          if (price > maxP) maxP = price
          if (prio == "1-URGENT") urgent += 1
        }
        (cust, n, BigDecimal(total).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
          BigDecimal(maxP).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble, urgent)
      }
      .toDF("o_custkey", "n_orders", "total_spent", "max_price", "n_urgent")
      .orderBy(col("o_custkey"))
  }

  val qTypedDatasetOracle: String =
    """SELECT o_custkey, count(*) AS n_orders,
      round(sum(o_totalprice), 2) AS total_spent,
      round(max(o_totalprice), 2) AS max_price,
      sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT
        AS n_urgent
      FROM orders GROUP BY o_custkey ORDER BY o_custkey"""

  // ---------- approximate distinct (sketch surface; rows-only check) ----------
  /** HLL++ approx distinct next to the exact answer with its realized
    * relative error — the sketch surface a 100 TB pipeline uses when exact
    * distinct is too expensive. Sketch estimates are engine-specific, so
    * this query carries no DuckDB oracle (rows-only check); the exact
    * column doubles as an internal consistency anchor.
    */
  /** approx_count_distinct's HLL++ estimate is engine-specific, so the
    * hash-matched surface emits the exact count plus a `within_bound`
    * flag: the estimate (rsd 0.02) must land within 10% of truth — a
    * 5-sigma envelope, deterministic for a given dataset since HLL
    * sketches carry no runtime randomness. The oracle computes the same
    * exact columns with `true`, giving this query a full value-level
    * gate instead of the old rows-only check.
    */
  def qApproxDistinct(spark: SparkSession, dir: String): DataFrame =
    // both aggregates run over the pre-deduplicated (flag, orderkey) set:
    // HLL sketches are duplicate-insensitive, so the estimate is
    // IDENTICAL to approx_count_distinct over the raw rows, and the
    // two-level aggregate (partial-combinable both levels) replaces the
    // Expand plan that countDistinct-next-to-another-agg forces
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag", $"l_orderkey").agg(lit(1))
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("exact_orders"),
        approx_count_distinct($"l_orderkey", 0.02).as("approx_orders"))
      .withColumn("within_bound",
        abs($"approx_orders" - $"exact_orders") /
          $"exact_orders".cast("double") <= 0.1)
      .select($"l_returnflag", $"exact_orders", $"within_bound")
      .orderBy($"l_returnflag")

  val qApproxDistinctOracle: String =
    """SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders,
      true AS within_bound
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  // ---------- SQL surface (spark.sql over registered views) ----------
  def qSqlSurface(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_orders")
    Tables.customer(spark, dir).createOrReplaceTempView("graft_customer")
    spark.sql(
      """SELECT c_mktsegment, count(*) AS n_orders,
        round(avg(o_totalprice), 2) AS avg_price
        FROM graft_orders JOIN graft_customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  }

  val qSqlSurfaceOracle: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      round(avg(o_totalprice), 2) AS avg_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  // ---------- pipe-syntax SQL (Spark 4 |> operators) ----------
  /** Spark 4's PIPE SQL syntax (SPARK-49555) driven end-to-end: the
    * linear `FROM … |> WHERE … |> AGGREGATE … |> ORDER BY` form that
    * reads in execution order — proving the modern surface compiles to
    * the same plan a JDBC consumer would get from classic SQL (the
    * oracle IS that classic form, so the hash match certifies semantic
    * equivalence, with the revenue decimal-exact per the q10
    * discipline). Planwise this is an ordinary filter → partial/final
    * aggregate → sort; the syntax is the feature under test.
    */
  def qSqlPipe(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("graft_orders_pipe")
    spark.sql(
      """FROM graft_orders_pipe
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS STRING)
               AS total_price
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority""")
  }

  val qSqlPipeOracle: String =
    """SELECT o_orderpriority, count(*) AS n_orders,
      sum(o_totalprice::DECIMAL(18,2))::VARCHAR AS total_price
      FROM orders WHERE o_orderstatus = 'O'
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // ---------- LATERAL correlated subquery (top-N per group via join) ----------
  /** The LATERAL top-N-per-group idiom: for every nation, its two
    * highest-balance customers via a correlated `LATERAL (… ORDER BY …
    * LIMIT 2)` subquery — the SQL surface users reach for before they
    * learn window functions, and a real decorrelation workout for
    * Catalyst (the correlated limit must become a per-key rank, not a
    * per-row re-scan). Balances compare as DECIMAL(18,2) so the top-2
    * cut is exact; ties break on the customer key.
    *
    * Scale shape: Catalyst decorrelates to a partitioned rank over the
    * customer side — one nation-keyed exchange, no per-nation re-scan
    * of the fact; the 25-row nation dimension broadcasts.
    */
  def qLateralJoin(spark: SparkSession, dir: String): DataFrame = {
    Tables.nation(spark, dir).createOrReplaceTempView("graft_nation_lat")
    Tables.customer(spark, dir).createOrReplaceTempView("graft_customer_lat")
    spark.sql(
      """SELECT n.n_name, c.c_custkey,
           CAST(c.bal AS STRING) AS acctbal
         FROM graft_nation_lat n
         JOIN LATERAL (
           SELECT c_custkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
           FROM graft_customer_lat
           WHERE c_nationkey = n.n_nationkey
           ORDER BY bal DESC, c_custkey
           LIMIT 2) c
         ORDER BY n.n_name, c.bal DESC, c.c_custkey""")
  }

  val qLateralJoinOracle: String =
    """SELECT n.n_name, c.c_custkey, c.bal::VARCHAR AS acctbal
      FROM nation n
      JOIN LATERAL (
        SELECT c_custkey, c_acctbal::DECIMAL(18,2) AS bal
        FROM customer
        WHERE c_nationkey = n.n_nationkey
        ORDER BY bal DESC, c_custkey
        LIMIT 2) c ON true
      ORDER BY n.n_name, c.bal DESC, c.c_custkey"""

  // ---------- UNPIVOT (wide → long reshape) ----------
  /** The UNPIVOT clause (Spark 3.4+ SQL surface): the four lineitem
    * measures reshape wide → long and aggregate per measure — the melt
    * step of every profiling/reporting pipeline, complementing
    * [[qPivot]]'s long → wide. Measures quantize to exact e2 integers
    * AFTER the reshape so the sums are associative BIGINTs.
    *
    * Scale shape: UNPIVOT is a scan-side Expand (4 output rows per
    * input row, no exchange); the aggregate is one combine-fed
    * 4-group exchange. The fan-out is the reshape's semantics — the
    * plan adds nothing on top.
    */
  def qUnpivot(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_li_unpivot")
    spark.sql(
      """SELECT m, count(*) AS n,
           sum(CAST(round(v * 100) AS BIGINT)) AS sum_e2,
           min(CAST(round(v * 100) AS BIGINT)) AS min_e2,
           max(CAST(round(v * 100) AS BIGINT)) AS max_e2
         FROM (
           SELECT l_quantity AS quantity, l_extendedprice AS price,
                  l_discount AS discount, l_tax AS tax
           FROM graft_li_unpivot)
         UNPIVOT (v FOR m IN (quantity, price, discount, tax))
         GROUP BY m ORDER BY m""")
  }

  val qUnpivotOracle: String =
    """WITH long AS (
        SELECT 'quantity' AS m, l_quantity AS v FROM lineitem
        UNION ALL SELECT 'price', l_extendedprice FROM lineitem
        UNION ALL SELECT 'discount', l_discount FROM lineitem
        UNION ALL SELECT 'tax', l_tax FROM lineitem)
      SELECT m, count(*) AS n,
        sum(round(v * 100)::BIGINT)::BIGINT AS sum_e2,
        min(round(v * 100)::BIGINT) AS min_e2,
        max(round(v * 100)::BIGINT) AS max_e2
      FROM long GROUP BY m ORDER BY m"""

  import org.apache.spark.sql.SparkSession
  private[ops] implicit class Dollar(val sc: StringContext) {
    def $(args: Any*): org.apache.spark.sql.Column = col(sc.s(args: _*))
  }

  // ---------- SQL surface of the graft kernel library ----------
  /** Every custom kernel is registered as a SQL function by
    * [[graft.plans.GraftExtensions]]; this query exercises them from PURE
    * SQL (no Scala Column API) against a DuckDB reimplementation of the
    * same semantics — proving the library is fully reachable for
    * SQL-only/JDBC consumers.
    */
  def qSqlKernels(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir).createOrReplaceTempView("docs_sqlk")
    // REPARTITION hint in the INNER block: documents is a single parquet
    // file (one input partition) and this query is per-doc kernel-heavy.
    // The hint used to sit on the OUTER select, which planned its
    // exchange ABOVE the kernel projection — Scan→Filter→Project(all
    // kernels)→Exchange — so the kernels still ran as ONE task and the
    // repartition redistributed finished rows (graft.obs.Probe, r18: a
    // 1.06 s single-task stage feeding a 32-task sort). Hinting the subquery
    // puts the exchange between the filter and the kernels, which is
    // what the hint was always meant to buy.
    spark.sql(s"""
      SELECT
        doc_id,
        size(word_shingles(text, 3)) AS n_shingles,
        size(char_grams(text, 5)) AS n_grams,
        rolling_hash(text) AS roll_fp,
        round(array_jaccard(word_shingles(text, 3),
                            word_shingles(lower(text), 3)), 6) AS case_jac,
        image_width(png_encode_gray(CAST(8 + doc_id % 9 AS INT), 8, doc_id))
          AS png_w,
        round(png_brightness(
          png_encode_gray(CAST(8 + doc_id % 9 AS INT), 8, doc_id)), 4)
          AS png_bright
      FROM (
        SELECT /*+ REPARTITION(${spark.sparkContext.defaultParallelism}) */
          doc_id, text
        FROM docs_sqlk
        WHERE size(split(text, ' ', -1)) >= 3)
      ORDER BY doc_id""")
  }

  val qSqlKernelsOracle: String =
    """WITH d AS (SELECT doc_id, text, string_split(text, ' ') ws
        FROM documents WHERE len(string_split(text, ' ')) >= 3),
      sh AS (SELECT doc_id, text,
        list_distinct([ws[i]||' '||ws[i+1]||' '||ws[i+2]
          for i in range(1, len(ws)-1)]) s1,
        list_distinct([lws[i]||' '||lws[i+1]||' '||lws[i+2]
          for i in range(1, len(lws)-1)]) s2
        FROM (SELECT doc_id, text, ws, string_split(lower(text), ' ') lws FROM d)),
      j AS (SELECT doc_id, text, len(s1) n_shingles,
        len(list_filter(s1, x -> list_contains(s2, x))) i,
        len(s1) + len(s2) AS ab FROM sh)
      SELECT doc_id, n_shingles,
        len(list_distinct(CASE WHEN len(text) < 5 THEN []::VARCHAR[]
          ELSE [substr(text, i, 5) for i in range(1, len(text) - 3)] END))
          AS n_grams,
        list_reduce(list_transform(string_split(text, ''), c -> ascii(c)::BIGINT),
          (h, c) -> (h * 31 + c) % 1000000007) AS roll_fp,
        round(i * 1.0 / (ab - i), 6) AS case_jac,
        (8 + doc_id % 9)::INT AS png_w,
        round(list_sum(flatten([[ (7 * x + 13 * y + doc_id) % 256
            for x in range(0, (8 + doc_id % 9)::INT)] for y in range(0, 8)]))
          ::DOUBLE / ((8 + doc_id % 9) * 8), 4) AS png_bright
      FROM j ORDER BY doc_id"""

  // ---------- grouping sets (arbitrary set list beyond rollup/cube) ----------
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_returnflag"),
          Seq($"l_linestatus"), Seq.empty),
        $"l_returnflag", $"l_linestatus")
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        round(sum($"l_extendedprice"), 2).as("sum_price"))
      .orderBy($"gid", $"l_returnflag".asc_nulls_first,
        $"l_linestatus".asc_nulls_first)

  /** grouping_id(): both engines use the SQL-standard bit vector
    * (1 = column aggregated away), so gid values compare directly.
    */
  val qGroupingSetsOracle: String =
    """SELECT l_returnflag, l_linestatus,
      GROUPING(l_returnflag, l_linestatus)::BIGINT AS gid,
      count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        (l_returnflag), (l_linestatus), ())
      ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""

  // ---------- RANGE-frame window (value-based frame, not row-based) ----------
  /** Frame contents depend only on the ORDER value, so peers (equal
    * quantity) share results; the output is the DISTINCT per-(flag,
    * quantity) frame aggregate — deterministic without a unique row key.
    * Quantities are integral doubles, so the in-frame sums are exact and
    * need no rounding.
    */
  def qWindowRange(spark: SparkSession, dir: String): DataFrame = {
    // pre-aggregate to one weighted row per (flag, quantity) BEFORE the
    // window: the RANGE frame depends only on the order value, so the
    // window runs over ~50 rows per flag (with counts as weights) instead
    // of sorting the full fact table inside each partition — same result,
    // and the expensive sort shrinks by the dedup factor (~4000x here)
    val g = Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag", $"l_quantity")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy($"l_returnflag").orderBy($"l_quantity")
      .rangeBetween(-5, Window.currentRow)
    g.withColumn("range_n", sum($"cnt").over(w))
      .withColumn("range_qty", sum($"l_quantity" * $"cnt").over(w))
      .select($"l_returnflag", $"l_quantity", $"range_n", $"range_qty")
      .orderBy($"l_returnflag", $"l_quantity")
  }

  val qWindowRangeOracle: String =
    """SELECT DISTINCT l_returnflag, l_quantity,
      count(*) OVER w AS range_n,
      sum(l_quantity) OVER w AS range_qty
      FROM lineitem
      WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity
        RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
      ORDER BY l_returnflag, l_quantity"""

  // ---------- exact percentiles ----------
  /** Exact interpolated percentiles per group WITHOUT a per-group total
    * order. The r6 spelling ranked every row with `row_number` over
    * `Window.partitionBy(l_returnflag)` — with 3 distinct flags that is 3
    * tasks each sorting n/3 rows, the suite's clearest single-task
    * bottleneck at 100×. This plan finds the ≤ 2 bracketing ORDER
    * STATISTICS per target rank by value-bucketed rank location instead,
    * in exactly TWO fact scans and zero fact-wide sorts:
    *
    *  1. a monotone scan-side bucket id (`floor(512·ln v)` — needs no
    *     min/max pre-pass) feeds a per-(group, bucket) count; running-sum
    *     + total windows over that BUCKET AGGREGATE (≤ ~2400 rows per
    *     group — dimension-scale, never the fact) locate which bucket
    *     holds each target rank `floor/ceil((n-1)·q)`;
    *  2. only rows in located buckets survive an inner broadcast join
    *     (≤ 8 buckets per group, expected n/B rows each), get bucket-local
    *     `row_number` (small sorted partitions, parallel across buckets),
    *     and the rows whose global rank = bucket cum-count + local rank
    *     is a target are picked;
    *  3. one conditional aggregate interpolates — identical rank math and
    *     FP order as before, so the oracle is unchanged.
    *
    * Equal values share a bucket, so bucket-local ranking reproduces
    * global order statistics exactly regardless of tie order. Log-value
    * buckets can skew (worst case: one bucket holds everything and
    * degrades to the old per-group sort); at 100 TB seed equi-depth
    * boundaries with `approx_quantile` instead — the refinement stays
    * exact either way. Spark's exact `percentile` aggregate is still
    * worse: it buffers every (value → count) per group into one in-memory
    * map merged single-threaded per group (measured 4.7 s at sf0.1, OOMs
    * long before 100 TB). DuckDB's `quantile_cont` does the same linear
    * interpolation, so the oracle is exact at 2 dp.
    */
  def qPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val qs = Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75", 0.95 -> "p95")
    // monotone scan-side bucket id — no min/max pre-pass needed: for
    // positive values floor(512·ln v) is order-preserving with ~512
    // buckets per e-fold (≈ 2400 over lineitem's price range); all values
    // ≤ 1e-300 (incl. would-be-NaN inputs) collapse into the single lowest
    // bucket, which stays monotone and is resolved by the in-bucket sort
    val bucket = floor(log(greatest(col("l_extendedprice"), lit(1e-300))) * 512)
    val base = Tables.table(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"), bucket.as("b"))

    // pass 1: per-(group, bucket) counts; the running sum + group total are
    // windows over the BUCKET AGGREGATE (≤ ~2400 rows per group —
    // dimension-scale, never the fact)
    val wb = Window.partitionBy(col("l_returnflag")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wg = Window.partitionBy(col("l_returnflag"))
    val cum = base.groupBy(col("l_returnflag"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum_before", sum(col("cnt")).over(wb) - col("cnt"))
      .withColumn("n", sum(col("cnt")).over(wg).cast("double"))

    // explode each bucket row into the 8 target ranks floor/ceil((n-1)·q)
    // and keep the (bucket, rank) pairs where the rank falls inside the
    // bucket's [cum_before, cum_before+cnt) range — no self-join, the
    // bucket aggregate is read once
    val located = cum
      .withColumn("rank", explode(array(qs.flatMap { case (q, _) =>
        val t = (col("n") - 1) * q
        Seq(floor(t).cast("long"), ceil(t).cast("long"))
      }: _*)))
      .filter(col("rank") >= col("cum_before") &&
        col("rank") < col("cum_before") + col("cnt"))
      .groupBy(col("l_returnflag"), col("b"), col("cum_before"), col("n"))
      .agg(collect_set(col("rank")).as("ranks"))

    // pass 2: the inner broadcast join keeps only rows in located buckets
    // (≤ 8 buckets per group, expected n/B rows each); bucket-local
    // row_number sorts those small partitions in parallel, and the row
    // whose global rank (cum_before + local) is a target survives
    val wl = Window.partitionBy(col("l_returnflag"), col("b"))
      .orderBy(col("l_extendedprice"))
    val picked = base
      .join(broadcast(located), Seq("l_returnflag", "b"))
      .withColumn("local", row_number().over(wl).cast("long") - 1)
      .filter(array_contains(col("ranks"), col("cum_before") + col("local")))
      .select(col("l_returnflag"),
        (col("cum_before") + col("local")).cast("double").as("i"),
        col("l_extendedprice"), col("n"))

    // interpolate — identical FP expression (and order) as the oracle
    val interp = qs.map { case (q, name) =>
      val t = (col("n") - 1) * q
      val lo = max(when(col("i") === floor(t), col("l_extendedprice")))
      val hi = max(when(col("i") === ceil(t), col("l_extendedprice")))
      // round-to-cents as round(v*100)/100 — NOT round(v, 2): Spark rounds
      // the double's DECIMAL string (BigDecimal.valueOf) while DuckDB
      // rounds the scaled BINARY (std::round(v*100)/100), and an
      // interpolated v of ...2449999995 whose v*100 is exactly ...24.5
      // flips a cent between the two. Scaling explicitly makes both
      // engines round the identical scaled double, which they treat the
      // same way in every case (half-away at exact .5, down below it).
      (round((lo + (hi - lo) * (first(t) - floor(first(t)))) * 100, 0) / 100)
        .as(name)
    }
    val aggs = interp :+ first(col("n")).cast("long").as("n")
    picked
      .groupBy(col("l_returnflag"))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col("l_returnflag"))
  }

  /** The oracle mirrors the rank-math interpolation TERM FOR TERM
    * (`lo + (hi - lo) * (t - floor(t))`, `t = (n-1)·q`, all double)
    * rather than calling DuckDB's `quantile_cont`: the two formulas are
    * algebraically equal but not FP-equal (quantile_cont interpolates in
    * its own operation order), and at sf0.001 a p50 landed exactly on a
    * half-cent rounding boundary — one ULP flipped the 2-dp output.
    * Identical formula + identical order = bit-identical doubles.
    */
  val qPercentilesOracle: String = {
    val qs = Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75", 0.95 -> "p95")
    val aggs = qs.map { case (q, name) =>
      s"""max(CASE WHEN i = floor((n - 1) * $q) THEN l_extendedprice END) AS lo_$name,
        max(CASE WHEN i = ceil((n - 1) * $q) THEN l_extendedprice END) AS hi_$name,
        max((n - 1) * $q - floor((n - 1) * $q)) AS f_$name"""
    }.mkString(",\n        ")
    val outs = qs.map { case (_, name) =>
      s"round((lo_$name + (hi_$name - lo_$name) * f_$name) * 100) / 100 AS $name"
    }.mkString(",\n        ")
    s"""WITH r AS (SELECT l_returnflag, l_extendedprice,
        (row_number() OVER (PARTITION BY l_returnflag
           ORDER BY l_extendedprice) - 1)::DOUBLE AS i,
        (count(*) OVER (PARTITION BY l_returnflag))::DOUBLE AS n
        FROM lineitem),
      g AS (SELECT l_returnflag,
        $aggs,
        max(n)::BIGINT AS n_rows
        FROM r GROUP BY l_returnflag)
      SELECT l_returnflag,
        $outs,
        n_rows AS n
      FROM g ORDER BY l_returnflag"""
  }

  // ---------- mergeable histogram quantiles ----------
  /** Approximate quantiles with a GUARANTEED resolution bound via a
    * fixed-grid histogram — the sketch you actually run at 100 TB for
    * monitoring and data-quality gates, where `q_percentiles`' exact
    * order statistics are overkill. State is one integer count per
    * occupied bin (O(range/step), here ≤ ~1800), merges are plain
    * integer sums — associative and commutative, so the result is
    * deterministic under ANY executor/merge order. That determinism is
    * the design point: GK and t-digest sketches give tighter bounds but
    * their outputs depend on merge order, which this engine's hash-exact
    * oracle contract (and any reproducible pipeline) refuses.
    *
    * Bin = floor(value / 64): a power-of-two step, so the division is
    * EXACT in IEEE doubles and the bin id is engine-identical for
    * identical inputs. Emitted per (group, quantile): the bracketing
    * [lo, hi) value bounds, hi - lo = 64 the certified worst-case error.
    * `OpsSpec` asserts the exact percentile falls inside every emitted
    * bracket.
    *
    * Scale shape: the fact pays ONE shuffle, keyed (group, bin), with
    * map-side combine; the cumulative/total windows run over the bucket
    * AGGREGATE (dimension-scale, partitioned by group — never a global
    * window); quantile selection is a filter + min over those same rows.
    */
  def qQuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    val bins = Tables.table(spark, dir, "lineitem")
      .select(col("l_returnflag"),
        floor(col("l_extendedprice") / lit(64.0)).cast("long").as("bin"))
      .groupBy(col("l_returnflag"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
    val wb = Window.partitionBy(col("l_returnflag")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wg = Window.partitionBy(col("l_returnflag"))
    bins
      .withColumn("cum", sum(col("cnt")).over(wb))
      .withColumn("total", sum(col("cnt")).over(wg))
      .withColumn("quantile",
        explode(array(lit(0.5), lit(0.9), lit(0.99))))
      .filter(col("cum") >= ceil(col("quantile") * col("total")))
      .groupBy(col("l_returnflag"), col("quantile"))
      .agg(min(col("bin")).as("qbin"))
      .select(col("l_returnflag"), col("quantile"),
        (col("qbin") * 64).as("lo"), ((col("qbin") + 1) * 64).as("hi"))
      .orderBy(col("l_returnflag"), col("quantile"))
  }

  val qQuantileSketchOracle: String =
    """WITH b AS (SELECT l_returnflag,
        floor(l_extendedprice / 64)::BIGINT bin, count(*) cnt
        FROM lineitem GROUP BY 1, 2),
      c AS (SELECT l_returnflag, bin,
          sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) cum,
          sum(cnt) OVER (PARTITION BY l_returnflag) total FROM b),
      q AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) quantile),
      sel AS (SELECT l_returnflag, quantile, min(bin) qbin
        FROM c, q WHERE cum >= ceil(quantile * total) GROUP BY 1, 2)
      SELECT l_returnflag, quantile, qbin * 64 lo, (qbin + 1) * 64 hi
      FROM sel ORDER BY l_returnflag, quantile"""

  // ---------- distribution window functions ----------
  /** percent_rank / cume_dist / ntile over a total per-partition order
    * (tie-broken by key, so every function is deterministic), folded to a
    * per-decile summary. One shuffle on the window partition key; the
    * decile report reuses the same partitioning.
    */
  def qWindowDist(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    Tables.table(spark, dir, "customer")
      .select(col("c_mktsegment"), col("c_acctbal"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        ntile(10).over(w).as("decile"))
      .groupBy(col("c_mktsegment"), col("decile"))
      .agg(count(lit(1)).as("n"),
        round(min(col("pr")), 6).as("min_pr"),
        round(max(col("cd")), 6).as("max_cd"),
        round(min(col("c_acctbal")), 2).as("lo_bal"),
        round(max(col("c_acctbal")), 2).as("hi_bal"))
      .orderBy(col("c_mktsegment"), col("decile"))
  }

  val qWindowDistOracle: String =
    """WITH t AS (SELECT c_mktsegment, c_acctbal,
        percent_rank() OVER w AS pr, cume_dist() OVER w AS cd,
        ntile(10) OVER w AS decile
      FROM customer
      WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey))
      SELECT c_mktsegment, decile, count(*) AS n,
        round(min(pr), 6) AS min_pr, round(max(cd), 6) AS max_cd,
        round(min(c_acctbal), 2) AS lo_bal, round(max(c_acctbal), 2) AS hi_bal
      FROM t GROUP BY c_mktsegment, decile ORDER BY c_mktsegment, decile"""

  // ---------- correlated EXISTS / NOT EXISTS ----------
  /** Correlated existential subqueries: customers with at least one
    * urgent order and no large finished order. Catalyst decorrelates
    * both into joins (semi + anti) on `o_custkey` — no per-row subquery
    * execution, one shuffle per probe side.
    */
  def qExistsSubquery(spark: SparkSession, dir: String): DataFrame = {
    Tables.table(spark, dir, "customer").createOrReplaceTempView("cust_ex")
    Tables.table(spark, dir, "orders").createOrReplaceTempView("ord_ex")
    spark.sql("""
      SELECT c_mktsegment, count(*) AS n_cust
      FROM cust_ex c
      WHERE EXISTS (SELECT 1 FROM ord_ex o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT')
        AND NOT EXISTS (SELECT 1 FROM ord_ex o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderstatus = 'F' AND o.o_totalprice > 200000)
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  }

  val qExistsSubqueryOracle: String =
    """SELECT c_mktsegment, count(*) AS n_cust
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT')
        AND NOT EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderstatus = 'F' AND o.o_totalprice > 200000)
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""

  // ---------- bloom-reduced shuffle join (runtime-filter shape) ----------
  /** Bloom parameters for the join runtime filter: 2^20 bits = 128 KB of
    * broadcast for ~40× fewer bits set than slots even at sf1 build-side
    * cardinality, k = 5 probes. Hashing is `xxhash64` double hashing
    * (h1, then an odd-forced reseeded h2, Kirsch–Mitzenmacher slots) —
    * NOT the md5/`conv` chain the dedup-gate family uses: that chain
    * exists so a SQL oracle can reproduce the filter bit-for-bit, which
    * this query never needs (the bloom is semantically transparent — the
    * oracle is the plain join), and `conv` routes through BigInteger at
    * ~8 µs/row, which at fact-table row counts would cost more than the
    * shuffle it saves. xxhash64 is codegen'd and long-native; the filter
    * stays fully deterministic.
    */
  private val JoinBloomM = 1 << 20
  private val JoinBloomK = 5

  private def joinBloomPositions(item: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    // both hashes reduced into [0, m) BEFORE the affine combination so the
    // k-step arithmetic stays far from Long range (ANSI overflow-safe);
    // h2 forced odd → coprime with the power-of-two m, all slots reachable
    val h1 = pmod(xxhash64(item), lit(JoinBloomM.toLong))
    val h2 = pmod(xxhash64(item, lit(0x9e3779b9L)),
      lit(JoinBloomM.toLong / 2)) * 2 + 1
    transform(sequence(lit(0), lit(JoinBloomK - 1)),
      i => pmod(h1 + i * h2, lit(JoinBloomM.toLong)))
  }

  /** Fact-fact join behind a deterministic bloom RUNTIME FILTER: the
    * build side's join keys are OR-reduced into one m-bit bitmap in a
    * single distributed pass ([[graft.functions.BloomBitsAgg]] —
    * map-side partial bitmaps, the exchange carries O(tasks · m/8)
    * bytes regardless of input size), the 128 KB word array broadcasts,
    * and the probe runs SCAN-SIDE on the fact so non-matching rows die
    * before the join exchange. This is the reduction for the case
    * broadcast-join can't cover at 100 TB: a build side too big to ship
    * as ROWS whose bloom is still tiny. The real join still runs
    * (pinned shuffle-hash, not broadcast — that is the scenario being
    * modeled), so bloom false positives only waste shuffle bytes and
    * the result stays exact: the oracle is the plain SQL join with no
    * bloom anywhere.
    *
    * PlanAudit pins the contract: the bitmap probe (`forall` over bit
    * tests) sits BELOW the fact-side exchange, and the join is a
    * ShuffledHashJoin.
    */
  def qJoinBloom(spark: SparkSession, dir: String): DataFrame = {
    val urgent = Tables.orders(spark, dir)
      .filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderkey", $"o_orderdate")
    val bitmap = urgent.agg(graft.functions.BloomBitsAgg
      .bloomBits(joinBloomPositions($"o_orderkey"), JoinBloomM)
      .as("bitmap"))
    // probe inlined as k scalar conjuncts (no per-row position array):
    // h1/h2 are computed once into columns, each slot is an affine form,
    // and the whole test stays in one codegen stage with short-circuit
    // evaluation on the first clear bit
    val slotTests = (0 until JoinBloomK).map { i =>
      expr(s"(bitmap[CAST(pmod(bh1 + $i * bh2, ${JoinBloomM}L) DIV 64 AS INT)]" +
        s" & shiftleft(1L, CAST(pmod(bh1 + $i * bh2, ${JoinBloomM}L) % 64 AS INT))) != 0")
    }.reduce(_ && _)
    val probed = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
      .crossJoin(broadcast(bitmap))
      .withColumn("bh1", pmod(xxhash64($"l_orderkey"), lit(JoinBloomM.toLong)))
      .withColumn("bh2", pmod(xxhash64($"l_orderkey", lit(0x9e3779b9L)),
        lit(JoinBloomM.toLong / 2)) * 2 + 1)
      .filter(slotTests)
      .drop("bh1", "bh2", "bitmap")
    // Revenue as an EXACT decimal sum, not round(sum(double), 2): the
    // sf0.01 group (1999, 5) sums to 7634437.805000002 — exactly on a
    // half-cent boundary, where double fold ORDER decides the rounded
    // cent and Spark vs DuckDB flip (r8's only red row). Price and
    // discount are 2-dp values stored as doubles; casting each operand
    // to DECIMAL recovers them exactly and makes the sum associative —
    // identical on both engines regardless of aggregation order. Same
    // treatment as q10 (SURVEY §12); emitted as string per the gate's
    // decimal convention.
    // hash table builds on the URGENT side (the hint goes there): even
    // after the bloom, matching lineitems are ~4x the urgent-order rows,
    // so building on the probe side would inflate build memory for nothing
    probed.join(urgent.hint("shuffle_hash"), $"l_orderkey" === $"o_orderkey")
      .groupBy(year($"o_orderdate").as("yr"), month($"o_orderdate").as("mo"))
      .agg(sum($"l_extendedprice".cast("decimal(18,2)") *
          (lit(1).cast("decimal(3,2)") - $"l_discount".cast("decimal(18,2)")))
          .cast("string").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"yr", $"mo")
  }

  val qJoinBloomOracle: String =
    """SELECT year(o_orderdate)::INT AS yr, month(o_orderdate)::INT AS mo,
      sum(l_extendedprice::DECIMAL(18,2)
        * (1 - l_discount::DECIMAL(18,2)))::VARCHAR AS revenue,
      count(*) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority = '1-URGENT'
      GROUP BY yr, mo ORDER BY yr, mo"""

  val registry: Seq[GraftQuery] = Seq(
    GraftQuery("q_join_bloom", qJoinBloom, qJoinBloomOracle),
    GraftQuery("q_window_firstlast", qWindowFirstLast, qWindowFirstLastOracle),
    GraftQuery("q_join_broadcast", qJoinBroadcast, qJoinBroadcastOracle),
    GraftQuery("q_join_bucketed", qJoinBucketed, qJoinBucketedOracle),
    GraftQuery("q_semi_join", qSemiJoin, qSemiJoinOracle),
    GraftQuery("q_anti_join", qAntiJoin, qAntiJoinOracle),
    GraftQuery("q_outer_join_agg", qOuterJoinAgg, qOuterJoinAggOracle),
    GraftQuery("q_window_rank", qWindowRank, qWindowRankOracle),
    GraftQuery("q_window_running", qWindowRunning, qWindowRunningOracle),
    GraftQuery("q_window_lag", qWindowLag, qWindowLagOracle),
    GraftQuery("q_window_distinct", qWindowDistinct, qWindowDistinctOracle),
    GraftQuery("q_rollup", qRollup, qRollupOracle),
    GraftQuery("q_cube", qCube, qCubeOracle),
    GraftQuery("q_set_ops", qSetOps, qSetOpsOracle),
    GraftQuery("q_distinct_agg", qDistinctAgg, qDistinctAggOracle),
    GraftQuery("q_stats_corr", qStatsCorr, qStatsCorrOracle),
    GraftQuery("q_sql_pipe", qSqlPipe, qSqlPipeOracle),
    GraftQuery("q_lateral_join", qLateralJoin, qLateralJoinOracle),
    GraftQuery("q_unpivot", qUnpivot, qUnpivotOracle),
    GraftQuery("q_skyline", qSkyline, qSkylineOracle),
    GraftQuery("q_fuzzy_match", qFuzzyMatch, qFuzzyMatchOracle),
    GraftQuery("q_scalar_subquery", qScalarSubquery, qScalarSubqueryOracle),
    GraftQuery("q_case_when", qCaseWhen, qCaseWhenOracle),
    GraftQuery("q_string_funcs", qStringFuncs, qStringFuncsOracle),
    GraftQuery("q_date_funcs", qDateFuncs, qDateFuncsOracle),
    GraftQuery("q_having", qHaving, qHavingOracle),
    GraftQuery("q_pivot", qPivot, qPivotOracle),
    GraftQuery("q_stats", qStats, qStatsOracle),
    GraftQuery("q_geom_mean", qGeomMean, qGeomMeanOracle),
    GraftQuery("q_range_join", qRangeJoin, qRangeJoinOracle),
    GraftQuery("q_salted_join", qSaltedJoin, qSaltedJoinOracle),
    GraftQuery("q_topk_agg", qTopkAgg, qTopkAggOracle),
    GraftQuery("q_typed_dataset", qTypedDataset, qTypedDatasetOracle),
    GraftQuery("q_approx_distinct", qApproxDistinct, qApproxDistinctOracle),
    GraftQuery("q_sql_surface", qSqlSurface, qSqlSurfaceOracle),
    GraftQuery("q_grouping_sets", qGroupingSets, qGroupingSetsOracle),
    GraftQuery("q_window_range", qWindowRange, qWindowRangeOracle),
    GraftQuery("q_sql_kernels", qSqlKernels, qSqlKernelsOracle),
    GraftQuery("q_percentiles", qPercentiles, qPercentilesOracle),
    GraftQuery("q_quantile_sketch", qQuantileSketch, qQuantileSketchOracle),
    GraftQuery("q_window_dist", qWindowDist, qWindowDistOracle),
    GraftQuery("q_exists_subquery", qExistsSubquery, qExistsSubqueryOracle),
  )
}
