package graft.ops

import Checkpoints._

import Relational.Dollar

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftQuery

/** The TPC-H-shaped analytic queries (q01-q22 adaptations over the test
  * tables), split out of [[Relational]] along the family seam (round 16,
  * zero behavior change). Same conventions as [[Relational]]: identical
  * aliases on both engine sides, rounded double aggregates, total
  * deterministic ORDER BYs; dimension joins broadcast, group-bys
  * partial-aggregated map-side, top-k via TakeOrderedAndProject.
  */
object RelationalTpch {

  // ---------- q01: pricing summary (scan → partial agg → final agg) ----------
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum($"l_quantity").as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_base_price"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("sum_disc_price"),
        round(avg($"l_quantity"), 4).as("avg_qty"),
        round(avg($"l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")

  val q01Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      sum(l_quantity) AS sum_qty,
      round(sum(l_extendedprice), 2) AS sum_base_price,
      round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
      round(avg(l_quantity), 4) AS avg_qty,
      round(avg(l_discount), 4) AS avg_disc,
      count(*) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""

  // ---------- q02: global top-k with tie-break (TakeOrderedAndProject) ----------
  def q02TopkOrders(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey", round($"o_totalprice", 2).as("price"),
        $"o_orderdate")
      .orderBy($"price".desc, $"o_orderkey".asc)
      .limit(20)

  val q02Oracle: String =
    """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price, o_orderdate
      FROM orders ORDER BY price DESC, o_orderkey ASC LIMIT 20"""

  // ---------- q03: selective join + agg + top-k ----------
  def q03ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).filter($"c_mktsegment" === "BUILDING")
    val ord = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy($"o_orderkey", $"o_orderdate")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"))
      .orderBy($"revenue".desc, $"o_orderkey".asc)
      .limit(10)
  }

  val q03Oracle: String =
    """SELECT o_orderkey, o_orderdate,
      round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY o_orderkey, o_orderdate
      ORDER BY revenue DESC, o_orderkey ASC LIMIT 10"""

  // ---------- q05: multi-way join through the star schema ----------
  def q05LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(spark, dir)
    val n = Tables.nation(spark, dir)
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(s), l("l_suppkey") === s("s_suppkey") &&
        c("c_nationkey") === s("s_nationkey"))
      .join(broadcast(n), s("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy($"n_name")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"))
      .orderBy($"n_name")
  }

  val q05Oracle: String =
    """SELECT n_name,
      round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY n_name ORDER BY n_name"""

  // ---------- q06: pure scan + filter + agg (full pushdown showcase) ----------
  /** TPC-H Q6 shape: a single selective scan with every predicate pushed
    * to the parquet reader (shipdate band, discount band, quantity cap)
    * and a two-column ReadSchema — the query whose plan proves the
    * scan-side machinery (PushedFilters + column pruning) is working.
    * At 100 TB the date band additionally prunes partitions when the
    * table is date-partitioned; no shuffle at all (partial + final agg
    * over a single global group).
    */
  def q06ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1997-01-01").cast("timestamp") &&
        $"l_discount".between(0.02, 0.04) && $"l_quantity" < 24)
      .agg(round(sum($"l_extendedprice" * $"l_discount"), 2).as("revenue"),
        count(lit(1)).as("n_items"))

  val q06Oracle: String =
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
      count(*) AS n_items
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24"""

  // ---------- q04: correlated EXISTS with a date window ----------
  /** TPC-H Q4 shape: priority distribution of orders in a date window that
    * have at least one late line item. The correlated EXISTS becomes a
    * LEFT SEMI join — Spark dedups order keys inside the join instead of
    * materializing the multiplied order×lineitem rows, and the EXISTS
    * predicate (shipped > 60 days after the order date, this schema's
    * stand-in for Q4's `l_commitdate < l_receiptdate`) rides the join
    * condition. At scale both sides shuffle once on orderkey; the date
    * window prunes the orders scan before the shuffle, and the aggregate
    * is 5 groups — the semi join is the whole query.
    */
  def q04OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1996-07-01").cast("timestamp"))
    val l = Tables.lineitem(spark, dir)
    o.join(l,
        o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAY"),
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }

  val q04Oracle: String =
    """SELECT o_orderpriority, count(*) AS order_count
      FROM orders o
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1996-07-01'
        AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // ---------- q12: fact-to-fact join + CASE aggregate ----------
  /** TPC-H Q12 shape: line items in a ship-date year joined to their
    * orders, classified into high/low priority CASE counts per class
    * column (this schema has no `l_shipmode`; `l_returnflag` plays the
    * class role). The join is fact-to-fact — orders is NOT broadcast at
    * 100 TB — so the right plan is a single shuffle on orderkey with the
    * date filter pushed to the lineitem scan and orders pruned to
    * (orderkey, priority) before the exchange; the CASE aggregation is
    * map-side partial over 3 groups.
    */
  def q12PriorityClass(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1997-01-01").cast("timestamp"))
    val o = Tables.orders(spark, dir).select($"o_orderkey", $"o_orderpriority")
    val high = $"o_orderpriority".isin("1-URGENT", "2-HIGH")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy($"l_returnflag")
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy($"l_returnflag")
  }

  val q12Oracle: String =
    """SELECT l_returnflag,
      sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
      sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
          THEN 0 ELSE 1 END)::BIGINT AS low_line_count
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_returnflag ORDER BY l_returnflag"""

  // ---------- q14: conditional ratio aggregate over a part join ----------
  /** TPC-H Q14 shape: the share of revenue from promo parts in one ship
    * month — a conditional-sum / total-sum ratio over lineitem⋈part.
    * Both sums come out of ONE aggregate pass (the CASE rides the same
    * partial aggregation; no second join or self-join for the
    * denominator), and the ratio is derived from the ROUNDED sums so the
    * two engines divide hash-identical inputs instead of racing summation
    * order in the 4th decimal. part is broadcast by size at test scale
    * but grows with the corpus — the query forces neither join strategy,
    * so AQE's size decision stands at 100 TB.
    */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1996-03-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
    val p = Tables.part(spark, dir).select($"p_partkey", $"p_type")
    val rev = $"l_extendedprice" * (lit(1.0) - $"l_discount")
    l.join(p, l("l_partkey") === p("p_partkey"))
      .agg(
        round(sum(when($"p_type" === "PROMO", rev).otherwise(0.0)), 2)
          .as("promo_revenue"),
        round(sum(rev), 2).as("total_revenue"))
      .select($"promo_revenue", $"total_revenue",
        round($"promo_revenue" * 100.0 / $"total_revenue", 4).as("promo_pct"))
  }

  val q14Oracle: String =
    """WITH t AS (SELECT
        round(sum(CASE WHEN p_type = 'PROMO'
          THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END), 2)
          AS promo_revenue,
        round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS total_revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-03-01'
        AND l_shipdate < TIMESTAMP '1996-04-01')
      SELECT promo_revenue, total_revenue,
        round(promo_revenue * 100.0 / total_revenue, 4) AS promo_pct
      FROM t"""

  // ---------- q10: returned-item reporting (4-way join + group + top-k) ----------
  /** TPC-H Q10 shape: revenue lost to returned items per customer in a
    * quarter, top 20 customers. Both selective predicates are pushed to
    * their scans (returnflag on lineitem, the date window on orders)
    * BEFORE the fact-fact join; customer joins by size (broadcast at
    * test scale, shuffle at corpus scale — unforced); nation is a true
    * fixed-size dimension and is broadcast explicitly. The top-20 runs
    * as TakeOrderedAndProject on the rounded revenue with custkey
    * tiebreak, so the LIMIT boundary is deterministic on both engines.
    */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
        $"o_orderdate" < lit("1996-04-01").cast("timestamp"))
    val l = Tables.lineitem(spark, dir).filter($"l_returnflag" === "R")
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    // Revenue in EXACT decimal, not rounded double: a double sum is
    // order-dependent in its last ULP, and at sf0.01 this query's top
    // customer landed within an ULP of a cent boundary — Spark and DuckDB
    // rounded opposite ways. Price and discount are 2-dp values stored as
    // doubles, so casting each to DECIMAL recovers the exact operand and
    // the sum becomes associative: identical on both engines regardless
    // of aggregation order. Emitted as a string (the gate's decimal
    // convention); ordering happens on the decimal value itself.
    val revDec = sum($"l_extendedprice".cast("decimal(18,2)") *
      (lit(1).cast("decimal(3,2)") - $"l_discount".cast("decimal(18,2)")))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy($"c_custkey", $"c_name", $"n_name", $"c_acctbal")
      .agg(revDec.as("rev_dec"))
      .orderBy($"rev_dec".desc, $"c_custkey".asc)
      .limit(20)
      .select($"c_custkey", $"c_name", $"n_name",
        round($"c_acctbal", 2).as("acctbal"),
        // full scale-4 string, no rescale: Spark rounds HALF_UP on a
        // decimal down-cast while DuckDB rounds half toward zero, and
        // exact .xx50 sums are common when 2-dp prices meet 2-dp
        // discounts — emitting the exact sum sidesteps the mode entirely
        $"rev_dec".cast("string").as("revenue"))
  }

  val q10Oracle: String =
    """SELECT c_custkey, c_name, n_name, round(c_acctbal, 2) AS acctbal,
      sum(l_extendedprice::DECIMAL(18,2)
        * (1 - l_discount::DECIMAL(18,2)))::VARCHAR AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE l_returnflag = 'R'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate < TIMESTAMP '1996-04-01'
      GROUP BY c_custkey, c_name, n_name, c_acctbal
      ORDER BY sum(l_extendedprice::DECIMAL(18,2)
        * (1 - l_discount::DECIMAL(18,2))) DESC, c_custkey ASC LIMIT 20"""

  // ---------- q13: customer order-count distribution (count of counts) ----------
  /** TPC-H Q13 shape: the histogram of orders-per-customer — a LEFT OUTER
    * join with an extra non-key condition (so customers with zero
    * qualifying orders appear with count 0), a per-customer count, then a
    * count-of-counts regroup. Two shuffles by necessity (custkey, then
    * c_count); all-integer output, so the hash compare has no rounding
    * surface at all. The outer join keys on custkey — at 100 TB both
    * sides shuffle once and the second aggregate is tiny (distinct count
    * values).
    */
  def q13CustomerDistribution(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o,
        c("c_custkey") === o("o_custkey") &&
          o("o_orderpriority") =!= "1-URGENT", "left_outer")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  val q13Oracle: String =
    """SELECT c_count, count(*) AS custdist FROM (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT OUTER JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey) t
      GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""

  // ---------- q07: nation-pair volume shipping ----------
  /** TPC-H Q7 shape: bilateral trade volume between two nations per ship
    * year — supplier nation and customer nation joined through
    * lineitem→orders→customer, with the symmetric PAIR predicate
    * `(n1, n2) ∈ {(A,B), (B,A)}` and a year extraction as the group key.
    * Revenue uses the exact-decimal pattern ([[q10ReturnedItems]]): only
    * 4 output rows, but each aggregates thousands of line items, so a
    * cent boundary is one unlucky dataset away — exact decimal removes
    * the class instead of betting on the data.
    */
  def q07VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val n1 = Tables.nation(spark, dir)
      .select($"n_nationkey".as("s_nk"), $"n_name".as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select($"n_nationkey".as("c_nk"), $"n_name".as("cust_nation"))
    val l = Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1998-01-01").cast("timestamp"))
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val revDec = sum($"l_extendedprice".cast("decimal(18,2)") *
      (lit(1).cast("decimal(3,2)") - $"l_discount".cast("decimal(18,2)")))
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n1), s("s_nationkey") === $"s_nk")
      .join(broadcast(n2), c("c_nationkey") === $"c_nk")
      .filter(
        ($"supp_nation" === "NATION_18" && $"cust_nation" === "NATION_19") ||
          ($"supp_nation" === "NATION_19" && $"cust_nation" === "NATION_18"))
      .groupBy($"supp_nation", $"cust_nation",
        year($"l_shipdate").as("l_year"))
      .agg(revDec.cast("string").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  val q07Oracle: String =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      year(l_shipdate)::INT AS l_year,
      sum(l_extendedprice::DECIMAL(18,2)
        * (1 - l_discount::DECIMAL(18,2)))::VARCHAR AS revenue,
      count(*) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
        AND ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
          OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
      GROUP BY supp_nation, cust_nation, l_year
      ORDER BY supp_nation, cust_nation, l_year"""

  // ---------- q17 shape: correlated scalar subqueries (small-qty revenue) ----
  /** TPC-H Q17 re-shaped to this schema: revenue from lineitems whose
    * quantity is below 20% of their part's average. The Spark side is
    * deliberately written as SQL with TWO correlated scalar subqueries so
    * Catalyst's decorrelation (`DecorrelateInnerQuery` → outer join on a
    * per-part aggregate) is exercised: the plan has no nested loop, but
    * Catalyst does NOT merge the two correlated aggregates, so lineitem
    * is scanned three times — at 100 TB one writes the single joint
    * aggregate + join form instead (the shape q18 demonstrates); this
    * query exists to pin the subquery path's correctness.
    * The 20%-of-average predicate is integer cross-multiplied
    * (`5·qty·cnt < sum`): quantities are integral, so both engines compare
    * exact BIGINTs and the decision is FP-free. Revenue is the exact
    * DECIMAL sum emitted as a string (q10's convention).
    */
  def q17SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("li17")
    Tables.part(spark, dir).createOrReplaceTempView("pt17")
    spark.sql("""
      SELECT count(*) AS n_items,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS STRING) AS revenue_sum
      FROM li17 l JOIN pt17 p ON l.l_partkey = p.p_partkey
      WHERE p.p_brand = 'Brand#3'
        AND 5 * CAST(round(l.l_quantity) AS BIGINT) *
              (SELECT count(*) FROM li17 l2 WHERE l2.l_partkey = l.l_partkey)
            < (SELECT CAST(round(sum(l2.l_quantity)) AS BIGINT) FROM li17 l2
               WHERE l2.l_partkey = l.l_partkey)""")
  }

  val q17Oracle: String =
    """SELECT count(*) AS n_items,
      sum(l_extendedprice::DECIMAL(18,2))::VARCHAR AS revenue_sum
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_brand = 'Brand#3'
        AND 5 * round(l.l_quantity)::BIGINT *
              (SELECT count(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
            < (SELECT round(sum(l2.l_quantity))::BIGINT FROM lineitem l2
               WHERE l2.l_partkey = l.l_partkey)"""

  // ---------- q18 shape: large-volume orders (IN-subquery with HAVING) ----
  /** TPC-H Q18: orders whose total quantity exceeds 150, with customer.
    * The heavy side is one shuffle on `l_orderkey` with map-side partial
    * sums; the HAVING filter reduces the key set to ~0.3% BEFORE the
    * orders/customer joins, and the final top-100 is a
    * TakeOrderedAndProject, not a global sort. Quantity sums are integral
    * doubles → exact BIGINTs on both engines.
    */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy($"l_orderkey")
      // round-then-cast, both engines: Spark's bare double→long cast
      // TRUNCATES while DuckDB's ::BIGINT rounds half-even — identical
      // only while quantities stay integral. round() is away-from-zero
      // on the exact binary value in BOTH engines, data-independent.
      .agg(round(sum($"l_quantity")).cast("long").as("sum_qty"))
      .filter($"sum_qty" > 150)
    big.join(Tables.orders(spark, dir), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(spark, dir), $"o_custkey" === $"c_custkey")
      .select($"c_custkey", $"c_name", $"o_orderkey",
        $"o_orderdate".as("orderdate"),
        round($"o_totalprice", 2).as("totalprice"), $"sum_qty")
      .orderBy($"totalprice".desc, $"o_orderkey".asc)
      .limit(100)
  }

  val q18Oracle: String =
    """SELECT c_custkey, c_name, o_orderkey, o_orderdate AS orderdate,
      round(o_totalprice, 2) AS totalprice, sum_qty
      FROM (SELECT l_orderkey, round(sum(l_quantity))::BIGINT AS sum_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING round(sum(l_quantity))::BIGINT > 150) t
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      ORDER BY totalprice DESC, o_orderkey ASC LIMIT 100"""

  // ---------- q19 shape: disjunctive join predicates ----------
  /** TPC-H Q19: revenue under an OR of three brand/size/quantity windows.
    * The interesting planner property: the join stays a plain equi-join on
    * `p_partkey` (broadcast — part is a dimension) with the disjunction
    * applied as a post-join filter, and the common `p_partkey` conjunct is
    * NOT lost inside the OR. Revenue is decimal-exact (2-dp price × 2-dp
    * discount factor → scale-4, associative on both engines).
    */
  def q19DisjunctivePredicates(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    val rev = sum($"l_extendedprice".cast("decimal(18,2)") *
      (lit(1).cast("decimal(3,2)") - $"l_discount".cast("decimal(18,2)")))
    l.join(broadcast(p), $"l_partkey" === $"p_partkey")
      .filter(
        ($"p_brand" === "Brand#12" && $"p_size".between(1, 15) &&
          $"l_quantity".between(1, 11)) ||
        ($"p_brand" === "Brand#23" && $"p_size".between(1, 25) &&
          $"l_quantity".between(10, 20)) ||
        ($"p_brand" === "Brand#3" && $"p_size".between(1, 35) &&
          $"l_quantity".between(20, 30)))
      .agg(count(lit(1)).as("n_items"), rev.cast("string").as("revenue"))
  }

  val q19Oracle: String =
    """SELECT count(*) AS n_items,
      sum(l_extendedprice::DECIMAL(18,2)
        * (1 - l_discount::DECIMAL(18,2)))::VARCHAR AS revenue
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 11)
         OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
               AND l_quantity BETWEEN 20 AND 30)"""

  // ---------- q15 shape: top supplier by revenue (max-equality on agg) ----
  /** TPC-H Q15: supplier(s) achieving the maximum 3-month revenue. The
    * revenue per supplier is an exact DECIMAL sum, so the `revenue =
    * max(revenue)` equality is deterministic — with double sums the
    * last-ULP summation order could pick a different supplier near a tie.
    * The global max is a separate `agg(max)` broadcast back as an equality
    * join — NO unpartitioned window anywhere in the plan. The two uses of
    * `rev` plan the same `Exchange hashpartitioning(l_suppkey)` subtree,
    * which Spark's exchange reuse dedupes at execution (the plan carries a
    * `ReusedExchange`, pinned by PlanAuditSpec): the fact is scanned,
    * partially aggregated and shuffled ONCE, and the max side reads the
    * reused shuffle output — same single-scan cost as the old window
    * spelling without serializing the dimension-sized aggregate through
    * one task.
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    // the explicit isnotnull mirrors what the supplier join pushes into
    // the join branch — WITHOUT it the two rev subtrees canonicalize
    // differently (one has the pushed filter, the max side doesn't) and
    // AQE cannot reuse the shuffle stage
    val rev = Tables.lineitem(spark, dir)
      .filter($"l_suppkey".isNotNull &&
        $"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
      .groupBy($"l_suppkey")
      .agg(sum($"l_extendedprice".cast("decimal(18,2)") *
        (lit(1).cast("decimal(3,2)") - $"l_discount".cast("decimal(18,2)")))
        .as("total_rev"))
    val maxRev = rev.agg(max($"total_rev").as("max_rev"))
    rev.join(broadcast(maxRev), $"total_rev" === $"max_rev")
      .join(Tables.supplier(spark, dir), $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name", $"total_rev".cast("string").as("total_revenue"))
      .orderBy($"s_suppkey")
  }

  val q15Oracle: String =
    """WITH rev AS (SELECT l_suppkey,
        sum(l_extendedprice::DECIMAL(18,2)
          * (1 - l_discount::DECIMAL(18,2))) AS total_rev
        FROM lineitem
        WHERE l_suppkey IS NOT NULL
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, total_rev::VARCHAR AS total_revenue
      FROM rev JOIN supplier ON l_suppkey = s_suppkey
      WHERE total_rev = (SELECT max(total_rev) FROM rev)
      ORDER BY s_suppkey"""

  // ---------- q02 shape: min-cost supplier per part ----------
  /** TPC-H Q2's shape without a partsupp table: the part↔supplier bridge
    * is derived from lineitem (cheapest observed sale price per pair —
    * exact DECIMAL min, so the min-equality is deterministic). The
    * correlated scalar subquery `cost = (SELECT min(cost) ... WHERE
    * partkey = outer.partkey)` decorrelates to a min window PARTITIONED BY
    * the part key over the pair aggregate — partkey cardinality grows with
    * the catalog, so the window partitions stay small at any scale (this
    * is the high-cardinality-safe sibling of the q15 global max, which
    * needs the agg+broadcast spelling instead). The selective part filter
    * broadcasts and prunes the fact scan BEFORE the aggregation.
    */
  def q02MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val pSel = Tables.part(spark, dir)
      .filter($"p_size" <= 5 && $"p_type" === "SMALL")
      .select($"p_partkey", $"p_name")
    val offers = Tables.lineitem(spark, dir)
      .join(broadcast(pSel), $"l_partkey" === $"p_partkey")
      .groupBy($"l_partkey", $"p_name", $"l_suppkey")
      .agg(min($"l_extendedprice".cast("decimal(18,2)")).as("cost"))
    val wMin = Window.partitionBy($"l_partkey")
    offers
      .withColumn("min_cost", min($"cost").over(wMin))
      .filter($"cost" === $"min_cost")
      .join(broadcast(Tables.supplier(spark, dir)), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(spark, dir)), $"s_nationkey" === $"n_nationkey")
      .select($"l_partkey".as("p_partkey"), $"p_name", $"s_name", $"n_name",
        $"cost".cast("string").as("cost"))
      .orderBy($"p_partkey", $"s_name")
  }

  val q02MinCostOracle: String =
    """WITH offers AS (SELECT l_partkey, p_name, l_suppkey,
        min(l_extendedprice::DECIMAL(18,2)) AS cost
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_size <= 5 AND p_type = 'SMALL'
        GROUP BY 1, 2, 3),
      m AS (SELECT *, min(cost) OVER (PARTITION BY l_partkey) AS min_cost
        FROM offers)
      SELECT l_partkey AS p_partkey, p_name, s_name, n_name,
        cost::VARCHAR AS cost
      FROM m
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      WHERE cost = min_cost
      ORDER BY p_partkey, s_name"""

  // ---------- q11 shape: parts above a global value fraction ----------
  /** TPC-H Q11's shape: per-part traded value, kept where it exceeds a
    * fraction of the GLOBAL total — the scalar-subquery-over-aggregate
    * pattern. The global total is a second-level aggregate of the same
    * per-part aggregate, broadcast back through a 1-row cross join (never
    * an unpartitioned window); both branches plan the identical
    * per-partkey exchange, which AQE's exchange reuse dedupes — one fact
    * scan, one fact shuffle. All sums are exact DECIMAL and the threshold
    * multiply is DECIMAL×DECIMAL, so the strict > keep-set is
    * deterministic on both engines.
    */
  def q11ImportantParts(spark: SparkSession, dir: String): DataFrame = {
    val vals = Tables.lineitem(spark, dir)
      .filter($"l_partkey".isNotNull)
      .groupBy($"l_partkey")
      .agg(sum($"l_extendedprice".cast("decimal(18,2)")).as("value"))
    val total = vals.agg(
      (sum($"value") * lit(0.0008).cast("decimal(8,6)")).as("threshold"))
    vals.crossJoin(broadcast(total))
      .filter($"value" > $"threshold")
      .select($"l_partkey", $"value".cast("string").as("value"))
      .orderBy(desc("value"), $"l_partkey")
  }

  val q11Oracle: String =
    """WITH vals AS (SELECT l_partkey,
        sum(l_extendedprice::DECIMAL(18,2)) AS value
        FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1)
      SELECT l_partkey, value::VARCHAR AS value
      FROM vals
      WHERE value > (SELECT sum(value) FROM vals) * 0.0008::DECIMAL(8,6)
      ORDER BY value DESC, l_partkey"""

  // ---------- q16 shape: supplier diversity minus excluded suppliers ----
  /** TPC-H Q16's shape: distinct supplier count per part attribute,
    * excluding suppliers from a NOT IN subquery. The bridge is the
    * DISTINCT (part, supplier) pair set from lineitem (map-side
    * pre-aggregated); the NOT IN decorrelates to a broadcast LEFT ANTI
    * join (keys are non-null, so NOT IN ≡ NOT EXISTS); the distinct count
    * shuffles once on the attribute key. Part attributes ride the
    * broadcast dimension join.
    */
  def q16SupplierDiversity(spark: SparkSession, dir: String): DataFrame = {
    val sizes = Seq(1, 5, 9, 14, 19, 23, 36, 45)
    val pairs = Tables.lineitem(spark, dir)
      .select($"l_partkey", $"l_suppkey").distinct()
    val excl = Tables.supplier(spark, dir)
      .filter($"s_name".like("%1%")).select($"s_suppkey")
    val p = Tables.part(spark, dir)
      .filter($"p_type" =!= "ECONOMY" && $"p_size".isin(sizes: _*))
    pairs
      .join(broadcast(p), $"l_partkey" === $"p_partkey")
      .join(broadcast(excl), $"l_suppkey" === $"s_suppkey", "left_anti")
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy(desc("supplier_cnt"), $"p_brand", $"p_type", $"p_size")
  }

  val q16Oracle: String =
    """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
      SELECT p_brand, p_type, p_size,
        count(DISTINCT l_suppkey) AS supplier_cnt
      FROM pairs JOIN part ON p_partkey = l_partkey
      WHERE p_type <> 'ECONOMY' AND p_size IN (1,5,9,14,19,23,36,45)
        AND NOT EXISTS (SELECT 1 FROM supplier
          WHERE s_suppkey = l_suppkey AND s_name LIKE '%1%')
      GROUP BY 1, 2, 3
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""

  // ---------- q20 shape: excess-share suppliers (nested IN chain) ------
  /** TPC-H Q20's shape: suppliers who shipped MORE THAN HALF of some
    * filtered part's 1996 volume — a two-level nested IN chain,
    * decorrelated to two LEFT SEMI joins. The part-name IN prunes the
    * fact BEFORE aggregation (broadcast semi); the per-part total is a
    * sum window partitioned by the high-cardinality part key over the
    * pair aggregate (no second shuffle of the same data); the final
    * supplier IN is a semi join against the qualifying-supplier set.
    * Quantities are integral doubles, so the sums and the ·0.5 threshold
    * are exact and the strict > is deterministic.
    */
  def q20ExcessShareSupplier(spark: SparkSession, dir: String): DataFrame = {
    val selParts = Tables.part(spark, dir)
      .filter($"p_name".like("red%")).select($"p_partkey")
    val perPair = Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1997-01-01").cast("timestamp"))
      .join(broadcast(selParts), $"l_partkey" === $"p_partkey", "left_semi")
      .groupBy($"l_partkey", $"l_suppkey")
      .agg(sum($"l_quantity").as("q"))
    val qualified = perPair
      .withColumn("total_q", sum($"q").over(Window.partitionBy($"l_partkey")))
      .filter($"q" > $"total_q" * 0.5)
      .select($"l_suppkey")
    Tables.supplier(spark, dir)
      .join(qualified, $"s_suppkey" === $"l_suppkey", "left_semi")
      .select($"s_suppkey", $"s_name")
      .orderBy($"s_suppkey")
  }

  val q20Oracle: String =
    """WITH ps AS (SELECT l_partkey, l_suppkey, sum(l_quantity) AS q,
        sum(sum(l_quantity)) OVER (PARTITION BY l_partkey) AS total_q
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_partkey IN (SELECT p_partkey FROM part
            WHERE p_name LIKE 'red%')
        GROUP BY l_partkey, l_suppkey)
      SELECT s_suppkey, s_name FROM supplier
      WHERE s_suppkey IN (SELECT l_suppkey FROM ps WHERE q > 0.5 * total_q)
      ORDER BY s_suppkey"""

  // ---------- q09 shape: product-type profit by nation and year ----------
  /** TPC-H Q9's shape (the last classic shape in the suite): profit per
    * supplier nation per order year over name-filtered parts, with the
    * cost side derived from `p_retailprice` (no partsupp in this schema).
    * Both profit terms are exact DECIMAL products carried through one
    * aggregation pass — revenue at scale 4, cost at scale 6, difference
    * at scale 6 in BOTH engines (Spark's precision-capped multiply and
    * DuckDB's width-capped multiply land on the same scale here, so the
    * VARCHAR render is identical). The selective part filter broadcasts
    * and prunes the fact first; lineitem⋈orders is the one fact-fact join
    * (co-keyed on orderkey); the group-by shuffles once on
    * (nation, year).
    */
  def q09ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir).select($"o_orderkey", $"o_orderdate")
    val p = Tables.part(spark, dir)
      .filter($"p_name".like("%bolt%"))
      .select($"p_partkey", $"p_retailprice")
    val s = Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")
    val n = Tables.nation(spark, dir).select($"n_nationkey", $"n_name")
    val profitTerm =
      $"l_extendedprice".cast("decimal(18,2)") *
        (lit(1).cast("decimal(3,2)") - $"l_discount".cast("decimal(18,2)")) -
      $"p_retailprice".cast("decimal(18,2)") *
        $"l_quantity".cast("decimal(18,2)") * lit("0.06").cast("decimal(3,2)")
    l.join(broadcast(p), $"l_partkey" === $"p_partkey")
      .join(o, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(s), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(n), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name".as("nation"), year($"o_orderdate").as("o_year"))
      .agg(sum(profitTerm).cast("string").as("profit"))
      .orderBy($"nation", desc("o_year"))
  }

  val q09Oracle: String =
    """SELECT n_name AS nation, EXTRACT(year FROM o_orderdate)::INT AS o_year,
      sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(18,2))
        - p_retailprice::DECIMAL(18,2) * l_quantity::DECIMAL(18,2)
          * 0.06::DECIMAL(3,2))::VARCHAR AS profit
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN part ON p_partkey = l_partkey AND p_name LIKE '%bolt%'
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
      GROUP BY 1, 2
      ORDER BY nation, o_year DESC"""

  // ---------- q21 shape: sole failing supplier (EXISTS + NOT EXISTS) ----
  /** TPC-H Q21's join topology on the available columns: suppliers (from a
    * nation subset) who returned items on COMPLETED multi-supplier orders
    * where no OTHER supplier on the order also returned — the hardest
    * decorrelation shape in the suite, a multi-way EXISTS + NOT EXISTS
    * against the SAME fact table. Spelled directly as one left-semi and
    * one left-anti self-join (no correlated subquery survives to the
    * plan):
    *
    *   - all three lineitem legs join on `l_orderkey`, so the shuffles are
    *     CO-PARTITIONED — at 100 TB the fact is hashed on the one key
    *     three times and never re-keyed (the reference Q21 bottleneck);
    *   - the nation→supplier filter broadcasts and prunes l1 rows ~5×
    *     BEFORE the self-joins (dimension filter first, like q05);
    *   - `orders(status='F')` joins on the same l_orderkey key;
    *   - the final top-k is TakeOrderedAndProject over the per-supplier
    *     aggregate (supplier-cardinality), never a global sort of facts.
    *
    * The (numwait DESC, s_name) order is total (names unique), so the
    * LIMIT is deterministic.
    */
  def q21SoleFailingSupplier(spark: SparkSession, dir: String): DataFrame = {
    val nations = Seq("NATION_1", "NATION_7", "NATION_13", "NATION_19",
      "NATION_24")
    val li = Tables.lineitem(spark, dir)
    val l1 = li.filter($"l_returnflag" === "R")
      .select($"l_orderkey", $"l_suppkey")
    val l2 = li.select($"l_orderkey".as("l2_orderkey"),
      $"l_suppkey".as("l2_suppkey"))
    val l3 = li.filter($"l_returnflag" === "R")
      .select($"l_orderkey".as("l3_orderkey"), $"l_suppkey".as("l3_suppkey"))
    val o = Tables.orders(spark, dir)
      .filter($"o_orderstatus" === "F").select($"o_orderkey")
    val sn = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
        .filter($"n_name".isin(nations: _*))),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_name")
    l1.join(broadcast(sn), $"l_suppkey" === $"s_suppkey")
      .join(o, $"l_orderkey" === $"o_orderkey")
      .join(l2, $"l_orderkey" === $"l2_orderkey" &&
        $"l_suppkey" =!= $"l2_suppkey", "left_semi")
      .join(l3, $"l_orderkey" === $"l3_orderkey" &&
        $"l_suppkey" =!= $"l3_suppkey", "left_anti")
      .groupBy($"s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(desc("numwait"), $"s_name")
      .limit(10)
  }

  val q21Oracle: String =
    """SELECT s_name, count(*) AS numwait
      FROM lineitem l1
      JOIN orders ON o_orderkey = l1.l_orderkey AND o_orderstatus = 'F'
      JOIN supplier ON s_suppkey = l1.l_suppkey
      JOIN nation ON n_nationkey = s_nationkey
        AND n_name IN ('NATION_1','NATION_7','NATION_13','NATION_19','NATION_24')
      WHERE l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R')
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 10"""

  // ---------- q08 shape: national market share ----------
  /** TPC-H Q8 reshaped: NATION_2's share of supplier revenue into ASIA
    * customers, per order year. Both the share's numerator and
    * denominator are exact DECIMAL sums carried through the aggregate
    * (numerator = CASE-gated partial sum riding the same pass as the
    * denominator — one aggregation, no second join); the final share is
    * ONE double division of two engine-identical decimals, which IEEE
    * rounds identically on both sides — so round(·,6) is deterministic
    * with no summation-order audit needed. Dimension sides all broadcast;
    * the fact shuffles once on the year.
    */
  def q08MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val nC = Tables.nation(spark, dir)
      .select($"n_nationkey".as("cn_key"), $"n_regionkey".as("cn_region"))
    val nS = Tables.nation(spark, dir)
      .select($"n_nationkey".as("sn_key"), $"n_name".as("sn_name"))
    val r = Tables.region(spark, dir).filter($"r_name" === "ASIA")
    val vol = $"l_extendedprice".cast("decimal(18,2)") *
      (lit(1).cast("decimal(3,2)") - $"l_discount".cast("decimal(18,2)"))
    l.join(o, $"l_orderkey" === $"o_orderkey")
      .join(c, $"o_custkey" === $"c_custkey")
      .join(broadcast(nC), $"c_nationkey" === $"cn_key")
      .join(broadcast(r), $"cn_region" === $"r_regionkey")
      .join(s, $"l_suppkey" === $"s_suppkey")
      .join(broadcast(nS), $"s_nationkey" === $"sn_key")
      .groupBy(year($"o_orderdate").as("o_year"))
      .agg(
        sum(when($"sn_name" === "NATION_2", vol)
          .otherwise(lit(0).cast("decimal(18,2)"))).as("nation_vol"),
        sum(vol).as("total_vol"))
      .select($"o_year",
        round($"nation_vol".cast("double") / $"total_vol".cast("double"), 6)
          .as("mkt_share"),
        $"nation_vol".cast("string").as("nation_vol"),
        $"total_vol".cast("string").as("total_vol"))
      .orderBy($"o_year")
  }

  val q08Oracle: String =
    """SELECT year(o_orderdate)::INT AS o_year,
      round((sum(CASE WHEN n2.n_name = 'NATION_2'
            THEN l_extendedprice::DECIMAL(18,2)
              * (1 - l_discount::DECIMAL(18,2))
            ELSE 0::DECIMAL(18,2) END))::DOUBLE
        / (sum(l_extendedprice::DECIMAL(18,2)
            * (1 - l_discount::DECIMAL(18,2))))::DOUBLE, 6) AS mkt_share,
      sum(CASE WHEN n2.n_name = 'NATION_2'
          THEN l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(18,2))
          ELSE 0::DECIMAL(18,2) END)::VARCHAR AS nation_vol,
      sum(l_extendedprice::DECIMAL(18,2)
          * (1 - l_discount::DECIMAL(18,2)))::VARCHAR AS total_vol
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      GROUP BY o_year ORDER BY o_year"""

  // ---------- q22 shape: dormant positive-balance customers ----------
  /** TPC-H Q22 reshaped (no phone column): positive-balance customers with
    * no order in the final data year, grouped by nation. The NOT EXISTS is
    * a left-anti join against the date-filtered orders (the filter reaches
    * the orders scan before the join), and the per-nation balance total is
    * decimal-exact so no rounded-sum boundary exists.
    */
  def q22DormantCustomers(spark: SparkSession, dir: String): DataFrame = {
    val recent = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit("2001-01-01").cast("timestamp"))
      .select($"o_custkey")
    Tables.customer(spark, dir)
      .filter($"c_acctbal" > 0)
      .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_cust"),
        sum($"c_acctbal".cast("decimal(18,2)")).cast("string").as("total_bal"))
      .orderBy($"c_nationkey")
  }

  val q22Oracle: String =
    """SELECT c_nationkey, count(*) AS n_cust,
      sum(c_acctbal::DECIMAL(18,2))::VARCHAR AS total_bal
      FROM customer c
      WHERE c_acctbal > 0
        AND NOT EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderdate >= TIMESTAMP '2001-01-01')
      GROUP BY c_nationkey ORDER BY c_nationkey"""

  val registry: Seq[GraftQuery] = Seq(
    GraftQuery("q01_pricing_summary", q01PricingSummary, q01Oracle),
    GraftQuery("q02_topk_orders", q02TopkOrders, q02Oracle),
    GraftQuery("q03_shipping_priority", q03ShippingPriority, q03Oracle),
    GraftQuery("q04_order_priority", q04OrderPriority, q04Oracle),
    GraftQuery("q05_local_supplier", q05LocalSupplier, q05Oracle),
    GraftQuery("q06_forecast_revenue", q06ForecastRevenue, q06Oracle),
    GraftQuery("q07_volume_shipping", q07VolumeShipping, q07Oracle),
    GraftQuery("q10_returned_items", q10ReturnedItems, q10Oracle),
    GraftQuery("q13_customer_distribution", q13CustomerDistribution, q13Oracle),
    GraftQuery("q12_priority_class", q12PriorityClass, q12Oracle),
    GraftQuery("q14_promo_revenue", q14PromoRevenue, q14Oracle),
    GraftQuery("q08_market_share", q08MarketShare, q08Oracle),
    GraftQuery("q15_top_supplier", q15TopSupplier, q15Oracle),
    GraftQuery("q17_small_qty_revenue", q17SmallQtyRevenue, q17Oracle),
    GraftQuery("q18_large_orders", q18LargeOrders, q18Oracle),
    GraftQuery("q19_disjunctive_pred", q19DisjunctivePredicates, q19Oracle),
    GraftQuery("q02_min_cost_supplier", q02MinCostSupplier, q02MinCostOracle),
    GraftQuery("q09_product_profit", q09ProductProfit, q09Oracle),
    GraftQuery("q11_important_parts", q11ImportantParts, q11Oracle),
    GraftQuery("q16_supplier_diversity", q16SupplierDiversity, q16Oracle),
    GraftQuery("q20_excess_share_supplier", q20ExcessShareSupplier, q20Oracle),
    GraftQuery("q21_sole_failing_supplier", q21SoleFailingSupplier, q21Oracle),
    GraftQuery("q22_dormant_customers", q22DormantCustomers, q22Oracle),
  )
}
