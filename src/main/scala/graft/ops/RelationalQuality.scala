package graft.ops

import Checkpoints._

import Relational.Dollar

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftQuery

/** Data-quality, privacy and sketch-maintenance operators, split out of
  * [[Relational]] along the family seam (round 16, zero behavior
  * change): incremental materialized-view maintenance, declarative
  * constraint validation, k-anonymity audit, HLL mergeability,
  * Count-Min join-size estimation, RFM segmentation, rolling exact
  * median, grid-blocked spatial join, k-ary randomized response,
  * differentially-private releases, right-to-be-forgotten purge audit,
  * and fuzzy-pair entity resolution (components + canonicalization over
  * [[Relational.fuzzyPairs]]'s provably-complete blocking).
  */
object RelationalQuality {

  // ---------- incremental materialized-view maintenance ----------
  /** The refresh path of a 100 TB materialized view: history lives as
    * COMPACT partial-aggregate state — one row per (year, month,
    * priority) carrying only ALGEBRAIC measures (a count and an exact
    * DECIMAL sum) — and a refresh touches ONLY the delta rows
    * (`o_orderdate >= cutoff`, pushed into the scan) plus that state.
    * The merge is re-aggregation of the union: counts and decimal sums
    * are associative and exact, so merged state ≡ full recompute
    * bit-for-bit — which is exactly what the oracle checks by
    * recomputing the view from the whole base table. The query first
    * builds the state file (the "previous refresh" output, written
    * once), then returns the merge plan, which scans orders.parquet
    * exactly ONCE — the delta side, date filter pushed down; history
    * never touches the fact again (PlanAudit-pinned). DECIMAL, not
    * DOUBLE, is load-bearing: float partials would make the merged sum
    * order-dependent and the view would drift from the recompute.
    */
  /** Which sf dir the session's MV state was built from — the state file
    * is the "previous refresh" fixture; like the bucketed layout and the
    * CC label table, it is built once per (session, dir) so repeated
    * calls time the REFRESH (state read + delta scan + merge), which is
    * the operation this query exists to demonstrate.
    */
  def qMatviewMerge(spark: SparkSession, dir: String): DataFrame = {
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    // content-tagged: concurrent processes over different data never share
    // the matview state (SessionFixtures.contentTag)
    val state = s"$wh/graft_mv_orders_state_${SessionFixtures.contentTag(spark, dir)}"
    val cutoff = lit("2001-01-01").cast("timestamp")
    def partial(df: DataFrame): DataFrame =
      df.groupBy(year($"o_orderdate").as("yr"),
          month($"o_orderdate").as("mo"), $"o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          sum($"o_totalprice".cast("decimal(18,2)")).as("sum_total"))
    // _SUCCESS at the content-tagged path alone gates the rebuild (see
    // qPartitionedLayout): a valid state is reused, never overwritten
    // under a concurrent same-content reader
    if (!new java.io.File(state, "_SUCCESS").isFile) {
      partial(Tables.orders(spark, dir).filter($"o_orderdate" < cutoff))
        .write.mode("overwrite").parquet(state)
    }
    val delta = partial(
      Tables.orders(spark, dir).filter($"o_orderdate" >= cutoff))
    spark.read.parquet(state).unionByName(delta)
      .groupBy($"yr", $"mo", $"o_orderpriority")
      .agg(sum($"n_orders").as("n_orders"),
        sum($"sum_total").as("sum_total"))
      .select($"yr", $"mo", $"o_orderpriority", $"n_orders",
        $"sum_total".cast("string").as("sum_total"))
      .orderBy($"yr", $"mo", $"o_orderpriority")
  }

  val qMatviewMergeOracle: String =
    """SELECT year(o_orderdate)::INT AS yr, month(o_orderdate)::INT AS mo,
      o_orderpriority, count(*) AS n_orders,
      (sum(o_totalprice::DECIMAL(18,2)))::VARCHAR AS sum_total
      FROM orders
      GROUP BY yr, mo, o_orderpriority ORDER BY yr, mo, o_orderpriority"""

  // ---------- declarative constraint validation (DQ audit) ----------
  /** Referential-integrity + domain + nullability constraints validated
    * in one audit pass — the data-contract check that gates a pipeline
    * promotion (dbt tests / Deequ's verification suite, re-expressed as
    * plain combine-fed plans). Each FK check is a LEFT ANTI join counted
    * (null-keyed rows are orphans by definition here: an FK with a NULL
    * key cannot resolve, and anti-join semantics keep them — documented
    * because NOT-IN style SQL would silently drop them); domain and
    * nullability checks are scan-side predicates summed. Every check
    * emits `(check_name, n_violations, n_checked)` so a clean run still
    * proves it LOOKED (n_checked carries the evidence; a 0/0 row is a
    * broken audit, not a clean table).
    *
    * Scale shape: anti joins shuffle on their key like any join (orders
    * is NOT assumed broadcastable); predicate checks ride their scan and
    * aggregate partially map-side. The seven one-row aggregates union
    * into one result — dimension-bounded, no collect.
    */
  def qDqConstraints(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val p = Tables.part(spark, dir)
    val s = Tables.supplier(spark, dir)

    def fkCheck(name: String, fact: DataFrame, key: Column,
        dim: DataFrame, dimKey: Column): DataFrame = {
      val orphans = fact.select(key.as("k"))
        .join(dim.select(dimKey.as("k")), Seq("k"), "left_anti")
        .agg(count(lit(1)).as("n_violations"))
      val checked = fact.agg(count(lit(1)).as("n_checked"))
      orphans.crossJoin(broadcast(checked))
        .select(lit(name).as("check_name"), $"n_violations", $"n_checked")
    }

    def predCheck(name: String, df: DataFrame, bad: Column): DataFrame =
      df.agg(
        sum(when(bad, 1L).otherwise(0L)).as("n_violations"),
        count(lit(1)).as("n_checked"))
        .select(lit(name).as("check_name"), $"n_violations", $"n_checked")

    fkCheck("fk_lineitem_orders", li, $"l_orderkey", o, $"o_orderkey")
      .unionByName(fkCheck("fk_orders_customer", o, $"o_custkey",
        c, $"c_custkey"))
      .unionByName(fkCheck("fk_lineitem_part", li, $"l_partkey",
        p, $"p_partkey"))
      .unionByName(fkCheck("fk_lineitem_supplier", li, $"l_suppkey",
        s, $"s_suppkey"))
      .unionByName(predCheck("dom_quantity_1_50", li,
        $"l_quantity" < 1 || $"l_quantity" > 50))
      .unionByName(predCheck("dom_discount_0_10", li,
        $"l_discount" < 0 || $"l_discount" > 0.10))
      .unionByName(predCheck("null_orderdate", o, $"o_orderdate".isNull))
      .orderBy($"check_name")
  }

  val qDqConstraintsOracle: String =
    """SELECT 'dom_discount_0_10' check_name,
        sum(CASE WHEN l_discount < 0 OR l_discount > 0.10
          THEN 1 ELSE 0 END)::BIGINT n_violations,
        count(*)::BIGINT n_checked FROM lineitem
      UNION ALL
      SELECT 'dom_quantity_1_50',
        sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
          THEN 1 ELSE 0 END)::BIGINT, count(*)::BIGINT FROM lineitem
      UNION ALL
      SELECT 'fk_lineitem_orders',
        (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN
          (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)
          OR l_orderkey IS NULL)::BIGINT,
        count(*)::BIGINT FROM lineitem
      UNION ALL
      SELECT 'fk_lineitem_part',
        (SELECT count(*) FROM lineitem WHERE l_partkey NOT IN
          (SELECT p_partkey FROM part WHERE p_partkey IS NOT NULL)
          OR l_partkey IS NULL)::BIGINT,
        count(*)::BIGINT FROM lineitem
      UNION ALL
      SELECT 'fk_lineitem_supplier',
        (SELECT count(*) FROM lineitem WHERE l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_suppkey IS NOT NULL)
          OR l_suppkey IS NULL)::BIGINT,
        count(*)::BIGINT FROM lineitem
      UNION ALL
      SELECT 'fk_orders_customer',
        (SELECT count(*) FROM orders WHERE o_custkey NOT IN
          (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
          OR o_custkey IS NULL)::BIGINT,
        count(*)::BIGINT FROM orders
      UNION ALL
      SELECT 'null_orderdate',
        sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)::BIGINT,
        count(*)::BIGINT FROM orders
      ORDER BY check_name"""

  // ---------- k-anonymity audit (privacy risk before release) ----------
  /** k-anonymity screen over a quasi-identifier tuple — the privacy
    * audit run before releasing or sharing a derived dataset: customers
    * whose (nation, market segment, account-balance band) combination
    * is shared by fewer than k = 5 others are re-identifiable by
    * linkage. Output is the per-segment risk readout (equivalence-class
    * counts, risky classes, customers exposed, smallest class) — the
    * numbers a release review actually reads. Balance bands are integer
    * thousand-dollar FLOORS over cents — written as an explicit
    * `floor()` in BOTH engines because the obvious shortcuts disagree
    * on the negative balances TPC-H contains: DuckDB's `//` TRUNCATES
    * integers toward zero (−199999//100000 = −1, floor says −2) and
    * stays fractional on DECIMAL inputs (measured −2.5), while floor is
    * floor everywhere.
    *
    * Scale shape: one combine-fed groupBy over the quasi-identifier
    * domain (bounded: nations × segments × bands), then a groupBy over
    * segments — both dimension-scale. No windows, no collects.
    */
  def qPrivacyKanon(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    val qi = Tables.customer(spark, dir)
      .select($"c_mktsegment".as("seg"), $"c_nationkey".as("nat"),
        expr("CAST(floor(CAST(c_acctbal AS DECIMAL(18,2)) * 100 / 100000)" +
          " AS BIGINT)").as("band"))
    qi.groupBy($"seg", $"nat", $"band").agg(count(lit(1)).as("cls"))
      .groupBy($"seg")
      .agg(count(lit(1)).as("n_classes"),
        sum(when($"cls" < k, 1L).otherwise(0L)).as("risky_classes"),
        sum(when($"cls" < k, $"cls").otherwise(0L)).as("exposed_customers"),
        min($"cls").as("min_class"), max($"cls").as("max_class"))
      .orderBy($"seg")
  }

  val qPrivacyKanonOracle: String =
    """WITH qi AS (SELECT c_mktsegment seg, c_nationkey nat,
        floor((c_acctbal::DECIMAL(18,2) * 100) / 100000)::BIGINT band
      FROM customer),
      cls AS (SELECT seg, nat, band, count(*)::BIGINT cls FROM qi
        GROUP BY 1, 2, 3)
      SELECT seg, count(*)::BIGINT n_classes,
        sum(CASE WHEN cls < 5 THEN 1 ELSE 0 END)::BIGINT risky_classes,
        sum(CASE WHEN cls < 5 THEN cls ELSE 0 END)::BIGINT exposed_customers,
        min(cls)::BIGINT min_class, max(cls)::BIGINT max_class
      FROM cls GROUP BY seg ORDER BY seg"""

  // ---------- HLL sketch mergeability (per-partition union ≡ global) ----------
  /** The sketch-merge contract that makes distinct-counting feasible at
    * 100 TB: per-day (= per-partition) HLL sketches unioned into one
    * estimate, certified against both the single-pass global sketch and
    * the exact count. The Datasketches HLL register state is
    * order-insensitive (each register is a max over item hashes), but
    * the ESTIMATORS differ — a directly-built sketch answers with the
    * HIP estimator while a union must fall back to the composite
    * estimator — so the merged and global estimates are certified equal
    * within 2 % of the exact count rather than bit-equal, and both
    * within 5 % of exact (lgK = 12 ⇒ σ ≈ 0.8 %, so these bounds hold
    * with enormous margin; the self-certifying-boolean discipline of
    * `q_approx_distinct`). The oracle contributes the exact count and
    * `true` for both certificates.
    *
    * Scale shape: two combine-fed sketch aggregates over the fact (the
    * per-day one is exactly the daily-rollup + monthly-merge pattern),
    * one broadcast single-row join. No distinct-shuffle of raw ids
    * anywhere — that is the point.
    */
  def qSketchMerge(spark: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(spark, dir)
      .select(to_date($"ts").as("dte"), $"user_id")
    val merged = du
      .groupBy($"dte").agg(hll_sketch_agg($"user_id").as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg($"sk")).as("est_merged"))
    du.agg(
        hll_sketch_estimate(hll_sketch_agg($"user_id")).as("est_global"),
        countDistinct($"user_id").as("exact_users"))
      .crossJoin(broadcast(merged))
      .select($"exact_users",
        (abs($"est_merged" - $"est_global") <=
          $"exact_users" * 2 / 100).as("merge_consistent"),
        (abs($"est_global" - $"exact_users") <=
          $"exact_users" * 5 / 100).as("within_bound"))
  }

  val qSketchMergeOracle: String =
    """SELECT count(DISTINCT user_id) AS exact_users,
      true AS merge_consistent, true AS within_bound FROM events"""

  // ---------- Count-Min join-size estimation ----------
  /** Join-cardinality estimation via Count-Min sketch inner product —
    * the optimizer-side sketch that answers "how big is events ⋈ orders
    * on the customer key?" WITHOUT running the join: each side collapses
    * to a d×w = 4×512 counter grid (h_r(k) = md5-derived bucket), the
    * per-row bucket-wise inner products upper-bound the true size
    * Σ_k c₁(k)·c₂(k), and the minimum over rows is the estimate. The CM
    * guarantee is one-sided — estimate ≥ exact ALWAYS (collisions only
    * add) and exceeds it by ≤ ‖c₁‖₁‖c₂‖₁/w in expectation per row — and
    * both sides of that sandwich are emitted as exact integers along
    * with the true size, so the readout IS the proof.
    *
    * Scale shape: this is the whole point — the exact answer needs a
    * key join of two count tables (a shuffle), while the sketch needs
    * ONE combine-fed aggregate per side into 2048 cells and a
    * cell-aligned broadcast join; at 100 TB the sketch path is the only
    * one an optimizer can afford at plan time. Products route through
    * DECIMAL(38,0); everything is integer end-to-end.
    */
  def qSketchJoinsize(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val w = 512L
    val left = Tables.events(spark, dir)
      .groupBy(col("user_id").as("k")).agg(count(lit(1)).as("c"))
    val right = Tables.orders(spark, dir)
      .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("c"))
    def cm(df: DataFrame, out: String): DataFrame =
      df.withColumn("r", explode(sequence(lit(0), lit(3))))
        .withColumn("b", pmod(conv(substring(md5(concat(col("r"),
          lit(":"), col("k"))), 1, 6), 16, 10).cast("long"), lit(w)))
        .groupBy(col("r"), col("b")).agg(sum(col("c")).as(out))
    val est = cm(left, "c1").join(cm(right, "c2"), Seq("r", "b"))
      .groupBy(col("r"))
      .agg(sum(col("c1").cast(dec) * col("c2").cast(dec)).as("ip"))
      .agg(min(col("ip")).as("est"))
    val exact = left.join(right, "k")
      .agg(sum(left("c").cast(dec) * right("c").cast(dec)).as("exact"))
    val tot = left.agg(sum(col("c")).as("n1"))
      .crossJoin(broadcast(right.agg(sum(col("c")).as("n2"))))
    tot.crossJoin(broadcast(exact)).crossJoin(broadcast(est))
      .select(col("n1"), col("n2"),
        col("exact").cast("long").as("exact_size"),
        col("est").cast("long").as("est_size"),
        (col("est") - col("exact")).cast("long").as("overcount"),
        (col("est") >= col("exact") &&
          (col("est") - col("exact")).cast("double") <=
            lit(4.0) * col("n1").cast("double") * col("n2").cast("double")
              / w).as("bound_ok"))
  }

  val qSketchJoinsizeOracle: String =
    """WITH l AS (SELECT user_id k, count(*)::BIGINT c FROM events
        GROUP BY 1),
      r AS (SELECT o_custkey k, count(*)::BIGINT c FROM orders GROUP BY 1),
      cml AS (SELECT rr r, ('0x' || substr(md5(rr::VARCHAR || ':' ||
            k::VARCHAR), 1, 6))::BIGINT % 512 b, sum(c)::BIGINT c1
        FROM l CROSS JOIN (SELECT unnest(range(0, 4)) rr) GROUP BY 1, 2),
      cmr AS (SELECT rr r, ('0x' || substr(md5(rr::VARCHAR || ':' ||
            k::VARCHAR), 1, 6))::BIGINT % 512 b, sum(c)::BIGINT c2
        FROM r CROSS JOIN (SELECT unnest(range(0, 4)) rr) GROUP BY 1, 2),
      ip AS (SELECT cml.r, sum(c1::HUGEINT * c2)::HUGEINT ip FROM cml
        JOIN cmr ON cml.r = cmr.r AND cml.b = cmr.b GROUP BY 1),
      est AS (SELECT min(ip) est FROM ip),
      ex AS (SELECT sum(l.c::HUGEINT * r.c)::HUGEINT exact FROM l
        JOIN r ON l.k = r.k),
      t AS (SELECT (SELECT sum(c) FROM l)::BIGINT n1,
        (SELECT sum(c) FROM r)::BIGINT n2)
      SELECT n1, n2, exact::BIGINT exact_size, est::BIGINT est_size,
        (est - exact)::BIGINT overcount,
        (est >= exact AND (est - exact)::DOUBLE <=
          4.0 * n1::DOUBLE * n2::DOUBLE / 512) AS bound_ok
      FROM t CROSS JOIN ex CROSS JOIN est"""

  // ---------- RFM segmentation (histogram-exact median cutoffs) ----------
  /** Recency/Frequency/Monetary customer segmentation — the classic
    * marketing-analytics cut, built the way exact data-dependent
    * cutoffs stay computable at corpus scale: a global `ntile(4)` needs
    * a single-partition window over every customer (a scale-killer),
    * so instead each metric is QUANTIZED to a bounded domain (recency
    * in days, frequency in orders, monetary in whole thousands of
    * dollars) and its exact lower median read off a VALUE HISTOGRAM —
    * one combine-fed `groupBy(metric, value)` whose cardinality is the
    * metric domain, not the customer count, then a running sum
    * partitioned BY METRIC (3 partitions of domain-bounded series).
    * The three cutoffs pivot to one broadcast row; segment labeling is
    * a pure map. Integer end-to-end (cents, days, counts) ⇒ hash-exact.
    *
    * The lower median is `min{v : 2·cum(v) ≥ N}` — stated once and
    * reimplemented verbatim in the oracle, so both engines share the
    * definition rather than trusting two `median()` builtins to agree
    * on interpolation.
    */
  def qRfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val anchor = o.agg(max(to_date($"o_orderdate")).as("anchor"))
    val cust = o.groupBy($"o_custkey")
      .agg(max(to_date($"o_orderdate")).as("last_order"),
        count(lit(1)).as("freq"),
        sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long"))
          .as("cents"))
    val m = cust.crossJoin(broadcast(anchor))
      .select($"o_custkey",
        datediff($"anchor", $"last_order").cast("long").as("recency"),
        $"freq", expr("cents div 100000").as("mon_k"), $"cents")
    val stacked = m.select(explode(map(
      lit("recency"), $"recency",
      lit("freq"), $"freq",
      lit("mon_k"), $"mon_k")).as(Seq("metric", "v")))
    val hist = stacked.groupBy($"metric", $"v").agg(count(lit(1)).as("c"))
    val tot = hist.groupBy($"metric").agg(sum($"c").as("n"))
    val cut = hist
      .withColumn("cum", sum($"c").over(
        Window.partitionBy($"metric").orderBy($"v")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(tot), "metric")
      .filter($"cum" * 2 >= $"n")
      .groupBy($"metric").agg(min($"v").as("med"))
    val cuts = cut.groupBy()
      .pivot("metric", Seq("recency", "freq", "mon_k")).agg(first($"med"))
      .select($"recency".as("r_med"), $"freq".as("f_med"),
        $"mon_k".as("m_med"))
    m.crossJoin(broadcast(cuts))
      .withColumn("seg", concat(
        when($"recency" <= $"r_med", lit("R")).otherwise(lit("r")),
        when($"freq" > $"f_med", lit("F")).otherwise(lit("f")),
        when($"mon_k" > $"m_med", lit("M")).otherwise(lit("m"))))
      .groupBy($"seg")
      .agg(count(lit(1)).as("n_cust"), sum($"cents").as("total_cents"),
        sum($"freq").as("n_orders"))
      .orderBy($"seg")
  }

  val qRfmSegmentsOracle: String =
    """WITH anchor AS (SELECT max(o_orderdate::DATE) a FROM orders),
      cust AS (SELECT o_custkey, max(o_orderdate::DATE) last_order,
          count(*)::BIGINT freq,
          sum((o_totalprice::DECIMAL(18,2) * 100)::BIGINT)::BIGINT cents
        FROM orders GROUP BY 1),
      m AS (SELECT o_custkey,
          date_diff('day', last_order, a)::BIGINT recency,
          freq, cents // 100000 AS mon_k, cents FROM cust, anchor),
      stacked AS (
        SELECT 'recency' metric, recency v FROM m
        UNION ALL SELECT 'freq', freq FROM m
        UNION ALL SELECT 'mon_k', mon_k FROM m),
      hist AS (SELECT metric, v, count(*)::BIGINT c FROM stacked
        GROUP BY 1, 2),
      cum AS (SELECT metric, v,
          sum(c) OVER (PARTITION BY metric ORDER BY v) cum,
          sum(c) OVER (PARTITION BY metric) n FROM hist),
      cut AS (SELECT metric, min(v) med FROM cum WHERE cum * 2 >= n
        GROUP BY 1),
      cuts AS (SELECT
        max(CASE WHEN metric = 'recency' THEN med END) r_med,
        max(CASE WHEN metric = 'freq' THEN med END) f_med,
        max(CASE WHEN metric = 'mon_k' THEN med END) m_med FROM cut)
      SELECT (CASE WHEN recency <= r_med THEN 'R' ELSE 'r' END ||
              CASE WHEN freq > f_med THEN 'F' ELSE 'f' END ||
              CASE WHEN mon_k > m_med THEN 'M' ELSE 'm' END) AS seg,
        count(*)::BIGINT n_cust, sum(cents)::BIGINT total_cents,
        sum(freq)::BIGINT n_orders
      FROM m, cuts GROUP BY seg ORDER BY seg"""

  // ---------- rolling exact median over a bounded window frame ----------
  /** Rolling 7-day EXACT median of daily revenue per order priority —
    * the robust companion to a rolling mean (one outlier day skews a
    * mean for a week; the median shrugs). Exactness without doubles:
    * revenue is summed in integer cents per (priority, day) — ONE
    * combine-fed aggregate collapsing the fact to a calendar-bounded
    * series — and the median over each ≤7-row frame is read from the
    * sorted frame list as `L[(n+1) div 2] + L[(n+2) div 2]` (twice the
    * median; odd n doubles the middle, even n sums the two middles), so
    * the output `med2` is a BIGINT both engines agree on bit-for-bit —
    * no division, no `.5` rendering hazard.
    *
    * Scale shape: the window partitions by priority over the per-day
    * aggregate — its input is domain-bounded (#priorities × #days), the
    * frame is a constant 7 rows, and the corpus-scale fact never
    * reaches the window. The year filter is applied before aggregation
    * IDENTICALLY in both engines, so the frames align.
    */
  def qWindowMedian(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .filter(year($"o_orderdate") === 1995)
      .groupBy($"o_orderpriority".as("prio"),
        to_date($"o_orderdate").as("dte"))
      .agg(sum(($"o_totalprice".cast("decimal(18,2)") * 100).cast("long"))
        .as("cents"))
    val w = Window.partitionBy($"prio").orderBy($"dte").rowsBetween(-6, 0)
    daily
      .withColumn("ls", sort_array(collect_list($"cents").over(w)))
      .withColumn("n", size($"ls"))
      .withColumn("med2",
        element_at($"ls", expr("(n + 1) div 2").cast("int")) +
          element_at($"ls", expr("(n + 2) div 2").cast("int")))
      .select($"prio", $"dte".cast("string").as("dte"), $"cents", $"med2")
      .orderBy($"prio", $"dte")
  }

  val qWindowMedianOracle: String =
    """WITH daily AS (SELECT o_orderpriority prio, o_orderdate::DATE dte,
        sum((o_totalprice::DECIMAL(18,2) * 100)::BIGINT)::BIGINT cents
      FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1, 2),
      r AS (SELECT prio, dte, cents,
        list_sort(list(cents) OVER (PARTITION BY prio ORDER BY dte
          ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) ls FROM daily)
      SELECT prio, dte::VARCHAR dte, cents,
        (ls[(len(ls) + 1) // 2] + ls[(len(ls) + 2) // 2])::BIGINT AS med2
      FROM r ORDER BY prio, dte"""

  // ---------- spatial distance join (grid-blocked, provably complete) ----------
  /** All-pairs distance join on a 2-D integer grid — the spatial-blocking
    * pattern (geohash/S2-cell style) reduced to its provable core. Points
    * get deterministic integer coordinates derived from the key by two
    * Lehmer-style scrambles (pure 64-bit arithmetic both engines
    * reproduce bit-for-bit), and the radius-r self-join never goes
    * quadratic: each point buckets to a ⌈cell = r⌉ grid square, ONE side
    * expands to its 3×3 neighborhood, and the candidate join is an
    * EQUI-join on the cell key. Completeness is the floor-function
    * pigeonhole: |Δx| ≤ r = cell ⇒ the cell indices differ by at most 1
    * (⌊(a+r)/r⌋ = ⌊a/r⌋+1), so every true pair meets in exactly one of
    * the 9 probed cells — exactly once, so no distinct is needed. The
    * oracle is the NAIVE all-pairs join, making the hash match an
    * end-to-end completeness proof of the blocking (the PPJoin /
    * fuzzy-match discipline applied to geometry). Distances stay
    * squared integers (`dist2`), so the compare is exact.
    *
    * Scale shape: 9× fan-out on one side of a shuffle equi-join —
    * linear in the corpus, never quadratic; per-cell density bounds the
    * verify fan-in the way LSH band buckets do.
    */
  private[ops] def spatialPairs(pts: DataFrame, radius: Int): DataFrame = {
    val cells = pts.select($"id", $"x", $"y",
      expr(s"x div $radius").as("cx"), expr(s"y div $radius").as("cy"))
    val probe = cells.select($"id".as("a"), $"x".as("ax"), $"y".as("ay"),
      explode(expr("flatten(transform(sequence(-1, 1), dx -> " +
        "transform(sequence(-1, 1), dy -> " +
        "struct(cx + dx AS jx, cy + dy AS jy))))")).as("c"))
      .select($"a", $"ax", $"ay", $"c.jx", $"c.jy")
    probe
      .join(cells.select($"id".as("b"), $"x".as("bx"), $"y".as("by_"),
        $"cx", $"cy"),
        $"jx" === $"cx" && $"jy" === $"cy" && $"a" < $"b")
      .withColumn("dist2",
        ($"ax" - $"bx") * ($"ax" - $"bx") +
          ($"ay" - $"by_") * ($"ay" - $"by_"))
      .filter($"dist2" <= radius * radius)
  }

  def qSpatialJoin(spark: SparkSession, dir: String): DataFrame = {
    // quadratic (not affine) scramble: an affine map of the key makes
    // every pair's distance a function of Δkey alone — the measured
    // distance spectrum degenerated to two values. The k² term breaks
    // the translation symmetry; k is reduced mod a prime first so k²·7
    // stays far from the 64-bit edge at any conceivable key
    val pts = Tables.customer(spark, dir)
      .filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey".as("id"),
        expr("((c_custkey % 65521) * (c_custkey % 65521) * 3 + " +
          "(c_custkey % 65521) * 48271 + 11) % 1024").as("x"),
        expr("((c_custkey % 65521) * (c_custkey % 65521) * 7 + " +
          "(c_custkey % 65521) * 69621 + 5) % 1024").as("y"))
    spatialPairs(pts, 16)
      .groupBy(expr("dist2 div 64").as("qbin"))
      .agg(count(lit(1)).as("n_pairs"), min($"dist2").as("min_d2"),
        max($"dist2").as("max_d2"), sum($"dist2").as("sum_d2"))
      .orderBy($"qbin")
  }

  val qSpatialJoinOracle: String =
    """WITH pts AS (SELECT c_custkey id,
        ((c_custkey % 65521) * (c_custkey % 65521) * 3 +
          (c_custkey % 65521) * 48271 + 11) % 1024 x,
        ((c_custkey % 65521) * (c_custkey % 65521) * 7 +
          (c_custkey % 65521) * 69621 + 5) % 1024 y
      FROM customer WHERE c_mktsegment = 'BUILDING'),
      pairs AS (SELECT a.id a, b.id b,
          (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS dist2
        FROM pts a JOIN pts b ON a.id < b.id)
      SELECT dist2 // 64 AS qbin, count(*)::BIGINT n_pairs,
        min(dist2)::BIGINT min_d2, max(dist2)::BIGINT max_d2,
        sum(dist2)::BIGINT sum_d2
      FROM pairs WHERE dist2 <= 256 GROUP BY 1 ORDER BY 1"""

  // ---------- local differential privacy (k-ary randomized response) ----------
  /** LOCAL differential privacy (k-ary randomized response) — the
    * companion of [[qPrivacyDp]]'s central mechanism: each EVENT
    * reports its type through k-RR before any aggregation, so the
    * collector never sees a true row. ε = ln 3 is chosen to make the
    * whole mechanism EXACT RATIONALS: p = e^ε/(e^ε+k−1) = 3/7 with
    * k = 5, and the seeded per-event draw h = md5(event_id) mod 7·10⁵
    * lives on a domain DIVISIBLE by e^ε+k−1 = 7, so "report truth iff
    * h < 3·10⁵" hits 3/7 exactly and each of the k−1 decoy arms gets
    * exactly 10⁵ residues (a 10⁶ domain would make p = 0.428572 and
    * the arms non-uniform — a bias the unbiased estimator doesn't
    * correct). Derandomization IS the testability discipline, as in
    * q_privacy_dp; the unbiased estimator
    * n̂ = (o·(k−1+e^ε) − n)/(e^ε−1) = (7o − n)/2 emits as the exact
    * integer 2n̂ plus one rounded double. The oracle replays draw,
    * report, and debias bit-for-bit.
    *
    * Scale shape: one broadcast of the k-row alphabet, one scan-side
    * report pass, two combine-fed counts. The per-type relative error
    * lands near √n/n — visible in the emitted rel_err column.
    */
  def qPrivacyLdp(spark: SparkSession, dir: String): DataFrame = {
    val types = Tables.events(spark, dir)
      .select(col("event_type")).distinct()
      .withColumn("rt", row_number()
        .over(Window.orderBy(col("event_type"))) - 1)
      .stageCheckpoint() // the k-row type alphabet (k = 5)
    // e^ε = 3 ⇒ p_truth = 3/(3 + k − 1); a draw domain of
    // unit·(3 + k − 1) makes the truth arm and each decoy arm an exact
    // residue count — no 1e6-domain rounding bias
    val k = 5
    val unit = 100000L
    val dom = (3 + k - 1) * unit // 700000
    val reported = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"))
      .join(broadcast(types), "event_type")
      .withColumn("h", pmod(
        conv(substring(md5(col("event_id").cast("string")), 1, 6), 16, 10)
          .cast("long"), lit(dom)))
      // report truth iff h < 3·unit (p = 3/7 exactly); otherwise
      // r = h − 3·unit ∈ [0, (k−1)·unit) picks j = r DIV unit uniformly
      .withColumn("truth", col("h") < 3 * unit)
      .withColumn("j", expr(s"(h - ${3 * unit}) DIV $unit"))
      .withColumn("rr",
        when(col("truth"), col("rt"))
          .otherwise(when(col("j") < col("rt"), col("j"))
            .otherwise(col("j") + 1L)))
    val obs = reported.groupBy(col("rr"))
      .agg(count(lit(1)).as("o"))
      .join(broadcast(types.select(col("rt").as("rr"),
        col("event_type"))), "rr")
    val truth = Tables.events(spark, dir).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_true"))
      .stageCheckpoint() // k rows; also supplies the total below
    val n = truth.agg(sum(col("n_true")).as("n"))
    obs.join(truth, "event_type").crossJoin(broadcast(n))
      .select(col("event_type"), col("n_true"), col("o").as("n_observed"),
        (lit(7L) * col("o") - col("n")).as("est2"),
        round((lit(7L) * col("o") - col("n")).cast("double") / 2.0, 6)
          .as("est6"),
        round(abs((lit(7L) * col("o") - col("n")).cast("double") / 2.0 -
          col("n_true").cast("double")) /
          col("n_true").cast("double"), 6).as("rel_err6"))
      .orderBy(col("event_type"))
  }

  val qPrivacyLdpOracle: String =
    """WITH types AS (SELECT event_type,
        row_number() OVER (ORDER BY event_type) - 1 AS rt
      FROM (SELECT DISTINCT event_type FROM events)),
      rep AS (SELECT e.event_id, t.rt,
          ('0x' || substr(md5(e.event_id::VARCHAR), 1, 6))::BIGINT
            % 700000 AS h
        FROM events e JOIN types t USING (event_type)),
      rr AS (SELECT CASE WHEN h < 300000 THEN rt
          ELSE CASE WHEN (h - 300000) // 100000 < rt
            THEN (h - 300000) // 100000
            ELSE (h - 300000) // 100000 + 1 END END AS r
        FROM rep),
      obs AS (SELECT t.event_type, count(*)::BIGINT o
        FROM rr JOIN types t ON t.rt = rr.r GROUP BY 1),
      tr AS (SELECT event_type, count(*)::BIGINT n_true FROM events
        GROUP BY 1),
      nn AS (SELECT count(*)::BIGINT n FROM events)
      SELECT obs.event_type, tr.n_true, obs.o AS n_observed,
        7 * obs.o - nn.n AS est2,
        round((7 * obs.o - nn.n)::DOUBLE / 2.0, 6) AS est6,
        round(abs((7 * obs.o - nn.n)::DOUBLE / 2.0 - tr.n_true::DOUBLE)
          / tr.n_true::DOUBLE, 6) AS rel_err6
      FROM obs JOIN tr USING (event_type) CROSS JOIN nn
      ORDER BY obs.event_type"""

  // ---------- differentially-private count/sum release ----------
  /** Differentially-private release of the per-segment customer counts
    * and (clipped) balance sums — the privacy-budgeted aggregate a data
    * platform publishes when the raw counts themselves are sensitive.
    * Standard Laplace mechanism, ε = 0.5 per statistic (sequential
    * composition ⇒ ε_total = 1.0 for the pair): count sensitivity 1,
    * sum sensitivity = the CLIP WIDTH — balances are clamped to
    * [−1000, 10000] dollars (1,100,000 cents) before summing, the
    * clipping step that BOUNDS a sum release's sensitivity (here the
    * natural data range already sits inside the clamp, so clipping is
    * numerically a no-op while still establishing the bound).
    *
    * Noise is the inverse-CDF Laplace draw from a DETERMINISTIC uniform
    * seeded per (segment, statistic) by md5 — u = (h + 0.5)/10⁶ with
    * h = md5 % 10⁶, so u is never exactly ½ and 1 − 2|u − ½| ≥ 10⁻⁶ keeps
    * the log finite — which the oracle replays exactly (a production
    * system would draw from a secure RNG; the derandomization is what
    * makes the release hash-checkable, the same plant discipline as
    * q_text_pii). Dollar sums go through DECIMAL(18,2)·100 integer cents
    * (exact, associative); the ONLY doubles are the final noise adds,
    * rounded to 1e-6.
    *
    * Scale shape: one combine-fed aggregate over the fact; the noise
    * arithmetic runs on the 5-row segment table. Nothing else.
    */
  def qPrivacyDp(spark: SparkSession, dir: String): DataFrame = {
    def lap(tag: String, scale: Double): Column = {
      val h = pmod(
        conv(substring(md5(concat($"seg", lit(":" + tag))), 1, 6), 16, 10)
          .cast("long"), lit(1000000L))
      val u = (h.cast("double") + lit(0.5)) / lit(1000000.0)
      val c = u - lit(0.5)
      -lit(scale) * signum(c) * log(lit(1.0) - lit(2.0) * abs(c))
    }
    Tables.customer(spark, dir)
      .select($"c_mktsegment".as("seg"),
        expr("CAST(least(greatest(CAST(c_acctbal AS DECIMAL(18,2)), " +
          "-1000.00), 10000.00) * 100 AS BIGINT)").as("cents"))
      .groupBy($"seg")
      .agg(count(lit(1)).as("n_true"), sum($"cents").as("clip_cents"))
      .select($"seg", $"n_true",
        round($"n_true".cast("double") + lap("n", 2.0), 6).as("noisy_n6"),
        $"clip_cents",
        round($"clip_cents".cast("double") + lap("sum", 2200000.0), 6)
          .as("noisy_cents6"),
        lit(1.0).as("eps_total"))
      .orderBy($"seg")
  }

  val qPrivacyDpOracle: String =
    """WITH agg AS (SELECT c_mktsegment seg, count(*)::BIGINT n_true,
        sum(CAST(least(greatest(c_acctbal::DECIMAL(18,2), -1000.00),
          10000.00) * 100 AS BIGINT))::BIGINT clip_cents
      FROM customer GROUP BY 1),
      noise AS (SELECT seg, n_true, clip_cents,
        (('0x' || substr(md5(seg || ':n'), 1, 6))::BIGINT % 1000000 + 0.5)
          / 1000000.0 AS un,
        (('0x' || substr(md5(seg || ':sum'), 1, 6))::BIGINT % 1000000 + 0.5)
          / 1000000.0 AS us
      FROM agg)
      SELECT seg, n_true,
        round(n_true + (-2.0 * sign(un - 0.5) *
          ln(1.0 - 2.0 * abs(un - 0.5))), 6) AS noisy_n6,
        clip_cents,
        round(clip_cents + (-2200000.0 * sign(us - 0.5) *
          ln(1.0 - 2.0 * abs(us - 0.5))), 6) AS noisy_cents6,
        1.0::DOUBLE AS eps_total
      FROM noise ORDER BY seg"""

  // ---------- GDPR right-to-be-forgotten purge audit ----------
  /** Right-to-be-forgotten propagation: given a forget-list of user ids
    * (deterministic ~5 % md5-parity sample of customers — the plant
    * discipline), run the purge as a LEFT ANTI join on every fact table
    * that references users and report, per table, total rows, rows
    * purged, rows kept, and the RESIDUAL count — forgotten ids still
    * present after the purge, recomputed from the purged output itself
    * (the audit is only evidence if it re-derives zero from the result,
    * not from the construction). This is the governance counterpart of
    * q_privacy_kanon/q_text_pii: deletion, not masking.
    *
    * Scale shape: the forget-list is broadcast (deletion requests are
    * bounded — thousands, not billions); each fact pays one scan with a
    * broadcast-hash anti probe plus one aggregate; no shuffle of fact
    * rows at all. At 100 TB this is exactly the shape of a compaction
    * pass with an anti-join predicate pushed into the rewrite.
    */
  def qGdprForget(spark: SparkSession, dir: String): DataFrame = {
    val forget = Tables.customer(spark, dir)
      .select($"c_custkey".as("fid"))
      .filter(pmod(conv(substring(md5($"fid".cast("string")), 1, 6), 16, 10)
        .cast("long"), lit(20L)) === 0L)
    def audit(df: DataFrame, key: Column, tbl: String): DataFrame = {
      val total = df.agg(count(lit(1)).as("n_rows"))
      val kept = df.join(broadcast(forget), key === $"fid", "left_anti")
      kept.join(broadcast(forget), key === $"fid", "left_outer")
        .agg(count(lit(1)).as("n_kept"),
          sum(when($"fid".isNotNull, 1L).otherwise(0L)).as("n_residual"))
        .crossJoin(broadcast(total))
        .select(lit(tbl).as("tbl"), $"n_rows",
          ($"n_rows" - $"n_kept").as("n_purged"), $"n_kept", $"n_residual")
    }
    audit(Tables.customer(spark, dir), $"c_custkey", "customer")
      .unionByName(audit(Tables.orders(spark, dir), $"o_custkey", "orders"))
      .unionByName(audit(Tables.events(spark, dir), $"user_id", "events"))
      .orderBy($"tbl")
  }

  val qGdprForgetOracle: String =
    """WITH forget AS (SELECT c_custkey fid FROM customer
        WHERE ('0x' || substr(md5(c_custkey::VARCHAR), 1, 6))::BIGINT
          % 20 = 0),
      ck AS (SELECT c.c_custkey, f.fid FROM customer c
        LEFT JOIN forget f ON c.c_custkey = f.fid),
      ok AS (SELECT o.o_custkey, f.fid FROM orders o
        LEFT JOIN forget f ON o.o_custkey = f.fid),
      ek AS (SELECT e.user_id, f.fid FROM events e
        LEFT JOIN forget f ON e.user_id = f.fid)
      SELECT 'customer' AS tbl, count(*)::BIGINT n_rows,
        sum(CASE WHEN fid IS NOT NULL THEN 1 ELSE 0 END)::BIGINT n_purged,
        sum(CASE WHEN fid IS NULL THEN 1 ELSE 0 END)::BIGINT n_kept,
        0::BIGINT AS n_residual FROM ck
      UNION ALL
      SELECT 'events', count(*)::BIGINT,
        sum(CASE WHEN fid IS NOT NULL THEN 1 ELSE 0 END)::BIGINT,
        sum(CASE WHEN fid IS NULL THEN 1 ELSE 0 END)::BIGINT,
        0::BIGINT FROM ek
      UNION ALL
      SELECT 'orders', count(*)::BIGINT,
        sum(CASE WHEN fid IS NOT NULL THEN 1 ELSE 0 END)::BIGINT,
        sum(CASE WHEN fid IS NULL THEN 1 ELSE 0 END)::BIGINT,
        0::BIGINT FROM ok
      ORDER BY tbl"""

  // ---------- entity resolution: fuzzy pairs → components → canon ----------
  /** Full entity resolution over the name dictionary: the
    * [[qFuzzyMatch]] edit-distance pair graph closed into CONNECTED
    * COMPONENTS, each component collapsed to a canonical entity (min
    * name) with its member count and total row coverage — the step that
    * turns pairwise fuzzy matches into an actual dedup table
    * (transitivity matters: "blue bolt" ~ "blue bolts" ~ "blue boltz"
    * must land in ONE entity even when the ends differ by more than τ).
    * Singleton names become their own entity, so the output is a total
    * mapping of the dictionary.
    *
    * Scale shape: pairs come from the provably-complete q-gram blocking
    * equi-join (never a cartesian — see [[fuzzyPairs]]); the min-label
    * propagation fixpoint runs on the DICTIONARY graph (distinct names —
    * vocabulary-scale, corpus-independent), with lineage truncated per
    * round and rounds bounded by component diameter (edit-chains are
    * short in practice; the loop asserts convergence). The corpus pays
    * only the initial name aggregate. The oracle's recursive
    * transitive closure over the naive pair join doubles as the
    * end-to-end completeness proof of blocking + fixpoint.
    */
  def qEntityResolve(spark: SparkSession, dir: String): DataFrame = {
    // dictionary and pair graph come from the shared session fixtures —
    // the per-invocation work is the fixpoint + rollup only
    val names = Relational.nameDict(spark, dir)
    val pairs = Relational.fuzzyNamePairs(spark, dir).select($"a", $"b")
    val edges = pairs.union(pairs.select($"b", $"a")).toDF("src", "dst")
      .stageCheckpoint()
    var labels = names.select($"p_name".as("node"), $"p_name".as("lab"))
      .stageCheckpoint()
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 20) {
      val prop = edges.join(labels, $"dst" === $"node")
        .select($"src".as("node"), $"lab", lit(null).cast("string").as("old"))
      val next = labels.select($"node", $"lab", $"lab".as("old"))
        .union(prop)
        .groupBy($"node").agg(min($"lab").as("lab"), min($"old").as("old"))
        .stageCheckpoint()
      changed = next.filter($"lab" =!= $"old").count()
      labels = next.select($"node", $"lab")
      rounds += 1
    }
    require(changed == 0, s"entity fixpoint did not converge in $rounds rounds")
    labels.join(names, $"node" === $"p_name")
      .groupBy($"lab".as("canonical"))
      .agg(countDistinct($"node").as("n_names"), sum($"n").as("total_rows"))
      .orderBy($"canonical")
  }

  val qEntityResolveOracle: String =
    """WITH RECURSIVE names AS (SELECT p_name, count(*)::BIGINT n FROM part
        GROUP BY 1),
      pairs AS (SELECT a.p_name a, b.p_name b FROM names a JOIN names b
        ON a.p_name < b.p_name AND levenshtein(a.p_name, b.p_name) <= 3),
      edges AS (SELECT a src, b dst FROM pairs UNION SELECT b, a FROM pairs),
      reach(node, lab) AS (
        SELECT p_name, p_name FROM names
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node),
      labels AS (SELECT node, min(lab) lab FROM reach GROUP BY node)
      SELECT l.lab AS canonical, count(*)::BIGINT n_names,
        sum(nm.n)::BIGINT total_rows
      FROM labels l JOIN names nm ON nm.p_name = l.node
      GROUP BY 1 ORDER BY canonical"""

  val registry: Seq[GraftQuery] = Seq(
    GraftQuery("q_entity_resolve", qEntityResolve, qEntityResolveOracle),
    GraftQuery("q_sketch_joinsize", qSketchJoinsize, qSketchJoinsizeOracle),
    GraftQuery("q_privacy_dp", qPrivacyDp, qPrivacyDpOracle),
    GraftQuery("q_privacy_ldp", qPrivacyLdp, qPrivacyLdpOracle),
    GraftQuery("q_gdpr_forget", qGdprForget, qGdprForgetOracle),
    GraftQuery("q_dq_constraints", qDqConstraints, qDqConstraintsOracle),
    GraftQuery("q_privacy_kanon", qPrivacyKanon, qPrivacyKanonOracle),
    GraftQuery("q_sketch_merge", qSketchMerge, qSketchMergeOracle),
    GraftQuery("q_spatial_join", qSpatialJoin, qSpatialJoinOracle),
    GraftQuery("q_rfm_segments", qRfmSegments, qRfmSegmentsOracle),
    GraftQuery("q_window_median", qWindowMedian, qWindowMedianOracle),
    GraftQuery("q_matview_merge", qMatviewMerge, qMatviewMergeOracle),
  )
}
