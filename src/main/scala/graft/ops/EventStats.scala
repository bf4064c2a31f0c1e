package graft.ops

import Checkpoints._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftQuery

/** Statistical and series readouts over the `events` table, split out of
  * [[EventOps]] along the family seam (round 16, zero behavior change):
  * PSI distribution drift, survival analysis (life table + exact
  * Kaplan–Meier via recursive CTE), the A/B two-proportion z-test,
  * difference-in-differences, exact-normal-equations linear regression,
  * Benjamini–Hochberg FDR, Gini concentration, bot regularity, index of
  * dispersion, M4 and LTTB series downsampling, Markov transition
  * structure, Welch t-test, one-way ANOVA, Poisson bootstrap, and the
  * two-sample Kolmogorov–Smirnov statistic. All-integer or
  * rounding-pinned arithmetic throughout so every readout is
  * DuckDB-oracle-exact; the drift/abtest finishing helpers are
  * `private[ops]` because [[EventStreaming]] reruns them over streamed
  * state to prove stream ≡ batch.
  */
object EventStats {

  // ---------- distribution drift between two snapshots (PSI) ----------
  /** Population Stability Index of the `value` distribution between the
    * first half of the month (reference window) and the second (current
    * window) — the monitoring query a training-data pipeline runs on
    * every refresh to catch upstream distribution shift before it
    * poisons a mixture. Fixed bin edges (width 20, clamped to 10 bins),
    * not quantiles: fixed edges make the two windows directly
    * comparable and keep the query a single scan + 10-group combine-fed
    * aggregate — a quantile-based binning would need a global sort or
    * sketch per window first. Laplace (+1) smoothing keeps empty bins
    * finite.
    *
    * Determinism discipline (SURVEY §12): both windows' counts and
    * totals stay BIGINT; each bin's PSI contribution is formed as ONE
    * double division of two exact integer products followed by ONE `ln`
    * of another exact-integer ratio, then `round(..., 6)` — the same
    * fixed-op-order shape as [[TextAnalysis.qTextTfidf]], identical on
    * both engines regardless of aggregation order.
    *
    * Scale shape: one corpus scan feeding a 10-group partial aggregate;
    * the totals are RE-AGGREGATED FROM THOSE 10 ROWS (never a second
    * scan — ReuseExchange collapses the shared subtree) and cross in as
    * a broadcast single row.
    */
  private val DriftCutoff = "2024-01-16"

  /** The conditional per-bin counting shared by the batch and streaming
    * drift monitors.
    */
  private[ops] def driftBinAgg(ev: DataFrame): DataFrame =
    ev.withColumn("bin", least(floor(col("value") / 20).cast("int"), lit(9)))
      .groupBy(col("bin"))
      .agg(
        sum(when(col("ts") < lit(DriftCutoff).cast("timestamp"), 1L)
          .otherwise(0L)).as("n_ref"),
        sum(when(col("ts") >= lit(DriftCutoff).cast("timestamp"), 1L)
          .otherwise(0L)).as("n_cur"))

  /** PSI arithmetic over the (≤10-row) binned aggregate — totals
    * re-aggregated from those rows and crossed in as a broadcast single
    * row, never a second corpus scan.
    */
  private[ops] def driftFinish(binned: DataFrame): DataFrame = {
    val totals = binned.agg(
      sum(col("n_ref")).as("tot_ref"), sum(col("n_cur")).as("tot_cur"))
    // p = (n_ref+1)/(tot_ref+10), q = (n_cur+1)/(tot_cur+10);
    // psi_bin = (p - q) * ln(p / q), all regrouped into integer products
    binned.crossJoin(broadcast(totals))
      .withColumn("num", (col("n_ref") + 1) * (col("tot_cur") + 10))
      .withColumn("den", (col("n_cur") + 1) * (col("tot_ref") + 10))
      .withColumn("psi", round(
        (col("num") - col("den")).cast("double") /
          ((col("tot_ref") + 10) * (col("tot_cur") + 10)).cast("double") *
          log(col("num").cast("double") / col("den").cast("double")), 6))
      .select(col("bin"), col("n_ref"), col("n_cur"), col("psi"))
      // orderBy, NOT coalesce(1)+sort: a pre-sort coalesce(1) here would
      // collapse the whole preceding agg stage into one task (measured
      // +0.3-0.9 s on both the batch and stream variants)
      .orderBy(col("bin"))
  }

  def qStatsDrift(spark: SparkSession, dir: String): DataFrame =
    driftFinish(driftBinAgg(Tables.events(spark, dir)))

  val qStatsDriftOracle: String =
    """WITH b AS (SELECT least(floor(value / 20)::INT, 9) AS bin,
        sum(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)::BIGINT n_ref,
        sum(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)::BIGINT n_cur
        FROM events GROUP BY 1),
      t AS (SELECT sum(n_ref)::BIGINT tot_ref, sum(n_cur)::BIGINT tot_cur FROM b)
      SELECT bin, n_ref, n_cur,
        round(((n_ref + 1) * (tot_cur + 10) - (n_cur + 1) * (tot_ref + 10))
            / (((tot_ref + 10) * (tot_cur + 10))::DOUBLE)
          * ln(((n_ref + 1) * (tot_cur + 10))::DOUBLE
            / ((n_cur + 1) * (tot_ref + 10))), 6) AS psi
      FROM b, t ORDER BY bin"""

  // ---------- survival analysis (inter-event gap life table) ----------
  /** Kaplan–Meier-style LIFE TABLE over inter-event gaps — the
    * renewal-process survival analysis behind "when has a user really
    * gone quiet?" thresholds (the principled way to choose a session
    * timeout or a churn horizon, instead of guessing 30 minutes): each
    * COMPLETED gap between a user's consecutive events is an event
    * subject with duration `floor(gap hours)`; the OPEN gap from each
    * user's last event to the corpus horizon is CENSORED at its current
    * length (the defining distinction of survival statistics — we know
    * that gap exceeds its observed value, not where it ends, and
    * counting it as a failure would bias the hazard up). Per
    * gap-duration hour: the at-risk count, completed and censored
    * counts, and the discrete hazard in fixed-point millionths — every
    * emitted value an exact integer, so the full curve hash-matches
    * across engines (survival S(t) is the running product of
    * `1 − hazard`, recoverable exactly from these rows; emitting the
    * hazard table avoids any cross-engine float cumulative product).
    *
    * Scale shape: one user-partitioned `lead` window over the corpus
    * (the [[qEventsPaths]] sequence discipline — keyed shuffle, no
    * global sort), a one-row horizon broadcast for the censored tail,
    * then all remaining work on the per-duration aggregate, whose size
    * is bounded by the corpus TIME SPAN in hours, not the corpus. The
    * at-risk reverse running sum is a partition-less window over that
    * span-bounded table — pinned in the global-window allowlist with
    * the [[qEventsCumulativeUsers]] rationale. Both engines floor
    * timestamps to whole seconds before differencing (`unix_timestamp`
    * / `date_diff('second')`), so bucket assignment is integer-exact.
    */
  def qEventsSurvival(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = ev
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .crossJoin(broadcast(ev.agg(max(col("ts")).as("tend"))))
      .select(
        when(col("next_ts").isNotNull,
          expr("(unix_timestamp(next_ts) - unix_timestamp(ts)) DIV 3600"))
          .otherwise(
            expr("(unix_timestamp(tend) - unix_timestamp(ts)) DIV 3600"))
          .as("t"),
        col("next_ts").isNotNull.cast("long").as("completed"))
    val byHour = gaps.groupBy(col("t"))
      .agg(sum(col("completed")).as("n_completed"),
        sum(lit(1L) - col("completed")).as("n_censored"))
    // at-risk set: every gap that reaches duration t — a reverse running
    // sum over the span-bounded life table
    val wr = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byHour
      .withColumn("n_risk",
        sum(col("n_completed") + col("n_censored")).over(wr))
      .select(col("t"), col("n_risk"), col("n_completed"), col("n_censored"),
        expr("n_completed * 1000000 DIV n_risk").as("hazard_e6"))
      .orderBy(col("t"))
  }

  val qEventsSurvivalOracle: String =
    """WITH hz AS (SELECT max(ts) tend FROM events),
      g AS (SELECT ts, lead(ts) OVER (PARTITION BY user_id
          ORDER BY ts, event_id) next_ts FROM events),
      gaps AS (SELECT
          CASE WHEN next_ts IS NOT NULL
            THEN date_diff('second', ts, next_ts) // 3600
            ELSE date_diff('second', ts, tend) // 3600 END AS t,
          (next_ts IS NOT NULL)::BIGINT completed
        FROM g CROSS JOIN hz),
      byhour AS (SELECT t, sum(completed)::BIGINT n_completed,
          sum(1 - completed)::BIGINT n_censored
        FROM gaps GROUP BY t),
      lt AS (SELECT t, n_completed, n_censored,
          sum(n_completed + n_censored) OVER (ORDER BY t DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT n_risk
        FROM byhour)
      SELECT t, n_risk, n_completed, n_censored,
        n_completed * 1000000 // n_risk AS hazard_e6
      FROM lt ORDER BY t"""

  // ---------- recursive CTE: exact Kaplan–Meier survival curve ----------
  /** The Kaplan–Meier SURVIVAL CURVE S(t) computed with `WITH RECURSIVE`
    * (Spark 4's recursive CTE / `UnionLoop` — exercised here from pure
    * SQL, proving the surface for JDBC consumers): S(t) is an inherently
    * SEQUENTIAL product Π(1 − dᵢ/nᵢ), which a recursive CTE evaluates in
    * a deterministic order, so both engines can carry it in FIXED-POINT
    * (e9) integers with truncating division at each step — bit-identical
    * across engines, no float cumulative product anywhere (the
    * cross-engine hazard [[qEventsSurvival]] deliberately stops at the
    * hazard table for exactly this reason; recursion is what makes the
    * curve itself exact). The recursion also derives each step's at-risk
    * set from the previous row (`n − d − c`), replacing
    * [[qEventsSurvival]]'s reverse-cumsum window.
    *
    * Subjects are the same inter-event gaps in FOUR-HOUR buckets,
    * TOP-CODED at bucket [[KmMaxBucket]] (the standard terminal bucket
    * of a published life table) so the spine is contiguous and the
    * recursion depth is a CONSTANT 12 — independent of corpus span,
    * safely inside Spark's default 100-level recursion budget at any
    * scale. Depth is the COST dimension of UnionLoop — each level is
    * planned and executed separately — so the bucket width is chosen
    * to keep the loop at 12 levels, and the recursive term is kept
    * JOIN-FREE (arithmetic over bucket-indexed array literals; see the
    * in-function comment) so a level folds to a LocalRelation instead
    * of planning a per-level broadcast join; hour-granular hazards
    * stay available from [[qEventsSurvival]]. Overflow budget: each step multiplies s_e9
    * (≤1e9) by the at-risk count, so BIGINT holds past ~9e9 subjects;
    * beyond that a deployment drops to e6 fixed-point. Scale shape:
    * corpus work is the same user-partitioned `lead` + combine-fed
    * bucket aggregate as [[qEventsSurvival]]; the recursion runs on
    * the constant 12-row single-partition spine.
    */
  private val KmMaxBucket = 11
  private val KmBucketSecs = 14400L

  def qSqlRecursive(spark: SparkSession, dir: String): DataFrame = {
    // The corpus pipeline runs ONCE, batch-side, and materializes the
    // 12-row life table before any recursion: Spark's UnionLoop
    // re-executes every relation the recursive term references at EACH
    // level, so putting the scan+window behind the recursion multiplies
    // the corpus work by the depth (measured 26 s at sf0.1 — the
    // recursion must iterate over a checkpointed dimension table, the
    // same discipline as every iterative fixture in this repo; the
    // remaining cost is the per-level job floor, bounded by the
    // constant depth).
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = ev
      .withColumn("next_ts", lead(col("ts"), 1).over(w))
      .crossJoin(broadcast(ev.agg(max(col("ts")).as("tend"))))
      .select(
        least(
          when(col("next_ts").isNotNull,
            expr(s"(unix_timestamp(next_ts) - unix_timestamp(ts))" +
              s" DIV $KmBucketSecs"))
            .otherwise(
              expr(s"(unix_timestamp(tend) - unix_timestamp(ts))" +
                s" DIV $KmBucketSecs")),
          lit(KmMaxBucket.toLong)).as("t"),
        col("next_ts").isNotNull.cast("long").as("completed"))
    val byBucket = gaps.groupBy(col("t"))
      .agg(sum(col("completed")).as("d"),
        sum(lit(1L) - col("completed")).as("c"))
    // the 12-row life table collects to the driver and re-enters as
    // BIGINT ARRAY LITERALS indexed by bucket (fixed-size model state,
    // the kmeans/BPE discipline). The r17 form re-entered it as a
    // LocalRelation temp view the recursive term JOINED per level —
    // but a UnionLoop level containing a join plans a
    // BroadcastExchange + BroadcastHashJoin every iteration, and the
    // per-level broadcast machinery measured ~95% of the recursion's
    // cost (OPTIMIZATION_r18.md: 12 join-levels ≈ 2.0 s steady-state vs
    // 0.11-0.16 s for the identical arithmetic over `element_at` on
    // the literal arrays — Catalyst's ConvertToLocalRelation folds a
    // join-free Project/Filter level without any exchange). Same
    // recursion, same fixed-point arithmetic, same termination bound
    // (the join on lt.t = r.t+1 ran dry after bucket KmMaxBucket; the
    // explicit r.t < KmMaxBucket bound is that same edge), so the
    // result is bit-identical — proven by the unchanged oracle hash.
    val ltRows = byBucket.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val lt = (0L to KmMaxBucket.toLong).map(t => ltRows.getOrElse(t, (0L, 0L)))
    val dArr = lt.map(_._1 + "L").mkString("array(", ",", ")")
    val cArr = lt.map(_._2 + "L").mkString("array(", ",", ")")
    val n0 = lt.map { case (d, c) => d + c }.sum
    spark.sql(s"""
      WITH RECURSIVE
      r (t, n_risk, n_completed, n_censored, s_e9) AS (
        SELECT CAST(0 AS BIGINT), ${n0}L, ${lt.head._1}L, ${lt.head._2}L,
          ((${n0}L - ${lt.head._1}L) * CAST(1000000000 AS BIGINT)) DIV ${n0}L
        UNION ALL
        SELECT r.t + 1, r.n_risk - r.n_completed - r.n_censored,
          element_at($dArr, CAST(r.t + 2 AS INT)),
          element_at($cArr, CAST(r.t + 2 AS INT)),
          (r.s_e9 * (r.n_risk - r.n_completed - r.n_censored
            - element_at($dArr, CAST(r.t + 2 AS INT))))
            DIV (r.n_risk - r.n_completed - r.n_censored)
        FROM r
        WHERE r.t < $KmMaxBucket
          AND r.n_risk - r.n_completed - r.n_censored > 0
      )
      SELECT t, n_risk, n_completed, n_censored, s_e9
      FROM r ORDER BY t""")
  }

  val qSqlRecursiveOracle: String =
    s"""WITH RECURSIVE
      hz AS (SELECT max(ts) tend FROM events),
      g AS (SELECT ts, lead(ts) OVER (PARTITION BY user_id
          ORDER BY ts, event_id) next_ts FROM events),
      gaps AS (SELECT
          least(CASE WHEN next_ts IS NOT NULL
            THEN date_diff('second', ts, next_ts) // $KmBucketSecs
            ELSE date_diff('second', ts, tend) // $KmBucketSecs END,
            $KmMaxBucket) AS t,
          (next_ts IS NOT NULL)::BIGINT completed
        FROM g CROSS JOIN hz),
      byhour AS (SELECT t, sum(completed)::BIGINT d,
          sum(1 - completed)::BIGINT c
        FROM gaps GROUP BY t),
      spine AS (SELECT unnest(range(0, $KmMaxBucket + 1))::BIGINT AS t),
      lt AS (SELECT s.t, coalesce(d, 0) d, coalesce(c, 0) c
        FROM spine s LEFT JOIN byhour b ON s.t = b.t),
      n0 AS (SELECT count(*)::BIGINT n FROM gaps),
      r (t, n_risk, n_completed, n_censored, s_e9) AS (
        SELECT lt.t, n0.n, lt.d, lt.c,
          ((n0.n - lt.d) * 1000000000) // n0.n
        FROM lt CROSS JOIN n0 WHERE lt.t = 0
        UNION ALL
        SELECT lt.t, r.n_risk - r.n_completed - r.n_censored, lt.d, lt.c,
          (r.s_e9 * (r.n_risk - r.n_completed - r.n_censored - lt.d))
            // (r.n_risk - r.n_completed - r.n_censored)
        FROM r JOIN lt ON lt.t = r.t + 1
        WHERE r.n_risk - r.n_completed - r.n_censored > 0
      )
      SELECT t, n_risk, n_completed, n_censored, s_e9
      FROM r ORDER BY t"""

  // ---------- A/B experiment readout (two-proportion z-test) ----------
  /** The experiment-analysis readout run on every product event stream:
    * users split into variants by a deterministic hash rule (here
    * `user_id % 2` — the assignment IS the experiment design), and each
    * funnel event type gets a two-proportion z-statistic for "did the
    * treatment move this conversion?" — the pooled-variance form
    * `z = (p̂₁−p̂₂) / √(p̂(1−p̂)(1/n₁+1/n₂))`. Every input to the
    * formula is an exact integer (user counts, per-variant converter
    * counts from a conditional distinct aggregate), and the statistic
    * itself is a fixed chain of IEEE divisions and one square root on
    * those identical integers — both engines round each step
    * identically, so `round(z, 6)` hash-matches by construction (the
    * [[graft.ops.Relational.qStatsCorr]] finishing discipline). No
    * significance flag is emitted: thresholding a statistic at 1.96
    * would put a knife-edge boolean in the gate; the consumer applies
    * their own α.
    *
    * Scale shape: one (user, type)-keyed distinct pass then a
    * per-variant conditional aggregate — two combine-fed exchanges
    * whose output is |types| × 2 rows; the z arithmetic runs on that
    * dimension-scale table.
    */
  /** Shared finishing arithmetic of the batch and streaming A/B
    * readouts: exposure = user-day counts per variant, conv = per-type
    * converter counts — the z chain on exact integers is what both
    * paths must agree on (and the shared oracle then proves).
    */
  private[ops] def abtestFinish(exposure: DataFrame, conv: DataFrame)
      : DataFrame =
    conv
      .join(broadcast(exposure), Seq("variant"))
      .groupBy(col("event_type"))
      .agg(
        max(when(col("variant") === 0, col("n_ud"))).as("n0"),
        max(when(col("variant") === 1, col("n_ud"))).as("n1"),
        max(when(col("variant") === 0, col("n_conv"))).as("x0"),
        max(when(col("variant") === 1, col("n_conv"))).as("x1"))
      .select(col("event_type"), col("n0"), col("n1"), col("x0"), col("x1"),
        // guarded: z is undefined when the pooled rate is 0 or 1
        when(col("x0") + col("x1") > 0 &&
             col("x0") + col("x1") < col("n0") + col("n1"),
          round(
            (col("x0") / col("n0") - col("x1") / col("n1")) /
            sqrt(((col("x0") + col("x1")) / (col("n0") + col("n1"))) *
              (lit(1.0) - (col("x0") + col("x1")) / (col("n0") + col("n1"))) *
              (lit(1.0) / col("n0") + lit(1.0) / col("n1"))),
            6)).as("z6"))
      .orderBy(col("event_type"))

  def qEventsAbtest(spark: SparkSession, dir: String): DataFrame = {
    // exposure unit = active USER-DAY (user-level "did they ever X" is
    // degenerate on this corpus: over 30 days every user fires every
    // type at least once, p̂ = 1 and the pooled variance is zero)
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), (col("user_id") % 2).as("variant"),
        to_date(col("ts")).as("dte"), col("event_type"))
    val exposure = ev.select(col("variant"), col("user_id"), col("dte"))
      .distinct()
      .groupBy(col("variant")).agg(count(lit(1)).as("n_ud"))
    val conv = ev.distinct()
      .groupBy(col("event_type"), col("variant"))
      .agg(count(lit(1)).as("n_conv"))
    abtestFinish(exposure, conv)
  }

  val qEventsAbtestOracle: String =
    """WITH ev AS (SELECT DISTINCT user_id, user_id % 2 AS variant,
        ts::DATE AS dte, event_type FROM events),
      exposure AS (SELECT variant, count(*)::BIGINT n_ud
        FROM (SELECT DISTINCT variant, user_id, dte FROM ev) GROUP BY 1),
      conv AS (SELECT event_type, variant, count(*)::BIGINT n_conv
        FROM ev GROUP BY 1, 2),
      w AS (SELECT event_type,
          max(CASE WHEN variant = 0 THEN n_ud END) n0,
          max(CASE WHEN variant = 1 THEN n_ud END) n1,
          max(CASE WHEN variant = 0 THEN n_conv END) x0,
          max(CASE WHEN variant = 1 THEN n_conv END) x1
        FROM conv JOIN exposure USING (variant) GROUP BY event_type)
      SELECT event_type, n0, n1, x0, x1,
        CASE WHEN x0 + x1 > 0 AND x0 + x1 < n0 + n1 THEN
          round((x0 / n0::DOUBLE - x1 / n1::DOUBLE) /
            sqrt(((x0 + x1) / (n0 + n1)::DOUBLE) *
              (1.0 - (x0 + x1) / (n0 + n1)::DOUBLE) *
              (1.0 / n0 + 1.0 / n1)), 6) END AS z6
      FROM w ORDER BY event_type"""

  /** CUSUM mean-shift changepoint screen over the daily event-count
    * series — the monitoring pass that flags WHEN ingest volume broke,
    * not just that it did (the companion to [[qEventsAnomaly]]'s
    * per-day z-screen: CUSUM integrates small sustained shifts that
    * never trip a single-day threshold). The statistic is the classic
    * max-|S_k| scan rewritten in cross-multiplied integers so both
    * engines compare exact BIGINTs: for day k of n with cumulative
    * count `prefix_k` and grand total T, the deviation of the prefix
    * from its null expectation k·T/n is scaled by n to
    * `|n·prefix_k − k·T|` — the argmax day is the maximum-likelihood
    * single changepoint under a mean-shift model.
    *
    * Scale shape: the fact collapses to a per-day count first (ONE
    * combine-fed aggregate; the series is calendar-bounded, ~#days
    * rows), the running sum + row_number run on that domain-bounded
    * series (partition-less windows pinned in the global allowlist with
    * this rationale), and the (n, T) totals join back as a broadcast
    * single row. Nothing downstream of the first aggregate ever sees
    * corpus-scale data.
    */
  def qEventsChangepoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("dte"))
      .agg(count(lit(1)).as("cnt"))
    val totals = daily.agg(count(lit(1)).as("n_days"),
      sum(col("cnt")).as("total"))
    val w = Window.orderBy(col("dte"))
    daily
      .withColumn("k", row_number().over(w))
      .withColumn("prefix",
        sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .crossJoin(broadcast(totals))
      .withColumn("cusum",
        abs(col("n_days") * col("prefix") - col("k") * col("total")))
      .select(col("dte").cast("string").as("dte"), col("cnt"),
        col("prefix"), col("cusum"))
      .orderBy(col("cusum").desc, col("dte"))
      .limit(5)
  }

  val qEventsChangepointOracle: String =
    """WITH daily AS (SELECT ts::DATE dte, count(*)::BIGINT cnt
        FROM events GROUP BY 1),
      t AS (SELECT count(*)::BIGINT n_days, sum(cnt)::BIGINT total
        FROM daily),
      c AS (SELECT dte, cnt, row_number() OVER (ORDER BY dte) k,
          sum(cnt) OVER (ORDER BY dte)::BIGINT prefix FROM daily)
      SELECT dte::VARCHAR AS dte, cnt, prefix,
        abs(n_days * prefix - k * total)::BIGINT AS cusum
      FROM c, t ORDER BY cusum DESC, dte LIMIT 5"""

  // ---------- difference-in-differences (causal readout) ----------
  /** Difference-in-differences over the purchase stream — the causal
    * counterpart of q_events_abtest: treatment = md5-parity user split
    * (the plant discipline), periods = first/second calendar half, and
    * the DiD estimator (ΔT,post−pre) − (ΔC,post−pre) removes both the
    * stable group difference and the common time trend — the standard
    * readout when assignment wasn't randomized at event time. On
    * hash-split synthetic data the true effect is zero, which is
    * exactly what the readout certifies (parallel trends hold by
    * construction).
    *
    * Exactness: all four cells reduce to (n, Σcents) exact-integer
    * pairs; the estimator is one closed-form double expression over
    * them, rounded 1e-6. Scale shape: ONE combine-fed pass over the
    * fact with the cell id as the grouping key; the 4-cell pivot and
    * estimator run on the dimension table.
    */
  def qEventsDid(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(
        (pmod(conv(substring(md5(col("user_id").cast("string")), 1, 6),
          16, 10).cast("long"), lit(2L)) === 0L).as("treat"),
        (dayofmonth(col("ts")) > 15).as("post"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .groupBy(col("treat"), col("post"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    def cell(t: Boolean, p: Boolean, out: String): Column =
      max(when(col("treat") === t && col("post") === p,
        struct(col("n"), col("s")))).as(out)
    cells
      .agg(cell(true, false, "tpre"), cell(true, true, "tpost"),
        cell(false, false, "cpre"), cell(false, true, "cpost"))
      .select(
        col("tpre.n").as("n_t_pre"), col("tpre.s").as("cents_t_pre"),
        col("tpost.n").as("n_t_post"), col("tpost.s").as("cents_t_post"),
        col("cpre.n").as("n_c_pre"), col("cpre.s").as("cents_c_pre"),
        col("cpost.n").as("n_c_post"), col("cpost.s").as("cents_c_post"),
        round(
          (col("tpost.s").cast("double") / col("tpost.n").cast("double") -
            col("tpre.s").cast("double") / col("tpre.n").cast("double")) -
          (col("cpost.s").cast("double") / col("cpost.n").cast("double") -
            col("cpre.s").cast("double") / col("cpre.n").cast("double")),
          6).as("did_cents6"))
  }

  val qEventsDidOracle: String =
    """WITH p AS (SELECT
        ('0x' || substr(md5(user_id::VARCHAR), 1, 6))::BIGINT % 2 = 0
          AS treat,
        dayofmonth(ts) > 15 AS post,
        CAST(round(value * 100) AS BIGINT) cents
      FROM events WHERE event_type = 'purchase'),
      c AS (SELECT treat, post, count(*)::BIGINT n, sum(cents)::BIGINT s
        FROM p GROUP BY 1, 2),
      w AS (SELECT
        max(CASE WHEN treat AND NOT post THEN n END) n_t_pre,
        max(CASE WHEN treat AND NOT post THEN s END) cents_t_pre,
        max(CASE WHEN treat AND post THEN n END) n_t_post,
        max(CASE WHEN treat AND post THEN s END) cents_t_post,
        max(CASE WHEN NOT treat AND NOT post THEN n END) n_c_pre,
        max(CASE WHEN NOT treat AND NOT post THEN s END) cents_c_pre,
        max(CASE WHEN NOT treat AND post THEN n END) n_c_post,
        max(CASE WHEN NOT treat AND post THEN s END) cents_c_post
      FROM c)
      SELECT n_t_pre, cents_t_pre, n_t_post, cents_t_post,
        n_c_pre, cents_c_pre, n_c_post, cents_c_post,
        round((cents_t_post::DOUBLE / n_t_post
            - cents_t_pre::DOUBLE / n_t_pre)
          - (cents_c_post::DOUBLE / n_c_post
            - cents_c_pre::DOUBLE / n_c_pre), 6) AS did_cents6
      FROM w"""

  // ---------- multiple linear regression (exact normal equations) ----------
  /** Two-feature OLS of purchase cents on hour-of-day and a weekend
    * indicator — "does time of day / weekend explain spend?", the
    * regression readout under every trend-adjusted metric. The fit is
    * the closed-form normal-equation solve: ONE combine-fed pass
    * reduces the fact to the ten sufficient moments (n, Σx₁, Σx₂,
    * Σx₁², Σx₁x₂, Σx₂², Σy, Σx₁y, Σx₂y, Σy²) — the only OLS that
    * exists at 100 TB — and β comes from Cramer's rule on the 3×3
    * Gram matrix.
    *
    * Exactness: every moment is an exact integer; the four 3×3
    * determinants are formed in DECIMAL(38,0) (triple products reach
    * ~10³⁰ at sf0.1 — BIGINT dies at ~10¹⁹; past ~10¹² rows even 38
    * digits saturate and a production build would center features
    * first, which this derivation notes rather than hides). β and R²
    * are closed-form doubles over those exact integers — bit-identical
    * across engines — rounded 1e-6. Weekend uses weekday()+1 ≡ DuckDB
    * isodow (the [[qEventsSeasonality]] week-numbering lesson).
    *
    * Scale shape: one aggregate to a single moment row; everything
    * after is constant-size arithmetic.
    */
  def qStatsLinreg(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(hour(col("ts")).cast("long").as("x1"),
        (weekday(col("ts")) + 1 >= 6).cast("long").as("x2"),
        expr("CAST(round(value * 100) AS BIGINT)").as("y"))
      .agg(count(lit(1)).as("n"), sum(col("x1")).as("s1"),
        sum(col("x2")).as("s2"), sum(col("x1") * col("x1")).as("s11"),
        sum(col("x1") * col("x2")).as("s12"),
        sum(col("x2") * col("x2")).as("s22"),
        sum(col("y")).as("sy"), sum(col("x1") * col("y")).as("s1y"),
        sum(col("x2") * col("y")).as("s2y"),
        sum(col("y") * col("y")).as("syy"))
    def det3(a: String, b: String, c: String, d: String, e: String,
        f: String, g: String, h: String, i: String): String = {
      def D(x: String) = s"CAST($x AS DECIMAL(38,0))"
      s"(${D(a)}*(${D(e)}*${D(i)} - ${D(f)}*${D(h)}) - " +
        s"${D(b)}*(${D(d)}*${D(i)} - ${D(f)}*${D(g)}) + " +
        s"${D(c)}*(${D(d)}*${D(h)} - ${D(e)}*${D(g)}))"
    }
    val dd  = det3("n", "s1", "s2", "s1", "s11", "s12", "s2", "s12", "s22")
    val d0  = det3("sy", "s1", "s2", "s1y", "s11", "s12", "s2y", "s12", "s22")
    val d1  = det3("n", "sy", "s2", "s1", "s1y", "s12", "s2", "s2y", "s22")
    val d2  = det3("n", "s1", "sy", "s1", "s11", "s1y", "s2", "s12", "s2y")
    m.withColumn("det", expr(dd))
      .withColumn("b0", expr(s"CAST($d0 AS DOUBLE) / CAST(det AS DOUBLE)"))
      .withColumn("b1", expr(s"CAST($d1 AS DOUBLE) / CAST(det AS DOUBLE)"))
      .withColumn("b2", expr(s"CAST($d2 AS DOUBLE) / CAST(det AS DOUBLE)"))
      .withColumn("sse", expr("CAST(syy AS DOUBLE) - " +
        "(b0 * CAST(sy AS DOUBLE) + b1 * CAST(s1y AS DOUBLE) + " +
        "b2 * CAST(s2y AS DOUBLE))"))
      .withColumn("sst", expr("CAST(syy AS DOUBLE) - " +
        "CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)"))
      .select(col("n"), col("det").cast("double").as("det"),
        round(col("b0") / 100.0, 6).as("intercept6"),
        round(col("b1") / 100.0, 6).as("beta_hour6"),
        round(col("b2") / 100.0, 6).as("beta_weekend6"),
        round(lit(1.0) - col("sse") / col("sst"), 6).as("r2_6"))
  }

  val qStatsLinregOracle: String = {
    def det3(a: String, b: String, c: String, d: String, e: String,
        f: String, g: String, h: String, i: String): String =
      s"($a::HUGEINT*($e::HUGEINT*$i - $f::HUGEINT*$h) - " +
        s"$b::HUGEINT*($d::HUGEINT*$i - $f::HUGEINT*$g) + " +
        s"$c::HUGEINT*($d::HUGEINT*$h - $e::HUGEINT*$g))"
    val dd  = det3("n", "s1", "s2", "s1", "s11", "s12", "s2", "s12", "s22")
    val d0  = det3("sy", "s1", "s2", "s1y", "s11", "s12", "s2y", "s12", "s22")
    val d1  = det3("n", "sy", "s2", "s1", "s1y", "s12", "s2", "s2y", "s22")
    val d2  = det3("n", "s1", "sy", "s1", "s11", "s1y", "s2", "s12", "s2y")
    s"""WITH p AS (SELECT hour(ts)::BIGINT x1,
        (isodow(ts) >= 6)::BIGINT x2,
        CAST(round(value * 100) AS BIGINT) y
      FROM events WHERE event_type = 'purchase'),
      m AS (SELECT count(*)::BIGINT n, sum(x1)::BIGINT s1,
          sum(x2)::BIGINT s2, sum(x1*x1)::BIGINT s11,
          sum(x1*x2)::BIGINT s12, sum(x2*x2)::BIGINT s22,
          sum(y)::BIGINT sy, sum(x1*y)::BIGINT s1y,
          sum(x2*y)::BIGINT s2y, sum(y*y)::BIGINT syy FROM p),
      d AS (SELECT *, $dd AS det, $d0 AS det0, $d1 AS det1, $d2 AS det2
        FROM m),
      s AS (SELECT *, det0::DOUBLE / det::DOUBLE b0,
          det1::DOUBLE / det::DOUBLE b1, det2::DOUBLE / det::DOUBLE b2
        FROM d),
      f AS (SELECT *,
          syy::DOUBLE - (b0 * sy::DOUBLE + b1 * s1y::DOUBLE +
            b2 * s2y::DOUBLE) AS sse,
          syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE AS sst
        FROM s)
      SELECT n, det::DOUBLE det,
        round(b0 / 100.0, 6) intercept6,
        round(b1 / 100.0, 6) beta_hour6,
        round(b2 / 100.0, 6) beta_weekend6,
        round(1.0 - sse / sst, 6) r2_6
      FROM f"""
  }

  // ---------- multiple testing: Benjamini–Hochberg FDR ----------
  /** The multiple-comparisons discipline every metrics platform needs
    * the day it runs five tests at once: a per-type Welch z (does this
    * event type's value differ from the rest?) would produce ~one
    * false positive per screen at α = 0.05 uncorrected. BH at
    * FDR = 0.05: sort |z| descending, find the largest rank k with
    * |z|_(k) ≥ z(α·k/m/2), reject ranks ≤ k.
    *
    * Exactness: per-type moment triples are exact integers from ONE
    * combine-fed pass (complement moments by subtraction from the
    * totals — no second scan); z is the [[qStatsTtest]] closed form.
    * p-values never materialize — the BH comparison runs on |z|
    * against the PRECOMPUTED two-sided normal quantiles for α·i/m
    * (five literal doubles, identical in both engines), so no erf —
    * whose libm implementations differ — enters the hash. The 5-row
    * rank/threshold logic runs behind eager localCheckpoints (the
    * [[qStatsKs]] discipline).
    */
  def qStatsFdr(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    // two-sided normal quantiles for alpha*i/m, i = 1..5, alpha = .05
    val thr = Seq(2.5758293035489004, 2.3263478740408408,
      2.170090378034251, 2.0537489106318225, 1.959963984540054)
    val m = Tables.events(spark, dir)
      .select(col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("q"))
      .stageCheckpoint() // 5 rows: the whole test table
    val tot = m.agg(sum(col("n")).as("tn"), sum(col("s")).as("ts"),
      sum(col("q")).as("tq"))
    def vexpr(n: String, s: String, q: String): String =
      s"(CAST($n AS DECIMAL(38,0)) * CAST($q AS DECIMAL(38,0)) - " +
        s"CAST($s AS DECIMAL(38,0)) * CAST($s AS DECIMAL(38,0)))" +
        s" / (CAST($n AS DOUBLE) * (CAST($n AS DOUBLE) - 1.0))"
    val z = m.crossJoin(broadcast(tot))
      .withColumn("nc", col("tn") - col("n"))
      .withColumn("sc", col("ts") - col("s"))
      .withColumn("qc", col("tq") - col("q"))
      .withColumn("v", expr(vexpr("n", "s", "q")).cast("double"))
      .withColumn("vc", expr(vexpr("nc", "sc", "qc")).cast("double"))
      .withColumn("z",
        (col("s").cast("double") / col("n").cast("double") -
          col("sc").cast("double") / col("nc").cast("double")) /
        sqrt(col("v") / col("n").cast("double") +
          col("vc") / col("nc").cast("double")))
      .withColumn("az", abs(col("z")))
      .stageCheckpoint()
    val ranked = z
      .withColumn("rank", row_number()
        .over(Window.orderBy(col("az").desc, col("event_type"))))
      .withColumn("thr",
        element_at(array(thr.map(lit): _*), col("rank")))
      .withColumn("pass", col("az") >= col("thr"))
      .stageCheckpoint()
    val k = ranked.agg(max(when(col("pass"), col("rank"))
      .otherwise(lit(0))).as("k"))
    ranked.crossJoin(broadcast(k))
      .select(col("event_type"), col("n"), round(col("z"), 6).as("z6"),
        col("rank"), round(col("thr"), 6).as("bh_critical6"),
        (col("rank") <= col("k")).as("rejected"))
      .orderBy(col("rank"))
  }

  val qStatsFdrOracle: String = {
    val thr = Seq(2.5758293035489004, 2.3263478740408408,
      2.170090378034251, 2.0537489106318225, 1.959963984540054)
    val thrCase = thr.zipWithIndex.map { case (t, i) =>
      s"WHEN ${i + 1} THEN $t" }.mkString(" ")
    s"""WITH p AS (SELECT event_type,
        CAST(round(value * 100) AS BIGINT) c FROM events),
      m AS (SELECT event_type, count(*)::BIGINT n, sum(c)::BIGINT s,
          sum(c * c)::BIGINT q FROM p GROUP BY 1),
      t AS (SELECT sum(n)::BIGINT tn, sum(s)::BIGINT ts,
          sum(q)::BIGINT tq FROM m),
      d AS (SELECT m.*, t.tn - m.n AS nc, t.ts - m.s AS sc,
          t.tq - m.q AS qc FROM m CROSS JOIN t),
      v AS (SELECT *,
          (n::HUGEINT * q - s::HUGEINT * s)::DOUBLE
            / (n::DOUBLE * (n::DOUBLE - 1.0)) AS v,
          (nc::HUGEINT * qc - sc::HUGEINT * sc)::DOUBLE
            / (nc::DOUBLE * (nc::DOUBLE - 1.0)) AS vc
        FROM d),
      z AS (SELECT event_type, n,
          (s::DOUBLE / n::DOUBLE - sc::DOUBLE / nc::DOUBLE) /
            sqrt(v / n::DOUBLE + vc / nc::DOUBLE) AS z
        FROM v),
      r AS (SELECT *, abs(z) AS az, row_number() OVER
            (ORDER BY abs(z) DESC, event_type) AS rank FROM z),
      w AS (SELECT *, CASE rank $thrCase END AS thr FROM r),
      k AS (SELECT coalesce(max(CASE WHEN az >= thr THEN rank END), 0)
          AS k FROM w)
      SELECT event_type, n, round(z, 6) z6, rank,
        round(thr::DOUBLE, 6) bh_critical6, rank <= k.k AS rejected
      FROM w CROSS JOIN k ORDER BY rank"""
  }

  // ---------- Gini concentration of purchase revenue ----------
  /** Revenue-concentration readout — the Gini coefficient and
    * top-decile share of per-purchase value, the "how unequal is this
    * distribution" number behind whale analysis and mixture-balance
    * decisions. Computed EXACTLY without any corpus-scale sort: value
    * lives on the bounded 2-dp cents domain, so per-value cells
    * (n_v, v) + a cumulative window on the cell table (the
    * [[graft.ops.TextEval.qEvalAuc]] discipline) give both the
    * tie-correct Gini sum Σ v·n_v·(2·cum_< + n_v − n) and the exact
    * top-decile split (straddling cells contribute
    * min(n_v, cum − (n − k)) items), all in DECIMAL(38,0); each emitted
    * statistic is one final integral/double division.
    */
  def qStatsGini(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cells = Tables.events(spark, dir)
      // value IS NOT NULL: a valueless purchase has no amount to
      // concentrate — and a NULL cell would otherwise sit at OPPOSITE
      // ends of the cumulative window in the two engines (Spark orders
      // NULLS FIRST ascending, DuckDB NULLS LAST), shifting every rank
      // (caught by the `nulls` mutation sweep; no-op on NULL-free data)
      .filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("nv"))
      .stageCheckpoint() // bounded value domain (2-dp cents)
    val tot = cells.agg(sum(col("nv")).as("n"),
      sum(col("v") * col("nv")).cast(dec).as("sv"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = cells
      .withColumn("cum", sum(col("nv")).over(w))
      .stageCheckpoint()
    scored.crossJoin(broadcast(tot))
      .withColumn("contrib", col("v").cast(dec) * col("nv").cast(dec) *
        (lit(2L).cast(dec) * (col("cum") - col("nv")).cast(dec) +
          col("nv").cast(dec) - col("n").cast(dec)))
      .withColumn("k", expr("n DIV 10"))
      .withColumn("topn", greatest(lit(0L),
        least(col("nv"), col("cum") - (col("n") - col("k")))))
      .agg(max(col("n")).as("n"), max(col("sv")).cast(dec).as("cents"),
        sum(col("contrib")).cast(dec).as("gnum"),
        sum(col("v").cast(dec) * col("topn").cast(dec)).cast(dec)
          .as("top_cents"),
        max(col("k")).as("k"))
      .select(col("n"), expr("CAST(cents AS BIGINT)").as("total_cents"),
        round(col("gnum").cast("double") /
          (col("n").cast("double") * col("cents").cast("double")), 6)
          .as("gini6"),
        col("k").as("top_decile_n"),
        expr("CAST(top_cents * 1000000 DIV cents AS BIGINT)")
          .as("top_decile_share_e6"))
  }

  val qStatsGiniOracle: String =
    """WITH p AS (SELECT CAST(round(value * 100) AS BIGINT) v FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL),
      cells AS (SELECT v, count(*)::BIGINT nv FROM p GROUP BY 1),
      t AS (SELECT sum(nv)::BIGINT n, sum(v::HUGEINT * nv)::HUGEINT sv
        FROM cells),
      c AS (SELECT v, nv, sum(nv) OVER (ORDER BY v)::BIGINT cum
        FROM cells),
      s AS (SELECT c.*, t.n, t.sv, t.n // 10 AS k,
          v::HUGEINT * nv * (2 * (cum::HUGEINT - nv) + nv - t.n)
            AS contrib,
          greatest(0, least(nv, cum - (t.n - t.n // 10))) AS topn
        FROM c CROSS JOIN t)
      SELECT max(n)::BIGINT n, max(sv)::BIGINT total_cents,
        round(sum(contrib)::DOUBLE / (max(n)::DOUBLE * max(sv)::DOUBLE),
          6) AS gini6,
        max(k)::BIGINT top_decile_n,
        (sum(v::HUGEINT * topn) * 1000000 // max(sv))::BIGINT
          AS top_decile_share_e6
      FROM s"""

  // ---------- bot detection by inter-event regularity ----------
  /** Scripted-traffic screen — the data-cleaning gate a training
    * pipeline runs BEFORE any engagement statistic: humans arrive with
    * bursty inter-event gaps (squared coefficient of variation
    * CV² ≈ 1 for Poisson, > 1 for bursty), schedulers and replay bots
    * arrive metronomically (CV² → 0). Reports the 20 most-regular
    * active users (≥ 20 gaps), the candidates a reviewer actually
    * inspects.
    *
    * Exactness: gaps are integer SECONDS (floor of the µs delta — the
    * division is the same integer DIV in both engines) from one
    * user-partitioned lag; per-user moment triples (n, Σg, Σg²) are
    * exact integers with the CV² numerator n·Σg² − (Σg)² in
    * DECIMAL(38,0) ([[qStatsTtest]] discipline — Σg² alone passes
    * BIGINT near decade-long gaps at µs precision, which is why the
    * gap unit is seconds); CV² is one double division rounded 1e-6,
    * and the flag (CV² < 0.1) is a certified boolean. Top-20 is a
    * TakeOrdered on (cv2, user), never a global sort.
    *
    * Scale shape: one user-keyed window shuffle (shared with every
    * sequence operator), one combine-fed per-user aggregate, a
    * TakeOrdered. Nothing else.
    */
  def qEventsBots(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tu"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("tu"),
        col("event_id"))
      .withColumn("g", col("tu") - lag(col("tu"), 1).over(w))
      .filter(col("g").isNotNull)
      .withColumn("g", expr("g DIV 1000000"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("g")).as("sg"),
        sum(col("g") * col("g")).as("sgg"))
      .filter(col("n_gaps") >= 20L)
      .withColumn("cv2", (col("n_gaps").cast(dec) * col("sgg").cast(dec) -
          col("sg").cast(dec) * col("sg").cast(dec)).cast("double") /
        (col("sg").cast(dec) * col("sg").cast(dec)).cast("double"))
      .select(col("user_id"), col("n_gaps"),
        expr("sg DIV n_gaps").as("mean_gap_s"),
        round(col("cv2"), 6).as("cv2_6"),
        (col("cv2") < 0.1).as("bot_flag"))
      .orderBy(col("cv2_6"), col("user_id")).limit(20)
  }

  val qEventsBotsOracle: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) tu, event_id FROM events),
      g AS (SELECT user_id,
          (tu - lag(tu) OVER (PARTITION BY user_id
            ORDER BY tu, event_id)) // 1000000 AS g
        FROM e),
      m AS (SELECT user_id, count(*)::BIGINT n_gaps, sum(g)::BIGINT sg,
          sum(g * g)::BIGINT sgg
        FROM g WHERE g IS NOT NULL GROUP BY 1
        HAVING count(*) >= 20),
      f AS (SELECT user_id, n_gaps, sg,
          (n_gaps::HUGEINT * sgg - sg::HUGEINT * sg)::DOUBLE /
            (sg::HUGEINT * sg)::DOUBLE AS cv2
        FROM m)
      SELECT user_id, n_gaps, sg // n_gaps AS mean_gap_s,
        round(cv2, 6) AS cv2_6, cv2 < 0.1 AS bot_flag
      FROM f ORDER BY cv2_6, user_id LIMIT 20"""

  // ---------- index-of-dispersion test (is activity Poisson?) ----------
  /** Overdispersion test of per-(user, day) event counts — the
    * question behind every rate model and anomaly threshold: if daily
    * activity were Poisson, the variance/mean ratio would sit at 1;
    * real user activity is bursty (ratio ≫ 1), and capacity/anomaly
    * models that assume Poisson under-alarm. The statistic is the
    * classic index of dispersion D = (n−1)·s²/x̄, referred to
    * χ²(n−1) ≈ Normal(n−1, 2(n−1)) at this n.
    *
    * Exactness: the (user, day) cell counts are exact integers from
    * ONE combine-fed aggregate; s² and x̄ derive from the moment triple
    * (n, Σx, Σx²) with the variance numerator n·Σx² − (Σx)² formed in
    * DECIMAL(38,0) ([[qStatsTtest]] discipline); D and the normal
    * z-score are closed-form doubles over exact integers, rounded
    * 1e-6; the verdict emits as a BOOLEAN (z > 4 ⇒ overdispersed), the
    * certified-readout shape.
    *
    * Scale shape: one (user, day) aggregate, one moment aggregate —
    * nothing else. Conditioned on ACTIVE cells (zeros unobserved), as
    * any log-derived activity table is; the scaladoc states it so the
    * null model is honest.
    */
  def qStatsPoisson(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    Tables.events(spark, dir)
      .groupBy(col("user_id"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
        sum(col("x") * col("x")).as("q"))
      .withColumn("varnum", col("n").cast(dec) * col("q").cast(dec) -
        col("s").cast(dec) * col("s").cast(dec))
      .withColumn("mean", col("s").cast("double") / col("n").cast("double"))
      .withColumn("v", col("varnum").cast("double") /
        (col("n").cast("double") * (col("n").cast("double") - 1.0)))
      .withColumn("disp",
        (col("n").cast("double") - 1.0) * col("v") / col("mean"))
      .withColumn("z", (col("disp") - (col("n").cast("double") - 1.0)) /
        sqrt(lit(2.0) * (col("n").cast("double") - 1.0)))
      .select(col("n"), col("s").as("total_events"),
        round(col("mean"), 6).as("mean6"), round(col("v"), 6).as("var6"),
        round(col("v") / col("mean"), 6).as("vmr6"),
        round(col("z"), 6).as("z6"),
        (col("z") > 4.0).as("overdispersed"))
  }

  val qStatsPoissonOracle: String =
    """WITH c AS (SELECT user_id, ts::DATE d, count(*)::BIGINT x
        FROM events GROUP BY 1, 2),
      m AS (SELECT count(*)::BIGINT n, sum(x)::BIGINT s,
          sum(x * x)::BIGINT q FROM c),
      f AS (SELECT n, s,
          (n::HUGEINT * q - s::HUGEINT * s)::DOUBLE
            / (n::DOUBLE * (n::DOUBLE - 1.0)) AS v,
          s::DOUBLE / n::DOUBLE AS mean
        FROM m),
      g AS (SELECT *, (n::DOUBLE - 1.0) * v / mean AS disp FROM f),
      h AS (SELECT *,
          (disp - (n::DOUBLE - 1.0)) / sqrt(2.0 * (n::DOUBLE - 1.0)) AS z
        FROM g)
      SELECT n, s AS total_events, round(mean, 6) mean6, round(v, 6) var6,
        round(v / mean, 6) vmr6, round(z, 6) z6,
        z > 4.0 AS overdispersed
      FROM h"""

  // ---------- M4 series downsampling (min/max/first/last per pixel) ----------
  /** M4 downsampling of the per-type purchase-value stream — the other
    * canonical "draw a billion points on a small chart" reduction next
    * to [[qSeriesLttb]]: each (event_type, pixel-bucket) emits first,
    * last, min and max — the four points that make the rasterized line
    * pixel-identical to the full series (Jugel et al., VLDB 2014).
    *
    * Exactness: values are integer cents; first/last resolve by the
    * total order (ts, event_id) — computed as combine-fed min/max over
    * packed (eu, event_id, cents) STRUCTS, never a window: struct
    * comparison is lexicographic in both engines, so the partial
    * aggregate is associative and the map-side combine does the work
    * (the oracle spells the same selection with bucket-partitioned
    * row_number windows — same answer, different physical shape, which
    * is itself the point: the M4 aggregate IS order-free).
    *
    * Scale shape: one broadcast 1-row span aggregate, one combine-fed
    * (type × 512)-cell aggregate. No windows, no shuffles beyond the
    * two aggregates.
    */
  def qSeriesM4(spark: SparkSession, dir: String): DataFrame = {
    val B = 512L
    val ev = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase" || col("event_type") === "view")
      .select(col("event_type"), expr("unix_micros(ts)").as("eu"),
        col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    val span = ev.agg(min(col("eu")).as("lo"),
      (max(col("eu")) + 1L).as("hi"))
    ev.crossJoin(broadcast(span))
      .withColumn("b", expr(s"((eu - lo) * $B) DIV (hi - lo)"))
      .groupBy(col("event_type"), col("b"))
      .agg(count(lit(1)).as("n"),
        min(col("c")).as("min_cents"), max(col("c")).as("max_cents"),
        min(struct(col("eu"), col("event_id"), col("c"))).as("f"),
        max(struct(col("eu"), col("event_id"), col("c"))).as("l"))
      .select(col("event_type"), col("b").as("bucket"), col("n"),
        col("min_cents"), col("max_cents"),
        col("f.eu").as("first_eu"), col("f.c").as("first_cents"),
        col("l.eu").as("last_eu"), col("l.c").as("last_cents"))
      .orderBy(col("event_type"), col("bucket"))
  }

  val qSeriesM4Oracle: String =
    """WITH ev AS (SELECT event_type, epoch_us(ts) eu, event_id,
        CAST(round(value * 100) AS BIGINT) c
      FROM events WHERE event_type IN ('purchase', 'view')),
      span AS (SELECT min(eu) lo, max(eu) + 1 hi FROM ev),
      pts AS (SELECT event_type,
          ((eu - lo) * 512) // (hi - lo) AS b, eu, event_id, c
        FROM ev, span),
      rk AS (SELECT *,
          row_number() OVER (PARTITION BY event_type, b
            ORDER BY eu, event_id) rf,
          row_number() OVER (PARTITION BY event_type, b
            ORDER BY eu DESC, event_id DESC) rl
        FROM pts)
      SELECT event_type, b AS bucket, count(*)::BIGINT n,
        min(c)::BIGINT min_cents, max(c)::BIGINT max_cents,
        max(CASE WHEN rf = 1 THEN eu END)::BIGINT first_eu,
        max(CASE WHEN rf = 1 THEN c END)::BIGINT first_cents,
        max(CASE WHEN rl = 1 THEN eu END)::BIGINT last_eu,
        max(CASE WHEN rl = 1 THEN c END)::BIGINT last_cents
      FROM rk GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---------- Markov transition structure of the event stream ----------
  /** First-order Markov chain over per-user event-type sequences: the
    * transition count matrix, row-stochastic probabilities, and the
    * per-state transition entropy — the "how predictable is the next
    * event" readout that sits under session-level sequence models and
    * next-event recommenders.
    *
    * Exactness: transition counts are exact integers from a lag window
    * ordered by (ts, event_id) — a total order, so the pair set is
    * deterministic. Probabilities are emitted as floor-ppm integers
    * (n·10⁶ div total). The entropy H(next|from) quantizes each
    * −p·log₂p term to integer nano-units BEFORE summing (the χ²/nDCG
    * discipline: the sum of BIGINTs is order-independent, and 1e-9
    * absorbs engine-level log ulp differences).
    *
    * Scale shape: ONE fact-scale window partitioned by user_id (the
    * same per-user shuffle every sequence operator here pays), then a
    * 25-row (|types|²) aggregate; the row-total join broadcasts a
    * |types|-row table. No global windows, no collects.
    */
  def qEventsMarkov(spark: SparkSession, dir: String): DataFrame = {
    // lag-derived (prev, cur) pairs are the same multiset as the shared
    // fixture's lead-derived (cur, next) pairs
    val trans = EventOps.typeTransitions(spark, dir)
      .groupBy(col("from_type"), col("to_type"))
      .agg(sum(col("cnt")).as("n"))
    val totals = trans.groupBy(col("from_type"))
      .agg(sum(col("n")).as("total"))
    val terms = trans.join(broadcast(totals), "from_type")
      .withColumn("p", col("n").cast("double") / col("total").cast("double"))
      .withColumn("term_n9",
        expr("CAST(round(-p * log2(p) * 1e9) AS BIGINT)"))
    val entropy = terms.groupBy(col("from_type"))
      .agg(sum(col("term_n9")).as("h_n9"))
    terms.join(broadcast(entropy), "from_type")
      .select(col("from_type"), col("to_type"), col("n"), col("total"),
        expr("n * 1000000L div total").as("p_ppm"),
        col("h_n9").as("h_from_n9"))
      .orderBy(col("from_type"), col("to_type"))
  }

  val qEventsMarkovOracle: String =
    """WITH seq AS (SELECT event_type to_type,
        lag(event_type) OVER (PARTITION BY user_id
          ORDER BY ts, event_id) from_type
      FROM events),
      trans AS (SELECT from_type, to_type, count(*)::BIGINT n FROM seq
        WHERE from_type IS NOT NULL GROUP BY 1, 2),
      tot AS (SELECT from_type, sum(n)::BIGINT total FROM trans GROUP BY 1),
      term AS (SELECT t.from_type, t.to_type, t.n, o.total,
          CAST(round(-(t.n::DOUBLE / o.total) *
            log2(t.n::DOUBLE / o.total) * 1e9) AS BIGINT) term_n9
        FROM trans t JOIN tot o USING (from_type)),
      ent AS (SELECT from_type, sum(term_n9)::BIGINT h_n9 FROM term
        GROUP BY 1)
      SELECT t.from_type, t.to_type, t.n, t.total,
        t.n * 1000000 // t.total AS p_ppm, e.h_n9 AS h_from_n9
      FROM term t JOIN ent e USING (from_type)
      ORDER BY t.from_type, t.to_type"""

  // ---------- Welch two-sample t-test ----------
  /** Welch's unequal-variance two-sample t-test on purchase value
    * between the md5-parity user split — the pairwise companion of
    * [[qStatsAnova]] and the significance readout behind
    * [[qEventsDid]]'s point estimate. Welch (not pooled Student) is
    * the default at pipeline scale because group sizes and variances
    * are never equal by design.
    *
    * Exactness: each group reduces to the exact moment triple
    * (n, Σc, Σc²) in integer cents; the unbiased variance is formed as
    * the EXACT integer numerator n·Σc² − (Σc)² in DECIMAL(38,0) (the
    * Σc cross product would overflow BIGINT near 10 TB of cents)
    * before one double division, so t and the Welch–Satterthwaite df
    * are closed-form doubles over exact inputs — bit-identical across
    * engines, rounded 1e-6.
    *
    * Scale shape: ONE combine-fed pass over the fact grouped by the
    * 2-value split key; everything after runs on a 2-row table.
    */
  def qStatsTtest(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(
        (pmod(conv(substring(md5(col("user_id").cast("string")), 1, 6),
          16, 10).cast("long"), lit(2L)) === 0L).as("treat"),
        expr("CAST(round(value * 100) AS BIGINT)").as("c"))
      .groupBy(col("treat"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c") * col("c")).as("q"))
      .withColumn("v", (col("n").cast("decimal(38,0)") *
          col("q").cast("decimal(38,0)") -
          col("s").cast("decimal(38,0)") * col("s").cast("decimal(38,0)"))
        .cast("double") /
        (col("n") * (col("n") - 1L)).cast("double"))
    def side(t: Boolean, out: String): Column =
      max(when(col("treat") === t,
        struct(col("n"), col("s"), col("v")))).as(out)
    g.agg(side(true, "a"), side(false, "b"))
      .select(col("a.n").as("n_t"), col("b.n").as("n_c"),
        col("a.s").as("cents_t"), col("b.s").as("cents_c"),
        round(col("a.v"), 6).as("var_t6"), round(col("b.v"), 6).as("var_c6"),
        round((col("a.s").cast("double") / col("a.n").cast("double") -
            col("b.s").cast("double") / col("b.n").cast("double")) /
          sqrt(col("a.v") / col("a.n").cast("double") +
            col("b.v") / col("b.n").cast("double")), 6).as("t_welch6"),
        round(
          pow(col("a.v") / col("a.n").cast("double") +
              col("b.v") / col("b.n").cast("double"), 2) /
          (pow(col("a.v") / col("a.n").cast("double"), 2) /
              (col("a.n").cast("double") - 1.0) +
            pow(col("b.v") / col("b.n").cast("double"), 2) /
              (col("b.n").cast("double") - 1.0)), 6).as("df_welch6"))
  }

  val qStatsTtestOracle: String =
    """WITH p AS (SELECT
        ('0x' || substr(md5(user_id::VARCHAR), 1, 6))::BIGINT % 2 = 0
          AS treat,
        CAST(round(value * 100) AS BIGINT) c
      FROM events WHERE event_type = 'purchase'),
      m AS (SELECT treat, count(*)::BIGINT n, sum(c)::BIGINT s,
          sum(c * c)::BIGINT q FROM p GROUP BY 1),
      v AS (SELECT treat, n, s,
          (n::HUGEINT * q - s::HUGEINT * s)::DOUBLE
            / (n * (n - 1))::DOUBLE AS v
        FROM m),
      w AS (SELECT
          max(CASE WHEN treat THEN n END) n_t,
          max(CASE WHEN NOT treat THEN n END) n_c,
          max(CASE WHEN treat THEN s END) cents_t,
          max(CASE WHEN NOT treat THEN s END) cents_c,
          max(CASE WHEN treat THEN v END) v_t,
          max(CASE WHEN NOT treat THEN v END) v_c
        FROM v)
      SELECT n_t, n_c, cents_t, cents_c,
        round(v_t, 6) var_t6, round(v_c, 6) var_c6,
        round((cents_t::DOUBLE / n_t - cents_c::DOUBLE / n_c)
          / sqrt(v_t / n_t + v_c / n_c), 6) t_welch6,
        round(pow(v_t / n_t + v_c / n_c, 2)
          / (pow(v_t / n_t, 2) / (n_t - 1)
            + pow(v_c / n_c, 2) / (n_c - 1)), 6) df_welch6
      FROM w"""

  // ---------- LTTB series downsampling (parallel variant) ----------
  /** Largest-Triangle-Three-Buckets downsampling of the daily revenue
    * series — the canonical "draw 10⁹ points on a 10³-pixel chart"
    * reduction for monitoring dashboards. This is the PARALLEL variant:
    * the classic LTTB anchors each triangle on the previously SELECTED
    * point (a sequential dependence), which is replaced here by the
    * left-bucket MEAN — every bucket then selects independently, which
    * is the only formulation that distributes; the first/last points
    * stay pinned per the original algorithm.
    *
    * Exactness: the triangle-area argmax is decided on the EXACT
    * integer cross product scaled by nl²·nr (clearing the two bucket-
    * mean denominators) in DECIMAL(38,0) — no doubles anywhere in the
    * ordering, ties broken toward the earlier day. The emitted area is
    * a VARCHAR rendering of that integer: DECIMAL(38,0)/HUGEINT result
    * columns normalize engine-specifically (int128-backed objects),
    * and a BIGINT emit would overflow once nd⁴·dailyCents passes 2⁶³;
    * the decimal→string rendering is identical in both engines at any
    * scale. A bucket whose NEIGHBOR bucket is empty (gappy series —
    * the bucket index floors days into eighths, so missing days can
    * empty an interior bucket) has NULL area on BOTH sides: only the
    * two pinned endpoints zero their area, exactly as the oracle's
    * CASE spells it.
    *
    * Scale shape: ONE combine-fed day aggregate over the fact; the
    * bucket stats table (B = 8 rows) broadcasts to the day table for
    * the neighbor means; the argmax is a groupBy over B buckets. No
    * global windows — the day index is calendar arithmetic against a
    * broadcast 1-row (min,count) aggregate, not a rank.
    */
  def qSeriesLttb(spark: SparkSession, dir: String): DataFrame = {
    val B = 8
    val days = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("y"))
    val span = days.agg(min(col("d")).as("d0"),
      count(lit(1)).as("nd"))
    val pts = days.crossJoin(broadcast(span))
      .select(col("d"), col("y"),
        datediff(col("d"), col("d0")).cast("long").as("x"),
        least(floor(datediff(col("d"), col("d0")) * B / col("nd")),
          lit(B - 1L)).cast("long").as("b"))
    val bk = pts.groupBy(col("b")).agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"))
    val dec = "decimal(38,0)"
    val joined = pts
      .join(broadcast(bk.select((col("b") + 1L).as("b"),
        col("n").as("nl"), col("sx").as("sxl"), col("sy").as("syl"))),
        Seq("b"), "left")
      .join(broadcast(bk.select((col("b") - 1L).as("b"),
        col("n").as("nr"), col("sx").as("sxr"), col("sy").as("syr"))),
        Seq("b"), "left")
      .withColumn("cross",
        (col("sxl").cast(dec) * col("nr").cast(dec) -
          col("sxr").cast(dec) * col("nl").cast(dec)) *
          (col("y").cast(dec) * col("nl").cast(dec) -
            col("syl").cast(dec)) -
        (col("sxl").cast(dec) - col("x").cast(dec) * col("nl").cast(dec)) *
          (col("syr").cast(dec) * col("nl").cast(dec) -
            col("syl").cast(dec) * col("nr").cast(dec)))
      .withColumn("area2", abs(col("cross")).cast(dec))
    val keyed = joined.withColumn("key",
      when(col("b") === 0L,
        struct(lit(null).cast(dec).as("a"), (-col("x")).as("o"),
          col("d").as("d"), col("y").as("y")))
      .when(col("b") === (B - 1L),
        struct(lit(null).cast(dec).as("a"), col("x").as("o"),
          col("d").as("d"), col("y").as("y")))
      .otherwise(struct(col("area2").as("a"), (-col("x")).as("o"),
        col("d").as("d"), col("y").as("y"))))
    keyed.groupBy(col("b")).agg(max(col("key")).as("k"))
      .select(col("b").as("bucket"), col("k.d").as("sel_date"),
        col("k.y").as("sel_cents"),
        when(col("b").isin(0L, B - 1L), lit("0"))
          .otherwise(col("k.a").cast("string")).as("area2_scaled"))
      .orderBy(col("bucket"))
  }

  val qSeriesLttbOracle: String =
    """WITH days AS (SELECT ts::DATE d,
        sum(CAST(round(value * 100) AS BIGINT))::BIGINT y
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
      span AS (SELECT min(d) d0, count(*)::BIGINT nd FROM days),
      pts AS (SELECT d, y, datediff('day', d0, d)::BIGINT x,
          least((datediff('day', d0, d) * 8) // nd, 7)::BIGINT b
        FROM days, span),
      bk AS (SELECT b, count(*)::BIGINT n, sum(x)::BIGINT sx,
          sum(y)::BIGINT sy FROM pts GROUP BY 1),
      j AS (SELECT p.*, l.n nl, l.sx sxl, l.sy syl,
          r.n nr, r.sx sxr, r.sy syr
        FROM pts p
        LEFT JOIN bk l ON l.b = p.b - 1
        LEFT JOIN bk r ON r.b = p.b + 1),
      c AS (SELECT *,
          abs((sxl::HUGEINT * nr - sxr::HUGEINT * nl)
              * (y::HUGEINT * nl - syl)
            - (sxl::HUGEINT - x::HUGEINT * nl)
              * (syr::HUGEINT * nl - syl::HUGEINT * nr)) area2
        FROM j),
      sel AS (SELECT b, d, y, area2,
          row_number() OVER (PARTITION BY b ORDER BY
            CASE WHEN b = 0 THEN 0 WHEN b = 7 THEN 0 ELSE area2 END DESC,
            CASE WHEN b = 7 THEN -x ELSE x END ASC) rn
        FROM c)
      SELECT b bucket, d sel_date, y sel_cents,
        CASE WHEN b IN (0, 7) THEN '0' ELSE area2::VARCHAR END
          AS area2_scaled
      FROM sel WHERE rn = 1 ORDER BY bucket"""

  // ---------- one-way ANOVA (does the segment mean differ?) ----------
  /** One-way ANOVA F-test of customer balance across market segments —
    * the "does this dimension matter?" screen that complements
    * q_stats_chisq (categorical×categorical) and q_stats_ks
    * (distribution drift) with the classic continuous-by-group test.
    * Emitted: group count, N, the F statistic and η² (variance
    * explained).
    *
    * Exactness: balances are exact integer cents; each group contributes
    * only (n_g, Σx, Σx²) — the mergeable moment triple, Σx² routed
    * through DECIMAL(38,0) — and the between/within sums of squares
    * reduce to T_g = round(S_g²/n_g) BIGINT terms whose 5-row sum is
    * associative; F and η² are closed-form double expressions over those
    * exact integers, rounded 1e-6. (The naive spelling — doubles summed
    * per group — is order-dependent across engines; the moment-triple
    * form is also the only thing that EXISTS at 100 TB: one combine-fed
    * pass, constant-size state per group.)
    */
  def qStatsAnova(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val g = Tables.customer(spark, dir)
      .select(col("c_mktsegment").as("seg"),
        expr("CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)")
          .as("x"))
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("ng"), sum(col("x")).as("sg"),
        sum(col("x").cast(dec) * col("x").cast(dec)).as("qg"))
      .withColumn("tg", round((col("sg").cast(dec) * col("sg").cast(dec))
        .cast("double") / col("ng").cast("double")).cast("long"))
    g.agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
        sum(col("sg")).as("s"), sum(col("qg")).as("q"),
        sum(col("tg")).as("sum_t"))
      .withColumn("grand", round((col("s").cast(dec) * col("s").cast(dec))
        .cast("double") / col("n").cast("double")).cast("long"))
      .withColumn("ssb", (col("sum_t") - col("grand")).cast("double"))
      .withColumn("ssw", col("q").cast("double") -
        col("sum_t").cast("double"))
      .select(col("k"), col("n"),
        round((col("ssb") / (col("k") - 1).cast("double")) /
          (col("ssw") / (col("n") - col("k")).cast("double")), 6).as("f6"),
        round(col("ssb") / (col("ssb") + col("ssw")), 6).as("eta2_6"))
  }

  val qStatsAnovaOracle: String =
    """WITH g AS (SELECT c_mktsegment seg, count(*)::BIGINT ng,
        sum(CAST(c_acctbal::DECIMAL(18,2) * 100 AS BIGINT))::BIGINT sg,
        sum(CAST(c_acctbal::DECIMAL(18,2) * 100 AS BIGINT)::HUGEINT *
            CAST(c_acctbal::DECIMAL(18,2) * 100 AS BIGINT))::HUGEINT qg
      FROM customer GROUP BY 1),
      t AS (SELECT seg, ng, sg, qg,
          round((sg::HUGEINT * sg)::DOUBLE / ng::DOUBLE)::BIGINT tg FROM g),
      a AS (SELECT count(*)::BIGINT k, sum(ng)::BIGINT n,
          sum(sg)::BIGINT s, sum(qg)::HUGEINT q, sum(tg)::BIGINT sum_t
        FROM t),
      b AS (SELECT k, n, sum_t, q,
          round((s::HUGEINT * s)::DOUBLE / n::DOUBLE)::BIGINT grand
        FROM a),
      c AS (SELECT k, n, (sum_t - grand)::DOUBLE ssb,
          q::DOUBLE - sum_t::DOUBLE ssw FROM b)
      SELECT k, n,
        round((ssb / (k - 1)::DOUBLE) / (ssw / (n - k)::DOUBLE), 6) AS f6,
        round(ssb / (ssb + ssw), 6) AS eta2_6
      FROM c"""

  // ---------- Poisson bootstrap (distributed uncertainty estimate) ----------
  /** Bootstrap standard error of the mean purchase value, computed the
    * only way a bootstrap CAN run on distributed data: the POISSON
    * bootstrap — instead of globally resampling n rows WITH replacement
    * (which needs a shuffle per resample), each row independently
    * contributes Poisson(1) copies to each of B = 32 resamples, so all
    * 32 resampled means come out of ONE scan with a 32× flatMap. The
    * Poisson draw is the inverse CDF of a per-(row, b) md5 uniform
    * against FIXED cumulative thresholds (e⁻¹ terms as literals, capped
    * at 7 — P(>7) < 10⁻⁵), the derandomization-for-oracle discipline of
    * q_privacy_dp.
    *
    * Exactness: each resample's numerator/denominator are exact integer
    * (weighted cents, weight sum); its mean quantizes to 1e-6 BIGINT;
    * the across-resample variance uses the integer moment identity
    * (B·Σm² − (Σm)²)/(B(B−1)) in DECIMAL(38,0) — no order-dependent
    * double fold anywhere — and ONE sqrt at the end.
    */
  def qStatsBootstrap(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val b = 32
    // Poisson(1) cumulative thresholds P(X<=k), k=0..6
    val cdf = Seq(0.367879441, 0.735758882, 0.919698603,
      0.981011843, 0.996340153, 0.999405815, 0.999916758)
    val rows = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(expr("CAST(round(value * 100) AS BIGINT)").as("cents"),
        col("event_id"))
      // events is one scan split, and the 32× explode + per-(row, b)
      // md5 draw — the query's whole cost — ran as a single ~1.0 s task
      // (graft.obs.Probe, r18). Redistribute the (narrow) purchase rows BEFORE the
      // fan-out multiplies them — the q_graph_linkpred rule; the draw
      // depends only on (event_id, b) and every aggregate is an integer
      // sum, so the result is partition-order-free.
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("b", explode(sequence(lit(0), lit(b - 1))))
    val u = (pmod(conv(substring(md5(concat(col("event_id"),
      lit(":"), col("b"))), 1, 6), 16, 10).cast("long"),
      lit(1000000L)).cast("double") + lit(0.5)) / lit(1000000.0)
    val w = cdf.zipWithIndex.foldRight(lit(7): Column) {
      case ((t, k), rest) => when(u < t, k).otherwise(rest)
    }.cast("long")
    val means = rows.withColumn("w", w)
      .groupBy(col("b"))
      .agg(sum(col("w") * col("cents")).as("num"), sum(col("w")).as("den"))
      .withColumn("m6", round(col("num").cast("double") /
        col("den").cast("double") * 1e6).cast("long"))
    val point = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("s"))
    means.agg(count(lit(1)).as("n_resamples"),
        sum(col("m6").cast(dec)).as("sm"),
        sum(col("m6").cast(dec) * col("m6").cast(dec)).as("sm2"))
      .crossJoin(broadcast(point))
      .select(col("n"), col("n_resamples"),
        round(col("s").cast("double") / col("n").cast("double") / 100.0, 6)
          .as("mean6"),
        round(sqrt(greatest(
          (col("n_resamples").cast(dec) * col("sm2") - col("sm") * col("sm"))
            .cast("double") /
            (col("n_resamples") * (col("n_resamples") - 1)).cast("double"),
          lit(0.0))) / 1e6 / 100.0, 6).as("se6"))
  }

  val qStatsBootstrapOracle: String =
    """WITH p AS (SELECT event_id, CAST(round(value * 100) AS BIGINT) cents
        FROM events WHERE event_type = 'purchase'),
      r AS (SELECT cents, event_id, unnest(range(0, 32)) b FROM p),
      d AS (SELECT cents, b,
          (('0x' || substr(md5(event_id::VARCHAR || ':' || b::VARCHAR),
            1, 6))::BIGINT % 1000000 + 0.5) / 1000000.0 AS u FROM r),
      w AS (SELECT cents, b, (CASE
          WHEN u < 0.367879441 THEN 0 WHEN u < 0.735758882 THEN 1
          WHEN u < 0.919698603 THEN 2 WHEN u < 0.981011843 THEN 3
          WHEN u < 0.996340153 THEN 4 WHEN u < 0.999405815 THEN 5
          WHEN u < 0.999916758 THEN 6 ELSE 7 END)::BIGINT w FROM d),
      m AS (SELECT b, round(sum(w * cents)::DOUBLE / sum(w)::DOUBLE
          * 1e6)::BIGINT m6 FROM w GROUP BY b),
      mm AS (SELECT count(*)::BIGINT n_resamples, sum(m6)::HUGEINT sm,
          sum(m6::HUGEINT * m6)::HUGEINT sm2 FROM m),
      pt AS (SELECT count(*)::BIGINT n, sum(cents)::BIGINT s FROM p)
      SELECT n, n_resamples,
        round(s::DOUBLE / n::DOUBLE / 100.0, 6) AS mean6,
        round(sqrt(greatest(
          (n_resamples::HUGEINT * sm2 - sm * sm)::DOUBLE /
          (n_resamples * (n_resamples - 1))::DOUBLE, 0.0)) / 1e6 / 100.0, 6)
          AS se6
      FROM mm CROSS JOIN pt"""

  // ---------- two-sample Kolmogorov–Smirnov drift statistic ----------
  /** Exact two-sample KS statistic between the purchase-value
    * distribution and everything else — the distribution-drift test that
    * complements q_stats_drift's PSI: D = max |F₁(x) − F₂(x)|, sensitive
    * to ANY distributional difference, not just binned mass shifts.
    * Values are first quantized to a BOUNDED bin domain (width 5, ≈100
    * bins over the value range), which keeps the statistic exact FOR THE
    * BINNED DISTRIBUTIONS while making the CDF table domain-scale; this
    * is how a KS monitor actually runs at 100 TB — the alternative (a
    * global sort of raw values) is a scale-killer.
    *
    * Exactness: D's maximization runs entirely on integers —
    * |c₁·N₂ − c₂·N₁| with the cross products routed through
    * DECIMAL(38,0) (no overflow at any corpus size) — and the single
    * double divide by N₁·N₂ happens once, after the max. `ks_bin` is
    * the SMALLEST bin attaining the max (total tie order). The
    * partition-less CDF window runs over the ~100-row bin table, never
    * the corpus (pinned in the global-window allowlist).
    */
  def qStatsKs(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cell = Tables.events(spark, dir)
      // NULL values carry no sample for either distribution, and a NULL
      // bin would sit at opposite cum-window ends across engines (the
      // qStatsGini NULLS FIRST/LAST divergence; no-op on NULL-free data)
      .filter(col("value").isNotNull)
      .select(floor(col("value") / 5).cast("long").as("bin"),
        (col("event_type") === "purchase").as("isa"))
      .groupBy(col("bin"))
      .agg(sum(when(col("isa"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("isa"), 1L).otherwise(0L)).as("n2"))
      .stageCheckpoint() // ~100 rows, feeds totals + CDF + argmax
    val tot = cell.agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"))
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = cell
      .withColumn("c1", sum(col("n1")).over(w))
      .withColumn("c2", sum(col("n2")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("dnum",
        abs(col("c1").cast(dec) * col("t2").cast(dec) -
          col("c2").cast(dec) * col("t1").cast(dec)))
      .stageCheckpoint()
    val mx = scored.agg(max(col("dnum")).as("mx"))
    scored.crossJoin(broadcast(mx))
      .agg(max(col("t1")).as("n1"), max(col("t2")).as("n2"),
        max(col("dnum")).as("dn"),
        min(when(col("dnum") === col("mx"), col("bin"))).as("ks_bin"))
      .select(col("n1"), col("n2"), col("ks_bin"),
        round(col("dn").cast("double") /
          (col("n1").cast(dec) * col("n2").cast(dec)).cast("double"), 6)
          .as("d6"))
  }

  val qStatsKsOracle: String =
    """WITH b AS (SELECT floor(value / 5)::BIGINT bin,
        event_type = 'purchase' isa FROM events WHERE value IS NOT NULL),
      cell AS (SELECT bin,
          sum(CASE WHEN isa THEN 1 ELSE 0 END)::BIGINT n1,
          sum(CASE WHEN NOT isa THEN 1 ELSE 0 END)::BIGINT n2
        FROM b GROUP BY 1),
      tot AS (SELECT sum(n1)::BIGINT t1, sum(n2)::BIGINT t2 FROM cell),
      cum AS (SELECT bin,
          sum(n1) OVER (ORDER BY bin)::BIGINT c1,
          sum(n2) OVER (ORDER BY bin)::BIGINT c2 FROM cell),
      sc AS (SELECT bin, abs(c1::HUGEINT * t2 - c2::HUGEINT * t1) dnum
        FROM cum CROSS JOIN tot),
      mx AS (SELECT max(dnum) mx FROM sc)
      SELECT t1 AS n1, t2 AS n2,
        (SELECT min(bin) FROM sc WHERE dnum = (SELECT mx FROM mx)) AS ks_bin,
        round((SELECT mx FROM mx)::DOUBLE /
          (t1::HUGEINT * t2)::DOUBLE, 6) AS d6
      FROM tot"""

  val registry: Seq[GraftQuery] = Seq(
    GraftQuery("q_stats_anova", qStatsAnova, qStatsAnovaOracle),
    GraftQuery("q_stats_bootstrap", qStatsBootstrap, qStatsBootstrapOracle),
    GraftQuery("q_events_markov", qEventsMarkov, qEventsMarkovOracle),
    GraftQuery("q_stats_linreg", qStatsLinreg, qStatsLinregOracle),
    GraftQuery("q_stats_ttest", qStatsTtest, qStatsTtestOracle),
    GraftQuery("q_series_lttb", qSeriesLttb, qSeriesLttbOracle),
    GraftQuery("q_series_m4", qSeriesM4, qSeriesM4Oracle),
    GraftQuery("q_stats_poisson", qStatsPoisson, qStatsPoissonOracle),
    GraftQuery("q_stats_fdr", qStatsFdr, qStatsFdrOracle),
    GraftQuery("q_stats_gini", qStatsGini, qStatsGiniOracle),
    GraftQuery("q_events_did", qEventsDid, qEventsDidOracle),
    GraftQuery("q_stats_ks", qStatsKs, qStatsKsOracle),
    GraftQuery("q_events_changepoint", qEventsChangepoint, qEventsChangepointOracle),
    GraftQuery("q_events_bots", qEventsBots, qEventsBotsOracle),
    GraftQuery("q_stats_drift", qStatsDrift, qStatsDriftOracle),
    GraftQuery("q_events_survival", qEventsSurvival, qEventsSurvivalOracle),
    GraftQuery("q_sql_recursive", qSqlRecursive, qSqlRecursiveOracle),
    GraftQuery("q_events_abtest", qEventsAbtest, qEventsAbtestOracle),
  )
}
