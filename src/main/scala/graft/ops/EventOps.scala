package graft.ops

import Checkpoints._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.GraftQuery

/** Event-time operators over the `events` table: tumbling, sliding, and
  * session windows, an as-of join, and a Structured Streaming execution of
  * the tumbling aggregation (complete mode + memory sink, driven to
  * completion so the result is deterministic and oracle-checkable).
  *
  * The reference's streaming surface is processing-time-only pacing
  * (main.py:611 — the window never feeds an aggregation); these operators
  * are the event-time semantics a Spark-native engine adds on top
  * (SURVEY.md §7.5).
  *
  * Window starts/ends are emitted as epoch seconds/micros (BIGINT): both
  * engines then compare pure integers, immune to timestamp rendering
  * differences.
  */
object EventOps {

  // ---------- tumbling window ----------
  def qEventsTumbling(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(unix_timestamp(col("w.start")).as("ws"), col("event_type"),
        col("n"), col("total"))
      .orderBy(col("ws"), col("event_type"))

  val qEventsTumblingOracle: String =
    """SELECT epoch(date_trunc('hour', ts))::BIGINT AS ws, event_type,
      count(*) AS n, round(sum(value), 2) AS total
      FROM events GROUP BY ws, event_type ORDER BY ws, event_type"""

  // ---------- sliding window ----------
  def qEventsSliding(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("w.start")).as("ws"), col("event_type"), col("n"))
      .orderBy(col("ws"), col("event_type"))

  /** Every event lands in the 4 slide-aligned windows covering it;
    * reproduced with integer epoch-µs arithmetic.
    */
  val qEventsSlidingOracle: String =
    """WITH e AS (SELECT epoch_us(ts) eu, event_type FROM events),
      w AS (SELECT unnest(range(
          ((eu - 3600000000) // 900000000 + 1) * 900000000,
          (eu // 900000000) * 900000000 + 1,
          900000000)) AS ws_us, event_type FROM e)
      SELECT ws_us // 1000000 AS ws, event_type, count(*) AS n
      FROM w GROUP BY ws, event_type ORDER BY ws, event_type"""

  // ---------- session window ----------
  /** 10-minute-gap user sessions (user_id, session_start, session_end,
    * n, total — epoch-µs bounds) — the sessionized table is a persisted
    * derived artifact in any event pipeline, checkpointed once per
    * (session, dir, content) and shared by [[qEventsSession]] and
    * [[qEventsConcurrency]], which previously each re-ran the
    * session_window aggregate (the full user-keyed shuffle) per
    * invocation. Session-table-sized, far below event count.
    */
  private def userSessions(spark: SparkSession, dir: String): DataFrame =
    SessionFixtures.cachedFrame("user_sessions", spark, dir)(
      Tables.events(spark, dir)
        .groupBy(session_window(col("ts"), "10 minutes").as("w"),
          col("user_id"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
        .select(col("user_id"),
          unix_micros(col("w.start")).as("session_start"),
          unix_micros(col("w.end")).as("session_end"), col("n"),
          col("total"))
        .stageCheckpoint())

  def qEventsSession(spark: SparkSession, dir: String): DataFrame =
    userSessions(spark, dir)
      .orderBy(col("user_id"), col("session_start"))

  /** Gaps-and-islands reproduction: a session breaks when the gap from the
    * previous event reaches the 10-minute timeout; session end = last
    * event + gap (Spark's session_window semantics).
    */
  val qEventsSessionOracle: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) eu, value FROM events),
      m AS (SELECT *, CASE WHEN lag(eu) OVER w IS NULL
          OR eu - lag(eu) OVER w >= 600000000 THEN 1 ELSE 0 END AS brk
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY eu)),
      s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY eu
          ROWS UNBOUNDED PRECEDING) AS sid FROM m)
      SELECT user_id, min(eu) AS session_start,
        max(eu) + 600000000 AS session_end,
        count(*) AS n, round(sum(value), 2) AS total
      FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"""

  // ---------- first-touch conversion attribution ----------
  /** Marketing-style first-touch attribution: every `purchase` is
    * credited to the event type that OPENED its session (10-minute gap
    * sessions, the [[qEventsSession]] convention) — "which entry channel
    * leads to conversions". The session-opener type rides forward via
    * `last(when(brk = 1, event_type), ignoreNulls)` over the same
    * user-ordered running frame that computes the session breaks — the
    * LOCF trick from the as-of join — so the per-event session id never
    * needs to exist and the WHOLE computation (breaks, opener carry,
    * conversion filter) runs in ONE user_id shuffle; a naive
    * sessionize-then-join re-shuffles on (user, session). Aggregates
    * are conversion counts, distinct converting users, and 2-dp rounded
    * revenue (the [[qEventsTumbling]] float discipline).
    */
  def qEventsAttribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("eu"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("eu"))
      .withColumn("brk",
        when(lag(col("eu"), 1).over(w).isNull ||
          col("eu") - lag(col("eu"), 1).over(w) >= 600000000L, 1)
          .otherwise(0))
      .withColumn("first_touch",
        last(when(col("brk") === 1, col("event_type")), ignoreNulls = true)
          .over(run))
      .filter(col("event_type") === "purchase")
      .groupBy(col("first_touch"))
      .agg(count(lit(1)).as("n_conversions"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("revenue"))
      .orderBy(col("first_touch"))
  }

  val qEventsAttributionOracle: String =
    """WITH e AS (SELECT user_id, event_id, event_type, value,
        epoch_us(ts) eu FROM events),
      m AS (SELECT *, CASE WHEN lag(eu) OVER w IS NULL
          OR eu - lag(eu) OVER w >= 600000000 THEN 1 ELSE 0 END AS brk
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY eu, event_id)),
      f AS (SELECT *, last_value(CASE WHEN brk = 1 THEN event_type END
          IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY eu, event_id
          ROWS UNBOUNDED PRECEDING) AS first_touch FROM m)
      SELECT first_touch, count(*) AS n_conversions,
        count(DISTINCT user_id) AS n_users,
        round(sum(value), 2) AS revenue
      FROM f WHERE event_type = 'purchase'
      GROUP BY first_touch ORDER BY first_touch"""

  // ---------- session engagement / bounce-rate metrics ----------
  /** Per-entry-channel session quality: for sessions grouped by their
    * OPENING event type ([[qEventsAttribution]]'s LOCF opener carry,
    * same one user_id shuffle for breaks + carry + session ids), report
    * session count, bounce count (single-event sessions), bounce rate,
    * mean session length and mean dwell time — the engagement dashboard
    * behind "which entry channel produces sticky sessions". Every
    * output is an integer: rates and means are fixed-point millionths /
    * exact integer µs divisions of exact counts, so no float crosses an
    * engine boundary.
    *
    * Scale shape: windows on user_id (one shuffle), session aggregation
    * on (user_id, sid) (second shuffle, session-cardinality), final
    * rollup on the opener type (channel-cardinality). Nothing global,
    * nothing driver-side.
    */
  def qEventsEngagement(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("eu"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("eu"))
      .withColumn("brk",
        when(lag(col("eu"), 1).over(w).isNull ||
          col("eu") - lag(col("eu"), 1).over(w) >= 600000000L, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("brk")).over(run))
      .withColumn("opener",
        last(when(col("brk") === 1, col("event_type")), ignoreNulls = true)
          .over(run))
      .groupBy(col("user_id"), col("sid"))
      .agg(max(col("opener")).as("opener"), count(lit(1)).as("len"),
        (max(col("eu")) - min(col("eu"))).as("dwell_us"))
      .groupBy(col("opener"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("len") === 1, 1L).otherwise(0L)).as("n_bounces"),
        sum(col("len")).as("n_events"),
        sum(col("dwell_us")).as("dwell_sum_us"))
      .select(col("opener"), col("n_sessions"), col("n_bounces"),
        expr("n_bounces * 1000000 DIV n_sessions").as("bounce6"),
        expr("n_events * 1000000 DIV n_sessions").as("mean_len6"),
        expr("dwell_sum_us DIV n_sessions").as("mean_dwell_us"))
      .orderBy(col("opener"))
  }

  val qEventsEngagementOracle: String =
    """WITH e AS (SELECT user_id, event_id, event_type,
        epoch_us(ts) eu FROM events),
      m AS (SELECT *, CASE WHEN lag(eu) OVER w IS NULL
          OR eu - lag(eu) OVER w >= 600000000 THEN 1 ELSE 0 END AS brk
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY eu, event_id)),
      s AS (SELECT *,
        sum(brk) OVER (PARTITION BY user_id ORDER BY eu, event_id
          ROWS UNBOUNDED PRECEDING) AS sid,
        last_value(CASE WHEN brk = 1 THEN event_type END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY eu, event_id
          ROWS UNBOUNDED PRECEDING) AS opener FROM m),
      ses AS (SELECT user_id, sid, max(opener) opener, count(*) len,
          max(eu) - min(eu) dwell_us
        FROM s GROUP BY user_id, sid),
      g AS (SELECT opener, count(*) n_sessions,
          sum(CASE WHEN len = 1 THEN 1 ELSE 0 END)::BIGINT n_bounces,
          sum(len)::BIGINT n_events, sum(dwell_us)::BIGINT dwell_sum_us
        FROM ses GROUP BY opener)
      SELECT opener, n_sessions, n_bounces,
        n_bounces * 1000000 // n_sessions AS bounce6,
        n_events * 1000000 // n_sessions AS mean_len6,
        dwell_sum_us // n_sessions AS mean_dwell_us
      FROM g ORDER BY opener"""

  // ---------- date-partitioned layout + partition-pruned scan ----------
  /** The layout half of scan efficiency: events re-written
    * date-partitioned (`partitionBy(dt)` — the reference's own output
    * layout, folder/ingestion_date, applied to the events fact), then a
    * one-week dashboard query reads it back. The week predicate resolves
    * against partition METADATA — the PlanAudit pins a non-empty
    * `PartitionFilters` on the scan and that `dt` never appears as a
    * data filter — so a 100 TB table answers a 7-day question by
    * touching 7 directories, not by scanning a year. The oracle runs the
    * same aggregate on the ORIGINAL parquet, so the hash match also
    * proves the partitioned round-trip preserves every row of the week.
    */
  /** Which sf dir the session's date-partitioned layout was built from —
    * built once per (session, dir) like the bucketed tables: the layout
    * cost is paid at write time, and repeated calls measure the
    * partition-pruned READ the layout exists for.
    */
  def qPartitionedLayout(spark: SparkSession, dir: String): DataFrame = {
    val wh = spark.conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")
    // content-tagged path: concurrent processes over different data never
    // share a layout (SessionFixtures.contentTag). Because the path
    // embeds the content, an existing _SUCCESS alone proves validity —
    // gating on it (and NOT on the per-session stale mark) lets a fresh
    // process REUSE the layout instead of overwrite-deleting files a
    // concurrent same-content reader may be scanning.
    val path = s"$wh/graft_events_by_day_${SessionFixtures.contentTag(spark, dir)}"
    if (!new java.io.File(path, "_SUCCESS").isFile) {
      Tables.events(spark, dir)
        .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
        .write.mode("overwrite").partitionBy("dt").parquet(path)
    }
    spark.read.parquet(path)
      .filter(col("dt") >= "2024-01-08" && col("dt") <= "2024-01-14")
      .groupBy(col("dt"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("total"))
      .orderBy(col("dt"))
  }

  /** `dt` is a DATE on both sides: partition-column type inference reads
    * the yyyy-MM-dd directory values back as dates.
    */
  val qPartitionedLayoutOracle: String =
    """SELECT ts::DATE AS dt, count(*) AS n,
      count(DISTINCT user_id) AS n_users, round(sum(value), 2) AS total
      FROM events
      WHERE ts::DATE >= DATE '2024-01-08' AND ts::DATE <= DATE '2024-01-14'
      GROUP BY dt ORDER BY dt"""

  // ---------- conversion latency distribution (view → purchase) ----------
  /** Time-to-convert — the latency DISTRIBUTION behind funnel
    * percentile SLOs ("half our buyers convert within N minutes"),
    * which [[qEventsFunnel]]'s counts and [[qEventsAsof]]'s pairing
    * don't expose: per user, first view → first subsequent purchase,
    * the gap in whole minutes, and exact type-1 quantiles (p25/50/75/
    * 90) of that distribution.
    *
    * Exactness: first-view/first-purchase are per-user min aggregates
    * (one combine-fed pass); latency floors to the bounded MINUTE
    * domain, so quantiles come from per-value cells + a cumulative
    * window on the bounded cell table (the [[qStatsGini]] discipline)
    * with the explicit type-1 rank rule q_p = min{v : cum(v) ≥
    * ⌈p·n/100⌉} spelled in integer arithmetic in BOTH engines — no
    * engine quantile function, whose interpolation conventions differ,
    * ever runs.
    */
  def qEventsTimeToConvert(spark: SparkSession, dir: String): DataFrame = {
    val firsts = Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "view",
          unix_micros(col("ts")))).as("v"),
        min(when(col("event_type") === "purchase",
          unix_micros(col("ts")))).as("p"))
      // two consumers (latency cells + viewed denominator): persist the
      // user-cardinality table so the fact scans once
      .persist()
    val lat = firsts
      .filter(col("v").isNotNull && col("p").isNotNull && col("p") >= col("v"))
      .select(expr("(p - v) DIV 60000000").as("m"))
    val cells = lat.groupBy(col("m")).agg(count(lit(1)).as("nv"))
      .stageCheckpoint() // bounded minute domain
    val viewed = firsts.agg(sum(col("v").isNotNull.cast("long")).as("nw"))
    val w = Window.orderBy(col("m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells.withColumn("cum", sum(col("nv")).over(w))
      .stageCheckpoint()
    val tot = cum.agg(max(col("cum")).as("n"))
    def q(p: Int): Column =
      min(when(col("cum") * 100 >= col("n") * p, col("m"))).as(s"p${p}_min")
    cum.crossJoin(broadcast(tot)).crossJoin(broadcast(viewed))
      .agg(max(col("n")).as("n_converters"), max(col("nw")).as("n_viewed"),
        q(25), q(50), q(75), q(90))
      .select(col("n_viewed"), col("n_converters"),
        expr("n_converters * 1000000 DIV n_viewed").as("conv_rate_e6"),
        col("p25_min"), col("p50_min"), col("p75_min"), col("p90_min"))
  }

  val qEventsTimeToConvertOracle: String =
    """WITH f AS (SELECT user_id,
        min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) v,
        min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) p
      FROM events WHERE event_type IN ('view', 'purchase')
      GROUP BY user_id),
      lat AS (SELECT (p - v) // 60000000 AS m FROM f
        WHERE v IS NOT NULL AND p IS NOT NULL AND p >= v),
      viewed AS (SELECT count(*)::BIGINT nw FROM f WHERE v IS NOT NULL),
      cells AS (SELECT m, count(*)::BIGINT nv FROM lat GROUP BY 1),
      cum AS (SELECT m, sum(nv) OVER (ORDER BY m)::BIGINT cum FROM cells),
      tot AS (SELECT max(cum)::BIGINT n FROM cum)
      SELECT viewed.nw AS n_viewed, tot.n AS n_converters,
        tot.n * 1000000 // viewed.nw AS conv_rate_e6,
        (SELECT min(m) FROM cum, tot WHERE cum * 100 >= n * 25) AS p25_min,
        (SELECT min(m) FROM cum, tot WHERE cum * 100 >= n * 50) AS p50_min,
        (SELECT min(m) FROM cum, tot WHERE cum * 100 >= n * 75) AS p75_min,
        (SELECT min(m) FROM cum, tot WHERE cum * 100 >= n * 90) AS p90_min
      FROM viewed, tot"""

  // ---------- dynamic partition pruning (runtime dim-driven skip) ----------
  /** DYNAMIC partition pruning driven end-to-end — the lakehouse scan
    * optimization [[qPartitionedLayout]]'s static range cannot express:
    * the probe days come from a FILTERED dimension table (a campaign
    * calendar, itself a parquet fixture), so the fact partitions to
    * read are only known at RUNTIME. Catalyst plans a
    * DynamicPruningExpression on the fact's partition column fed by the
    * reused broadcast of the dim side: at 100 TB this is the difference
    * between scanning 3 partitions and scanning 90 — and none of it is
    * written in the query. PlanAuditSpec pins `dynamicpruning` into the
    * fact scan's partition filters so a regression (conf off, fold-away
    * dim, non-broadcast join) fails loudly.
    *
    * Exactness: counts + 2-dp rounded sums per day (the
    * [[qEventsTumbling]] float discipline); the campaign flag is a
    * deterministic day-of-month formula the oracle replays.
    */
  def qJoinDpp(spark: SparkSession, dir: String): DataFrame = {
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val tag = SessionFixtures.contentTag(spark, dir)
    // _SUCCESS at the content-tagged path alone gates the rebuild — see
    // qPartitionedLayout: a fresh process reuses a valid layout instead
    // of overwrite-deleting under a concurrent same-content reader
    val factPath = s"$wh/graft_events_by_day_$tag"
    if (!new java.io.File(factPath, "_SUCCESS").isFile) {
      Tables.events(spark, dir)
        .withColumn("dt", date_format(col("ts"), "yyyy-MM-dd"))
        .write.mode("overwrite").partitionBy("dt").parquet(factPath)
    }
    val dimPath = s"$wh/graft_campaign_days_$tag"
    if (!new java.io.File(dimPath, "_SUCCESS").isFile) {
      Tables.events(spark, dir)
        .select(to_date(col("ts")).as("day")).distinct()
        .withColumn("campaign",
          when(dayofmonth(col("day")) % 10 === 3, "launch")
            .when(dayofmonth(col("day")) % 10 === 7, "retarget")
            .otherwise("none"))
        .coalesce(1).write.mode("overwrite").parquet(dimPath)
    }
    val fact = spark.read.parquet(factPath)
    val dim = spark.read.parquet(dimPath)
      .filter(col("campaign") === "launch")
    fact.join(dim, fact("dt") === dim("day"))
      .groupBy(col("dt"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("total"))
      .orderBy(col("dt"))
  }

  val qJoinDppOracle: String =
    """WITH f AS (SELECT ts::DATE dt, user_id, value FROM events),
      dim AS (SELECT DISTINCT dt AS day FROM f
        WHERE dayofmonth(dt) % 10 = 3)
      SELECT dt, count(*) AS n, count(DISTINCT user_id) AS n_users,
        round(sum(value), 2) AS total
      FROM f JOIN dim ON f.dt = dim.day
      GROUP BY dt ORDER BY dt"""

  // ---------- longest purchase streak (gaps-and-islands on days) ----------
  /** Longest run of CONSECUTIVE calendar days with a purchase, per user
    * (top 20 by streak) — the retention/habit metric behind "N-day
    * streak" product features. Classic gaps-and-islands on integer day
    * numbers: within a user, `day − row_number()` is constant exactly
    * along a consecutive run, so one groupBy on that island key yields
    * run lengths with no self-join and no iteration. All arithmetic is
    * integer (days since epoch); one user shuffle carries the window,
    * the island and user rollups reuse its partitioning, and the top-20
    * is a TakeOrdered.
    */
  def qEventsStreaks(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("dd"))
    Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"),
        datediff(to_date(col("ts")), lit("1970-01-01")).as("dd"))
      .distinct()
      .withColumn("isl", col("dd") - row_number().over(w))
      .groupBy(col("user_id"), col("isl"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("user_id"))
      .agg(max(col("run")).as("longest_streak"),
        count(lit(1)).as("n_streaks"),
        sum(col("run")).as("active_days"))
      .orderBy(col("longest_streak").desc, col("user_id"))
      .limit(20)
  }

  val qEventsStreaksOracle: String =
    """WITH d AS (SELECT DISTINCT user_id,
        (ts::DATE - DATE '1970-01-01') dd FROM events
        WHERE event_type = 'purchase'),
      i AS (SELECT user_id, dd,
        dd - row_number() OVER (PARTITION BY user_id ORDER BY dd) isl
        FROM d),
      runs AS (SELECT user_id, isl, count(*) run FROM i
        GROUP BY user_id, isl)
      SELECT user_id, max(run) AS longest_streak,
        count(*) AS n_streaks, sum(run)::BIGINT AS active_days
      FROM runs GROUP BY user_id
      ORDER BY longest_streak DESC, user_id LIMIT 20"""

  // ---------- as-of join (click → latest prior view, per user) ----------
  /** As-of join composed from built-ins: tag both streams, sort-merge once
    * per user, and carry the latest view with `last(..., ignoreNulls)` over
    * an unbounded-preceding window — one shuffle on user_id, no per-row
    * subqueries. This is the scalable formulation (the naive correlated
    * form is O(clicks × views) per user).
    */
  def qEventsAsof(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("tag"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("tag"))
    val tagged = views.unionByName(clicks)
      .withColumn("v_info",
        when(col("tag") === 0,
          struct(unix_micros(col("ts")).as("v_ts"), col("event_id").as("v_id"))))
    // views sort before clicks at equal ts (tag 0 < 1): a view at the same
    // microsecond counts as "prior or equal", matching the oracle's <=
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("tag").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // NULL-user clicks stay UNMATCHED (standard as-of join semantics:
    // NULL keys never equal — DuckDB ASOF, pandas merge_asof), and they
    // BYPASS the window entirely: routing them through partitionBy
    // (user_id) would pool every anonymous row into ONE hot partition —
    // a straggler sort at a realistic anonymous-traffic share — only to
    // mask the result afterwards. Anonymous views vanish (they can match
    // nothing); anonymous clicks union back with literal-NULL matches.
    val anonClicks = clicks.filter(col("user_id").isNull)
      .select(col("event_id").as("click_id"), col("user_id"),
        unix_micros(col("ts")).as("click_ts"),
        lit(null).cast("long").as("view_id"),
        lit(null).cast("long").as("view_ts"))
    tagged
      .filter(col("user_id").isNotNull)
      .withColumn("last_view", last(col("v_info"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id").as("click_id"), col("user_id"),
        unix_micros(col("ts")).as("click_ts"),
        col("last_view.v_id").as("view_id"),
        col("last_view.v_ts").as("view_ts"))
      .unionByName(anonClicks)
      .orderBy(col("click_id"))
  }

  // ---------- nearest-neighbor as-of join (bidirectional, tolerance) ----------
  /** The NEAREST variant of [[qEventsAsof]] — each click matched to the
    * closest view in EITHER direction within a ±2 h tolerance
    * (|Δt| minimized; exact tie → the earlier view), the alignment
    * sensor-fusion and feature pipelines need when "most recent" is
    * the wrong prior. Same single user-keyed shuffle as the backward
    * join: the union-tag LOCF carry runs TWICE over one sorted frame —
    * forward (last view ≤ t; views sort BEFORE clicks at equal ts) and
    * backward over the reversed order (first view ≥ t; clicks sort
    * BEFORE views at equal ts, keeping the two candidate sets
    * disjoint-or-equal at boundaries) — then one integer |Δ| compare
    * picks the winner. No join against the views table at all.
    *
    * All decisions are integer micros; NULL when neither side lands
    * inside the tolerance.
    */
  def qEventsAsofNearest(spark: SparkSession, dir: String): DataFrame = {
    val TolUs = 7200000000L // 2 hours
    val e = Tables.events(spark, dir)
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id"), lit(0).as("tag"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id"), lit(1).as("tag"))
    val tagged = views.unionByName(clicks)
      .withColumn("v_info",
        when(col("tag") === 0,
          struct(unix_micros(col("ts")).as("v_ts"),
            col("event_id").as("v_id"))))
    val wb = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("tag").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("tag").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // NULL-user clicks bypass the windows and union back unmatched —
    // the qEventsAsof family rule (NULL keys never match) without the
    // pooled NULL hot partition; mirrored in the oracle
    val anonClicks = clicks.filter(col("user_id").isNull)
      .select(col("event_id").as("click_id"), col("user_id"),
        unix_micros(col("ts")).as("click_ts"),
        lit(null).cast("long").as("view_id"),
        lit(null).cast("long").as("delta_us"))
    tagged
      .filter(col("user_id").isNotNull)
      .withColumn("back", last(col("v_info"), ignoreNulls = true).over(wb))
      .withColumn("fwd", last(col("v_info"), ignoreNulls = true).over(wf))
      .filter(col("tag") === 1)
      .withColumn("t", unix_micros(col("ts")))
      .withColumn("db", when(col("back").isNotNull,
        col("t") - col("back.v_ts")))
      .withColumn("df", when(col("fwd").isNotNull,
        col("fwd.v_ts") - col("t")))
      .withColumn("back_ok", col("db").isNotNull && col("db") <= TolUs)
      .withColumn("fwd_ok", col("df").isNotNull && col("df") <= TolUs)
      .withColumn("use_back", col("back_ok") &&
        (!col("fwd_ok") || col("db") <= col("df")))
      .select(col("event_id").as("click_id"), col("user_id"),
        col("t").as("click_ts"),
        when(col("use_back"), col("back.v_id"))
          .otherwise(when(col("fwd_ok"), col("fwd.v_id"))).as("view_id"),
        when(col("use_back"), -col("db"))
          .otherwise(when(col("fwd_ok"), col("df"))).as("delta_us"))
      .unionByName(anonClicks)
      .orderBy(col("click_id"))
  }

  val qEventsAsofNearestOracle: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) tu, event_id, event_type
        FROM events WHERE event_type IN ('view', 'click')),
      tagged AS (SELECT user_id, tu, event_id,
          CASE WHEN event_type = 'view' THEN 0 ELSE 1 END AS tag
        FROM e),
      m AS (SELECT *,
          last_value(CASE WHEN tag = 0 THEN tu END IGNORE NULLS) OVER
            (PARTITION BY user_id ORDER BY tu ASC, tag ASC, event_id ASC
             ROWS UNBOUNDED PRECEDING) AS b_ts,
          last_value(CASE WHEN tag = 0 THEN event_id END IGNORE NULLS) OVER
            (PARTITION BY user_id ORDER BY tu ASC, tag ASC, event_id ASC
             ROWS UNBOUNDED PRECEDING) AS b_id,
          last_value(CASE WHEN tag = 0 THEN tu END IGNORE NULLS) OVER
            (PARTITION BY user_id ORDER BY tu DESC, tag DESC, event_id DESC
             ROWS UNBOUNDED PRECEDING) AS f_ts,
          last_value(CASE WHEN tag = 0 THEN event_id END IGNORE NULLS) OVER
            (PARTITION BY user_id ORDER BY tu DESC, tag DESC, event_id DESC
             ROWS UNBOUNDED PRECEDING) AS f_id
        FROM tagged),
      c AS (SELECT user_id, tu, event_id,
          tu - b_ts AS db, f_ts - tu AS df, b_id, f_id,
          b_ts IS NOT NULL AND tu - b_ts <= 7200000000 AS back_ok,
          f_ts IS NOT NULL AND f_ts - tu <= 7200000000 AS fwd_ok
        FROM m WHERE tag = 1)
      SELECT event_id AS click_id, user_id, tu AS click_ts,
        CASE WHEN user_id IS NULL THEN NULL
          WHEN back_ok AND (NOT fwd_ok OR db <= df) THEN b_id
          WHEN fwd_ok THEN f_id END AS view_id,
        CASE WHEN user_id IS NULL THEN NULL
          WHEN back_ok AND (NOT fwd_ok OR db <= df) THEN -db
          WHEN fwd_ok THEN df END AS delta_us
      FROM c ORDER BY click_id"""

  val qEventsAsofOracle: String =
    """WITH v AS (SELECT user_id, epoch_us(ts) v_ts, event_id v_id
        FROM events WHERE event_type = 'view'),
      c AS (SELECT user_id, epoch_us(ts) c_ts, event_id c_id
        FROM events WHERE event_type = 'click')
      SELECT c.c_id AS click_id, c.user_id, c.c_ts AS click_ts,
        best.v_id AS view_id, best.v_ts AS view_ts
      FROM c LEFT JOIN LATERAL (
        SELECT v.v_id, v.v_ts FROM v
        WHERE v.user_id = c.user_id AND v.v_ts <= c.c_ts
        ORDER BY v.v_ts DESC, v.v_id DESC LIMIT 1) best ON true
      ORDER BY click_id"""

  // ---------- JSON functions over the props column ----------
  /** Semi-structured payload surface: `props` is a JSON string; parse it
    * BOTH ways Spark offers — path extraction (`get_json_object`, no
    * schema needed) and typed parsing (`from_json` with an explicit
    * schema) — assert they agree row-wise, and aggregate the extracted
    * field. Everything stays codegen'd scan-side; one shuffle for the
    * group-by.
    */
  def qJsonFuncs(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      // single-split scan + two per-row JSON parses (the query's whole
      // cost, one ~0.5 s task — graft.obs.Probe, r18): the qSqlKernels repartition
      // discipline; every aggregate below is an integer count/sum/min/max
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("k_path",
        get_json_object(col("props"), "$.k").cast("long"))
      .withColumn("k_typed",
        from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType)))).getField("k"))
    e.groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k_path")).as("sum_k"),
        min(col("k_path")).as("min_k"),
        max(col("k_path")).as("max_k"),
        sum(when(col("k_path") === col("k_typed"), 1L).otherwise(0L))
          .as("paths_agree"))
      .orderBy(col("event_type"))
  }

  val qJsonFuncsOracle: String =
    """SELECT event_type, count(*) AS n,
      sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
      min(json_extract(props, '$.k')::BIGINT) AS min_k,
      max(json_extract(props, '$.k')::BIGINT) AS max_k,
      count(*)::BIGINT AS paths_agree
      FROM events GROUP BY event_type ORDER BY event_type"""

  // ---------- funnel: ordered multi-step conversion ----------
  /** Classic 3-step funnel (view → click → purchase, strictly ordered per
    * user): each stage keeps users whose stage event happens AFTER their
    * previous stage's first event. Three narrow join+agg passes, all
    * shuffling only on user_id; output is the per-stage user count and
    * mean stage-to-stage lag.
    */
  def qEventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tu"))
    val v = e.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("tu")).as("t1"))
    val c = e.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("tu") > col("t1"))
      .groupBy(col("user_id")).agg(max(col("t1")).as("t1"), min(col("tu")).as("t2"))
    val p = e.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("tu") > col("t2"))
      .groupBy(col("user_id")).agg(max(col("t2")).as("t2"), min(col("tu")).as("t3"))

    val s1 = v.agg(count(lit(1)).as("users"))
      .select(lit("1_view").as("stage"), col("users"),
        lit(null).cast("double").as("avg_lag_us"))
    val s2 = c.agg(count(lit(1)).as("users"),
        round(avg(col("t2") - col("t1")), 2).as("avg_lag_us"))
      .select(lit("2_click").as("stage"), col("users"), col("avg_lag_us"))
    val s3 = p.agg(count(lit(1)).as("users"),
        round(avg(col("t3") - col("t2")), 2).as("avg_lag_us"))
      .select(lit("3_purchase").as("stage"), col("users"), col("avg_lag_us"))
    s1.unionByName(s2).unionByName(s3).orderBy(col("stage"))
  }

  val qEventsFunnelOracle: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) tu FROM events),
      v AS (SELECT user_id, min(tu) t1 FROM e WHERE event_type = 'view'
        GROUP BY user_id),
      c AS (SELECT e.user_id, max(v.t1) AS t1, min(e.tu) AS t2
        FROM e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.tu > v.t1 GROUP BY e.user_id),
      p AS (SELECT e.user_id, max(c.t2) AS t2, min(e.tu) AS t3
        FROM e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.tu > c.t2 GROUP BY e.user_id)
      SELECT * FROM (
        SELECT '1_view' AS stage, count(*)::BIGINT AS users,
          NULL::DOUBLE AS avg_lag_us FROM v
        UNION ALL SELECT '2_click', count(*)::BIGINT,
          round(avg(t2 - t1), 2) FROM c
        UNION ALL SELECT '3_purchase', count(*)::BIGINT,
          round(avg(t3 - t2), 2) FROM p)
      ORDER BY stage"""

  // ---------- in-flight pipeline metrics (observe / CollectMetrics) ----------
  /** Spark's `Observation` surface — production data-quality counters
    * collected as a SIDE-CHANNEL of a pipeline pass (`CollectMetricsExec`
    * accumulates while rows flow to the real sink), which is how a 100 TB
    * ingest job reports row counts / null rates / range violations
    * WITHOUT a second scan. Here the observed pipeline is a noop-sink
    * pass over the events table; the query returns the observation as a
    * one-row frame and the oracle recomputes the same aggregates with a
    * plain scan — proving the side-channel numbers equal the query the
    * monitoring replaces. All values exact (counts + integer micros).
    */
  def qObserveMetrics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation()
    Tables.events(spark, dir)
      .observe(obs,
        count(lit(1)).as("n_rows"),
        sum(when(col("value") > 90, 1L).otherwise(0L)).as("n_high"),
        sum(col("user_id").isNull.cast("long")).as("n_null_user"),
        min(unix_micros(col("ts"))).as("min_tu"),
        max(unix_micros(col("ts"))).as("max_tu"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Seq((m("n_rows").asInstanceOf[Long], m("n_high").asInstanceOf[Long],
      m("n_null_user").asInstanceOf[Long], m("min_tu").asInstanceOf[Long],
      m("max_tu").asInstanceOf[Long]))
      .toDF("n_rows", "n_high", "n_null_user", "min_tu", "max_tu")
  }

  val qObserveMetricsOracle: String =
    """SELECT count(*) AS n_rows,
      sum(CASE WHEN value > 90 THEN 1 ELSE 0 END)::BIGINT AS n_high,
      sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::BIGINT
        AS n_null_user,
      min(epoch_us(ts)) AS min_tu, max(epoch_us(ts)) AS max_tu
      FROM events"""

  // ---------- volume anomaly detection (z-score per type/hour) ----------
  /** Operational anomaly surface over the event stream: hourly volume per
    * event type, flagged where the hour's count deviates from that type's
    * own mean by more than 2 sample standard deviations. Two narrow
    * aggregations (hour×type counts, then per-type moments broadcast
    * back) — the z-score join is against a #types-sized table, so the
    * whole thing is scan + two small shuffles at any corpus size.
    */
  def qEventsAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val hourly = Tables.events(spark, dir)
      .select(unix_timestamp(date_trunc("hour", col("ts"))).as("hr"),
        col("event_type"))
      .groupBy(col("hr"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val stats = hourly.groupBy(col("event_type"))
      .agg(avg(col("n")).as("mu"), stddev_samp(col("n")).as("sd"))
    // Threshold membership is decided on the UNROUNDED z: verified at every
    // supported sf dir that min |abs(z) - 2.0| >= 2.9e-3 and that every z is
    // >= 9e-10 away from a 6th-decimal rounding tie, so the ~1e-12 avg/stddev
    // evaluation-order divergence between engines cannot flip a row in or
    // out (nor flip the rounded output digit).
    hourly.join(broadcast(stats), "event_type")
      .withColumn("z_raw", (col("n") - col("mu")) / col("sd"))
      .filter(abs(col("z_raw")) > 2.0)
      .select(col("event_type"), col("hr"), col("n"),
        round(col("z_raw"), 6).as("z"))
      .orderBy(col("event_type"), col("hr"))
  }

  val qEventsAnomalyOracle: String =
    """WITH hourly AS (SELECT epoch(date_trunc('hour', ts))::BIGINT hr,
        event_type, count(*) n FROM events GROUP BY hr, event_type),
      stats AS (SELECT event_type, avg(n) mu, stddev_samp(n) sd
        FROM hourly GROUP BY event_type)
      SELECT h.event_type, h.hr, h.n::BIGINT AS n,
        round((h.n - s.mu) / s.sd, 6) AS z
      FROM hourly h JOIN stats s USING (event_type)
      WHERE abs((h.n - s.mu) / s.sd) > 2.0
      ORDER BY h.event_type, h.hr"""

  // ---------- time-series gap filling ----------
  /** Dense hourly series per event_type: hours with no events appear with
    * n=0 (generate the full hour spine × type dimension, left-join the
    * actual counts). The spine is generated from the data's own min/max —
    * no driver-side collect; `sequence` + explode keeps it declarative.
    */
  def qEventsGapfill(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(unix_timestamp(date_trunc("hour", col("ts"))).as("hr"),
        col("event_type"))
    val counts = e.groupBy(col("hr"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val bounds = e.agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
    val hours = bounds.select(
      explode(sequence(col("lo"), col("hi"), lit(3600L))).as("hr"))
    val types = e.select(col("event_type")).distinct()
    hours.crossJoin(broadcast(types))
      .join(counts, Seq("hr", "event_type"), "left_outer")
      .select(col("hr"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("hr"), col("event_type"))
  }

  val qEventsGapfillOracle: String =
    """WITH e AS (SELECT epoch(date_trunc('hour', ts))::BIGINT hr, event_type
        FROM events),
      counts AS (SELECT hr, event_type, count(*) n FROM e GROUP BY hr, event_type),
      bounds AS (SELECT min(hr) lo, max(hr) hi FROM e),
      hours AS (SELECT unnest(range(lo, hi + 1, 3600)) hr FROM bounds),
      types AS (SELECT DISTINCT event_type FROM e)
      SELECT h.hr, t.event_type, coalesce(c.n, 0) AS n
      FROM hours h CROSS JOIN types t
      LEFT JOIN counts c ON c.hr = h.hr AND c.event_type = t.event_type
      ORDER BY h.hr, t.event_type"""

  // ---------- cumulative distinct users per day ----------
  /** Growth analytics without collect_set blowup: reduce each user to
    * their FIRST-seen day (cheap groupBy), then a running sum over days —
    * the cumulative-distinct pattern that scales where
    * `count(distinct) OVER (ORDER BY day)` cannot.
    */
  // ---------- rolling active users (DAU / WAU / MAU) ----------
  /** The product-analytics staple: per calendar day, the EXACT count of
    * distinct users active that day (DAU), in the trailing 7 days (WAU),
    * and in the trailing 30 days (MAU). Exact rolling distincts do NOT
    * reduce to a window sum (users repeat across days), so the scale
    * shape is: collapse the corpus once to the (day, user) DISTINCT
    * table — corpus-compressed, the only full-data pass — then a
    * RANGE join of the ~#days dimension against that table (≤ 30×
    * fan-out, bounded by the window length) and one count-distinct per
    * day. At 100 TB the fact scan happens once; everything after is
    * sized by users × days. All integers.
    */
  def qEventsActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("dte"), col("user_id")).distinct()
      .stageCheckpoint() // shared by the three rolling windows
    val days = du.select(col("dte").as("d")).distinct()
    def rolling(win: Int, name: String): DataFrame =
      broadcast(days)
        .join(du, col("dte").between(date_sub(col("d"), win - 1), col("d")))
        .groupBy(col("d"))
        .agg(countDistinct(col("user_id")).as(name))
    rolling(1, "dau")
      .join(rolling(7, "wau"), "d")
      .join(rolling(30, "mau"), "d")
      .select(col("d").cast("string").as("dte"), col("dau"), col("wau"),
        col("mau"))
      .orderBy(col("dte"))
  }

  val qEventsActiveUsersOracle: String =
    """WITH du AS (SELECT DISTINCT ts::DATE AS dte, user_id FROM events),
      days AS (SELECT DISTINCT dte AS d FROM du),
      r AS (SELECT d, win, count(DISTINCT user_id) AS n
        FROM days CROSS JOIN (VALUES (1), (7), (30)) AS w(win)
        JOIN du ON du.dte BETWEEN d - (win - 1) AND d
        GROUP BY d, win)
      SELECT d::VARCHAR AS dte,
        max(CASE WHEN win = 1 THEN n END) AS dau,
        max(CASE WHEN win = 7 THEN n END) AS wau,
        max(CASE WHEN win = 30 THEN n END) AS mau
      FROM r GROUP BY d ORDER BY dte"""

  def qEventsCumulativeUsers(spark: SparkSession, dir: String): DataFrame = {
    val firstSeen = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .groupBy(col("user_id"))
      .agg(min(col("day")).as("first_day"))
    val perDay = firstSeen.groupBy(col("first_day").as("day"))
      .agg(count(lit(1)).as("new_users"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDay
      .withColumn("cum_users", sum(col("new_users")).over(w))
      .orderBy(col("day"))
  }

  val qEventsCumulativeUsersOracle: String =
    """WITH fs AS (SELECT user_id, min(ts::DATE) first_day FROM events
        GROUP BY user_id),
      pd AS (SELECT first_day AS day, count(*) new_users FROM fs GROUP BY 1)
      SELECT day, new_users,
        sum(new_users) OVER (ORDER BY day
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_users
      FROM pd ORDER BY day"""

  // ---------- cohort retention ----------
  /** Classic N-day retention: users cohorted by first-event day, retained
    * at day offsets 1/7/14. Two user-keyed shuffles (first-event agg +
    * join back — the join reuses the agg's partitioning) and one small
    * cohort-day agg; the distinct-per-offset counts are conditional
    * aggregates over one pass, not one join per offset.
    */
  def qEventsRetention(spark: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val first = act.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
    act.join(first, "user_id")
      .groupBy(col("d0").cast("string").as("cohort_day"))
      .agg(
        countDistinct(col("user_id")).as("cohort_n"),
        countDistinct(when(datediff(col("d"), col("d0")) === 1,
          col("user_id"))).as("ret_d1"),
        countDistinct(when(datediff(col("d"), col("d0")) === 7,
          col("user_id"))).as("ret_d7"),
        countDistinct(when(datediff(col("d"), col("d0")) === 14,
          col("user_id"))).as("ret_d14"))
      .orderBy(col("cohort_day"))
  }

  val qEventsRetentionOracle: String =
    """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) d FROM events),
      f AS (SELECT user_id, min(d) d0 FROM act GROUP BY user_id)
      SELECT d0::VARCHAR AS cohort_day,
        count(DISTINCT act.user_id) AS cohort_n,
        count(DISTINCT CASE WHEN datediff('day', d0, d) = 1
          THEN act.user_id END) AS ret_d1,
        count(DISTINCT CASE WHEN datediff('day', d0, d) = 7
          THEN act.user_id END) AS ret_d7,
        count(DISTINCT CASE WHEN datediff('day', d0, d) = 14
          THEN act.user_id END) AS ret_d14
      FROM act JOIN f ON act.user_id = f.user_id
      GROUP BY d0 ORDER BY cohort_day"""

  // ---------- event-path transition mining ----------
  /** Per-user event-type transition support — (from_type, to_type,
    * user_id, cnt) for every consecutive pair in each user's (ts,
    * event_id)-ordered sequence. Checkpointed once per (session, dir,
    * content): [[qEventsPaths]], [[qEventsPagerank]] and
    * [[qEventsMarkov]] all start from exactly this table (lead- and
    * lag-derived pairs are the same multiset) and previously each
    * re-ran the corpus window per invocation. The corpus pays the
    * user_id shuffle + sequence sort ONCE; the fixture is bounded by
    * |users|·|types|² rows of four narrow columns — the materialized
    * "transition support" table a real behavioral stack persists
    * between consumers. Every consumer's oracle recomputes from the raw
    * corpus, so round-trip fidelity stays proven per query.
    */
  private[ops] def typeTransitions(spark: SparkSession, dir: String): DataFrame =
    SessionFixtures.cachedFrame("event_transitions", spark, dir) {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(spark, dir)
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .withColumn("to_type", lead(col("event_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
        .groupBy(col("event_type").as("from_type"), col("to_type"),
          col("user_id"))
        .agg(count(lit(1)).as("cnt"))
        .stageCheckpoint()
    }

  /** Behavioral path analysis: the most common event-type transitions
    * across user sessions — the statistic behind funnel discovery and
    * next-action modeling. Per user, events order by (ts, event_id) —
    * the id tie-break makes the sequence total even under equal
    * timestamps — and `lead` pairs each event with its successor; the
    * global report counts transitions and their distinct-user support,
    * top-15 with a full lexical tiebreak so the cut is total-ordered.
    *
    * Scale shape: one shuffle on user_id for the sequence window
    * (high-cardinality partitions), then a combine-fed aggregate on the
    * (from, to) pair — bounded by |event types|², not event volume; the
    * top-15 is a TakeOrderedAndProject, never a global sort.
    */
  def qEventsPaths(spark: SparkSession, dir: String): DataFrame =
    // fixture rows are unique per (from, to, user), so the distinct-user
    // support is a count of NON-NULL user_id rows per pair: count(col)
    // skips the one NULL-user fixture row a nullable user_id would form,
    // exactly as the oracle's count(DISTINCT user_id) excludes NULLs —
    // count(lit(1)) here would silently count that row as one "user"
    typeTransitions(spark, dir)
      .groupBy(col("from_type"), col("to_type"))
      .agg(sum(col("cnt")).as("n_transitions"),
        count(col("user_id")).as("n_users"))
      .orderBy(col("n_transitions").desc, col("from_type"), col("to_type"))
      .limit(15)

  val qEventsPathsOracle: String =
    """WITH s AS (SELECT user_id, event_type,
        lead(event_type) OVER (PARTITION BY user_id
          ORDER BY ts, event_id) next_type
      FROM events)
      SELECT event_type from_type, next_type to_type,
        count(*) n_transitions, count(DISTINCT user_id) n_users
      FROM s WHERE next_type IS NOT NULL
      GROUP BY 1, 2
      ORDER BY n_transitions DESC, from_type, to_type LIMIT 15"""

  // ---------- PageRank over the event-type transition graph ----------
  /** Importance ranking of event types by the stationary-walk intuition:
    * three unrolled PageRank iterations (damping 0.85) over the directed
    * transition graph that [[qEventsPaths]] mines. The graph is bounded
    * by |event types|² regardless of event volume, so the iteration
    * joins are dimension-scale; the corpus pays only the user-keyed
    * sequence window and the combine-fed pair aggregate.
    *
    * Fixed-point determinism, overflow-safe at ANY corpus size: edge
    * weights first quantize to parts-per-million transition
    * probabilities (`(w * 1e6) DIV out` — the only place the raw counts
    * enter), so every later product is bounded by SCALE·1e6 = 1e18 < 2^63
    * no matter how many transitions the corpus holds. All divisions are
    * integer DIV on positive values (truncate == floor, so Spark DIV and
    * DuckDB `//` agree term for term). Dangling types contribute nothing
    * (standard simplification, mirrored in the oracle).
    */
  def qEventsPagerank(spark: SparkSession, dir: String): DataFrame = {
    // The edge aggregate COLLECTS: it is bounded by |event types|²
    // regardless of event volume (a fixed-size model in the
    // CollectAuditSpec sense — same discipline as the trained ANN
    // indexes), so the three damped iterations run driver-side in exact
    // integer arithmetic. The corpus pays nothing here beyond the shared
    // [[typeTransitions]] fixture; the previous DataFrame-iteration
    // spelling scheduled 5 jobs (persist + 4 localCheckpoints) of pure
    // fixpoint floor per invocation for a ≤|types|²-row graph —
    // measured 1.4-1.6 s of scheduling against ~0 s of arithmetic.
    val edges = typeTransitions(spark, dir)
      .groupBy(col("from_type"), col("to_type"))
      .agg(sum(col("cnt")).as("w"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    import spark.implicits._
    if (edges.isEmpty)
      // empty/one-event-per-user corpus: no transitions, no walk (the
      // DataFrame spelling returned empty too; avoids 1e12 DIV 0 below)
      return Seq.empty[(String, Long, Long)]
        .toDF("event_type", "rank_e12", "out_transitions")
    val out = edges.groupBy(_._1).map { case (f, es) => f -> es.map(_._3).sum }
    // parts-per-million transition probabilities — the only place raw
    // counts enter, so later products stay < 1e18 at any corpus size
    val probs = edges.map { case (f, t, w) => (f, t, (w * 1000000L) / out(f)) }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length.toLong
    val base = 1000000000000L / n
    var rank = nodes.map(t => t -> base).toMap
    for (_ <- 0 until 3) {
      val contribs = probs.groupBy(_._2).map { case (t, es) =>
        t -> es.iterator.map { case (f, _, p6) => (rank(f) * p6) / 1000000L }.sum
      }
      rank = nodes.map(t =>
        t -> ((base * 15L) / 100L + (85L * contribs.getOrElse(t, 0L)) / 100L))
        .toMap
    }
    import spark.implicits._
    nodes.map(t => (t, rank(t), out.getOrElse(t, 0L)))
      .toSeq.toDF("event_type", "rank_e12", "out_transitions")
      .orderBy(col("rank_e12").desc, col("event_type"))
  }

  val qEventsPagerankOracle: String =
    """WITH s AS (SELECT user_id, event_type ft, lead(event_type)
          OVER (PARTITION BY user_id ORDER BY ts, event_id) tt FROM events),
      e AS (SELECT ft, tt, count(*)::BIGINT w FROM s
        WHERE tt IS NOT NULL GROUP BY ft, tt),
      o AS (SELECT ft, sum(w)::BIGINT outw FROM e GROUP BY ft),
      p AS (SELECT e.ft, e.tt, (e.w * 1000000) // o.outw p6
        FROM e JOIN o USING (ft)),
      nodes AS (SELECT DISTINCT ft t FROM e UNION SELECT DISTINCT tt FROM e),
      nn AS (SELECT count(*) n FROM nodes),
      r0 AS (SELECT t, nn.n, 1000000000000 // nn.n r FROM nodes, nn),
      c1 AS (SELECT p.tt t, sum((r0.r * p.p6) // 1000000)::BIGINT s
        FROM p JOIN r0 ON p.ft = r0.t GROUP BY p.tt),
      r1 AS (SELECT r0.t, r0.n, ((1000000000000 // r0.n) * 15) // 100
          + (85 * coalesce(c1.s, 0)) // 100 r
        FROM r0 LEFT JOIN c1 ON r0.t = c1.t),
      c2 AS (SELECT p.tt t, sum((r1.r * p.p6) // 1000000)::BIGINT s
        FROM p JOIN r1 ON p.ft = r1.t GROUP BY p.tt),
      r2 AS (SELECT r1.t, r1.n, ((1000000000000 // r1.n) * 15) // 100
          + (85 * coalesce(c2.s, 0)) // 100 r
        FROM r1 LEFT JOIN c2 ON r1.t = c2.t),
      c3 AS (SELECT p.tt t, sum((r2.r * p.p6) // 1000000)::BIGINT s
        FROM p JOIN r2 ON p.ft = r2.t GROUP BY p.tt),
      r3 AS (SELECT r2.t, r2.n, ((1000000000000 // r2.n) * 15) // 100
          + (85 * coalesce(c3.s, 0)) // 100 r
        FROM r2 LEFT JOIN c3 ON r2.t = c3.t)
      SELECT r3.t AS event_type, r3.r AS rank_e12,
        coalesce(o.outw, 0) AS out_transitions
      FROM r3 LEFT JOIN o ON r3.t = o.ft
      ORDER BY rank_e12 DESC, event_type"""

  // ---------- complex event pattern matching (MATCH_RECOGNIZE shape) ----------
  /** CEP-style sequence-pattern matching Spark has no primitive for
    * (SQL's MATCH_RECOGNIZE): count, per user, completed
    * `view → click → purchase` journeys where each step follows the
    * previous within 24 hours (sized to this corpus's per-user event
    * density) and an intervening `error` aborts the
    * journey. One combine-fed collect per user (per-user event lists
    * are bounded — the sessionization scale argument), an in-struct
    * `array_sort` for the (ts, event_id) order, and ONE deterministic
    * left-to-right `aggregate` fold running the 3-state machine in
    * exact integer micros — the [[TextModels.qBpeTrain]] fold
    * discipline, so DuckDB replays it with `list_reduce` (sentinel
    * prepended: DuckDB's reduce consumes the first element as init) and
    * every intermediate state is identical on both engines.
    */
  def qEventsPattern(spark: SparkSession, dir: String): DataFrame = {
    val W = 86400000000L // 24 h in µs (matched to this corpus's per-user event density)
    Tables.events(spark, dir)
      .select(col("user_id"), struct(unix_micros(col("ts")).as("ts"),
        col("event_id").as("id"), col("event_type").as("tp")).as("e"))
      .groupBy(col("user_id"))
      .agg(array_sort(collect_list(col("e"))).as("evs"))
      .withColumn("m", expr(
        s"""aggregate(evs,
            named_struct('vt', CAST(-1 AS BIGINT), 'ct', CAST(-1 AS BIGINT),
              'm', CAST(0 AS BIGINT)),
            (a, x) -> CASE
              WHEN x.tp = 'view' THEN named_struct(
                'vt', x.ts, 'ct', CAST(-1 AS BIGINT), 'm', a.m)
              WHEN x.tp = 'click' AND a.vt >= 0 AND x.ts - a.vt <= ${W}L
                THEN named_struct('vt', a.vt, 'ct', x.ts, 'm', a.m)
              WHEN x.tp = 'purchase' AND a.ct >= 0 AND x.ts - a.ct <= ${W}L
                THEN named_struct('vt', CAST(-1 AS BIGINT),
                  'ct', CAST(-1 AS BIGINT), 'm', a.m + 1)
              WHEN x.tp = 'error' THEN named_struct(
                'vt', CAST(-1 AS BIGINT), 'ct', CAST(-1 AS BIGINT), 'm', a.m)
              ELSE a END).m"""))
      .filter(col("m") > 0)
      .select(col("user_id"), col("m").as("n_journeys"))
      .orderBy(col("user_id"))
  }

  /** State rides as a uniform BIGINT LIST `[vt, ct, m, ts, code]`, NOT a
    * struct: DuckDB 1.0.0's `list_reduce` silently mis-folds
    * STRUCT-typed elements over multi-row input (per-user results leak
    * across rows — found when this oracle's struct form disagreed with
    * both the engine and a hand replay on users it got right when
    * filtered to one row; three plan-shape variants all mis-folded,
    * while LIST-typed elements — the `q_bpe_train` oracle's shape —
    * fold correctly and stably). Event types encode as integers
    * (view=1, click=2, purchase=3, error=4).
    */
  val qEventsPatternOracle: String =
    """WITH u AS (SELECT user_id,
        list([-1::BIGINT, -1::BIGINT, 0::BIGINT, epoch_us(ts),
          CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
            WHEN 'purchase' THEN 3 WHEN 'error' THEN 4
            ELSE 0 END::BIGINT]
          ORDER BY epoch_us(ts), event_id) AS evs
        FROM events GROUP BY user_id),
      f AS (SELECT user_id, list_reduce(
        list_prepend([-1::BIGINT, -1::BIGINT, 0::BIGINT, -1::BIGINT,
            0::BIGINT], evs),
        (a, x) -> CASE
          WHEN x[5] = 1 THEN [x[4], -1::BIGINT, a[3], x[4], x[5]]
          WHEN x[5] = 2 AND a[1] >= 0 AND x[4] - a[1] <= 86400000000
            THEN [a[1], x[4], a[3], x[4], x[5]]
          WHEN x[5] = 3 AND a[2] >= 0 AND x[4] - a[2] <= 86400000000
            THEN [-1::BIGINT, -1::BIGINT, a[3] + 1, x[4], x[5]]
          WHEN x[5] = 4 THEN [-1::BIGINT, -1::BIGINT, a[3], x[4], x[5]]
          ELSE [a[1], a[2], a[3], x[4], x[5]] END) AS st
      FROM u)
      SELECT user_id, st[3] AS n_journeys FROM f
      WHERE st[3] > 0 ORDER BY user_id"""

  // ---------- trailing moving-average forecast ----------
  /** Per-channel daily revenue forecasting with a trailing 7-day moving
    * average — the capacity-planning time series every ingestion
    * pipeline keeps, and the simplest member of the forecasting family
    * (a seasonal or Holt variant is the same plan with more window
    * columns). Everything is EXACT integer cents: the 2-dp `value`
    * doubles recover exactly via `round(value*100)` (each is within
    * 1e-10 of an integer, never near a rounding boundary), daily sums
    * are BIGINT, and the forecast is the truncating integer division of
    * the trailing window sum — identical on both engines, no float
    * fold anywhere.
    *
    * Scale shape: one combine-fed (type, day) aggregate, then the
    * window rides the SAME key's sort within event_type partitions —
    * day-cardinality data, no second corpus pass, no global window
    * (partitioned by channel, the PlanAudit rule).
    */
  def qEventsForecast(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-7, -1)
    daily
      .withColumn("hist_sum", sum(col("cents")).over(w))
      .withColumn("hist_n", count(col("cents")).over(w))
      .filter(col("hist_n") === 7)
      .select(col("event_type"), col("day").cast("string").as("day"),
        col("cents").as("actual_cents"),
        expr("hist_sum DIV 7").as("forecast_cents"),
        expr("abs(cents - hist_sum DIV 7)").as("abs_err_cents"))
      .orderBy(col("event_type"), col("day"))
  }

  val qEventsForecastOracle: String =
    """WITH d AS (SELECT event_type, ts::DATE AS day,
        sum(round(value * 100)::BIGINT)::BIGINT AS cents
        FROM events GROUP BY 1, 2),
      m AS (SELECT *,
        sum(cents) OVER (PARTITION BY event_type ORDER BY day
          ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)::BIGINT AS hist_sum,
        count(cents) OVER (PARTITION BY event_type ORDER BY day
          ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS hist_n
        FROM d)
      SELECT event_type, day::VARCHAR AS day, cents AS actual_cents,
        hist_sum // 7 AS forecast_cents,
        abs(cents - hist_sum // 7) AS abs_err_cents
      FROM m WHERE hist_n = 7 ORDER BY event_type, day"""

  // ---------- shuffle-key skew diagnostic ----------
  /** Key-skew profiler for candidate shuffle keys — the query you run
    * BEFORE picking a join/groupBy key at 100 TB, where one hot key
    * turns into one straggler task. Profiles every candidate in a
    * SINGLE corpus pass: each row explodes into (key_name, key_value)
    * pairs scan-side, then two combine-fed aggregates produce per-key
    * counts and the per-candidate summary. All metrics are integer
    * (scaled ×100 where fractional) so the result is exact:
    * `skew_x100` = max/avg ratio, and `salt` = ceil(max_cnt / avg_cnt)
    * is the salting factor that would level the hottest key to the
    * average — the direct input to the salted-join pattern
    * ([[Relational]] `q_salted_join`).
    */
  def qSkewDiagnose(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(explode(map(
        lit("user_id"), col("user_id").cast("string"),
        lit("event_type"), col("event_type"))).as(Seq("key_name", "key_val")))
      .groupBy(col("key_name"), col("key_val"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("key_name"))
      .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
        max(col("cnt")).as("max_cnt"))
      .select(col("key_name"), col("n_keys"), col("n_rows"), col("max_cnt"),
        expr("n_rows * 100 DIV n_keys").as("avg_cnt_x100"),
        expr("max_cnt * 100 * n_keys DIV n_rows").as("skew_x100"),
        expr("(max_cnt * n_keys + n_rows - 1) DIV n_rows").as("salt"))
      .orderBy(col("key_name"))

  val qSkewDiagnoseOracle: String =
    """WITH kv AS (
        SELECT 'user_id' AS key_name, user_id::VARCHAR AS key_val FROM events
        UNION ALL
        SELECT 'event_type', event_type FROM events),
      c AS (SELECT key_name, key_val, count(*)::BIGINT cnt
        FROM kv GROUP BY 1, 2),
      s AS (SELECT key_name, count(*)::BIGINT n_keys, sum(cnt)::BIGINT n_rows,
        max(cnt)::BIGINT max_cnt FROM c GROUP BY 1)
      SELECT key_name, n_keys, n_rows, max_cnt,
        n_rows * 100 // n_keys AS avg_cnt_x100,
        max_cnt * 100 * n_keys // n_rows AS skew_x100,
        (max_cnt * n_keys + n_rows - 1) // n_rows AS salt
      FROM s ORDER BY key_name"""

  // ---------- VARIANT semi-structured surface (Spark 4) ----------
  /** Spark 4's VARIANT type driven end-to-end: nested JSON is built
    * in-flight from real columns (`to_json(named_struct(...))`), parsed
    * to a variant (`parse_json`), and read back with typed-path
    * extraction (`variant_get` with `$.meta.k` / array-index paths) plus
    * `schema_of_variant` — the open-schema ingestion pattern VARIANT
    * exists for (no `from_json` schema declared anywhere on the read
    * side). The oracle recomputes the same aggregates from the RAW
    * columns, so a hash match proves the construct→parse→extract
    * round-trip is the identity on every row, typed casts included;
    * the pinned schema string additionally locks variant's inferred
    * physical types. All aggregated measures are exact integers
    * (values to cents via `round(value*100)` — the [[qEventsForecast]]
    * discipline).
    *
    * Scale shape: entirely scan-side per-row kernels (JSON build,
    * variant parse, path extraction are all codegen'd expressions) into
    * one combine-fed aggregate keyed on the extracted type — zero
    * extra exchanges over the plain aggregation of the raw columns.
    */
  def qVariantJson(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      // events is one scan split and the JSON build→parse→extract chain
      // is the query's whole cost: it ran as a single 1.0-2.3 s task
      // (graft.obs.Probe, r18). The qSqlKernels repartition discipline; every
      // aggregate below is an integer sum/count/max or the
      // order-insensitive schema merge, so results are
      // partition-order-free.
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("vj", expr(
        """parse_json(to_json(named_struct(
             'meta', named_struct(
               'type', event_type,
               'k', CAST(get_json_object(props, '$.k') AS BIGINT)),
             'cents', array(CAST(round(value * 100) AS BIGINT),
                            CAST(round(value * 100) * 2 AS BIGINT)))))"""))
    ev.select(
        expr("variant_get(vj, '$.meta.type', 'string')").as("vtype"),
        expr("variant_get(vj, '$.meta.k', 'long')").as("k"),
        expr("variant_get(vj, '$.cents[0]', 'long')").as("c0"),
        expr("variant_get(vj, '$.cents[1]', 'long')").as("c1"),
        col("vj"))
      .groupBy(col("vtype"))
      // schema_of_variant_agg MERGES row schemas: a NULL-valued event's
      // cents render as ARRAY<VOID> per row, and the previous
      // max(schema_of_variant) picked that string over ARRAY<BIGINT>
      // ('V' > 'B', caught by the nulls sweep); the merge resolves VOID
      // against the typed rows to the column's true schema — identical
      // output on NULL-free data
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        sum(col("c0")).as("sum_cents"), max(col("c1")).as("max_double_cents"),
        expr("schema_of_variant_agg(vj)").as("vschema"))
      .orderBy(col("vtype"))
  }

  val qVariantJsonOracle: String =
    """SELECT event_type AS vtype, count(*) AS n,
      sum(json_extract(props, '$.k')::BIGINT)::BIGINT AS sum_k,
      sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents,
      max(round(value * 100)::BIGINT * 2) AS max_double_cents,
      'OBJECT<cents: ARRAY<BIGINT>, meta: OBJECT<k: BIGINT, type: STRING>>'
        AS vschema
      FROM events GROUP BY event_type ORDER BY vtype"""

  // ---------- point-in-time feature join (leakage-free) ----------
  /** The feature-store join that training-data correctness lives or
    * dies on: label events enriched with a VERSIONED feature table as
    * of each event's timestamp — never a later version (future
    * leakage), never a stale overwrite (the "latest value" join that
    * silently trains on the future). Features here are per-customer
    * running order counts/cents versioned at synthesized update times
    * planted INSIDE the event window (orders are mapped onto the
    * 2024-01 calendar by a deterministic day/second formula the oracle
    * replays), so every label row genuinely straddles feature versions.
    *
    * Shape: the union trick of [[qEventsAsof]] generalized to TWO
    * tables — feature updates (tag 0) and label events (tag 1)
    * interleave in ONE user-keyed window and `last(_, ignoreNulls)`
    * carries the newest feature struct forward; ties (feature stamped
    * at the label's exact microsecond) count as visible, matching the
    * oracle's `<=`. ONE shuffle on the entity key, no range join, no
    * per-label probe — the only PIT-join shape that survives 100 TB of
    * labels against 10 TB of feature history.
    */
  def qJoinPit(spark: SparkSession, dir: String): DataFrame = {
    val feat = Tables.orders(spark, dir)
      .select(col("o_custkey").as("user_id"),
        // plant update times inside the events calendar: day from the
        // order date, second-of-day from the key (oracle replays this)
        timestamp_seconds(
          lit(1704067200L) + // 2024-01-01 00:00:00 UTC
            pmod(datediff(to_date(col("o_orderdate")),
              to_date(lit("1970-01-01"))).cast("long"), lit(30L)) * 86400L +
            pmod(col("o_orderkey"), lit(86400L))).as("fts"),
        col("o_orderkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val wv = Window.partitionBy(col("user_id"))
      .orderBy(col("fts"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val versions = feat
      .withColumn("n_orders", count(lit(1)).over(wv))
      .withColumn("sum_cents", sum(col("cents")).over(wv))
      .select(col("user_id"), col("fts").as("ts"),
        col("o_orderkey").as("id"), lit(0).as("tag"),
        struct(col("n_orders"), col("sum_cents")).as("f"))
    val labels = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("id"),
        lit(1).as("tag"), lit(null).cast(
          "struct<n_orders:bigint,sum_cents:bigint>").as("f"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("tag").asc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    versions.unionByName(labels)
      .withColumn("pit", last(col("f"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("id").as("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        coalesce(col("pit.n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("pit.sum_cents"), lit(0L)).as("sum_cents"))
      .orderBy(col("event_id"))
  }

  val qJoinPitOracle: String =
    """WITH f0 AS (SELECT o_custkey user_id,
        make_timestamp((1704067200
          + (datediff('day', DATE '1970-01-01', o_orderdate::DATE) % 30)
            * 86400 + o_orderkey % 86400) * 1000000) fts,
        o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) cents
      FROM orders),
      v AS (SELECT user_id, fts, o_orderkey,
          count(*) OVER w::BIGINT n_orders,
          sum(cents) OVER w::BIGINT sum_cents
        FROM f0 WINDOW w AS (PARTITION BY user_id
          ORDER BY fts, o_orderkey ROWS UNBOUNDED PRECEDING)),
      lb AS (SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'purchase')
      SELECT lb.event_id, lb.user_id, epoch_us(lb.ts) ts_us,
        coalesce(pit.n_orders, 0) AS n_orders,
        coalesce(pit.sum_cents, 0) AS sum_cents
      FROM lb LEFT JOIN LATERAL (
        SELECT v.n_orders, v.sum_cents FROM v
        WHERE v.user_id = lb.user_id AND v.fts <= lb.ts
        ORDER BY v.fts DESC, v.o_orderkey DESC LIMIT 1) pit ON true
      ORDER BY event_id"""

  // ---------- max-concurrency sweep over session intervals ----------
  /** Per-hour concurrent-session load — how many 10-minute-gap sessions
    * ([[qEventsSession]]'s convention, half-open [start, last+timeout))
    * are simultaneously open — the capacity-planning readout behind
    * connection pools and rate limits. The classic sequential +1/−1
    * sweep distributes as a two-level prefix sum: boundary events
    * collapse to (hour, instant) cells carrying (arrivals, departures);
    * per-hour nets cumulate GLOBALLY on the hour-bounded table (behind
    * an eager localCheckpoint, the [[qStatsKs]] discipline) giving each
    * hour's opening concurrency, and the within-hour running sum is a
    * window PARTITIONED BY HOUR — the same opener-carry shape as
    * [[qEventsGapfill]]'s LOCF.
    *
    * Departures apply BEFORE arrivals at an equal instant (half-open
    * intervals: a session ending at t does not overlap one starting at
    * t), so the peak candidate at a cell is the cumulative THROUGH the
    * cell, and an hour's peak is max(opening value, best cell) — exact
    * integers throughout, order-independent because cells aggregate
    * per instant before any window runs.
    *
    * Scale shape: one user-keyed session aggregate, one combine-fed
    * cell aggregate, hour-partitioned windows; at extreme volume the
    * instant key coarsens to seconds to bound cells per hour (noted,
    * not needed at test scale).
    */
  def qEventsConcurrency(spark: SparkSession, dir: String): DataFrame = {
    // boundaries come from the shared sessionized fixture — the
    // user-keyed session_window shuffle runs once per session, not here
    val sess = userSessions(spark, dir)
      .select(col("session_start").as("s"), col("session_end").as("e"))
    val bounds = sess.select(col("s").as("t"), lit(1L).as("a"), lit(0L).as("d"))
      .unionByName(sess.select(col("e").as("t"), lit(0L).as("a"),
        lit(1L).as("d")))
    val cells = bounds
      .groupBy((col("t") / 3600000000L).cast("long").as("hr"), col("t"))
      .agg(sum(col("a")).as("a"), sum(col("d")).as("d"))
      // two consumers (hour nets + within-hour peaks) — persist so the
      // session_window aggregate upstream runs once, not twice
      .persist()
    val hourNet = cells.groupBy(col("hr"))
      .agg(sum(col("a") - col("d")).as("net"), sum(col("a")).as("starts"),
        sum(col("d")).as("ends"))
      .stageCheckpoint() // hour-bounded table feeds the global opener sum
    val wHours = Window.orderBy(col("hr"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val opens = hourNet
      .withColumn("open", sum(col("net")).over(wHours) - col("net"))
      .stageCheckpoint()
    val wIn = Window.partitionBy(col("hr")).orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val peaks = cells
      .withColumn("run", sum(col("a") - col("d")).over(wIn))
      .groupBy(col("hr")).agg(max(col("run")).as("best"))
    opens.join(peaks, "hr")
      .select(col("hr"), col("starts"), col("ends"), col("open"),
        greatest(col("open"), col("open") + col("best")).as("peak"))
      .orderBy(col("hr"))
  }

  val qEventsConcurrencyOracle: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) eu FROM events),
      m AS (SELECT *, CASE WHEN lag(eu) OVER w IS NULL
          OR eu - lag(eu) OVER w >= 600000000 THEN 1 ELSE 0 END AS brk
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY eu)),
      g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY eu
          ROWS UNBOUNDED PRECEDING) AS sid FROM m),
      sess AS (SELECT min(eu) s, max(eu) + 600000000 e
        FROM g GROUP BY user_id, sid),
      bounds AS (SELECT s AS t, 1::BIGINT a, 0::BIGINT d FROM sess
        UNION ALL SELECT e, 0, 1 FROM sess),
      cells AS (SELECT t // 3600000000 AS hr, t,
          sum(a)::BIGINT a, sum(d)::BIGINT d
        FROM bounds GROUP BY 1, 2),
      hn AS (SELECT hr, sum(a - d)::BIGINT net, sum(a)::BIGINT starts,
          sum(d)::BIGINT ends FROM cells GROUP BY 1),
      op AS (SELECT hr, starts, ends,
          (sum(net) OVER (ORDER BY hr) - net)::BIGINT AS open FROM hn),
      run AS (SELECT hr, sum(a - d) OVER (PARTITION BY hr ORDER BY t
          ROWS UNBOUNDED PRECEDING) AS run FROM cells),
      pk AS (SELECT hr, max(run)::BIGINT best FROM run GROUP BY hr)
      SELECT op.hr, op.starts, op.ends, op.open,
        greatest(op.open, op.open + pk.best) AS peak
      FROM op JOIN pk USING (hr) ORDER BY op.hr"""

  // ---------- cohort lifetime value (cumulative revenue by age) ----------
  /** Cohort LTV curves — the monetary companion of [[qEventsRetention]]:
    * users cohorted by first-seen day, purchase revenue accumulated by
    * account AGE (days since first event), reported as the cohort × age
    * grid with cumulative cents and per-user LTV. This is the curve
    * growth analytics reads payback periods off, and the standard
    * example of a metric that must be computed on the GRID, not the
    * corpus: revenue collapses to (cohort, age) cells first (calendar² —
    * bounded at any corpus size), and the cumulative window runs over
    * cells partitioned by cohort.
    *
    * Exactness: revenue is integer cents end-to-end
    * (`CAST(round(value*100) AS BIGINT)` — the 2-dp money contract,
    * same as q_events_forecast); per-user LTV is an integer DIV on
    * positives (truncate ≡ floor, Spark DIV ≡ DuckDB //). Scale shape:
    * one user-keyed first-event aggregate, a join back that reuses its
    * partitioning, one combine-fed grid aggregate, a grid-scale window.
    */
  def qEventsLtv(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"),
        col("event_type"), col("value"))
    val first = ev.groupBy(col("user_id")).agg(min(col("d")).as("d0"))
      .stageCheckpoint() // reused by the cohort-size and revenue branches
    val cohortN = first.groupBy(col("d0")).agg(
      count(lit(1)).as("n_users"))
    val cells = ev.filter(col("event_type") === "purchase")
      .join(first, "user_id")
      .groupBy(col("d0"), datediff(col("d"), col("d0")).as("age"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    val w = Window.partitionBy(col("d0")).orderBy(col("age"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("cum_cents", sum(col("cents")).over(w))
      .join(broadcast(cohortN), "d0")
      .select(col("d0").cast("string").as("cohort_day"),
        col("age").cast("long").as("age"),
        col("n_users"), col("cum_cents"),
        expr("cum_cents DIV n_users").as("ltv_cents"))
      .orderBy(col("cohort_day"), col("age"))
  }

  val qEventsLtvOracle: String =
    """WITH ev AS (SELECT user_id, CAST(ts AS DATE) d, event_type, value
        FROM events),
      f AS (SELECT user_id, min(d) d0 FROM ev GROUP BY user_id),
      cn AS (SELECT d0, count(*)::BIGINT n_users FROM f GROUP BY d0),
      cells AS (SELECT f.d0, datediff('day', f.d0, ev.d) AS age,
          sum(CAST(round(value * 100) AS BIGINT))::BIGINT cents
        FROM ev JOIN f ON ev.user_id = f.user_id
        WHERE ev.event_type = 'purchase'
        GROUP BY 1, 2),
      cum AS (SELECT d0, age,
          sum(cents) OVER (PARTITION BY d0 ORDER BY age
            ROWS UNBOUNDED PRECEDING)::BIGINT cum_cents
        FROM cells)
      SELECT cum.d0::VARCHAR AS cohort_day, cum.age::BIGINT AS age,
        cn.n_users, cum.cum_cents, cum.cum_cents // cn.n_users AS ltv_cents
      FROM cum JOIN cn ON cum.d0 = cn.d0
      ORDER BY cohort_day, age"""

  // ---------- day-of-week seasonality decomposition ----------
  /** Weekly-seasonality decomposition of the daily revenue series: each
    * day's purchase cents against its DAY-OF-WEEK mean, with the
    * residual — the additive decomposition (trend-free form) behind
    * "is Tuesday actually down, or is that just Tuesdays?". The
    * anomaly/forecast queries treat the series as i.i.d.; this one
    * removes the weekly component first, which is what a production
    * monitor alerts on.
    *
    * All integer: revenue is exact cents, the per-dow mean is an
    * integer DIV over positives (floor ≡ truncate in both engines), the
    * residual an integer subtract. Day-of-week is ISO (Mon=1 … Sun=7):
    * Spark `weekday()+1` ≡ DuckDB `isodow()` — the 1-based/0-based and
    * week-start trap between engines, dodged by pinning ISO numbering.
    *
    * Scale shape: one combine-fed daily aggregate; everything after
    * runs on the calendar-bounded series (30 rows here, 3650 for a
    * decade — never the corpus).
    */
  def qEventsSeasonality(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(to_date(col("ts")).as("dte"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      .stageCheckpoint() // calendar-bounded; feeds both branches
    val dow = daily
      .groupBy((weekday(col("dte")) + 1).as("dow"))
      .agg(sum(col("cents")).as("sc"), count(lit(1)).as("nd"))
      .select(col("dow"), expr("sc DIV nd").as("dow_mean_cents"))
    daily.withColumn("dow", (weekday(col("dte")) + 1))
      .join(broadcast(dow), "dow")
      .select(col("dte").cast("string").as("dte"),
        col("dow").cast("long").as("dow"), col("cents"),
        col("dow_mean_cents"),
        (col("cents") - col("dow_mean_cents")).as("resid_cents"))
      .orderBy(col("dte"))
  }

  val qEventsSeasonalityOracle: String =
    """WITH daily AS (SELECT CAST(ts AS DATE) dte,
        sum(CAST(round(value * 100) AS BIGINT))::BIGINT cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
      dw AS (SELECT isodow(dte) dow, (sum(cents) // count(*))::BIGINT
          dow_mean_cents
        FROM daily GROUP BY 1)
      SELECT daily.dte::VARCHAR dte, isodow(daily.dte)::BIGINT dow,
        daily.cents, dw.dow_mean_cents,
        daily.cents - dw.dow_mean_cents AS resid_cents
      FROM daily JOIN dw ON isodow(daily.dte) = dw.dow
      ORDER BY dte"""

  // ---------- exact EWMA smoothing (per event type) ----------
  /** Exponentially-weighted moving average of the per-type daily
    * revenue series — the smoother ops dashboards overlay on noisy
    * dailies (α = ¼, 7-day support). The floating recursion
    * s_t = αx_t + (1−α)s_{t−1} is order-dependent and engine-fragile;
    * instead the 7-term finite form runs on EXACT integers: weights
    * α(1−α)^k share denominator 4⁷, so each term is cents·c_k with
    * c_k = 3^k·4^(6−k) ∈ {4096 … 729}, the numerator/denominator are
    * BIGINT sums of ≤ 7 such terms, and series heads renormalize by
    * construction (only the lags that exist contribute to BOTH sums).
    * ONE double divide at the end, rounded 1e-6.
    *
    * Scale shape: combine-fed (type, day) aggregate, then lag windows
    * PARTITIONED BY TYPE over the calendar-bounded series — bounded
    * parallelism is per-type, the mixture dimension, same as
    * q_curate_token_budget.
    */
  def qWindowEwma(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("dte"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("dte"))
    val coef = (0 to 6).map(k =>
      math.pow(3, k).toLong * math.pow(4, 6 - k).toLong)
    val terms = coef.zipWithIndex.map { case (c, k) =>
      when(lag(col("cents"), k).over(w).isNotNull,
        lag(col("cents"), k).over(w) * lit(c)).otherwise(lit(0L))
    }
    val dens = coef.zipWithIndex.map { case (c, k) =>
      when(lag(col("cents"), k).over(w).isNotNull, lit(c)).otherwise(lit(0L))
    }
    daily
      .withColumn("num", terms.reduce(_ + _))
      .withColumn("den", dens.reduce(_ + _))
      .select(col("event_type"), col("dte").cast("string").as("dte"),
        col("cents"),
        round(col("num").cast("double") / col("den").cast("double"), 6)
          .as("ewma6"))
      .orderBy(col("event_type"), col("dte"))
  }

  val qWindowEwmaOracle: String = {
    val coef = (0 to 6).map(k =>
      math.pow(3, k).toLong * math.pow(4, 6 - k).toLong)
    val num = coef.zipWithIndex.map { case (c, k) =>
      s"coalesce(lag(cents, $k) OVER w * $c, 0)" }.mkString(" + ")
    val den = coef.zipWithIndex.map { case (c, k) =>
      s"CASE WHEN lag(cents, $k) OVER w IS NOT NULL THEN $c ELSE 0 END"
    }.mkString(" + ")
    s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) dte,
        sum(CAST(round(value * 100) AS BIGINT))::BIGINT cents
      FROM events GROUP BY 1, 2),
      sm AS (SELECT event_type, dte, cents,
          ($num)::BIGINT num, ($den)::BIGINT den
        FROM daily
        WINDOW w AS (PARTITION BY event_type ORDER BY dte))
      SELECT event_type, dte::VARCHAR dte, cents,
        round(num::DOUBLE / den::DOUBLE, 6) AS ewma6
      FROM sm ORDER BY event_type, dte"""
  }

  val registry: Seq[GraftQuery] = Seq(
    GraftQuery("q_events_concurrency", qEventsConcurrency, qEventsConcurrencyOracle),
    GraftQuery("q_join_pit", qJoinPit, qJoinPitOracle),
    GraftQuery("q_events_seasonality", qEventsSeasonality, qEventsSeasonalityOracle),
    GraftQuery("q_window_ewma", qWindowEwma, qWindowEwmaOracle),
    GraftQuery("q_events_ltv", qEventsLtv, qEventsLtvOracle),
    GraftQuery("q_events_tumbling", qEventsTumbling, qEventsTumblingOracle),
    GraftQuery("q_events_sliding", qEventsSliding, qEventsSlidingOracle),
    GraftQuery("q_events_session", qEventsSession, qEventsSessionOracle),
    GraftQuery("q_events_asof", qEventsAsof, qEventsAsofOracle),
    GraftQuery("q_events_asof_nearest", qEventsAsofNearest, qEventsAsofNearestOracle),
    GraftQuery("q_events_funnel", qEventsFunnel, qEventsFunnelOracle),
    GraftQuery("q_json_funcs", qJsonFuncs, qJsonFuncsOracle),
    GraftQuery("q_events_gapfill", qEventsGapfill, qEventsGapfillOracle),
    GraftQuery("q_events_cum_users", qEventsCumulativeUsers, qEventsCumulativeUsersOracle),
    GraftQuery("q_events_retention", qEventsRetention, qEventsRetentionOracle),
    GraftQuery("q_events_anomaly", qEventsAnomaly, qEventsAnomalyOracle),
    GraftQuery("q_observe_metrics", qObserveMetrics, qObserveMetricsOracle),
    GraftQuery("q_events_active_users", qEventsActiveUsers, qEventsActiveUsersOracle),
    GraftQuery("q_events_paths", qEventsPaths, qEventsPathsOracle),
    GraftQuery("q_events_pagerank", qEventsPagerank, qEventsPagerankOracle),
    GraftQuery("q_events_attribution", qEventsAttribution, qEventsAttributionOracle),
    GraftQuery("q_events_engagement", qEventsEngagement, qEventsEngagementOracle),
    GraftQuery("q_events_streaks", qEventsStreaks, qEventsStreaksOracle),
    GraftQuery("q_partitioned_layout", qPartitionedLayout, qPartitionedLayoutOracle),
    GraftQuery("q_join_dpp", qJoinDpp, qJoinDppOracle),
    GraftQuery("q_events_timetoconvert", qEventsTimeToConvert, qEventsTimeToConvertOracle),
    GraftQuery("q_skew_diagnose", qSkewDiagnose, qSkewDiagnoseOracle),
    GraftQuery("q_events_forecast", qEventsForecast, qEventsForecastOracle),
    GraftQuery("q_events_pattern", qEventsPattern, qEventsPatternOracle),
    GraftQuery("q_variant_json", qVariantJson, qVariantJsonOracle),
  )
}
