package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.GraftQuery
import graft.io.LocalFs

/** Structured Streaming executions of the event-table operators — the
  * `readStream` → stateful transform → memory-sink queries split out of
  * [[EventOps]] along the family seam (round 16, zero behavior change):
  * tumbling aggregation, checkpointed crash recovery, stream-static
  * enrichment, watermarked dedup, stream-stream inner/outer joins,
  * watermark late-data accounting, flatMapGroupsWithState
  * sessionization, and the streamed PSI-drift / A/B readouts. Each
  * streaming query shares (or restricts, where keyed state lawfully
  * drops NULL identities) its batch twin's DuckDB oracle, so the gate
  * proves stream ≡ batch on every one.
  *
  * The reference's streaming surface is processing-time-only pacing
  * (main.py:611); these are the event-time semantics a Spark-native
  * engine adds on top (SURVEY.md §7.5).
  */
object EventStreaming {

  /** Final presentation sort for a memory-sink result: the sink has
    * already materialized the (bounded) result on the driver, so a
    * single-partition `sortWithinPartitions` delivers the same total
    * order as a global `orderBy` WITHOUT the range-partitioning
    * sampling job + exchange a global sort plans over the MemoryPlan —
    * measured 0.40 s → 0.04 s per streaming query on a 3.6k-row result
    * table. Streaming-result-only: batch query outputs keep `orderBy`
    * (their inputs are not driver-bounded).
    */
  private[ops] def sinkSorted(df: DataFrame, cols: Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols: _*)

  /** Start an AvailableNow stream with (a) the stateful shuffle sized to
    * state volume (8 state stores beat 32 at suite volumes — a real
    * deployment sizes this the same way) and (b) the no-data
    * finalization micro-batch DISABLED. The callers either run
    * complete-mode aggregations (every data batch re-emits full state)
    * or an inner stream-stream join (matches emit in data batches), so
    * the trailing empty batch exists only to advance the watermark for
    * emission gating none of them uses — measured 0.45–0.8 s of pure
    * fixed cost per query. NOT used by [[qStreamSession]]: its
    * `flatMapGroupsWithState` timeouts FIRE in watermark-advancing
    * batches, so that query keeps the default. The stream also starts
    * under [[LocalFs.aroundStart]], so its checkpoint I/O spawns no
    * process.
    */
  private[ops] def startTrimmedStream(spark: SparkSession,
      parts: Option[String])(start: => StreamingQuery): StreamingQuery = {
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val prevNd = spark.conf.get(ndKey, "true")
    try {
      parts.foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
      spark.conf.set(ndKey, "false")
      LocalFs.aroundStart(spark)(start)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      spark.conf.set(ndKey, prevNd)
    }
  }

  /** [[qEventsSessionOracle]] restricted to identified users — the
    * streaming sessionizer's keyed state has no NULL identity (the same
    * rule as stream-stream join keys), where the batch window artifact
    * pools anonymous rows per the SQL convention.
    */
  val qStreamSessionOracle: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) eu, value FROM events
        WHERE user_id IS NOT NULL),
      m AS (SELECT *, CASE WHEN lag(eu) OVER w IS NULL
          OR eu - lag(eu) OVER w >= 600000000 THEN 1 ELSE 0 END AS brk
        FROM e WINDOW w AS (PARTITION BY user_id ORDER BY eu)),
      s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY eu
          ROWS UNBOUNDED PRECEDING) AS sid FROM m)
      SELECT user_id, min(eu) AS session_start,
        max(eu) + 600000000 AS session_end,
        count(*) AS n, round(sum(value), 2) AS total
      FROM s GROUP BY user_id, sid ORDER BY user_id, session_start"""

  // ---------- Structured Streaming: tumbling agg driven to completion ----------
  /** The same tumbling aggregation executed as a real streaming query:
    * parquet file source → event-time groupBy → complete-mode memory sink,
    * `processAllAvailable()` so the returned result is the full answer.
    * Shares q_events_tumbling's oracle.
    */
  def qStreamTumbling(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = Tables.table(spark, dir, "events").schema
    // the streaming file source wants a directory: stream the sf dir with a
    // glob filter selecting just the events table
    val stream = spark.readStream
      .schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("ts", Tables.normalizedTs(rawSchema("ts").dataType))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(unix_timestamp(col("w.start")).as("ws"), col("event_type"),
        col("n"), col("total"))

    val name = "graft_stream_tumbling"
    val q = startTrimmedStream(spark, Some("8")) {
      stream.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    try q.awaitTermination()
    finally q.stop()
    sinkSorted(spark.table(name), col("ws"), col("event_type"))
  }

  // ---------- Structured Streaming: checkpoint crash-recovery ----------
  /** CHECKPOINT RECOVERY driven end-to-end — the reliability contract a
    * 1000-executor deployment actually depends on: a streaming
    * aggregation ingests the first third of the corpus, the query STOPS
    * (the planned stand-in for a crash: same shutdown path, same
    * checkpoint state left behind), the remaining files land, and a NEW
    * query restarts from the SAME checkpoint over the same source path.
    * The restarted run must (a) recover the first file's contribution
    * from the state store, not by re-reading it — the offset log marks
    * it processed, so a reprocessing bug would double-count — and (b)
    * resume the file-source listing where it stopped. Either failure
    * breaks the hash against the batch oracle computed over ALL events;
    * the aggregate is all-integer (counts + max of rounded cents — max
    * is order-insensitive, so the split point cannot smuggle in
    * last-ulp drift the way a double sum across restarts could).
    *
    * Per call the arrival sequence replays in a FRESH staging dir +
    * checkpoint (file copies of a once-built split fixture), so every
    * bench pass exercises the same crash/recover path — a fixture that
    * mutated in place would degenerate to single-run after pass 1.
    */
  def qStreamRecovery(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = Tables.table(spark, dir, "events")
    val rawSchema = raw.schema
    val fixture = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-stream-recov-${dir.hashCode.toHexString}")
    if (!new java.io.File(fixture, "_READY").isFile) {
      (0 to 2).foreach { i =>
        raw.filter(col("event_id") % 3 === i).coalesce(1)
          .write.mode("overwrite").parquet(s"$fixture/f$i")
      }
      new java.io.File(fixture, "_READY").createNewFile()
    }
    def partFile(i: Int): java.io.File =
      new java.io.File(fixture, s"f$i").listFiles()
        .filter(_.getName.endsWith(".parquet")).minBy(_.getName)

    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-recov")
    val in = tmp.resolve("in"); java.nio.file.Files.createDirectories(in)
    def land(i: Int): Unit =
      java.nio.file.Files.copy(partFile(i).toPath,
        in.resolve(s"batch$i.parquet"))

    val name = "graft_stream_recovery"
    def run(): Unit = {
      val stream = spark.readStream
        .schema(rawSchema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(in.toString)
        .withColumn("ts", Tables.normalizedTs(rawSchema("ts").dataType))
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          max(expr("CAST(round(value * 100) AS BIGINT)")).as("vmax2"))
        .select(unix_timestamp(col("w.start")).as("ws"), col("event_type"),
          col("n"), col("vmax2"))
      val q = startTrimmedStream(spark, Some("8")) {
        stream.writeStream
          .outputMode("complete")
          .format("memory")
          .queryName(name)
          .option("checkpointLocation", tmp.resolve("ckpt").toString)
          .trigger(Trigger.AvailableNow())
          .start()
      }
      try q.awaitTermination()
      finally q.stop()
    }
    land(0); run() // first file, then the "crash" (checkpointed stop)
    land(1); land(2)
    run() // restart from the same checkpoint; state must carry file 0
    sinkSorted(spark.table(name), col("ws"), col("event_type"))
  }

  val qStreamRecoveryOracle: String =
    """SELECT epoch(date_trunc('hour', ts))::BIGINT AS ws, event_type,
      count(*) AS n, max(round(value * 100)::BIGINT) AS vmax2
      FROM events GROUP BY ws, event_type ORDER BY ws, event_type"""

  // ---------- Structured Streaming: stream-static enrichment join ----------
  /** The remaining streaming join shape after [[qStreamJoin]]
    * (stream-stream): a STREAM-STATIC inner join — the streaming fact
    * enriched against a batch dimension. Semantically stateless: the
    * static side is (re)planned per micro-batch and broadcast, the stream
    * side never waits, and no watermark or join state is kept — which is
    * exactly why this is the recommended enrichment pattern at 100 TB
    * (the dimension rides the broadcast, the stream stays append-only).
    * Batch-equivalent by construction, so the oracle is the plain SQL
    * join.
    */
  def qStreamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = Tables.table(spark, dir, "events").schema
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val stream = spark.readStream
      .schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))

    val name = "graft_stream_static_join"
    val q = startTrimmedStream(spark, Some("8")) {
      stream.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    try q.awaitTermination()
    finally q.stop()
    sinkSorted(spark.table(name), col("segment"))
  }

  val qStreamStaticJoinOracle: String =
    """SELECT c_mktsegment AS segment, count(*) AS n,
      round(sum(value), 2) AS total
      FROM events e JOIN customer c ON e.user_id = c.c_custkey
      GROUP BY c_mktsegment ORDER BY segment"""

  // ---------- Structured Streaming: watermarked dedup ----------
  /** At-least-once ingestion made exactly-once: the input directory holds
    * the events file TWICE (every row duplicated, the classic redelivery
    * shape); `dropDuplicatesWithinWatermark` on the event key collapses
    * the duplicates with BOUNDED state (keys evict once the watermark
    * passes), and the downstream tumbling aggregation then matches the
    * batch oracle exactly — proving the dedup removed precisely the
    * redelivered rows.
    *
    * The oracle aggregates over DISTINCT (event_id, ts, type, value),
    * not the raw table: if the SOURCE itself already carries redelivered
    * event_ids (the at-least-once shape the r13 dup10 mutation sweep
    * replays), the engine's key dedup rightly collapses those too — an
    * oracle on the raw rows would then overcount. On unique-id data the
    * DISTINCT is the identity, so pristine hashes are unchanged. Per the
    * at-least-once contract a redelivered event_id carries an identical
    * payload; ids with CONFLICTING payloads are outside the contract
    * (engine keeps an arrival-order winner — inherently racy — while
    * the oracle would keep both).
    */
  def qStreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    // the doubled (redelivered) input is a fixture derived purely from
    // `dir` — build it once per sf dir and reuse, so repeated runs time
    // the dedup, not the fixture write; the checkpoint stays per-run
    val fixture = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-stream-dedup-in-${dir.hashCode.toHexString}")
    if (SessionFixtures.stale("stream_dedup_doubled", spark, dir) ||
        !new java.io.File(fixture, "_DOUBLED").isFile) {
      ev.coalesce(1).write.mode("overwrite").parquet(s"$fixture/in")
      ev.coalesce(1).write.mode("append").parquet(s"$fixture/in") // redelivery
      new java.io.File(fixture, "_DOUBLED").createNewFile()
      SessionFixtures.mark("stream_dedup_doubled", spark, dir)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-dedup")
      .toFile.getAbsolutePath // fresh checkpoint per run

    val stream = spark.readStream
      .schema(ev.schema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$fixture/in")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total"))
      .select(unix_timestamp(col("w.start")).as("ws"), col("event_type"),
        col("n"), col("total"))

    val name = "graft_stream_dedup"
    // the fresh checkpoint bakes in the partition count (see
    // startTrimmedStream); dedup-state EVICTION needs no trailing batch —
    // only emission gating would, and complete mode re-emits every batch
    val q = startTrimmedStream(spark, Some("8")) {
      stream.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
    }
    try q.awaitTermination()
    finally q.stop()
    sinkSorted(spark.table(name), col("ws"), col("event_type"))
  }

  /** [[qEventsTumblingOracle]] over one row per event — see the
    * [[qStreamDedup]] scaladoc for why the DISTINCT is the honest batch
    * equivalent of key-dedup on any (not just unique-id) source data.
    */
  val qStreamDedupOracle: String =
    """SELECT epoch(date_trunc('hour', ts))::BIGINT AS ws, event_type,
      count(*) AS n, round(sum(value), 2) AS total
      FROM (SELECT DISTINCT event_id, ts, event_type, value FROM events)
      GROUP BY ws, event_type ORDER BY ws, event_type"""

  // ---------- Structured Streaming: stream-stream interval join ----------
  /** REAL stream-stream inner join: views and clicks are two independent
    * streams of the same event log, joined per user where the click lands
    * within 4 hours after the view. Both sides carry a watermark and the
    * join condition bounds event time on both sides — exactly what Spark
    * needs to EVICT join state (a side's row is dropped once the other
    * side's watermark passes its join window), so state stays bounded on
    * an unbounded stream; without the time bound the join would buffer
    * both streams forever. Inner-join matches emit as soon as both rows
    * have arrived — no sentinel flush needed (that's only for
    * watermark-gated EMISSION: outer joins / timeouts / append aggs).
    * Driven to completion with AvailableNow; matches the batch oracle
    * exactly.
    */
  def qStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = Tables.table(spark, dir, "events").schema
    def side(tpe: String, prefix: String) =
      spark.readStream
        .schema(rawSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir)
        .filter(col("event_type") === tpe)
        .select(col("event_id").as(s"${prefix}_id"),
          col("user_id").as(s"${prefix}_user"),
          Tables.normalizedTs(rawSchema("ts").dataType).as(s"${prefix}_ts"))
        .withWatermark(s"${prefix}_ts", "4 hours")
    val joined = side("view", "v")
      .join(side("click", "c"),
        col("v_user") === col("c_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("INTERVAL 4 HOURS"))

    val name = "graft_stream_join"
    // inner-join matches emit in the data batches themselves; the
    // trailing no-data batch would only evict state we're about to drop
    val q = startTrimmedStream(spark, Some("8")) {
      joined
        .select(col("v_user").as("user_id"), col("v_id"), col("c_id"),
          unix_micros(col("v_ts")).as("v_tu"),
          unix_micros(col("c_ts")).as("c_tu"))
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    try q.awaitTermination()
    finally q.stop()
    sinkSorted(spark.table(name), col("v_id"), col("c_id"))
  }

  val qStreamJoinOracle: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) tu, event_type
        FROM events),
      v AS (SELECT event_id v_id, user_id, tu v_tu FROM e
        WHERE event_type = 'view'),
      c AS (SELECT event_id c_id, user_id, tu c_tu FROM e
        WHERE event_type = 'click')
      SELECT user_id, v_id, c_id, v_tu, c_tu
      FROM v JOIN c USING (user_id)
      WHERE c_tu >= v_tu AND c_tu <= v_tu + 14400000000::BIGINT
      ORDER BY v_id, c_id"""

  // ---------- Structured Streaming: stream-stream LEFT OUTER join ----------
  /** The OUTER stream-stream join — the join shape [[qStreamJoin]]'s
    * inner variant cannot exercise, because it adds WATERMARK-GATED
    * EMISSION: a view with no click in its window must eventually emit a
    * null-padded row, and the engine may only do that once the click
    * side's watermark proves no match can still arrive (v_ts + 4h <
    * watermark). Same interval condition as the inner join, so state
    * eviction stays bounded; the difference is the trailing emission
    * discipline, which this query drives end-to-end the production way:
    * a far-future sentinel event (type `wm_sentinel`, user −1, joins
    * nothing) advances both watermarks past every view's match window,
    * and the engine's trailing no-data micro-batch performs the final
    * null-padded emission, exactly the [[qStreamSession]] end-of-stream
    * drain. The oracle is the plain
    * batch LEFT JOIN (`NULLS FIRST` pins DuckDB to Spark's
    * ascending-null order).
    */
  def qStreamOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      // the fixture carries only the two joined types (plus the
      // sentinel): the query's own side filters discard everything else,
      // so pre-filtering changes nothing semantically and the stream
      // scans 40% of the rows
      .filter(col("event_type").isin("view", "click"))
    val fixture = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-stream-ojoin3-in-${dir.hashCode.toHexString}")
    if (!new java.io.File(fixture, "_READY").isFile) {
      // file order pinned on BOTH source axes (mtime, path) — the data
      // bulk must precede the watermark sentinel or the whole corpus
      // arrives "late"; a sleep between writes is a granularity race
      def stage(df: DataFrame, name: String, mtime: Long): Unit = {
        val d = new java.io.File(fixture, "stage")
        df.coalesce(1).write.mode("overwrite").parquet(d.getAbsolutePath)
        val part = d.listFiles.filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(new java.io.File(fixture, "in"), name)
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dst.setLastModified(mtime)
        d.listFiles.foreach(_.delete()); d.delete(); ()
      }
      val maxTsMs = ev.agg(max(col("ts"))).head().getTimestamp(0).getTime
      import spark.implicits._
      val t0 = System.currentTimeMillis() - 600000L
      stage(ev, "0_events.parquet", t0)
      stage(Seq((-1L, -1L, new java.sql.Timestamp(maxTsMs + 2 * 86400000L),
        "wm_sentinel"))
        .toDF("event_id", "user_id", "ts", "event_type"),
        "1_sentinel.parquet", t0 + 60000L)
      new java.io.File(fixture, "_READY").createNewFile()
    }

    def side(tpe: String, prefix: String) =
      spark.readStream
        .schema(ev.schema)
        .option("pathGlobFilter", "*.parquet")
        .parquet(s"$fixture/in")
        .withWatermark("ts", "4 hours")
        // the sentinel passes BOTH side filters (Catalyst pushes the
        // filter below the watermark collector, so filtering it out here
        // would stop it advancing the watermark — measured: the last 4h
        // of views never emitted their null rows). Its user_id −1 joins
        // nothing; its one null-padded left row is dropped at the end.
        .filter(col("event_type") === tpe ||
          col("event_type") === "wm_sentinel")
        .select(col("event_id").as(s"${prefix}_id"),
          col("user_id").as(s"${prefix}_user"),
          col("ts").as(s"${prefix}_ts"))
    val joined = side("view", "v")
      .join(side("click", "c"),
        col("v_user") === col("c_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") <= col("v_ts") + expr("INTERVAL 4 HOURS"),
        "left_outer")

    val name = "graft_stream_ojoin"
    // keeps the default no-data micro-batch: that batch IS the final
    // null-padded emission trigger (see scaladoc)
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val q = try {
      // 8 is measured optimum: 4 loses join parallelism (+0.4 s), 16
      // doubles the per-batch state-store commit I/O (4 stores per
      // side per partition; +3 s) — re-swept this round
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      LocalFs.aroundStart(spark) {
        joined
          .select(col("v_user").as("user_id"), col("v_id"), col("c_id"),
            unix_micros(col("v_ts")).as("v_tu"),
            unix_micros(col("c_ts")).as("c_tu"))
          .writeStream
          .outputMode("append")
          .format("memory")
          .queryName(name)
          .trigger(Trigger.AvailableNow())
          .start()
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    try q.awaitTermination()
    finally q.stop()
    // drop ONLY the sentinel's null-padded row (user −1), null-safely: a
    // `user_id >= 0` spelling also swallowed anonymous (NULL-user) views,
    // which the stream correctly emits as unmatched left rows and the
    // batch oracle keeps (caught by the nulls sweep)
    sinkSorted(spark.table(name).filter(!(col("user_id") <=> lit(-1L))),
      col("v_id"), col("c_id"))
  }

  val qStreamOuterJoinOracle: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) tu, event_type
        FROM events),
      v AS (SELECT event_id v_id, user_id, tu v_tu FROM e
        WHERE event_type = 'view'),
      c AS (SELECT event_id c_id, user_id, tu c_tu FROM e
        WHERE event_type = 'click')
      SELECT v.user_id, v_id, c.c_id, v_tu, c.c_tu
      FROM v LEFT JOIN c ON v.user_id = c.user_id
        AND c.c_tu >= v.v_tu AND c.c_tu <= v.v_tu + 14400000000::BIGINT
      ORDER BY v_id, c_id NULLS FIRST"""

  // ---------- Structured Streaming: watermark late-data accounting ----------
  /** WATERMARK LATE-DATA ACCOUNTING driven end-to-end — the dead-letter
    * routing stage every production ingest runs: a per-batch watermark
    * (max event time of PRIOR batches minus 1 h) splits each arriving
    * micro-batch into on-time rows (merged into the day-aggregate
    * state) and LATE rows (counted to the dead-letter ledger, never
    * aggregated). The fixture arrives as two files — the on-time bulk,
    * then the corpus's earliest two days — so the second batch is
    * entirely late by construction and the final state must equal the
    * batch aggregate of the on-time slice alone, with the late count
    * reconciling exactly against the split formula (certified
    * boolean).
    *
    * The router is EXPLICIT (foreachBatch, the [[graft.cdc.CdcColumns]]
    * qStreamCdcApply discipline) rather than delegated to the engine —
    * deliberately: measured on Spark 4.1.2, the built-in stateful
    * aggregation AND dropDuplicates both ACCEPTED input rows far below
    * the current watermark (72/72 late rows aggregated,
    * numRowsDroppedByWatermark = 0, watermark confirmed advanced in
    * the same progress line) — below-watermark input filtering is not
    * a contract the engine honors here, only state EVICTION is. A
    * pipeline that needs late-data routing must therefore own the
    * predicate, which also makes the semantics exactly reproducible by
    * the batch oracle.
    *
    * Scale shape: the router predicate is scan-side; the state merge
    * is a day-bounded combine-fed aggregate per batch (same shape as
    * the CDC merge); the watermark is one driver-held long.
    */
  def qStreamLateData(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("ts"), expr("CAST(round(value * 100) AS BIGINT)").as("c"))
    // fixture key = CONTENT fingerprint (count/min/max/sum), not the
    // path: a regenerated dataset at the same path must never reuse a
    // stale /tmp fixture (and its _META count) from a previous run
    val finger = ev.agg(count(lit(1)).as("n"),
      min(unix_micros(col("ts"))).as("lo"),
      max(unix_micros(col("ts"))).as("hi"), sum(col("c")).as("s")).head()
    val lo = finger.getLong(1)
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest((0 until 4).map(finger.get(_)).mkString(",").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString.take(16)
    val fixture = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-stream-late-in-$key")
    if (!new java.io.File(fixture, "_READY").isFile) {
      val cut = lo + 2L * 86400000000L
      // FileStreamSource orders files by (mtime, path): pin BOTH axes
      // explicitly — a sleep between two writes is a granularity race
      // on coarse-mtime filesystems
      def stage(df: DataFrame, name: String, mtime: Long): Unit = {
        val d = new java.io.File(fixture, "stage")
        df.coalesce(1).write.mode("overwrite").parquet(d.getAbsolutePath)
        val part = d.listFiles.filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(new java.io.File(fixture, "in"), name)
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dst.setLastModified(mtime)
        d.listFiles.foreach(_.delete()); d.delete(); ()
      }
      val t0 = System.currentTimeMillis() - 600000L
      stage(ev.filter(unix_micros(col("ts")) >= cut), "0_ontime.parquet", t0)
      stage(ev.filter(unix_micros(col("ts")) < cut), "1_late.parquet",
        t0 + 60000L)
      // expected late count rides with the fixture: the split formula
      // is deterministic, so recomputing it per call is two wasted scans
      java.nio.file.Files.writeString(
        new java.io.File(fixture, "_META").toPath,
        ev.filter(unix_micros(col("ts")) < cut).count().toString)
      new java.io.File(fixture, "_READY").createNewFile()
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-late")
      .toFile.getAbsolutePath
    @volatile var wmUs = Long.MinValue // max event time of PRIOR batches
    @volatile var nLate = 0L
    @volatile var statePath: Option[String] = None
    val writer = spark.readStream
        .schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(s"$fixture/in")
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val b = batch.withColumn("tu", unix_micros(col("ts")))
          val wm = if (wmUs == Long.MinValue) Long.MinValue
            else wmUs - 3600000000L
          // two jobs per batch: the ledger/watermark scalars fold into
          // ONE aggregate row; the state merge is the second action
          val st = b.agg(
            sum(when(col("tu") < wm, 1L).otherwise(0L)).as("nl"),
            max(col("tu")).as("mx")).head()
          nLate += (if (st.isNullAt(0)) 0L else st.getLong(0))
          val onTime = b.filter(col("tu") >= wm)
            .groupBy(expr("tu - tu % 86400000000").as("ds"))
            .agg(count(lit(1)).as("n"), sum(col("c")).as("cents"))
          val merged = statePath match {
            case Some(p) => spark.read.parquet(p).unionByName(onTime)
              .groupBy(col("ds"))
              .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
            case None => onTime
          }
          merged.write.options(LocalFs.options(spark)).mode("overwrite").parquet(s"$tmp/state$id")
          statePath = Some(s"$tmp/state$id")
          if (!st.isNullAt(1)) wmUs = math.max(wmUs, st.getLong(1))
          ()
        }
    val q = LocalFs.aroundStart(spark)(writer.start())
    try q.awaitTermination()
    finally q.stop()
    val expected = java.nio.file.Files.readString(
      new java.io.File(fixture, "_META").toPath).trim.toLong
    sinkSorted(spark.read.parquet(statePath.get), col("ds"))
      .select(expr("ds DIV 1000000").as("day_start"), col("n"),
        col("cents"),
        lit(expected).as("n_late_expected"),
        lit(nLate == expected).as("late_ledger_reconciles"))
  }

  val qStreamLateDataOracle: String =
    """WITH e AS (SELECT epoch_us(ts) tu,
        CAST(round(value * 100) AS BIGINT) c FROM events),
      b AS (SELECT min(tu) lo FROM e),
      onx AS (SELECT tu, c FROM e, b WHERE tu >= lo + 172800000000),
      late AS (SELECT count(*)::BIGINT n_late FROM e, b
        WHERE tu < lo + 172800000000),
      g AS (SELECT (tu - tu % 86400000000) // 1000000 AS day_start,
          count(*)::BIGINT n, sum(c)::BIGINT cents
        FROM onx GROUP BY 1)
      SELECT day_start, n, cents, late.n_late AS n_late_expected,
        TRUE AS late_ledger_reconciles
      FROM g, late ORDER BY day_start"""

  // ---------- Structured Streaming: custom sessionization state ----------

  /** One event as seen by the stateful operator (ts kept as BOTH the
    * TimestampType watermark column and exact micros).
    */
  /** `value` is boxed: a NULL event value must survive the encoder (a
    * primitive Double threw NOT_NULL_ASSERT_VIOLATION under the nulls
    * mutation sweep) and fold with SQL `sum` semantics — skipped, and an
    * all-NULL session totals NULL, not 0.0 (`has_value` in the state).
    */
  final case class SessEvent(user_id: Long, ts: java.sql.Timestamp,
      ts_us: Long, value: java.lang.Double)

  /** Open session carried in [[org.apache.spark.sql.streaming.GroupState]]. */
  final case class SessState(start_us: Long, last_us: Long, n: Long,
      total: Double, has_value: Boolean)

  final case class SessOut(user_id: Long, session_start: Long,
      session_end: Long, n: Long, total: java.lang.Double)

  private val SessionGapUs = 600000000L // 10 minutes

  /** flatMapGroupsWithState kernel: merge the batch's events (sorted by
    * event time) into the open session; emit a closed session whenever a
    * gap ≥ 10 min appears; on event-time timeout (watermark passed
    * last+gap) emit the final open session. Exactly Spark's
    * `session_window` semantics (end = last event + gap), but through the
    * CUSTOM state surface.
    */
  private def sessionFn(
      uid: Long,
      events: Iterator[SessEvent],
      state: org.apache.spark.sql.streaming.GroupState[SessState]): Iterator[SessOut] = {
    def out(s: SessState) =
      SessOut(uid, s.start_us, s.last_us + SessionGapUs, s.n,
        if (s.has_value) s.total else null)
    def v(e: SessEvent): Double = if (e.value == null) 0.0 else e.value
    def hv(e: SessEvent): Boolean = e.value != null
    if (state.hasTimedOut) {
      val closed = out(state.get)
      state.remove()
      return Iterator.single(closed)
    }
    val sorted = events.toArray.sortBy(_.ts_us)
    var open = state.getOption
    val closed = scala.collection.mutable.ArrayBuffer.empty[SessOut]
    sorted.foreach { e =>
      open match {
        case Some(s) if e.ts_us - s.last_us < SessionGapUs =>
          open = Some(SessState(s.start_us, e.ts_us, s.n + 1,
            s.total + v(e), s.has_value || hv(e)))
        case Some(s) =>
          closed += out(s)
          open = Some(SessState(e.ts_us, e.ts_us, 1L, v(e), hv(e)))
        case None =>
          open = Some(SessState(e.ts_us, e.ts_us, 1L, v(e), hv(e)))
      }
    }
    open.foreach { s =>
      state.update(s)
      // fire once the watermark passes session end (+1s slack for the
      // micros→millis truncation)
      state.setTimeoutTimestamp(s.last_us / 1000L + SessionGapUs / 1000L + 1000L)
    }
    closed.iterator
  }

  /** The batch sessionization (q_events_session, same oracle) executed as a
    * REAL stateful streaming query: file source → watermark →
    * `flatMapGroupsWithState` (append mode, event-time timeout) → memory
    * sink, driven to completion with AvailableNow.
    *
    * Final-session flush: an event-time timeout only fires in a batch
    * AFTER the watermark passes it, so the input directory gets ONE
    * far-future sentinel file (filtered from the output) whose batch
    * advances the watermark past every real session's end; the engine's
    * trailing NO-DATA micro-batch (the default this query deliberately
    * keeps, unlike [[startTrimmedStream]] callers) is the trigger in
    * which those timeouts fire. Events and sentinel ride ONE data batch:
    * in-batch gap closes emit there, the watermark advances at its end,
    * and the no-data batch fires every remaining timeout — r9 used a
    * second sentinel file and r11 a forced `maxFilesPerTrigger=1` split,
    * each of which bought the same flush for one extra stateful
    * micro-batch plan.
    */
  def qStreamSession(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("value"))
    // the input (events + a far-future sentinel file) is a fixture derived
    // purely from `dir` — build once per sf dir and reuse, so repeated runs
    // time the stateful query, not the fixture write (same pattern as
    // qStreamDedup); the checkpoint stays per-run
    val fixture = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-stream-sess1-in-${dir.hashCode.toHexString}")
    if (!new java.io.File(fixture, "_READY").isFile) {
      ev.coalesce(1).write.mode("overwrite").parquet(s"$fixture/in")
      val maxTsMs = ev.agg(max(col("ts"))).head().getTimestamp(0).getTime
      Thread.sleep(5) // distinct mtimes → deterministic file order
      Seq((-1L, new java.sql.Timestamp(maxTsMs + 86400000L), 0.0))
        .toDF("user_id", "ts", "value")
        .coalesce(1).write.mode("append").parquet(s"$fixture/in")
      new java.io.File(fixture, "_READY").createNewFile()
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-sess")
      .toFile.getAbsolutePath // fresh checkpoint per run

    val sessions = spark.readStream
      .schema(ev.schema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(s"$fixture/in")
      .withWatermark("ts", "0 seconds")
      // keyed state has no NULL identity (the stream-stream join rule):
      // anonymous events are excluded rather than pooled into one
      // pseudo-user, and the query carries its own oracle with the same
      // restriction — where the BATCH session artifact (a window) pools
      // them by the SQL convention. Also unblocks the Long-keyed encoder.
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        col("value"))
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout())(sessionFn)

    val name = "graft_stream_session"
    // stateful shuffle partitions are baked into the (fresh) checkpoint:
    // each partition carries a state store per micro-batch, and 3 batches
    // x 32 stores is pure overhead at this state size — 8 halves the
    // query's wall-clock; a real deployment sizes this to state volume
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val q = try {
      spark.conf.set("spark.sql.shuffle.partitions", "8")
      LocalFs.aroundStart(spark) {
        sessions.toDF().writeStream
          .outputMode("append")
          .format("memory")
          .queryName(name)
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(Trigger.AvailableNow())
          .start()
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    try q.awaitTermination()
    finally q.stop()
    sinkSorted(spark.table(name)
      .filter(col("user_id") >= 0) // drop watermark sentinel
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n"), round(col("total"), 2).as("total")),
      col("user_id"), col("session_start"))
  }

  // ---------- Structured Streaming: the drift monitor on ingest ----------
  /** The same PSI monitor run where a production pipeline actually runs
    * it: ON THE INGEST STREAM — per-bin conditional counts accumulate in
    * a complete-mode streaming aggregate (10 groups of state, constant
    * regardless of corpus size), and the PSI arithmetic is a batch
    * post-pass over the 10-row sink table. Shares [[qStatsDrift]]'s
    * oracle verbatim — the gate proves stream and batch agree
    * bit-for-bit, the [[qStreamTumbling]] discipline.
    */
  def qStreamDrift(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = Tables.table(spark, dir, "events").schema
    // NO ingest repartition here, unlike qStreamQuality: the bin
    // projection is two comparisons per row, so the single-split scan
    // stage is already cheap and the added exchange measured NET SLOWER
    // (min 0.80 → 1.06 s A/B) — the repartition discipline pays only
    // where the map side carries a real kernel.
    val stream = EventStats.driftBinAgg(spark.readStream
      .schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .withColumn("ts", Tables.normalizedTs(rawSchema("ts").dataType)))
    val name = "graft_stream_drift"
    val q = startTrimmedStream(spark, Some("8")) {
      stream.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    try q.awaitTermination()
    finally q.stop()
    EventStats.driftFinish(spark.table(name))
  }

  /** The A/B readout run ON the ingest stream (the [[qStreamDrift]]
    * discipline): ONE stateful complete-mode aggregate accumulates each
    * user-day's type set (`collect_set` keyed on (variant, user, day) —
    * state is user-day-scale, the sessionization state class, not
    * constant like drift's bins; documented honestly), the memory sink
    * holds that panel, and the z arithmetic runs as a batch post-pass
    * over it. Shares [[qEventsAbtestOracle]] VERBATIM, so the gate
    * proves stream ≡ batch bit-for-bit — the `q_stream_tumbling`
    * discipline applied to experiment analytics.
    */
  def qStreamAbtest(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawSchema = Tables.table(spark, dir, "events").schema
    val panel = spark.readStream
      .schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      // NO ingest repartition (the qStreamQuality discipline was A/B'd
      // here and measured FLAT on the min statistic — the complete-mode
      // sink re-emit, not the single-split partial aggregate, is this
      // query's cost): reverted rather than shipped as a paper win.
      .withColumn("ts", Tables.normalizedTs(rawSchema("ts").dataType))
      .select(col("user_id"), (col("user_id") % 2).as("variant"),
        to_date(col("ts")).as("dte"), col("event_type"))
      .groupBy(col("variant"), col("user_id"), col("dte"))
      .agg(collect_set(col("event_type")).as("types"))
    val name = "graft_stream_abtest"
    val q = startTrimmedStream(spark, Some("8")) {
      panel.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    try q.awaitTermination()
    finally q.stop()
    val t = spark.table(name)
    // both finishing branches read the memory sink; re-wrapping one side
    // mints fresh attribute ids (MemoryPlan exposes the SAME attrs to
    // every reader, and joining two such subplans trips Catalyst's
    // conflicting-reference check). A collected-LocalRelation remint
    // (`createDataFrame(t.collectAsList(), schema)`) was A/B'd here and
    // REVERTED: the driver-side catalyst conversion of the user-day
    // panel cost more than the RDD round-trip it replaced (abtest min
    // 1.45 → 1.66 s).
    val t2 = spark.createDataFrame(t.rdd, t.schema)
    val exposure = t2.groupBy(col("variant")).agg(count(lit(1)).as("n_ud"))
    val conv = t.select(col("variant"), explode(col("types")).as("event_type"))
      .groupBy(col("event_type"), col("variant"))
      .agg(count(lit(1)).as("n_conv"))
    EventStats.abtestFinish(exposure, conv)
  }

  val registry: Seq[GraftQuery] = Seq(
    GraftQuery("q_stream_late_data", qStreamLateData, qStreamLateDataOracle),
    GraftQuery("q_stream_tumbling", qStreamTumbling, EventOps.qEventsTumblingOracle),
    GraftQuery("q_stream_recovery", qStreamRecovery, qStreamRecoveryOracle),
    GraftQuery("q_stream_session", qStreamSession, qStreamSessionOracle),
    GraftQuery("q_stream_dedup", qStreamDedup, qStreamDedupOracle),
    GraftQuery("q_stream_join", qStreamJoin, qStreamJoinOracle),
    GraftQuery("q_stream_outer_join", qStreamOuterJoin, qStreamOuterJoinOracle),
    GraftQuery("q_stream_static_join", qStreamStaticJoin, qStreamStaticJoinOracle),
    GraftQuery("q_stream_drift", qStreamDrift, EventStats.qStatsDriftOracle),
    GraftQuery("q_stream_abtest", qStreamAbtest, EventStats.qEventsAbtestOracle),
  )
}
