package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.functions.CdcExpressions
import graft.ops.Tables

/** The CDC flatten/coerce surface as declarative Columns — for CDC
  * envelopes that arrive as DataFrames (JSON/parquet/Kafka sources) rather
  * than through the Avro reader. Mirrors the reference's coercion semantics
  * (SURVEY.md §2.3) with Catalyst built-ins wherever they match and custom
  * expressions where they don't:
  *
  *  - `toBoolLenient`: the reference's token table + numeric tail
  *    (`_to_bool`, main.py:26-37). Spark's boolean cast accepts a narrower
  *    token set, so this is spelled out as a CASE.
  *  - `toLongLenient`: ANSI try_cast (null on garbage, '+' handled).
  *  - `avroDecimal` / `avroDecimalBytes`: HALF_EVEN DECIMAL(38,9)
  *    normalization (custom expressions — Spark casts round HALF_UP).
  *  - `flattenEnvelope`: source_metadata struct coercion + payload.*
  *    promotion, dropping all other envelope fields (main.py:55-108).
  *
  * All narrow projections: no shuffle is ever introduced by this surface.
  */
object CdcColumns {

  private val TrueTokens = Seq("true", "t", "1", "yes", "y")
  private val FalseTokens = Seq("false", "f", "0", "no", "n")

  private def intLike(s: Column): Column = s.rlike("^[+-]?[0-9]+$")

  def toBoolLenient(c: Column): Column = {
    val s = lower(trim(c.cast("string")))
    when(c.isNull, lit(null).cast("boolean"))
      .when(s.isin(TrueTokens: _*), lit(true))
      .when(s.isin(FalseTokens: _*), lit(false))
      .when(intLike(s), s.cast("long") =!= 0L)
      .otherwise(lit(null).cast("boolean"))
  }

  def toLongLenient(c: Column): Column = {
    val s = trim(c.cast("string"))
    when(intLike(s), s.cast("long")).otherwise(lit(null).cast("long"))
  }

  def toListOfStr(c: Column): Column =
    when(c.isNull, lit(null).cast("array<string>"))
      .otherwise(transform(c, x => x.cast("string")))

  /** Flatten a CDC envelope DataFrame: `source_metadata` struct coerced
    * field-by-field, `payload.*` promoted to top level, everything else
    * dropped.
    */
  def flattenEnvelope(df: DataFrame): DataFrame = {
    val sm = col("source_metadata")
    val coerced = struct(
      sm.getField("schema").cast("string").as("schema"),
      sm.getField("table").cast("string").as("table"),
      toBoolLenient(sm.getField("is_deleted")).as("is_deleted"),
      sm.getField("change_type").cast("string").as("change_type"),
      toLongLenient(sm.getField("tx_id")).as("tx_id"),
      sm.getField("lsn").cast("string").as("lsn"),
      toListOfStr(sm.getField("primary_keys")).as("primary_keys"),
    ).as("source_metadata")
    df.select(coerced +: df.select(col("payload.*")).columns.toSeq
      .map(n => col(s"payload.$n")): _*)
  }

  // ---------- oracle-checked queries over testdata ----------

  /** Build a CDC envelope from `orders`, flatten it through the Column
    * surface, and emit the coerced fields — exercising the token-table
    * bool coercion (including the numeric tail and the unparseable→null
    * case), lenient long parse ('+'-prefixed), and list-of-string
    * conversion against an independent SQL reimplementation.
    */
  def qCdcFlattenImpl(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val env = o.select(
      struct(
        lit("public").as("schema"),
        lit("orders").as("table"),
        element_at(
          array(lit("true"), lit("F"), lit("yes"), lit("0"), lit("7"), lit("junk")),
          (col("o_orderkey") % 6 + 1).cast("int")).as("is_deleted"),
        col("o_orderstatus").as("change_type"),
        concat(lit("+"), col("o_orderkey").cast("string")).as("tx_id"),
        lit(null).cast("string").as("lsn"),
        array(col("o_custkey")).as("primary_keys"),
      ).as("source_metadata"),
      struct(
        col("o_orderkey").as("id"),
        col("o_totalprice").as("amount"),
        col("o_orderpriority").as("priority"),
      ).as("payload"),
      col("o_orderdate").as("uuid_like_envelope_noise"))
    flattenEnvelope(env)
      .select(
        col("source_metadata.is_deleted").as("is_deleted"),
        col("source_metadata.tx_id").as("tx_id"),
        col("source_metadata.primary_keys").getItem(0).as("pk0"),
        col("id"),
        round(col("amount"), 2).as("amount"),
        col("priority"))
      .orderBy(col("id"))
  }

  val qCdcFlattenOracle: String =
    """SELECT
      CASE (o_orderkey % 6)
        WHEN 0 THEN true       -- 'true'
        WHEN 1 THEN false      -- 'F'
        WHEN 2 THEN true       -- 'yes'
        WHEN 3 THEN false      -- '0'
        WHEN 4 THEN true       -- '7' → bool(int) → nonzero
        ELSE NULL              -- 'junk' → unparseable → null
      END AS is_deleted,
      o_orderkey AS tx_id,
      o_custkey::VARCHAR AS pk0,
      o_orderkey AS id,
      round(o_totalprice, 2) AS amount,
      o_orderpriority AS priority
      FROM orders ORDER BY id"""

  /** HALF_EVEN DECIMAL(38,9) normalization of derived doubles (the
    * reference's forced BigQuery-NUMERIC envelope, F6 numeric branch).
    */
  def qCdcDecimal(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    // Compared as strings: the driver's pandas compare renders Spark's
    // parquet DECIMAL(38,9) as decimal.Decimal ("14257.340000000") but
    // DuckDB's .df() downcasts DECIMAL to float64 ("14257.34") — value-equal,
    // hash-unequal. VARCHAR keeps the full 9-dp kernel output comparable.
    o.select(
      col("o_orderkey"),
      CdcExpressions.avroDecimal(col("o_totalprice") / lit(7.0))
        .cast("string").as("price_norm"),
      CdcExpressions.avroDecimal(col("o_totalprice"))
        .cast("string").as("price_exact"))
      .orderBy(col("o_orderkey"))
  }

  val qCdcDecimalOracle: String =
    """SELECT o_orderkey,
      CAST(CAST(o_totalprice / 7.0 AS DECIMAL(38,9)) AS VARCHAR) AS price_norm,
      CAST(CAST(o_totalprice AS DECIMAL(38,9)) AS VARCHAR) AS price_exact
      FROM orders ORDER BY o_orderkey"""

  /** Canonical (sorted-keys, compact) JSON stringification of complex
    * values — F1 on the declarative surface, vs an oracle that constructs
    * the same strings by hand.
    */
  def qCdcStringify(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.CanonicalJsonExpr.canonicalJson
    val l = Tables.lineitem(spark, dir).filter(col("l_linenumber") === 1)
    l.select(
      col("l_orderkey"),
      canonicalJson(map(
        lit("qty"), round(col("l_quantity")).cast("long"),
        lit("line"), col("l_linenumber").cast("long"))).as("map_json"),
      canonicalJson(array(col("l_partkey"), col("l_suppkey"))).as("arr_json"),
      canonicalJson(struct(
        col("l_returnflag").as("rf"),
        col("l_partkey").as("pk"))).as("struct_json"))
      .orderBy(col("l_orderkey"))
  }

  val qCdcStringifyOracle: String =
    """SELECT l_orderkey,
      '{"line":' || l_linenumber || ',"qty":' || CAST(round(l_quantity) AS BIGINT) || '}'
        AS map_json,
      '[' || l_partkey || ',' || l_suppkey || ']' AS arr_json,
      '{"pk":' || l_partkey || ',"rf":"' || l_returnflag || '"}' AS struct_json
      FROM lineitem WHERE l_linenumber = 1 ORDER BY l_orderkey"""

  /** MERGE-style CDC apply: collapse a change stream to
    * latest-state-per-key — highest tx wins, a terminal DELETE removes the
    * key. The library call a consumer of the converted landing zone runs.
    *
    * `orderCols` must make the per-key ordering TOTAL over whatever
    * distinguishes surviving rows (pass extra value columns when (key, tx)
    * can repeat), or the winner is nondeterministic.
    *
    * Scale posture: one shuffle on the key (exactly the shuffle any MERGE
    * does); Spark plans a map-side WindowGroupLimit (partial top-1 per
    * key) before the exchange, so only one candidate row per key per
    * partition crosses the wire. At 100 TB the same plan compacts per-day
    * partitions independently.
    */
  def applyChanges(
      changes: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[Column],
      deleteCol: Column): DataFrame =
    latestPerKey(changes, keyCols, orderCols).filter(!deleteCol)

  /** The argmax-per-key half of [[applyChanges]], KEEPING delete rows as
    * tombstones. This is the incremental-merge building block: argmax is
    * associative and commutative, so `latestPerKey(state ∪ batch) ≡
    * latestPerKey(all changes)` — but only if deletes stay in the state
    * as tombstones (dropping them mid-stream would let an older live row
    * resurrect the key on the next merge). Filter `deleteCol` only at
    * read time.
    */
  def latestPerKey(
      changes: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(_.desc): _*)
    changes.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** [[applyChanges]] over a deterministic multi-version stream
    * synthesized from `lineitem` (l_orderkey = key, l_linenumber = tx).
    */
  def qCdcApply(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val events = l.select(
      col("l_orderkey").as("id"),
      col("l_linenumber").cast("long").as("tx_id"),
      ((col("l_orderkey") + col("l_linenumber")) % 7 === 0).as("is_deleted"),
      round(col("l_quantity")).cast("long").as("qty"),
      round(col("l_extendedprice"), 2).as("amount"))
    // (id, tx_id) is NOT unique in the synthesized stream; the tie-break
    // covers every emitted column so the surviving row is value-determined
    // (is_deleted is a function of (id, tx_id), so ties agree on it)
    applyChanges(events, Seq("id"),
      Seq(col("tx_id"), col("qty"), col("amount")), col("is_deleted"))
      .select(col("id"), col("tx_id").as("last_tx"), col("qty"), col("amount"))
      .orderBy(col("id"))
  }

  val qCdcApplyOracle: String =
    """WITH e AS (SELECT l_orderkey AS id, l_linenumber::BIGINT AS tx_id,
        (l_orderkey + l_linenumber) % 7 = 0 AS is_deleted,
        round(l_quantity)::BIGINT AS qty, round(l_extendedprice, 2) AS amount
        FROM lineitem),
      r AS (SELECT *, row_number() OVER (PARTITION BY id
        ORDER BY tx_id DESC, qty DESC, amount DESC) AS rn FROM e)
      SELECT id, tx_id AS last_tx, qty, amount FROM r
      WHERE rn = 1 AND NOT is_deleted ORDER BY id"""

  /** [[qCdcApply]] run the way the REFERENCE runs (main.py:601-613 is a
    * continuously-consuming pipeline, not a batch): the synthesized
    * change stream arrives in two micro-batches (split on
    * `l_linenumber`, so most keys receive versions in BOTH batches)
    * and a materialized current-state table is advanced per batch with a
    * `foreachBatch` MERGE — `latestPerKey(state ∪ batch)`, tombstones
    * kept in state so later batches cannot resurrect deleted keys, each
    * batch writing a NEW state version directory (the replay-idempotent
    * pattern of [[graft.ops.Dedup.runStreamingDedup]]). The final state,
    * tombstones filtered at read, hash-matches the UNCHANGED batch
    * oracle — the stream ≡ batch proof, riding on argmax associativity.
    * (Two batches, not three: the hazard needs ONE batch boundary with
    * older versions landing after a delete — a third merge pass buys no
    * extra semantics, only another full micro-batch plan.)
    *
    * Scale posture: per batch one key shuffle over state ∪ batch with a
    * map-side WindowGroupLimit — the same single-shuffle MERGE any table
    * format's upsert runs continuously at 100 TB.
    */
  def qStreamCdcApply(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val events = l.select(
      col("l_orderkey").as("id"),
      col("l_linenumber").cast("long").as("tx_id"),
      ((col("l_orderkey") + col("l_linenumber")) % 7 === 0).as("is_deleted"),
      round(col("l_quantity")).cast("long").as("qty"),
      round(col("l_extendedprice"), 2).as("amount"))
    val fixture = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft-stream-cdc2-in-${dir.hashCode.toHexString}")
    if (!new java.io.File(fixture, "_READY").isFile) {
      // batches arrive in DESCENDING tx order on purpose: a key deleted
      // at high tx sees its older live versions arrive in the LATER
      // batch — the resurrection hazard that tombstone-keeping exists
      // for. File order is pinned on BOTH source axes (mtime, path) —
      // a sleep between writes is a granularity race on coarse-mtime
      // filesystems.
      def stage(p: org.apache.spark.sql.Column, name: String,
          mtime: Long): Unit = {
        val d = new java.io.File(fixture, "stage")
        events.filter(p).coalesce(1).write.mode("overwrite")
          .parquet(d.getAbsolutePath)
        val part = d.listFiles.filter(_.getName.endsWith(".parquet")).head
        val dst = new java.io.File(new java.io.File(fixture, "in"), name)
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dst.setLastModified(mtime)
        d.listFiles.foreach(_.delete()); d.delete(); ()
      }
      val t0 = System.currentTimeMillis() - 600000L
      stage(col("tx_id") >= 4, "0_high_tx.parquet", t0)
      stage(col("tx_id") <= 3, "1_low_tx.parquet", t0 + 60000L)
      new java.io.File(fixture, "_READY").createNewFile()
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-cdc")
      .toFile.getAbsolutePath

    @volatile var statePath: Option[String] = None
    // NOT narrowed to 8 shuffle partitions like the stateful streaming
    // queries: the per-batch MERGE is a real 10^5-row key shuffle, not a
    // state-store commit — narrowing it measured 0.7 s SLOWER
    val writer = spark.readStream
        .schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(s"$fixture/in")
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val input = statePath match {
            case Some(p) => spark.read.parquet(p).unionByName(batch)
            case None => batch
          }
          latestPerKey(input, Seq("id"),
            Seq(col("tx_id"), col("qty"), col("amount")))
            .write.options(graft.io.LocalFs.options(spark)).mode("overwrite").parquet(s"$tmp/state$id")
          statePath = Some(s"$tmp/state$id")
          ()
        }
    val q = graft.io.LocalFs.aroundStart(spark)(writer.start())
    try q.awaitTermination()
    finally q.stop()
    spark.read.parquet(statePath.get)
      .filter(!col("is_deleted"))
      .select(col("id"), col("tx_id").as("last_tx"), col("qty"), col("amount"))
      .orderBy(col("id"))
  }

  /** SCD Type-2 history build from the same synthesized change stream as
    * [[qCdcApply]]: every version of every key survives, stamped with its
    * validity interval (`tx_id` … `valid_to_tx`) and an `is_current` flag
    * (open interval AND not a delete). One window over the key — the same
    * single shuffle the latest-row merge pays, so the full-history variant
    * costs no more than the snapshot variant at any scale. The (tx_id,
    * qty, amount) ordering covers every emitted column, so version
    * assignment is value-deterministic even where (id, tx_id) repeats.
    */
  def qCdcScd2(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val events = l.select(
      col("l_orderkey").as("id"),
      col("l_linenumber").cast("long").as("tx_id"),
      ((col("l_orderkey") + col("l_linenumber")) % 7 === 0).as("is_deleted"),
      round(col("l_quantity")).cast("long").as("qty"),
      round(col("l_extendedprice"), 2).as("amount"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("tx_id"), col("qty"), col("amount"))
    events
      .withColumn("version", row_number().over(w))
      .withColumn("valid_to_tx", lead(col("tx_id"), 1).over(w))
      .withColumn("is_current", col("valid_to_tx").isNull && !col("is_deleted"))
      .select(col("id"), col("version"), col("tx_id"), col("qty"), col("amount"),
        col("is_deleted"), col("valid_to_tx"), col("is_current"))
      .orderBy(col("id"), col("version"))
  }

  val qCdcScd2Oracle: String =
    """WITH e AS (SELECT l_orderkey AS id, l_linenumber::BIGINT AS tx_id,
        (l_orderkey + l_linenumber) % 7 = 0 AS is_deleted,
        round(l_quantity)::BIGINT AS qty, round(l_extendedprice, 2) AS amount
        FROM lineitem)
      SELECT id, (row_number() OVER w)::INT AS version, tx_id, qty, amount,
        is_deleted,
        lead(tx_id, 1) OVER w AS valid_to_tx,
        (lead(tx_id, 1) OVER w IS NULL AND NOT is_deleted) AS is_current
      FROM e WINDOW w AS (PARTITION BY id ORDER BY tx_id, qty, amount)
      ORDER BY id, version"""

  // ---------- time travel: point-in-time reads over SCD2 ----------
  /** AS-OF reads over the [[qCdcScd2]] history — the time-travel query a
    * versioned table serves ("what did the table say at tx 3?"): for each
    * requested snapshot tx, the version whose validity interval covers
    * it, delete-tombstones excluded (a key deleted by tx T is ABSENT
    * from the T snapshot, not null-padded). Both snapshots come out of
    * ONE history pass: each version row carries the exploded list of
    * requested snapshots it is valid under (an array filter over the
    * 2-element snapshot list — scan-side, no second key shuffle), which
    * is how a table format serves N as-of reads off one manifest scan.
    * Same key-window shuffle as the SCD2 build; everything else rides
    * the scan.
    */
  def qCdcTimetravel(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val events = l.select(
      col("l_orderkey").as("id"),
      col("l_linenumber").cast("long").as("tx_id"),
      ((col("l_orderkey") + col("l_linenumber")) % 7 === 0).as("is_deleted"),
      round(col("l_quantity")).cast("long").as("qty"),
      round(col("l_extendedprice"), 2).as("amount"))
    val w = Window.partitionBy(col("id"))
      .orderBy(col("tx_id"), col("qty"), col("amount"))
    events
      .withColumn("valid_to_tx", lead(col("tx_id"), 1).over(w))
      .withColumn("asof_tx", explode(filter(
        array(lit(3L), lit(6L)),
        t => col("tx_id") <= t &&
          (col("valid_to_tx").isNull || col("valid_to_tx") > t) &&
          !col("is_deleted"))))
      .select(col("asof_tx"), col("id"), col("tx_id"), col("qty"),
        col("amount"))
      .orderBy(col("asof_tx"), col("id"))
  }

  val qCdcTimetravelOracle: String =
    """WITH e AS (SELECT l_orderkey AS id, l_linenumber::BIGINT AS tx_id,
        (l_orderkey + l_linenumber) % 7 = 0 AS is_deleted,
        round(l_quantity)::BIGINT AS qty, round(l_extendedprice, 2) AS amount
        FROM lineitem),
      h AS (SELECT *, lead(tx_id, 1) OVER (PARTITION BY id
          ORDER BY tx_id, qty, amount) AS valid_to_tx FROM e),
      s AS (SELECT 3::BIGINT t UNION ALL SELECT 6::BIGINT)
      SELECT s.t AS asof_tx, id, tx_id, qty, amount
      FROM h JOIN s ON h.tx_id <= s.t
        AND (h.valid_to_tx IS NULL OR h.valid_to_tx > s.t)
        AND NOT h.is_deleted
      ORDER BY asof_tx, id"""

  val registry: Seq[GraftQuery] = Seq(
    GraftQuery("q_cdc_timetravel", qCdcTimetravel, qCdcTimetravelOracle),
    GraftQuery("q_cdc_flatten", qCdcFlattenImpl, qCdcFlattenOracle),
    GraftQuery("q_cdc_decimal", qCdcDecimal, qCdcDecimalOracle),
    GraftQuery("q_cdc_stringify", qCdcStringify, qCdcStringifyOracle),
    GraftQuery("q_cdc_apply", qCdcApply, qCdcApplyOracle),
    GraftQuery("q_stream_cdc_apply", qStreamCdcApply, qCdcApplyOracle),
    GraftQuery("q_cdc_scd2", qCdcScd2, qCdcScd2Oracle),
  )
}
