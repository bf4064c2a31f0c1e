package graft.ops

import Checkpoints._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.functions.RollingHash

/** Sampling, mixing and packing operators for training-data assembly,
  * split out of [[TextAnalysis]] along the family seam (round 16, zero
  * behavior change): deterministic hash sampling, per-source diversity
  * caps, token-budget sequence packing, epoch-aware mixture
  * materialization, greedy context-window bin-packing,
  * stratified-by-language hash sampling, Efraimidis-Spirakis weighted
  * sampling, and class-balanced downsampling. All sampling decisions are
  * content-hash-deterministic so the DuckDB oracle replays them exactly.
  */
object TextSampling {

  // ---------- deterministic hash sampling ----------
  /** Reproducible stratified subsampling — the curation primitive behind
    * "train on 10% of the corpus": a document is in the sample iff the
    * first two hex chars of `md5(doc_id)` fall below 0x1a (26/256 ≈
    * 10.2%). Content-independent, seed-free, stable across engines and
    * runs, and embarrassingly parallel: the filter is evaluated
    * scan-side with zero shuffle — at 100 TB the sample never
    * materializes the rejected 90%. The per-language report (the only
    * shuffle) verifies the exact selected set via count + char sum.
    */
  def qSampleHash(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("sampled",
        substring(md5(col("doc_id").cast("string")), 1, 2) < "1a")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("sampled"), col("n_chars"))).as("chars_sampled"))
      .orderBy(col("lang"))

  val qSampleHashOracle: String =
    """SELECT lang, count(*) AS n_total,
      sum(CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < '1a'
          THEN 1 ELSE 0 END)::BIGINT AS n_sampled,
      sum(CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < '1a'
          THEN n_chars END)::BIGINT AS chars_sampled
      FROM documents GROUP BY lang ORDER BY lang"""

  // ---------- per-source diversity cap (domain cap) ----------
  /** The "domain cap" curation primitive (C4 / RefinedWeb style): no
    * single source may contribute more than K documents to the corpus,
    * and within a source the K kept are the best by a deterministic
    * quality key (longest first, doc_id tiebreak). One window top-k per
    * source — the shuffle keys on `source`, which is high-cardinality at
    * web scale (domains), so partitions stay balanced; the same plan
    * swaps to the [[graft.functions]] heap top-k aggregate when K×|src|
    * output must avoid the sort entirely. Emits the kept rows (the
    * keep-list a downstream sampler consumes) plus each row's in-source
    * rank, all integers/strings — no rounding surface.
    */
  def qCurateDomainCap(spark: SparkSession, dir: String): DataFrame = {
    val k = 30
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("source"), col("rnk"), col("doc_id"), col("lang"),
        col("n_chars"))
      .orderBy(col("source"), col("rnk"))
  }

  val qCurateDomainCapOracle: String =
    """SELECT source, rnk, doc_id, lang, n_chars FROM (
        SELECT source, doc_id, lang, n_chars,
          row_number() OVER (PARTITION BY source
            ORDER BY n_chars DESC, doc_id ASC)::INT AS rnk
        FROM documents) t
      WHERE rnk <= 30 ORDER BY source, rnk"""

  // ---------- sequence packing (token-budget batching) ----------
  /** Training-batch construction: pack documents (in stable doc_id order
    * per language) into batches of ≤ 2048 tokens by greedy cumulative
    * fill — `batch = floor(tokens_before_this_doc / budget)`. One
    * window-cumsum per language partition, no iteration, deterministic;
    * at 100 TB the same plan packs per (language, shard) so partitions
    * stay independent. The per-batch report is the oracle surface.
    */
  def qPackBatches(spark: SparkSession, dir: String): DataFrame = {
    val budget = 2048
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("tokens", size(split(col("text"), " ", -1)).cast("long"))
      .withColumn("before",
        coalesce(sum(col("tokens")).over(w) - col("tokens"), lit(0L)))
      .withColumn("batch_id", floor(col("before") / budget))
      .groupBy(col("lang"), col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tokens")).as("batch_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("lang"), col("batch_id"))
  }

  val qPackBatchesOracle: String =
    """WITH t AS (SELECT lang, doc_id,
        len(string_split(text, ' '))::BIGINT AS tokens FROM documents),
      c AS (SELECT lang, doc_id, tokens,
        coalesce(sum(tokens) OVER (PARTITION BY lang ORDER BY doc_id)
          - tokens, 0) AS before FROM t)
      SELECT lang, (before // 2048)::BIGINT AS batch_id,
        count(*) AS n_docs, sum(tokens)::BIGINT AS batch_tokens,
        min(doc_id) AS first_doc, max(doc_id) AS last_doc
      FROM c GROUP BY lang, batch_id ORDER BY lang, batch_id"""

  // ---------- epoch-aware mixture materialization ----------
  /** Upsampling a weighted mixture into ACTUAL training epochs — the step
    * after [[qMixTemperature]] computes weights: a source with weight w
    * contributes floor(w) full passes over its documents plus one
    * fractional pass holding a deterministic hash-selected
    * (w − floor(w)) share. Every repetition is materialized (one row per
    * (doc, epoch)) because that is what a data loader consumes; the
    * fractional membership is a fixed LCG on doc_id — reproducible on
    * both engines, no RNG, so a rerun yields the byte-identical mixture
    * (the reproducibility property a training run needs).
    *
    * Scale shape: the explode factor is Σ wᵢ (the mixture's true token
    * multiplier — materialization is the product, not overhead), the
    * epoch sequence is generated scan-side, and the per-(source, epoch)
    * rollup is one combine-fed exchange.
    */
  def qMixEpochs(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tok"))
      .withColumn("w",
        when(col("source").isin("src0", "src1", "src2"), 2.5)
          .when(col("source").isin("src3", "src4"), 1.5)
          .otherwise(1.0))
      .withColumn("n_ep", floor(col("w")).cast("int") +
        ((col("doc_id") * lit(2654435761L)) % 1000000L <
          (col("w") - floor(col("w"))) * 1000000.0).cast("int"))
    d.select(col("source"), col("n_tok"),
        explode(sequence(lit(0), col("n_ep") - 1)).as("epoch"))
      .groupBy(col("source"), col("epoch"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .orderBy(col("source"), col("epoch"))
  }

  val qMixEpochsOracle: String =
    """WITH d AS (SELECT doc_id, source,
        len(string_split(text, ' '))::BIGINT AS n_tok,
        CASE WHEN source IN ('src0', 'src1', 'src2') THEN 2.5
             WHEN source IN ('src3', 'src4') THEN 1.5 ELSE 1.0 END AS w
      FROM documents),
      e AS (SELECT source, n_tok, floor(w)::INT +
          (CASE WHEN (doc_id * 2654435761) % 1000000
                     < (w - floor(w)) * 1000000 THEN 1 ELSE 0 END) AS n_ep
        FROM d),
      x AS (SELECT source, n_tok, unnest(range(0, n_ep)) AS epoch FROM e)
      SELECT source, epoch::INT AS epoch, count(*) AS n_docs,
        sum(n_tok)::BIGINT AS n_tokens
      FROM x GROUP BY source, epoch ORDER BY source, epoch"""

  // ---------- greedy sequence packing (context-window bin-pack) ----------
  /** The last step between curated documents and a training batch: pack
    * whole tokenized documents into fixed [[PackWindow]]-token context
    * windows, greedy NEXT-FIT in doc_id order — a new window opens when
    * the next document doesn't fit (a document longer than the window
    * gets a window of its own; documents are never split — the spanning
    * variant is [[qPackBatches]]). Next-fit (state = current window only)
    * rather than first-fit (state = every open window) because it is the
    * ONLINE packer: one sequential pass, O(1) state, the same decision a
    * streaming ingest makes.
    *
    * Scale shape: packing is inherently sequential WITHIN a stream, so
    * the unit of parallelism is the group — here `source`, at corpus
    * scale (source, shard). One hash exchange on the group key, then
    * [[org.apache.spark.sql.KeyValueGroupedDataset.flatMapSortedGroups]]
    * runs the O(1)-state fold per group with the sort given to the
    * SHUFFLE (no separate per-group sort pass) — the idiomatic Spark
    * operator for per-group sequential logic that aggregates can't
    * express. Emits one row per document: its window (`seq_id`, per
    * group) and offset within it.
    */
  private val PackWindow = 512L

  /** The per-group next-fit fold, extracted so the spec can drive it on
    * inputs the testdata lacks (oversize docs, exact-fit boundaries).
    * Input docs must already be in doc_id order.
    */
  private[ops] def packGroup(src: String, docs: Iterator[(String, Long, Long)],
      window: Long = PackWindow): Iterator[(String, Long, Long, Long, Long)] = {
    var seq = 0L
    var fill = 0L
    docs.map { case (_, id, n) =>
      if (fill > 0 && fill + n > window) { seq += 1; fill = 0 }
      val off = fill
      fill += n
      (src, id, n, seq, off)
    }
  }

  def qPackSequences(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tok"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("doc_id"))(packGroup(_, _))
      .toDF("source", "doc_id", "n_tok", "seq_id", "off")
      .orderBy(col("source"), col("doc_id"))
  }

  /** The oracle replays the identical fold as a recursive CTE stepping
    * one document per iteration within each source (rn joins rn+1).
    */
  val qPackSequencesOracle: String =
    """WITH RECURSIVE t AS (SELECT source, doc_id,
        len(string_split(text, ' '))::BIGINT AS n_tok,
        row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents),
      pack AS (
        SELECT source, doc_id, n_tok, rn,
          0::BIGINT AS seq_id, n_tok AS fill, 0::BIGINT AS off
        FROM t WHERE rn = 1
        UNION ALL
        SELECT t.source, t.doc_id, t.n_tok, t.rn,
          CASE WHEN p.fill + t.n_tok <= 512 THEN p.seq_id
               ELSE p.seq_id + 1 END,
          CASE WHEN p.fill + t.n_tok <= 512 THEN p.fill + t.n_tok
               ELSE t.n_tok END,
          CASE WHEN p.fill + t.n_tok <= 512 THEN p.fill ELSE 0::BIGINT END
        FROM t JOIN pack p ON t.source = p.source AND t.rn = p.rn + 1)
      SELECT source, doc_id, n_tok, seq_id, off
      FROM pack ORDER BY source, doc_id"""

  // ---------- stratified hash sampling (per-language rates) ----------
  /** Mixture re-balancing: each language keeps a different deterministic
    * fraction of its documents — the primitive behind "up-sample
    * under-represented languages / down-sample the head" in training-data
    * mixtures. Membership is `md5(doc_id) < per-language threshold`, so
    * the sample is reproducible, content-independent, and evaluated
    * scan-side with zero shuffle (rates ride in a literal map; 'g0' sorts
    * above every hex pair = keep-all). The per-language report verifies
    * the exact selected set.
    */
  val stratThresholds: Seq[(String, String)] = Seq(
    "de" -> "40", // 0x40/256 = 25%
    "en" -> "cc", // 0xcc/256 ≈ 80%
    "es" -> "1a", // 0x1a/256 ≈ 10%
    "fr" -> "80", // 0x80/256 = 50%
    "zh" -> "g0") // > 'ff' → 100%

  def qSampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val thrMap = map(stratThresholds.flatMap {
      case (l, t) => Seq(lit(l), lit(t)) }: _*)
    Tables.documents(spark, dir)
      .withColumn("sampled",
        substring(md5(col("doc_id").cast("string")), 1, 2) <
          element_at(thrMap, col("lang")))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"),
        sum(when(col("sampled"), col("n_chars"))).as("chars_sampled"))
      .withColumn("realized_rate",
        round(col("n_sampled").cast("double") / col("n_total"), 6))
      .orderBy(col("lang"))
  }

  val qSampleStratifiedOracle: String = {
    val cases = stratThresholds.map {
      case (l, t) => s"WHEN '$l' THEN '$t'" }.mkString(" ")
    s"""WITH t AS (SELECT lang, n_chars,
        substr(md5(doc_id::VARCHAR), 1, 2) <
          CASE lang $cases END AS sampled
        FROM documents)
      SELECT lang, count(*) AS n_total,
        sum(CASE WHEN sampled THEN 1 ELSE 0 END)::BIGINT AS n_sampled,
        sum(CASE WHEN sampled THEN n_chars END)::BIGINT AS chars_sampled,
        round(sum(CASE WHEN sampled THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
          AS realized_rate
      FROM t GROUP BY lang ORDER BY lang"""
  }

  // ---------- weighted sampling (Efraimidis–Spirakis A-ES keys) ----------
  /** Deterministic weighted sampling without replacement: each document
    * draws the A-ES key `u^(1/w)` (Efraimidis & Spirakis 2006) with
    * weight `w = n_chars` and a reproducible uniform `u` derived from
    * `rolling_hash(md5(doc_id))` — the top-k keys per language ARE a
    * weighted sample without replacement (longer documents
    * proportionally likelier). This is the "sample 1M docs
    * length-weighted" curation primitive. Keys are computed scan-side;
    * the only work beyond the scan is the per-language top-k window —
    * at scale the same plan runs with the heap top-k aggregate instead
    * of row_number to keep the shuffle O(groups × k).
    */
  def qSampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    val M = 1000000007L // rolling-hash modulus: u is uniform over [0, M)
    val u = (RollingHash.rollingHash(md5(col("doc_id").cast("string")))
      .cast("double") + lit(0.5)) / lit(M.toDouble)
    // Rank on the ROUNDED key: Java Math.pow and DuckDB's libm may differ
    // in the last ULP, and a full-precision ordering would let that ULP
    // decide a rank near a tie. At 6 dp the engines' pow results agree
    // (both round the same underlying value), rounding-induced ties are
    // broken by doc_id identically on both sides, and the emitted sel_key
    // is the ranking key itself — no hidden full-precision ordering.
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("sel_key").desc, col("doc_id").asc)
    Tables.documents(spark, dir)
      .withColumn("sel_key",
        round(pow(u, lit(1.0) / col("n_chars").cast("double")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("lang"), col("rnk"), col("doc_id"), col("n_chars"),
        col("sel_key"))
      .orderBy(col("lang"), col("rnk"))
  }

  val qSampleWeightedOracle: String =
    """WITH t AS (SELECT lang, doc_id, n_chars,
        round(pow((list_reduce(list_transform(string_split(md5(doc_id::VARCHAR), ''),
              c -> ascii(c)::BIGINT),
            (h, c) -> (h * 31 + c) % 1000000007)::DOUBLE + 0.5)
          / 1000000007.0, 1.0 / n_chars::DOUBLE), 6) AS sel_key
        FROM documents),
      r AS (SELECT *, row_number() OVER (PARTITION BY lang
        ORDER BY sel_key DESC, doc_id ASC)::INT AS rnk FROM t)
      SELECT lang, rnk, doc_id, n_chars, sel_key
      FROM r WHERE rnk <= 10 ORDER BY lang, rnk"""

  /** Deterministic train/val/test split: the split of a document is a
    * pure function of `md5(doc_id)` — two hex digits give 256 buckets,
    * split 242/7/7 ≈ 94.5%/2.7%/2.7% — so membership is reproducible
    * run-to-run, cluster-size-independent, and stable under re-ingestion
    * (the properties a training pipeline actually needs from a split;
    * `rand()`-based splits have none of them). Zero shuffle for the
    * assignment; the per-split report is a 3-group aggregate. String
    * compares on hex digits keep both engines byte-identical.
    */
  def qSplitTrainValTest(spark: SparkSession, dir: String): DataFrame = {
    val h2 = substring(md5(col("doc_id").cast("string")), 1, 2)
    Tables.documents(spark, dir)
      .withColumn("split",
        when(h2 < "f2", "train").when(h2 < "f9", "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("split"))
  }

  val qSplitTrainValTestOracle: String =
    """SELECT CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'f2' THEN 'train'
             WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'f9' THEN 'val'
             ELSE 'test' END AS split,
      count(*) AS n_docs, sum(n_chars)::BIGINT AS n_chars,
      count(DISTINCT source) AS n_sources
      FROM documents GROUP BY 1 ORDER BY split"""

  /** Deterministic corpus shuffle: training order as a seeded permutation,
    * `order by md5(seed || doc_id)` — the standard way to randomize
    * example order reproducibly at any scale (a total order on a hash is
    * a uniform permutation; changing the seed literal reshuffles). At
    * 100 TB this is exactly one range-partitioned sort, which is also how
    * the shuffled dataset would be WRITTEN (sortWithinPartitions after a
    * range exchange); emitting the first 50 pins the permutation prefix.
    */
  def qShuffleDeterministic(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("shuffle_key",
        md5(concat(lit("epoch-0:"), col("doc_id").cast("string"))))
      .select(col("doc_id"), col("source"), col("shuffle_key"))
      .orderBy(col("shuffle_key"))
      .limit(50)

  val qShuffleDeterministicOracle: String =
    """SELECT doc_id, source, md5('epoch-0:' || doc_id::VARCHAR) AS shuffle_key
      FROM documents ORDER BY shuffle_key LIMIT 50"""

  /** Heavy hitters via the [[graft.functions.MisraGriesAgg]] summary,
    * SELF-CERTIFIED: the raw estimates depend on Spark's merge order, so
    * the query emits the summary's deterministic GUARANTEES — every key
    * with true frequency above N/(k+1) is present, no estimate overcounts,
    * no undercount exceeds N/(k+1) — checked against the exact counts
    * in-plan (integer cross-multiplications, no FP). The oracle recomputes
    * N, the key-space size, and the guaranteed-key count exactly; the
    * certification columns collapse to those constants exactly when the
    * sketch honors its contract (the ANN self-certification discipline).
    *
    * The key is DELIBERATELY skewed: stopwords collapse into one heavy
    * key (~6.6% of N at every SF — above the N/17 ≈ 5.9% presence bar)
    * while every other word shards 7 ways (204 keys ≫ k = 16, so the
    * summary trims constantly). Raw words would certify nothing: the
    * corpus vocabulary is 31 near-uniform words, every frequency sits
    * under the bar, and an aggregate that lost every key would still
    * pass. With this key the presence arm has exactly one guaranteed
    * key to lose at all three SFs — a broken summary fails the hash.
    * The exact side is key-space-sized here; at 100 TB one keeps ONLY
    * the sketch — the certification is the harness, the operator is the
    * aggregate.
    */
  def qHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val K = 16
    val stops = Seq("the", "a", "of", "and", "to")
    val words = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"), col("doc_id"))
      .select(when(col("w").isin(stops: _*), lit("stopword"))
        .otherwise(concat(col("w"), lit("_"),
          pmod(col("doc_id"), lit(7)).cast("string"))).as("w"))
    val exact = words.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val mg = words
      .agg(graft.functions.MisraGriesAgg.misraGries(col("w"), K).as("mg"))
      .select(explode(col("mg")).as("e"))
      .select(col("e.key").as("w"), col("e.est").as("est"))
    val tot = exact.agg(sum(col("cnt")).as("n_words"),
      count(lit(1)).as("n_distinct"))
    exact.join(mg, Seq("w"), "left_outer")
      .crossJoin(broadcast(tot))
      .withColumn("guaranteed", col("cnt") * (K + 1) > col("n_words"))
      .withColumn("found", col("est").isNotNull)
      .withColumn("violation",
        (col("est").isNotNull &&
          (col("est") > col("cnt") ||
            (col("cnt") - col("est")) * (K + 1) > col("n_words"))) ||
        (col("guaranteed") && !col("found")))
      .agg(
        first(lit("misra_gries")).as("algo"),
        first(lit(K.toLong)).as("k"),
        first(col("n_words")).as("n_words"),
        first(col("n_distinct")).as("n_distinct"),
        sum(when(col("guaranteed"), 1L).otherwise(0L)).as("n_guaranteed"),
        sum(when(col("guaranteed") && col("found"), 1L).otherwise(0L))
          .as("n_guaranteed_found"),
        sum(when(col("violation"), 1L).otherwise(0L)).as("bound_violations"))
  }

  val qHeavyHittersOracle: String =
    """WITH raw AS (SELECT unnest(string_split(text, ' ')) AS w, doc_id
        FROM documents),
      w AS (SELECT CASE WHEN w IN ('the','a','of','and','to')
          THEN 'stopword'
          ELSE w || '_' || (doc_id % 7)::VARCHAR END AS w FROM raw),
      e AS (SELECT w, count(*) AS cnt FROM w GROUP BY w),
      t AS (SELECT sum(cnt)::BIGINT AS n_words, count(*)::BIGINT AS n_distinct
        FROM e),
      g AS (SELECT count(*)::BIGINT AS n_guaranteed FROM e, t
        WHERE cnt * 17 > n_words)
      SELECT 'misra_gries' AS algo, 16::BIGINT AS k, n_words, n_distinct,
        n_guaranteed, n_guaranteed AS n_guaranteed_found,
        0::BIGINT AS bound_violations
      FROM t, g"""

  // ---------- class-balanced downsampling ----------
  /** Label-balanced downsampling — the class-rebalancing step before
    * training a classifier on skewed labels: every language keeps
    * exactly m = min(class size) documents, chosen by HASH RANK
    * (md5(doc_id) order) so the sample is deterministic, uniform within
    * class, and reproducible across runs/engines — the same
    * hash-as-randomness discipline as q_sample_hash. The per-class
    * readout pins the selection itself (sum of kept doc_ids), not just
    * its size, so a different-but-same-sized sample cannot pass.
    *
    * Scale shape: one combine-fed class-count aggregate (broadcast m —
    * one row), one rank window PARTITIONED BY CLASS (the mixture
    * dimension), one final per-class aggregate. No global sort, no
    * driver-side sampling state.
    */
  def qSampleBalanced(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string")).as("hk"))
    val m = d.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .agg(min(col("n")).as("m"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("hk"), col("doc_id"))
    d.withColumn("rk", row_number().over(w))
      .crossJoin(broadcast(m))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_before"),
        sum(when(col("rk") <= col("m"), 1L).otherwise(0L)).as("n_after"),
        sum(when(col("rk") <= col("m"), col("doc_id")).otherwise(0L))
          .as("sel_sum"))
      .orderBy(col("lang"))
  }

  val qSampleBalancedOracle: String =
    """WITH d AS (SELECT doc_id, lang, md5(doc_id::VARCHAR) hk
        FROM documents),
      m AS (SELECT min(n)::BIGINT m FROM
        (SELECT lang, count(*)::BIGINT n FROM d GROUP BY 1)),
      r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
          ORDER BY hk, doc_id) rk FROM d)
      SELECT lang, count(*)::BIGINT n_before,
        sum(CASE WHEN rk <= m THEN 1 ELSE 0 END)::BIGINT n_after,
        sum(CASE WHEN rk <= m THEN doc_id ELSE 0 END)::BIGINT sel_sum
      FROM r CROSS JOIN m GROUP BY lang ORDER BY lang"""

  val registry: Seq[GraftQuery] = Seq(
    GraftQuery("q_sample_balanced", qSampleBalanced, qSampleBalancedOracle),
    GraftQuery("q_curate_domain_cap", qCurateDomainCap, qCurateDomainCapOracle),
    GraftQuery("q_sample_hash", qSampleHash, qSampleHashOracle),
    GraftQuery("q_pack_batches", qPackBatches, qPackBatchesOracle),
    GraftQuery("q_pack_sequences", qPackSequences, qPackSequencesOracle),
    GraftQuery("q_mix_epochs", qMixEpochs, qMixEpochsOracle),
    GraftQuery("q_sample_stratified", qSampleStratified, qSampleStratifiedOracle),
    GraftQuery("q_sample_weighted", qSampleWeighted, qSampleWeightedOracle),
    GraftQuery("q_split_train_val_test", qSplitTrainValTest, qSplitTrainValTestOracle),
    GraftQuery("q_shuffle_deterministic", qShuffleDeterministic, qShuffleDeterministicOracle),
    GraftQuery("q_heavy_hitters", qHeavyHitters, qHeavyHittersOracle),
  )
}
