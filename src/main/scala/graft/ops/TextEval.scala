package graft.ops

import Checkpoints._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftQuery

/** Evaluation and distributional statistics over text-pipeline outputs,
  * split out of [[TextAnalysis]] along the family seam (round 16, zero
  * behavior change): mutual information, Cohen's kappa, chi-square
  * independence, confusion matrix + P/R/F1, calibration reliability,
  * held-out LM evaluation, word burstiness, Jensen-Shannon divergence,
  * Kneser-Ney bigram LM, Zipf-law fit, corpus BLEU, tie-aware ROC AUC,
  * isotonic (PAV) calibration, and Spearman rank correlation. Exact
  * integer/rational arithmetic wherever a float could diverge engines.
  */
object TextEval {

  // ---------- mutual information feature audit ----------
  /** Mutual information between hashed token features and the document
    * language label — the feature-selection / leakage-audit pass run
    * before training any quality or language classifier: buckets with
    * outsized `MI(bucket; label)` are the discriminative features (or,
    * against a should-be-independent label like train/test split, the
    * leaks). Tokens hash into [[MiBuckets]] buckets (md5 chain again);
    * per (bucket, label) cell the contribution is
    * `p(b,l) · ln(p(b,l)/(p(b)p(l)))`, evaluated as one `ln` of the
    * exact integer rational `(c_bl·N)/(c_b·c_l)` scaled by exact
    * `c_bl/N` — summed per bucket and reported with the bucket's token
    * count. Output is the full fixed-size bucket table ordered by id —
    * no double ordering anywhere.
    *
    * Scale shape: one scan-side hash, ONE combine-fed (bucket, label)
    * aggregate whose state is at most [[MiBuckets]]·|labels| cells, and
    * arithmetic on the resulting dimension-scale table; marginals come
    * from re-aggregating the CELL table (never the corpus), and N
    * crosses as one broadcast row.
    */
  private val MiBuckets = 64

  // ---------- inter-annotator agreement (Cohen's kappa) ----------
  /** COHEN'S KAPPA — the label-QC number for human- or model-annotated
    * training data: chance-corrected agreement between two annotators.
    * Annotator A is the corpus `lang` label; annotator B is a
    * deterministic noisy copy (an md5-parity ~20% of docs shift to the
    * cyclically-next language — the dictionary and shift both derived
    * in-plan, so the oracle replays them exactly). The whole statistic
    * reduces to integers: with `agree` = matching docs, `rA_k`/`rB_k`
    * the per-class marginals, κ = (N·agree − Σ_k rA_k·rB_k) /
    * (N² − Σ_k rA_k·rB_k) — ONE double divide of identical exact
    * operands at the very end, the repo's exactness discipline. Scale
    * shape: one scan to label B (broadcast 5-row dictionary), one
    * confusion-matrix aggregate (class² cells), marginal products on the
    * domain-bounded dictionary.
    */
  def qLabelKappa(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val dict = d.select(col("lang")).distinct()
      .withColumn("rk", row_number().over(Window.orderBy(col("lang"))))
    val L = dict.count() // 5-row dictionary; fixed-size model
    val noisy = d
      .withColumn("flip", pmod(
        conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
          .cast("long"), lit(5L)) === 0L)
      .join(broadcast(dict), "lang")
      .withColumn("b_rk",
        when(col("flip"), pmod(col("rk").cast("long"), lit(L)) + 1L)
          .otherwise(col("rk").cast("long")))
      .join(broadcast(dict.select(col("lang").as("b_lang"),
        col("rk").cast("long").as("b_rk"))), "b_rk")
    val conf = noisy.groupBy(col("lang"), col("b_lang"))
      .agg(count(lit(1)).as("n")).stageCheckpoint()
    val rA = conf.groupBy(col("lang")).agg(sum(col("n")).as("ra"))
    val rB = conf.groupBy(col("b_lang")).agg(sum(col("n")).as("rb"))
    val pe = rA.join(rB, col("lang") === col("b_lang"))
      .agg(sum(col("ra") * col("rb")).as("spe"))
    val tot = conf.agg(sum(col("n")).as("nn"),
      sum(when(col("lang") === col("b_lang"), col("n")).otherwise(0L))
        .as("agree"))
    tot.crossJoin(broadcast(pe))
      .select(col("nn").as("n"), col("agree"),
        round(col("agree").cast("double") / col("nn"), 6).as("po6"),
        round((col("nn") * col("agree") - col("spe")).cast("double") /
          (col("nn") * col("nn") - col("spe")).cast("double"), 6)
          .as("kappa6"))
  }

  val qLabelKappaOracle: String =
    """WITH d AS (SELECT doc_id, lang FROM documents),
      dict AS (SELECT lang, row_number() OVER (ORDER BY lang) AS rk
        FROM (SELECT DISTINCT lang FROM d)),
      l AS (SELECT count(*)::BIGINT nl FROM dict),
      noisy AS (SELECT d.doc_id, d.lang,
          CASE WHEN ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 6))::BIGINT
            % 5 = 0 THEN (dict.rk % l.nl) + 1 ELSE dict.rk END AS b_rk
        FROM d JOIN dict USING (lang) CROSS JOIN l),
      lab AS (SELECT n.lang, d2.lang AS b_lang FROM noisy n
        JOIN dict d2 ON d2.rk = n.b_rk),
      conf AS (SELECT lang, b_lang, count(*)::BIGINT n FROM lab
        GROUP BY 1, 2),
      ra AS (SELECT lang, sum(n)::BIGINT ra FROM conf GROUP BY 1),
      rb AS (SELECT b_lang, sum(n)::BIGINT rb FROM conf GROUP BY 1),
      pe AS (SELECT sum(ra * rb)::BIGINT spe FROM ra JOIN rb
        ON ra.lang = rb.b_lang),
      tot AS (SELECT sum(n)::BIGINT nn,
          sum(CASE WHEN lang = b_lang THEN n ELSE 0 END)::BIGINT agree
        FROM conf)
      SELECT nn AS n, agree,
        round(agree / nn::DOUBLE, 6) AS po6,
        round((nn * agree - spe)::DOUBLE /
          (nn::HUGEINT * nn - spe)::DOUBLE, 6) AS kappa6
      FROM tot CROSS JOIN pe"""

  // ---------- chi-square independence (lang × source contingency) ----------
  /** Pearson χ² independence audit of the lang × source contingency
    * table — the monitoring number that says whether a corpus's language
    * mix is uniform across sources or some source skews (a routing bug,
    * a crawl drift). Every cell of the FULL grid participates, including
    * structural zeros (the classic chi-square mistake is grouping only
    * observed combos): the grid is the cross of two domain-bounded
    * dimension tables, so it is tiny at any corpus size. Exactness per
    * the repo discipline: the per-cell statistic is regrouped as
    * `(O·N − R·C)² / (N·R·C)` — integer numerator/denominator routed
    * through DECIMAL(38,0) (no 63-bit overflow at any N), ONE double
    * divide of identical exact operands per cell, then per-term
    * quantization to 1e-9 BIGINT so the per-language sum is associative
    * and engine-identical (the q_graph_linkpred lesson applied to a
    * test statistic).
    */
  def qStatsChisq(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("lang"), col("source"))
    val cells = d.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("o")).stageCheckpoint()
    val rowT = cells.groupBy(col("lang")).agg(sum(col("o")).as("r"))
    val colT = cells.groupBy(col("source")).agg(sum(col("o")).as("c"))
    val n = cells.agg(sum(col("o")).as("n"))
    val dec = "decimal(38,0)"
    val grid = broadcast(rowT).crossJoin(broadcast(colT))
      .join(cells, Seq("lang", "source"), "left_outer")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(n))
    grid
      .withColumn("num",
        col("o").cast(dec) * col("n").cast(dec) -
          col("r").cast(dec) * col("c").cast(dec))
      .withColumn("t9", round(
        (col("num") * col("num")).cast("double") /
          (col("n").cast(dec) * col("r").cast(dec) * col("c").cast(dec))
            .cast("double") * lit(1e9)).cast("long"))
      .groupBy(col("lang"))
      .agg(max(col("r")).as("n_docs"),
        round(sum(col("t9")) / lit(1e9), 6).as("chisq_contrib6"))
      .orderBy(col("lang"))
  }

  val qStatsChisqOracle: String =
    """WITH cells AS (SELECT lang, source, count(*)::BIGINT o
        FROM documents GROUP BY 1, 2),
      rt AS (SELECT lang, sum(o)::BIGINT r FROM cells GROUP BY 1),
      ct AS (SELECT source, sum(o)::BIGINT c FROM cells GROUP BY 1),
      n AS (SELECT sum(o)::BIGINT n FROM cells),
      grid AS (SELECT rt.lang, ct.source, rt.r, ct.c,
          coalesce(cells.o, 0)::BIGINT AS o, n.n
        FROM rt CROSS JOIN ct CROSS JOIN n
        LEFT JOIN cells ON cells.lang = rt.lang AND cells.source = ct.source),
      t AS (SELECT lang, r,
          round(((o::HUGEINT * n - r::HUGEINT * c) *
                 (o::HUGEINT * n - r::HUGEINT * c))::DOUBLE /
            (n::HUGEINT * r * c)::DOUBLE * 1e9)::BIGINT AS t9
        FROM grid)
      SELECT lang, max(r) AS n_docs,
        round(sum(t9)::BIGINT / 1e9, 6) AS chisq_contrib6
      FROM t GROUP BY lang ORDER BY lang"""

  def qStatsMutualinfo(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(
      conv(substring(md5(col("w")), 1, 6), 16, 10).cast("long"),
      lit(MiBuckets.toLong)).as("b")
    val cells = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ", -1)).as("w"))
      .select(col("lang"), bucket)
      .groupBy(col("b"), col("lang")).agg(count(lit(1)).as("cbl"))
      .stageCheckpoint()
    val cb = cells.groupBy(col("b")).agg(sum(col("cbl")).as("cb"))
    val cl = cells.groupBy(col("lang")).agg(sum(col("cbl")).as("cl"))
    val n = cells.agg(sum(col("cbl")).as("n"))
    cells.join(broadcast(cb), Seq("b"))
      .join(broadcast(cl), Seq("lang"))
      .crossJoin(broadcast(n))
      .groupBy(col("b"))
      .agg(sum(col("cbl")).as("n_tokens"),
        round(sum((col("cbl") / col("n")) *
          log((col("cbl") * col("n")) / (col("cb") * col("cl")))), 9)
          .as("mi9"))
      .orderBy(col("b"))
  }

  val qStatsMutualinfoOracle: String =
    s"""WITH tok AS (SELECT lang,
        ('0x' || substr(md5(w), 1, 6))::BIGINT % $MiBuckets AS b
        FROM (SELECT lang, unnest(string_split(text, ' ')) w
              FROM documents)),
      cells AS (SELECT b, lang, count(*) cbl FROM tok GROUP BY 1, 2),
      cb AS (SELECT b, sum(cbl)::BIGINT cb FROM cells GROUP BY b),
      cl AS (SELECT lang, sum(cbl)::BIGINT cl FROM cells GROUP BY lang),
      n AS (SELECT sum(cbl)::BIGINT n FROM cells)
      SELECT b, sum(cbl)::BIGINT n_tokens,
        round(sum((cbl::DOUBLE / n) *
          ln((cbl * n)::DOUBLE / (cb * cl))), 9) AS mi9
      FROM cells JOIN cb USING (b) JOIN cl USING (lang) CROSS JOIN n
      GROUP BY b ORDER BY b"""

  // ---------- classifier evaluation: confusion matrix + P/R/F1 ----------
  /** The evaluation pass every production classifier ships with: the
    * [[qTextLangid]] heuristic scored against the corpus's TRUE `lang`
    * labels — per class, support / true positives / false
    * positives+negatives and precision/recall/F1 in fixed-point
    * millionths (integer DIV on exact confusion counts, so the whole
    * scorecard hash-matches; a class the model never predicts gets
    * NULL precision via a lazy guard rather than a divide-by-zero).
    * This is the missing half of deploying [[qQualityClassifier]]-style
    * filters: the filter is only as good as an eval harness can prove.
    *
    * Scale shape: the prediction pipeline is [[qTextLangid]]'s
    * (broadcast marker join + doc-keyed rank); everything after is
    * arithmetic on the |classes|² confusion cells.
    */
  def qLangidEval(spark: SparkSession, dir: String): DataFrame = {
    val cells = TextAnalysis.qTextLangid(spark, dir)
      .groupBy(col("lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    val byTrue = cells.groupBy(col("lang"))
      .agg(sum(col("n")).as("n_docs"),
        sum(when(col("pred_lang") === col("lang"), col("n"))
          .otherwise(0L)).as("tp"))
    val byPred = cells.groupBy(col("pred_lang"))
      .agg(sum(col("n")).as("n_pred"))
    byTrue
      .join(byPred, col("lang") === col("pred_lang"), "left_outer")
      .select(col("lang"), col("n_docs"), col("tp"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"))
      .select(col("lang"), col("n_docs"), col("tp"),
        (col("n_pred") - col("tp")).as("fp"),
        (col("n_docs") - col("tp")).as("fn"),
        when(col("n_pred") > 0,
          expr("tp * 1000000 DIV n_pred")).as("precision_e6"),
        expr("tp * 1000000 DIV n_docs").as("recall_e6"),
        when(col("n_pred") + col("n_docs") > 0,
          expr("2 * tp * 1000000 DIV (n_pred + n_docs)")).as("f1_e6"))
      .orderBy(col("lang"))
  }

  val qLangidEvalOracle: String =
    s"""WITH m(m_lang, m_word) AS (VALUES ${TextAnalysis.markerValues}),
      tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) w
        FROM documents),
      sc AS (SELECT doc_id, m_lang, count(*) score FROM tok
        JOIN m ON w = m_word GROUP BY doc_id, m_lang),
      best AS (SELECT doc_id, m_lang, score FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY score DESC, m_lang ASC) rn FROM sc) t WHERE rn = 1),
      pred AS (SELECT d.lang, coalesce(best.m_lang, 'unknown') pred_lang
        FROM documents d LEFT JOIN best ON d.doc_id = best.doc_id),
      cells AS (SELECT lang, pred_lang, count(*)::BIGINT n
        FROM pred GROUP BY 1, 2),
      bt AS (SELECT lang, sum(n)::BIGINT n_docs,
          sum(CASE WHEN pred_lang = lang THEN n ELSE 0 END)::BIGINT tp
        FROM cells GROUP BY lang),
      bp AS (SELECT pred_lang, sum(n)::BIGINT n_pred
        FROM cells GROUP BY pred_lang)
      SELECT lang, n_docs, tp,
        coalesce(n_pred, 0) - tp AS fp,
        n_docs - tp AS fn,
        CASE WHEN coalesce(n_pred, 0) > 0
          THEN tp * 1000000 // n_pred END AS precision_e6,
        tp * 1000000 // n_docs AS recall_e6,
        CASE WHEN coalesce(n_pred, 0) + n_docs > 0
          THEN 2 * tp * 1000000 // (coalesce(n_pred, 0) + n_docs)
          END AS f1_e6
      FROM bt LEFT JOIN bp ON lang = pred_lang
      ORDER BY lang"""

  // ---------- classifier calibration (reliability table) ----------
  /** Reliability diagram for the hashed linear classifier: documents
    * bucket by normalized margin into ten fixed bins and each bin
    * reports its observed `lang = 'en'` rate — does a higher score
    * actually mean more English? The classifier's weights are
    * hash-derived (not trained), so this is the HARNESS being proven:
    * every value is an exact integer (bin index by integer floor
    * division with clamping, rates in fixed-point millionths), and the
    * same table built on a trained model drops in unchanged. One
    * scan-side score pass + one ten-group combine-fed aggregate.
    */
  def qQualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    TextAnalysis.scoredDocs(spark, dir)
      .withColumn("bin",
        expr("greatest(0L, least(9L, (margin_e4 + 10000) DIV 2000))"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        sum(col("margin_e4")).as("sum_margin_e4"))
      .select(col("bin"), col("n_docs"), col("n_en"),
        expr("n_en * 1000000 DIV n_docs").as("en_rate_e6"),
        expr("sum_margin_e4 DIV n_docs").as("avg_margin_e4"))
      .orderBy(col("bin"))
  }

  val qQualityCalibrationOracle: String =
    """WITH s AS (SELECT lang,
        len(string_split(text, ' '))::BIGINT AS n_words,
        list_sum(list_transform(string_split(text, ' '), w ->
          ('0x' || substr(md5(w), 1, 6))::BIGINT % 4096 % 101 - 50
        ))::BIGINT AS raw_score
      FROM documents),
      b AS (SELECT lang,
        greatest(0, least(9,
          (raw_score * 10000 // (n_words * 50) + 10000) // 2000)) AS bin,
        raw_score * 10000 // (n_words * 50) AS margin_e4
      FROM s)
      SELECT bin, count(*)::BIGINT n_docs,
        sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT n_en,
        sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT
          * 1000000 // count(*) AS en_rate_e6,
        sum(margin_e4)::BIGINT // count(*) AS avg_margin_e4
      FROM b GROUP BY bin ORDER BY bin"""

  // ---------- held-out language-model evaluation (no leakage) ----------
  /** The leakage-free complement of [[qTextSurprisal]] /
    * [[qTextPerplexity]]: those score the corpus under a model trained
    * on ITSELF (fine for outlier filtering, methodologically wrong for
    * measuring a model). Here the corpus splits by the deterministic
    * md5 rule ([[qSampleHash]] discipline — first two hex digits of
    * `md5(doc_id)` below 0x20 ≈ 12.5% become the HELD-OUT set), a
    * unigram model with add-one smoothing over `V+1` outcomes (the +1
    * is the OOV slot) trains on the TRAIN slice only, and every
    * held-out document reports its token count, OOV count, and mean
    * NLL — the number a tokenizer/corpus ablation would actually
    * compare. OOV handling is exact: an unseen word's count is 0, so
    * the same `(c+1)/(T+V+1)` formula covers both cases via a
    * null-coalesce.
    *
    * Scale shape: one combine-fed count pass over the train slice
    * (vocabulary-sized result, broadcast back), one scan of the
    * held-out slice through the broadcast score join — no wide
    * shuffle anywhere; both slices come from the same scan-side hash
    * predicate, no materialized split needed.
    */
  def qTextLmHeldout(spark: SparkSession, dir: String): DataFrame = {
    val splitKey = substring(md5(col("doc_id").cast("string")), 1, 2)
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), (splitKey < "20").as("heldout"),
        explode(split(col("text"), " ", -1)).as("w"))
    val trainTok = tok.where(!col("heldout"))
    val counts = trainTok.groupBy(col("w")).agg(count(lit(1)).as("ct"))
    val denom = counts
      .agg((sum(col("ct")) + count(lit(1)) + 1).cast("double").as("tv1"))
    tok.where(col("heldout"))
      .join(broadcast(counts), Seq("w"), "left_outer")
      .crossJoin(broadcast(denom))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("ct").isNull.cast("long")).as("n_oov"),
        round(avg(-log((coalesce(col("ct"), lit(0L)) + 1) / col("tv1"))), 6)
          .as("nll"))
      .orderBy(col("doc_id"))
  }

  val qTextLmHeldoutOracle: String =
    """WITH tok AS (SELECT doc_id,
        substr(md5(doc_id::VARCHAR), 1, 2) < '20' AS heldout,
        unnest(string_split(text, ' ')) w
      FROM documents),
      counts AS (SELECT w, count(*)::BIGINT ct FROM tok
        WHERE NOT heldout GROUP BY w),
      denom AS (SELECT (sum(ct) + count(*) + 1)::DOUBLE tv1 FROM counts)
      SELECT doc_id, count(*)::BIGINT n_tokens,
        sum(CASE WHEN ct IS NULL THEN 1 ELSE 0 END)::BIGINT n_oov,
        round(avg(-ln((coalesce(ct, 0) + 1) / tv1)), 6) AS nll
      FROM tok LEFT JOIN counts USING (w) CROSS JOIN denom
      WHERE heldout
      GROUP BY doc_id ORDER BY doc_id"""

  // ---------- word burstiness (Church–Gale cf/df) ----------
  /** Burstiness of the top-50 collection-frequency words: cf/df — mean
    * occurrences per CONTAINING document (Church & Gale: content words
    * burst, function words spread; a Poisson word would sit at
    * cf/df ≈ cf/N·e^… ≈ 1 for rare words), plus document coverage.
    * The per-word readout IDF-style rankers and stopword inducers
    * consume.
    *
    * Exactness: cf and df are exact integers from ONE combine-fed
    * (word, doc) → word aggregate (count + count of distinct docs via
    * pre-grouping, never count-distinct over the corpus); burst and
    * coverage emit as floor-e6 integral divisions. Top-50 is a
    * TakeOrdered (cf desc, word), never a global sort.
    */
  def qTextBurstiness(spark: SparkSession, dir: String): DataFrame = {
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("nd"))
    val wd = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("w"))
      .groupBy(col("w"), col("doc_id")).agg(count(lit(1)).as("c"))
    wd.groupBy(col("w"))
      .agg(sum(col("c")).as("cf"), count(lit(1)).as("df"))
      .orderBy(col("cf").desc, col("w")).limit(50)
      .crossJoin(broadcast(nDocs))
      .select(col("w"), col("cf"), col("df"),
        expr("cf * 1000000 DIV df").as("burst_e6"),
        expr("df * 1000000 DIV nd").as("coverage_e6"))
      .orderBy(col("cf").desc, col("w"))
  }

  val qTextBurstinessOracle: String =
    """WITH nd AS (SELECT count(*)::BIGINT nd FROM documents),
      wd AS (SELECT w, doc_id, count(*)::BIGINT c FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) w FROM documents)
        GROUP BY 1, 2),
      agg AS (SELECT w, sum(c)::BIGINT cf, count(*)::BIGINT df FROM wd
        GROUP BY 1 ORDER BY cf DESC, w LIMIT 50)
      SELECT w, cf, df, cf * 1000000 // df AS burst_e6,
        df * 1000000 // nd.nd AS coverage_e6
      FROM agg CROSS JOIN nd ORDER BY cf DESC, w"""

  // ---------- Jensen–Shannon divergence between language slices ----------
  /** JSD between the unigram distributions of the `en` slice and the
    * rest of the corpus — the bounded, symmetric distribution distance
    * drift monitors and mixture designers quote (PSI's principled
    * sibling: defined even where one side has zero mass, bounded by
    * ln 2). JSD(P‖Q) = ½KL(P‖M) + ½KL(Q‖M), M = (P+Q)/2.
    *
    * Exactness: per-word counts are exact integers from one vocab-
    * scale combine-fed aggregate; each word's two KL terms
    * p·ln(p/m) are doubles over the exact fractions (identical
    * left-to-right expressions both engines) quantized to integer
    * nano-units BEFORE summing (zero-mass words contribute a true 0 —
    * coalesced, not NaN), so the sum is order-independent. The ln 2
    * bound emits as a certified boolean.
    *
    * Scale shape: one vocabulary-sized aggregate, one 1-row reduce.
    */
  def qTextJsd(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(spark, dir)
      .select((col("lang") === "en").as("en"),
        explode(split(col("text"), " ", -1)).as("w"))
      .groupBy(col("w"))
      .agg(sum(when(col("en"), 1L).otherwise(0L)).as("cp"),
        sum(when(!col("en"), 1L).otherwise(0L)).as("cq"))
      .stageCheckpoint() // vocabulary-sized
    val tot = cells.agg(sum(col("cp")).as("np"), sum(col("cq")).as("nq"))
    val terms = cells.crossJoin(broadcast(tot))
      .withColumn("p", col("cp").cast("double") / col("np").cast("double"))
      .withColumn("q", col("cq").cast("double") / col("nq").cast("double"))
      .withColumn("m", (col("p") + col("q")) / 2.0)
      .withColumn("tp", when(col("cp") > 0L,
        col("p") * log(col("p") / col("m"))).otherwise(lit(0.0)))
      .withColumn("tq", when(col("cq") > 0L,
        col("q") * log(col("q") / col("m"))).otherwise(lit(0.0)))
      .withColumn("t9", expr(
        "CAST(round(tp * 5e8) AS BIGINT) + CAST(round(tq * 5e8) AS BIGINT)"))
    terms.agg(count(lit(1)).as("vocab"), max(col("np")).as("n_en"),
        max(col("nq")).as("n_rest"), sum(col("t9")).as("jsd_n9"))
      .select(col("vocab"), col("n_en"), col("n_rest"), col("jsd_n9"),
        round(col("jsd_n9").cast("double") / 1e9, 6).as("jsd6"),
        (col("jsd_n9") <= 693147181L).as("within_ln2"))
  }

  val qTextJsdOracle: String =
    """WITH tok AS (SELECT lang = 'en' AS en,
        unnest(string_split(text, ' ')) w FROM documents),
      cells AS (SELECT w,
          sum(CASE WHEN en THEN 1 ELSE 0 END)::BIGINT cp,
          sum(CASE WHEN NOT en THEN 1 ELSE 0 END)::BIGINT cq
        FROM tok GROUP BY 1),
      tot AS (SELECT sum(cp)::BIGINT np, sum(cq)::BIGINT nq FROM cells),
      t AS (SELECT cp, cq,
          cp::DOUBLE / np::DOUBLE AS p, cq::DOUBLE / nq::DOUBLE AS q
        FROM cells CROSS JOIN tot),
      u AS (SELECT cp, cq, p, q, (p + q) / 2.0 AS m FROM t),
      v AS (SELECT
          CASE WHEN cp > 0 THEN p * ln(p / m) ELSE 0.0 END AS tp,
          CASE WHEN cq > 0 THEN q * ln(q / m) ELSE 0.0 END AS tq
        FROM u),
      s AS (SELECT count(*)::BIGINT vocab,
          sum(CAST(round(tp * 5e8) AS BIGINT)
            + CAST(round(tq * 5e8) AS BIGINT))::BIGINT jsd_n9
        FROM v)
      SELECT s.vocab, tot.np n_en, tot.nq n_rest, s.jsd_n9,
        round(s.jsd_n9::DOUBLE / 1e9, 6) jsd6,
        s.jsd_n9 <= 693147181 AS within_ln2
      FROM s CROSS JOIN tot"""

  // ---------- Kneser–Ney smoothed bigram LM (held-out scored) ----------
  /** Interpolated Kneser–Ney — the smoothing that actually ships in
    * n-gram LMs — trained on the [[qSampleHash]] train slice and
    * scored on the held-out slice, upgrading [[qTextLmHeldout]]'s
    * add-one unigram model:
    *
    *   P(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁·)
    *            + D·N₁₊(w₁·)/c(w₁·) · P_cont(w₂),
    *
    * with D = 0.75 (EXACTLY representable in binary64 — 3/4; a 0.7
    * discount would re-open the rounding-boundary class of bugs) and a
    * +1-smoothed continuation P_cont(w₂) = (N₁₊(·w₂)+1)/(N₁₊(··)+V+1)
    * so unseen continuations stay finite (the OOV slot, as in
    * lm_heldout). Unseen CONTEXT (c(w₁·) = 0) backs off to P_cont
    * alone.
    *
    * Exactness: every model quantity is an exact integer count; P is
    * the same left-to-right double expression in both engines, and
    * each bigram's −ln P quantizes to integer nano-units BEFORE the
    * per-doc sum (the [[qStatsChisq]] discipline), so document NLLs
    * are order-independent BIGINTs.
    *
    * Scale shape: counting is three combine-fed aggregates (bigram-,
    * context-, and continuation-typed — all Heaps-sublinear); scoring
    * joins the held-out bigrams to the bigram table by equi-join
    * (bigram-keyed SHUFFLE — at 100 TB that table outgrows any
    * broadcast) and to the two unigram-scale tables by broadcast.
    */
  def qTextKneserNey(spark: SparkSession, dir: String): DataFrame = {
    val splitKey = substring(md5(col("doc_id").cast("string")), 1, 2)
    val bi = Tables.documents(spark, dir)
      .select(col("doc_id"), (splitKey < "20").as("heldout"),
        split(col("text"), " ", -1).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), col("heldout"), explode(expr(
        """zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1),
           (a, b) -> struct(a AS w1, b AS w2))""")).as("g"))
      .select(col("doc_id"), col("heldout"), col("g.w1"), col("g.w2"))
    val big = bi.where(!col("heldout"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val ctx = big.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1f"))
    val cont = big.groupBy(col("w2")).agg(count(lit(1)).as("n1b"))
    val tot = big.agg(count(lit(1)).as("ntot"),
      countDistinct(col("w1")).as("v"))
    bi.where(col("heldout"))
      .join(big, Seq("w1", "w2"), "left_outer")
      .join(broadcast(ctx), Seq("w1"), "left_outer")
      .join(broadcast(cont), Seq("w2"), "left_outer")
      .crossJoin(broadcast(tot))
      .withColumn("pcont",
        (coalesce(col("n1b"), lit(0L)) + 1L).cast("double") /
          (col("ntot") + col("v") + 1L).cast("double"))
      .withColumn("p", when(col("c1").isNull, col("pcont"))
        .otherwise(
          greatest(coalesce(col("c12"), lit(0L)).cast("double") - 0.75,
            lit(0.0)) / col("c1").cast("double") +
          lit(0.75) * col("n1f").cast("double") / col("c1").cast("double")
            * col("pcont")))
      .withColumn("t9", expr("CAST(round(-ln(p) * 1e9) AS BIGINT)"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("c1").isNull.cast("long")).as("n_ctx_oov"),
        sum(col("t9")).as("nll_n9"))
      .select(col("doc_id"), col("n_bigrams"), col("n_ctx_oov"),
        col("nll_n9"),
        round(col("nll_n9").cast("double") / 1e9 /
          col("n_bigrams").cast("double"), 6).as("nll6"))
      .orderBy(col("doc_id"))
  }

  val qTextKneserNeyOracle: String =
    """WITH d AS (SELECT doc_id,
        substr(md5(doc_id::VARCHAR), 1, 2) < '20' AS heldout,
        string_split(text, ' ') ws
      FROM documents WHERE len(string_split(text, ' ')) >= 2),
      bi AS (SELECT doc_id, heldout,
          unnest(ws[1:len(ws)-1]) w1, unnest(ws[2:len(ws)]) w2
        FROM d),
      big AS (SELECT w1, w2, count(*)::BIGINT c12 FROM bi
        WHERE NOT heldout GROUP BY 1, 2),
      ctx AS (SELECT w1, sum(c12)::BIGINT c1, count(*)::BIGINT n1f
        FROM big GROUP BY 1),
      cont AS (SELECT w2, count(*)::BIGINT n1b FROM big GROUP BY 1),
      tot AS (SELECT count(*)::BIGINT ntot,
          count(DISTINCT w1)::BIGINT v FROM big),
      sc AS (SELECT bi.doc_id,
          (coalesce(cont.n1b, 0) + 1)::DOUBLE /
            (tot.ntot + tot.v + 1)::DOUBLE AS pcont,
          ctx.c1, ctx.n1f, big.c12
        FROM bi LEFT JOIN big USING (w1, w2)
          LEFT JOIN ctx USING (w1) LEFT JOIN cont USING (w2)
          CROSS JOIN tot
        WHERE bi.heldout),
      t AS (SELECT doc_id, c1,
          CASE WHEN c1 IS NULL THEN pcont
            ELSE greatest(coalesce(c12, 0)::DOUBLE - 0.75, 0.0)
                / c1::DOUBLE +
              0.75 * n1f::DOUBLE / c1::DOUBLE * pcont END AS p
        FROM sc)
      SELECT doc_id, count(*)::BIGINT n_bigrams,
        sum(CASE WHEN c1 IS NULL THEN 1 ELSE 0 END)::BIGINT n_ctx_oov,
        sum(CAST(round(-ln(p) * 1e9) AS BIGINT))::BIGINT nll_n9,
        round(sum(CAST(round(-ln(p) * 1e9) AS BIGINT))::DOUBLE / 1e9
          / count(*)::DOUBLE, 6) AS nll6
      FROM t GROUP BY doc_id ORDER BY doc_id"""

  // ---------- Zipf-law fit over the bigram frequency spectrum ----------
  /** Zipf diagnostic of the corpus frequency spectrum: least-squares
    * slope and R² of log(freq) against log(rank) over the TOP-100
    * bigram types — the one-row readout that distinguishes natural
    * language (slope ≈ −1, high R²) from template/boilerplate corpora
    * (flat spectrum, low R²); a standard screen before training-data
    * inclusion. Bigrams rather than unigrams because the regression
    * needs a frequency SPECTRUM (the synthetic corpus has 31 unigram
    * types but ~1k bigram types; natural corpora are unbounded either
    * way).
    *
    * Exactness: regression inputs quantize per term — x₉ = round(10⁹·
    * ln rank), y₉ = round(10⁹·ln freq) — then all five regression sums
    * (Σx, Σy, Σxy, Σx², Σy²) run in DECIMAL(38,0) (cross products reach
    * ~10²³, far past 2⁶³ but far under 10³⁸), and slope = A/B,
    * R² = A²/(B·C) are computed from the exact integer moments with
    * identical double ops in both engines (A = nΣxy−ΣxΣy etc.; A² as a
    * DOUBLE product because squaring the exact integer would pass
    * 10³⁸).
    *
    * Scale shape: bigram counting is one combine-fed aggregate
    * (vocabulary², still Heaps-sublinear); the top-100 cut is a
    * TakeOrderedAndProject, never a global sort; ranks and moments run
    * on the 100-row result (partition-less window pinned in the
    * allowlist with that bound).
    */
  def qTextZipf(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val top = Tables.documents(spark, dir)
      .select(split(col("text"), " ", -1).as("ws"))
      .filter(size(col("ws")) >= 2)
      .select(explode(expr(
        """zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1),
           (a, b) -> concat(a, ' ', b))""")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("g")).limit(100)
    val ranked = top
      .withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("g"))))
      .withColumn("x9", round(log(col("rank")) * 1e9).cast("long").cast(dec))
      .withColumn("y9", round(log(col("freq")) * 1e9).cast("long").cast(dec))
    ranked
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("x9")).as("sx"), sum(col("y9")).as("sy"),
        sum(col("x9") * col("y9")).as("sxy"),
        sum(col("x9") * col("x9")).as("sxx"),
        sum(col("y9") * col("y9")).as("syy"),
        max(when(col("rank") === 1, col("g"))).as("top_gram"),
        max(when(col("rank") === 1, col("freq"))).as("top_freq"))
      .withColumn("a", (col("n") * col("sxy") - col("sx") * col("sy"))
        .cast("double"))
      .withColumn("b", (col("n") * col("sxx") - col("sx") * col("sx"))
        .cast("double"))
      .withColumn("c", (col("n") * col("syy") - col("sy") * col("sy"))
        .cast("double"))
      .select(col("n").cast("long").as("n_terms"), col("top_gram"),
        col("top_freq"),
        round(col("a") / col("b"), 6).as("slope6"),
        round(col("a") * col("a") / (col("b") * col("c")), 6).as("r2_6"))
  }

  val qTextZipfOracle: String =
    """WITH d AS (SELECT string_split(text, ' ') ws FROM documents
        WHERE len(string_split(text, ' ')) >= 2),
      bg AS (SELECT unnest([ws[i] || ' ' || ws[i + 1]
          for i in range(1, len(ws))]) g FROM d),
      tf AS (SELECT g, count(*)::BIGINT freq FROM bg GROUP BY g),
      top AS (SELECT g, freq FROM tf ORDER BY freq DESC, g LIMIT 100),
      ranked AS (SELECT g, freq,
          row_number() OVER (ORDER BY freq DESC, g) rank FROM top),
      qq AS (SELECT g, freq, rank,
          round(ln(rank) * 1e9)::BIGINT x9,
          round(ln(freq) * 1e9)::BIGINT y9 FROM ranked),
      s AS (SELECT count(*)::HUGEINT n,
          sum(x9)::HUGEINT sx, sum(y9)::HUGEINT sy,
          sum(x9::HUGEINT * y9)::HUGEINT sxy,
          sum(x9::HUGEINT * x9)::HUGEINT sxx,
          sum(y9::HUGEINT * y9)::HUGEINT syy,
          max(CASE WHEN rank = 1 THEN g END) top_gram,
          max(CASE WHEN rank = 1 THEN freq END) top_freq
        FROM qq)
      SELECT n::BIGINT n_terms, top_gram, top_freq,
        round((n * sxy - sx * sy)::DOUBLE /
          (n * sxx - sx * sx)::DOUBLE, 6) AS slope6,
        round(((n * sxy - sx * sy)::DOUBLE * (n * sxy - sx * sy)::DOUBLE) /
          ((n * sxx - sx * sx)::DOUBLE * (n * syy - sy * sy)::DOUBLE), 6)
          AS r2_6
      FROM s"""

  // ---------- corpus BLEU (clipped n-gram precision) ----------
  /** Corpus-level BLEU-2 — the generation-quality metric, run the way an
    * eval harness scores a model against references: candidate texts are
    * a DETERMINISTIC degradation of each document (every (pos+doc_id)
    * ≡ 0 mod 11 word substituted with 'unk', every ≡ 0 mod 7 position
    * dropped — substitution dents unigram precision, deletion both
    * creates unseen bigrams and triggers the brevity penalty), so the
    * oracle replays the candidate and the hash match certifies the whole
    * metric pipeline: clipped counts, the geometric mean, the BP curve.
    *
    * Exactness: the four precision components are EXACT INTEGER
    * numerator/denominator pairs (clipped count sums — min of two
    * integer counts — and candidate n-gram totals), emitted alongside
    * the score; the BLEU combine is one closed-form double expression
    * over those integers (exp(1−r/c)·√(p₁p₂)), identical operand-for-
    * operand in both engines, rounded 1e-6.
    *
    * Scale shape: candidate derivation is scan-side lambda work; each
    * n-gram order pays ONE (doc, gram)-keyed combine-fed aggregate with
    * both sides tagged in the same pass (no join of two corpus-scale
    * count tables — the clip happens inside the aggregate row); the
    * final reduce is a one-row digest. This is the shape that scores a
    * 100 TB eval set without any per-doc driver loop.
    */
  def qEvalBleu(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ", -1).as("ws"))
      .filter(size(col("ws")) >= 2)
      .withColumn("cand", expr(
        """filter(
             transform(ws, (w, i) ->
               IF(pmod(i + 1 + doc_id, 11) = 0, 'unk', w)),
             (w, i) -> pmod(i + 1 + doc_id, 7) != 0)"""))
    def grams(c: String, n: Int): Column =
      if (n == 1) col(c)
      else expr(s"zip_with(slice($c, 1, size($c) - 1), " +
        s"slice($c, 2, size($c) - 1), (a, b) -> concat(a, ' ', b))")
    def clipped(n: Int): DataFrame =
      base.select(col("doc_id"), explode(grams("cand", n)).as("g"),
          lit(1L).as("c"), lit(0L).as("r"))
        .unionByName(base.select(col("doc_id"), explode(grams("ws", n)).as("g"),
          lit(0L).as("c"), lit(1L).as("r")))
        .groupBy(col("doc_id"), col("g"))
        .agg(sum(col("c")).as("nc"), sum(col("r")).as("nr"))
        .agg(sum(least(col("nc"), col("nr"))).as("num"),
          sum(col("nc")).as("den"))
        .select(lit(n).as("n"), col("num"), col("den"))
    val lens = base.agg(sum(size(col("cand"))).cast("long").as("c_len"),
      sum(size(col("ws"))).cast("long").as("r_len"))
    clipped(1).select(col("num").as("p1_num"), col("den").as("p1_den"))
      .crossJoin(broadcast(clipped(2)
        .select(col("num").as("p2_num"), col("den").as("p2_den"))))
      .crossJoin(broadcast(lens))
      .select(col("c_len"), col("r_len"),
        col("p1_num"), col("p1_den"), col("p2_num"), col("p2_den"),
        round(
          when(col("c_len") < col("r_len"),
            exp(lit(1.0) - col("r_len").cast("double") /
              col("c_len").cast("double"))).otherwise(lit(1.0)) *
          sqrt((col("p1_num").cast("double") / col("p1_den").cast("double")) *
            (col("p2_num").cast("double") / col("p2_den").cast("double"))),
          6).as("bleu6"))
  }

  val qEvalBleuOracle: String =
    """WITH base AS (SELECT doc_id, string_split(text, ' ') ws
        FROM documents WHERE len(string_split(text, ' ')) >= 2),
      nz AS (SELECT doc_id, ws,
          [CASE WHEN (i + doc_id) % 11 = 0 THEN 'unk' ELSE ws[i] END
            for i in range(1, len(ws) + 1)] rep FROM base),
      cd AS (SELECT doc_id, ws,
          [rep[i] for i in range(1, len(rep) + 1)
            if (i + doc_id) % 7 != 0] cand FROM nz),
      u AS (SELECT doc_id, g, sum(c)::BIGINT nc, sum(r)::BIGINT nr FROM (
          SELECT doc_id, unnest(cand) g, 1 c, 0 r FROM cd
          UNION ALL SELECT doc_id, unnest(ws) g, 0, 1 FROM cd)
        GROUP BY 1, 2),
      b AS (SELECT doc_id, g, sum(c)::BIGINT nc, sum(r)::BIGINT nr FROM (
          SELECT doc_id, unnest([cand[i] || ' ' || cand[i + 1]
            for i in range(1, len(cand))]) g, 1 c, 0 r FROM cd
          UNION ALL
          SELECT doc_id, unnest([ws[i] || ' ' || ws[i + 1]
            for i in range(1, len(ws))]) g, 0, 1 FROM cd)
        GROUP BY 1, 2),
      p1 AS (SELECT sum(least(nc, nr))::BIGINT p1_num,
          sum(nc)::BIGINT p1_den FROM u),
      p2 AS (SELECT sum(least(nc, nr))::BIGINT p2_num,
          sum(nc)::BIGINT p2_den FROM b),
      l AS (SELECT sum(len(cand))::BIGINT c_len,
          sum(len(ws))::BIGINT r_len FROM cd)
      SELECT c_len, r_len, p1_num, p1_den, p2_num, p2_den,
        round(
          (CASE WHEN c_len < r_len
            THEN exp(1.0 - r_len::DOUBLE / c_len::DOUBLE)
            ELSE 1.0 END) *
          sqrt((p1_num::DOUBLE / p1_den::DOUBLE) *
            (p2_num::DOUBLE / p2_den::DOUBLE)), 6) AS bleu6
      FROM l CROSS JOIN p1 CROSS JOIN p2"""

  // ---------- ROC AUC (tie-aware Mann–Whitney) ----------
  /** Ranking quality of the hashed linear classifier
    * ([[qQualityClassifier]]) against the `lang = 'en'` label — the
    * threshold-free companion of [[qQualityCalibration]]'s reliability
    * table. AUC is computed as the tie-aware Mann–Whitney statistic:
    * with documents grouped by score value s into (n_pos(s), n_neg(s))
    * cells, 2·U = Σ_s n_pos(s)·(2·cneg_<(s) + n_neg(s)), where ties
    * contribute the ½ each concordant orientation deserves — exact
    * integers end-to-end, no per-pair work.
    *
    * Exactness: 2U and the denominator 2·n_pos·n_neg are formed in
    * DECIMAL(38,0) (corpus² — a BIGINT would overflow past ~3·10⁹
    * docs); auc_e6/gini2_e6 are integral floor divisions, identical in
    * both engines. The EMITTED u2 column is cast down to BIGINT:
    * int128-backed result columns (DECIMAL(38,0)/HUGEINT) normalize
    * engine-specifically in downstream readers, and the report value
    * fits 2⁶³ to ~3·10⁹ docs — past that the report would emit the
    * string rendering (the q_series_lttb discipline), while the
    * internal math is already DECIMAL either way.
    *
    * Scale shape: one scan-side score pass, one combine-fed aggregate
    * to the score-value domain (margin_e4 ∈ [−10⁴, 10⁴] ⇒ ≤ 20001
    * cells at ANY corpus size), then the cumulative window runs on the
    * bounded cell table behind an eager localCheckpoint (the
    * [[graft.ops.EventStats.qStatsKs]] discipline) and the final
    * aggregate returns one row.
    */
  def qEvalAuc(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cell = TextAnalysis.scoredDocs(spark, dir)
      .withColumn("s", col("margin_e4"))
      .groupBy(col("s"))
      .agg(sum(when(col("lang") === "en", 1L).otherwise(0L)).as("np"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("nn"))
      .stageCheckpoint() // ≤ 20001 rows, feeds cum + totals
    val w = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = cell
      .withColumn("cn", sum(col("nn")).over(w) - col("nn"))
      .withColumn("u2", col("np").cast(dec) *
        (col("cn").cast(dec) * 2 + col("nn").cast(dec)))
      .stageCheckpoint() // window resolved; final agg sees a flat table
    scored.agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
        sum(col("u2")).cast(dec).as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2").cast("long").as("u2"),
        expr("CAST(u2 * 1000000 DIV " +
          "(CAST(n_pos AS DECIMAL(38,0)) * n_neg * 2) AS BIGINT)")
          .as("auc_e6"),
        expr("CAST(u2 * 1000000 DIV " +
          "(CAST(n_pos AS DECIMAL(38,0)) * n_neg) - 1000000 AS BIGINT)")
          .as("gini2_e6"))
  }

  val qEvalAucOracle: String =
    """WITH s AS (SELECT lang,
        len(string_split(text, ' '))::BIGINT AS n_words,
        list_sum(list_transform(string_split(text, ' '), w ->
          ('0x' || substr(md5(w), 1, 6))::BIGINT % 4096 % 101 - 50
        ))::BIGINT AS raw_score
      FROM documents),
      cell AS (SELECT raw_score * 10000 // (n_words * 50) AS sc,
          sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT np,
          sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END)::BIGINT nn
        FROM s GROUP BY 1),
      cum AS (SELECT sc, np, nn,
          sum(nn) OVER (ORDER BY sc) - nn AS cn FROM cell),
      u AS (SELECT sum(np)::HUGEINT n_pos, sum(nn)::HUGEINT n_neg,
          sum(np::HUGEINT * (2 * cn::HUGEINT + nn))::HUGEINT u2
        FROM cum)
      SELECT n_pos::BIGINT n_pos, n_neg::BIGINT n_neg,
        u2::BIGINT u2,
        (u2 * 1000000 // (n_pos * n_neg * 2))::BIGINT auc_e6,
        (u2 * 1000000 // (n_pos * n_neg) - 1000000)::BIGINT gini2_e6
      FROM u"""

  // ---------- isotonic calibration (PAV via the minimax identity) ----------
  /** Isotonic regression of the observed `lang = 'en'` rate on the
    * classifier margin bins — the calibration map a production scorer
    * actually ships (monotone by construction, unlike the raw
    * reliability table of [[qQualityCalibration]]). The sequential
    * pool-adjacent-violators algorithm is replaced by its closed-form
    * minimax identity — ŷ_i = max_{j≤i} min_{k≥i} wmean(y_j..y_k) —
    * which is order-free and therefore distributes: after ONE fact-
    * scale aggregate to the 10 margin bins, all candidate intervals
    * (≤ 55) materialize from cumulative sums and the min/max resolve
    * by ANTI-JOINS under EXACT fraction comparison (cross-multiplied
    * in DECIMAL(38,0) — no float ordering anywhere), ties to the
    * shortest interval.
    *
    * Output: per bin the raw and isotonic en-rates plus the fitted
    * fraction (num, den) — exact integers; rates are floor-e6
    * divisions (BIGINT-safe to ~10¹² docs; past that the e6 emit also
    * moves to DECIMAL).
    *
    * Scale shape: one combine-fed 10-row aggregate from the corpus;
    * everything after is constant-size (10 bins ⇒ 55 intervals).
    */
  def qCalibrateIsotonic(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val bins = TextAnalysis.scoredDocs(spark, dir)
      .withColumn("bin",
        expr("greatest(0L, least(9L, (margin_e4 + 10000) DIV 2000))"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"))
      .stageCheckpoint() // ≤ 10 rows: the whole model state
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bins
      .withColumn("cd", sum(col("n_docs")).over(w))
      .withColumn("ce", sum(col("n_en")).over(w))
      .stageCheckpoint()
    // candidate intervals j..k with their weighted-mean fraction
    val ends = cum.select(col("bin").as("k"), col("cd").as("cdk"),
      col("ce").as("cek"))
    val starts = cum.select((col("bin") + 1L).as("j"),
        col("cd").as("cdj"), col("ce").as("cej"))
      .unionByName(cum.sparkSession.range(1).select(lit(0L).as("j"),
        lit(0L).as("cdj"), lit(0L).as("cej")))
    val iv = ends.join(broadcast(starts), col("k") >= col("j"))
      .select(col("j"), col("k"),
        (col("cek") - col("cej")).cast(dec).as("num"),
        (col("cdk") - col("cdj")).cast(dec).as("den"))
    // m(i,j) = min over k ≥ i of the interval mean (tie: smallest k)
    val cand = cum.select(col("bin").as("i"))
      .join(broadcast(iv), col("j") <= col("i") && col("k") >= col("i"))
    val mins = cand.alias("a").join(cand.alias("b"),
        col("a.i") === col("b.i") && col("a.j") === col("b.j") &&
          (col("b.num") * col("a.den") < col("a.num") * col("b.den") ||
            (col("b.num") * col("a.den") === col("a.num") * col("b.den")
              && col("b.k") < col("a.k"))),
        "left_anti")
    // iso(i) = max over j of m(i,j) (tie: smallest j)
    val iso = mins.alias("a").join(mins.alias("b"),
        col("a.i") === col("b.i") &&
          (col("b.num") * col("a.den") > col("a.num") * col("b.den") ||
            (col("b.num") * col("a.den") === col("a.num") * col("b.den")
              && col("b.j") < col("a.j"))),
        "left_anti")
      .select(col("i").as("bin"), col("num").as("iso_num"),
        col("den").as("iso_den"))
    bins.join(broadcast(iso), "bin")
      .select(col("bin"), col("n_docs"), col("n_en"),
        expr("n_en * 1000000 DIV n_docs").as("raw_rate_e6"),
        expr("CAST(iso_num AS BIGINT)").as("iso_num"),
        expr("CAST(iso_den AS BIGINT)").as("iso_den"),
        expr("CAST(iso_num * 1000000 DIV iso_den AS BIGINT)")
          .as("iso_rate_e6"))
      .orderBy(col("bin"))
  }

  val qCalibrateIsotonicOracle: String =
    """WITH s AS (SELECT lang,
        len(string_split(text, ' '))::BIGINT AS n_words,
        list_sum(list_transform(string_split(text, ' '), w ->
          ('0x' || substr(md5(w), 1, 6))::BIGINT % 4096 % 101 - 50
        ))::BIGINT AS raw_score
      FROM documents),
      b AS (SELECT greatest(0, least(9,
            (raw_score * 10000 // (n_words * 50) + 10000) // 2000)) AS bin,
          (lang = 'en')::INT en FROM s),
      bins AS (SELECT bin, count(*)::BIGINT n_docs,
          sum(en)::BIGINT n_en FROM b GROUP BY 1),
      cum AS (SELECT bin, sum(n_docs) OVER (ORDER BY bin)::BIGINT cd,
          sum(n_en) OVER (ORDER BY bin)::BIGINT ce FROM bins),
      iv AS (SELECT j.j, k.bin AS k,
          (k.ce - j.cej)::HUGEINT num, (k.cd - j.cdj)::HUGEINT den
        FROM cum k JOIN (
          SELECT bin + 1 AS j, cd AS cdj, ce AS cej FROM cum
          UNION ALL SELECT 0, 0, 0) j ON k.bin >= j.j),
      cand AS (SELECT i.bin AS i, iv.* FROM cum i
        JOIN iv ON iv.j <= i.bin AND iv.k >= i.bin),
      mins AS (SELECT * FROM cand a WHERE NOT EXISTS (
        SELECT 1 FROM cand b WHERE b.i = a.i AND b.j = a.j AND
          (b.num * a.den < a.num * b.den OR
            (b.num * a.den = a.num * b.den AND b.k < a.k)))),
      iso AS (SELECT * FROM mins a WHERE NOT EXISTS (
        SELECT 1 FROM mins b WHERE b.i = a.i AND
          (b.num * a.den > a.num * b.den OR
            (b.num * a.den = a.num * b.den AND b.j < a.j))))
      SELECT bins.bin, bins.n_docs, bins.n_en,
        bins.n_en * 1000000 // bins.n_docs AS raw_rate_e6,
        iso.num::BIGINT iso_num, iso.den::BIGINT iso_den,
        (iso.num * 1000000 // iso.den)::BIGINT iso_rate_e6
      FROM bins JOIN iso ON iso.i = bins.bin
      ORDER BY bins.bin"""

  // ---------- Spearman rank correlation (tie-aware, exact ranks) ----------
  /** Spearman ρ between the classifier margin and document length —
    * "is the quality score just a length proxy?", the rank-based
    * dependence check that survives any monotone transform of either
    * variable. Tie-aware: each value gets the AVERAGE rank of its tie
    * group, computed WITHOUT a corpus-scale sort: both variables live
    * on bounded domains (margin_e4 ∈ [−10⁴,10⁴]; length caps at the
    * longest document), so cumulative counts over the per-value cell
    * tables (eager-localCheckpoint'd, the [[qEvalAuc]] discipline)
    * give rank2(v) = 2·cum_<(v) + n_v + 1 — DOUBLED average ranks, so
    * the ½ stays integral — and broadcast-join back to the corpus
    * scan. ρ is then Pearson on rank2 (affine-invariant, the factor 2
    * cancels): five DECIMAL(38,0) moments in ONE combine-fed pass,
    * numerator and the two variance legs exact, one double division,
    * rounded 1e-6.
    *
    * Scale shape: two bounded-domain cell aggregates + two broadcast
    * joins + one moment aggregate — no global sort ever touches the
    * fact, which is the entire trick of distributed rank statistics.
    */
  def qEvalSpearman(spark: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val base = TextAnalysis.scoredDocs(spark, dir)
      .select(col("doc_id"), col("margin_e4").as("m"), col("n_words"))
    def rank2Map(df: DataFrame, v: String): DataFrame = {
      val cells = df.groupBy(col(v)).agg(count(lit(1)).as("nv"))
        .stageCheckpoint() // bounded value domain
      val w = Window.orderBy(col(v))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells.withColumn("cum", sum(col("nv")).over(w))
        .select(col(v),
          (lit(2L) * (col("cum") - col("nv")) + col("nv") + 1L)
            .as(s"r_$v"))
        .stageCheckpoint()
    }
    val ranked = base
      .join(broadcast(rank2Map(base, "m")), "m")
      .join(broadcast(rank2Map(base, "n_words")), "n_words")
    ranked.agg(count(lit(1)).as("n"),
        sum(col("r_m").cast(dec)).as("sr"),
        sum(col("r_n_words").cast(dec)).as("ss"),
        // cast EACH FACTOR before multiplying: doubled ranks reach 2n+1,
        // so a BIGINT product 4n² overflows past n ≈ 1.5·10⁹ docs — the
        // DECIMAL(38,0) product never does
        sum(col("r_m").cast(dec) * col("r_m").cast(dec)).as("srr"),
        sum(col("r_n_words").cast(dec) * col("r_n_words").cast(dec))
          .as("sss"),
        sum(col("r_m").cast(dec) * col("r_n_words").cast(dec)).as("srs"))
      .select(col("n"),
        (col("n").cast(dec) * col("srs") - col("sr") * col("ss"))
          .cast("double").as("num"),
        (col("n").cast(dec) * col("srr") - col("sr") * col("sr"))
          .cast("double").as("varr"),
        (col("n").cast(dec) * col("sss") - col("ss") * col("ss"))
          .cast("double").as("vars"))
      .select(col("n"),
        round(col("num") / sqrt(col("varr") * col("vars")), 6)
          .as("spearman6"))
  }

  val qEvalSpearmanOracle: String =
    """WITH s AS (SELECT doc_id,
        len(string_split(text, ' '))::BIGINT AS n_words,
        list_sum(list_transform(string_split(text, ' '), w ->
          ('0x' || substr(md5(w), 1, 6))::BIGINT % 4096 % 101 - 50
        ))::BIGINT AS raw_score
      FROM documents),
      b AS (SELECT doc_id, raw_score * 10000 // (n_words * 50) AS m,
        n_words FROM s),
      cm AS (SELECT m, count(*)::BIGINT nv FROM b GROUP BY 1),
      rm AS (SELECT m, 2 * (sum(nv) OVER (ORDER BY m) - nv) + nv + 1
          AS r_m FROM cm),
      cw AS (SELECT n_words, count(*)::BIGINT nv FROM b GROUP BY 1),
      rw AS (SELECT n_words, 2 * (sum(nv) OVER (ORDER BY n_words) - nv)
          + nv + 1 AS r_w FROM cw),
      j AS (SELECT r_m::HUGEINT r, r_w::HUGEINT w FROM b
        JOIN rm USING (m) JOIN rw USING (n_words)),
      mm AS (SELECT count(*)::HUGEINT n, sum(r) sr, sum(w) ss,
          sum(r * r) srr, sum(w * w) sss, sum(r * w) srs FROM j)
      SELECT n::BIGINT n,
        round((n * srs - sr * ss)::DOUBLE /
          sqrt((n * srr - sr * sr)::DOUBLE * (n * sss - ss * ss)::DOUBLE),
          6) AS spearman6
      FROM mm"""

  val registry: Seq[GraftQuery] = Seq(
    GraftQuery("q_eval_auc", qEvalAuc, qEvalAucOracle),
    GraftQuery("q_eval_spearman", qEvalSpearman, qEvalSpearmanOracle),
    GraftQuery("q_calibrate_isotonic", qCalibrateIsotonic, qCalibrateIsotonicOracle),
    GraftQuery("q_eval_bleu", qEvalBleu, qEvalBleuOracle),
    GraftQuery("q_text_zipf", qTextZipf, qTextZipfOracle),
    GraftQuery("q_stats_mutualinfo", qStatsMutualinfo, qStatsMutualinfoOracle),
    GraftQuery("q_stats_chisq", qStatsChisq, qStatsChisqOracle),
    GraftQuery("q_label_kappa", qLabelKappa, qLabelKappaOracle),
    GraftQuery("q_langid_eval", qLangidEval, qLangidEvalOracle),
    GraftQuery("q_quality_calibration", qQualityCalibration, qQualityCalibrationOracle),
    GraftQuery("q_text_lm_heldout", qTextLmHeldout, qTextLmHeldoutOracle),
    GraftQuery("q_text_kneserney", qTextKneserNey, qTextKneserNeyOracle),
    GraftQuery("q_text_jsd", qTextJsd, qTextJsdOracle),
    GraftQuery("q_text_burstiness", qTextBurstiness, qTextBurstinessOracle),
  )
}
