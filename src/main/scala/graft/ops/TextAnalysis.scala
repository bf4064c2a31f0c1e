package graft.ops

import Checkpoints._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.GraftQuery
import graft.functions.RollingHash

/** Text-analysis operators for training-data pipelines: language ID,
  * quality scoring, token counting, document fingerprinting.
  *
  * All computations are pure integer/ratio arithmetic over string
  * functions present in both engines, so the DuckDB oracles reproduce them
  * bit-for-bit. Everything is a narrow scan → project / partial-agg
  * pipeline: no shuffle except the final small group-bys.
  */
object TextAnalysis {

  /** Hashed-classifier document scores shared across the quality family
    * (classifier, calibration, AUC, Spearman, isotonic — and
    * Similarity's cross-modal cluster profile): (doc_id, lang, en,
    * n_words, raw_score, margin_e4). The md5-per-word scoring scan is
    * the family's dominant cost and each consumer was re-running it
    * (~0.5 s apiece at sf0.1); one build-once fixture per
    * (session, dir, content) — the [[graft.ops.GraphOps]] LPA-labels
    * discipline — pays it once. Every consumer's ORACLE still
    * recomputes the scores from raw text, so per-query round-trip
    * fidelity is unchanged. At production scale this is exactly the
    * scored-documents table a pipeline materializes once and reads
    * everywhere.
    */
  private var scoredSlot: (String, DataFrame) = null

  private[ops] def scoredDocs(spark: SparkSession, dir: String): DataFrame =
    synchronized {
      val k = SessionFixtures.key(spark, dir)
      if (scoredSlot != null && scoredSlot._1 == k) scoredSlot._2
      else {
        if (scoredSlot != null) Dedup.releaseCheckpoint(scoredSlot._2)
        val words = split(col("text"), " ", -1)
        val d = Tables.documents(spark, dir)
          .withColumn("n_words", size(words).cast("long"))
          .withColumn("raw_score", aggregate(
            transform(words, w =>
              pmod(conv(substring(md5(w), 1, 6), 16, 10).cast("long"),
                lit(4096L)) % 101 - 50),
            lit(0L), (acc, x) => acc + x))
          .withColumn("margin_e4",
            expr("raw_score * 10000 DIV (n_words * 50)"))
          .select(col("doc_id"), col("lang"),
            (col("lang") === "en").as("en"), col("n_words"),
            col("raw_score"), col("margin_e4"))
          .stageCheckpoint()
        scoredSlot = (k, d)
        SessionFixtures.pin("text_scored_docs", d)
        d
      }
    }

  /** Marker vocabulary for the n-gram-frequency language heuristic. The
    * testdata vocabulary is shared across languages with per-language
    * frequency bias, so markers are the empirically most-biased words.
    */
  val markers: Seq[(String, String)] = Seq(
    "de" -> "customer", "de" -> "join", "de" -> "column",
    "en" -> "hash", "en" -> "order", "en" -> "table",
    "es" -> "slow", "es" -> "agg", "es" -> "vector",
    "fr" -> "scan", "fr" -> "data", "fr" -> "query",
    "zh" -> "small", "zh" -> "row", "zh" -> "value",
  )

  private def markerDf(spark: SparkSession): DataFrame = {
    val rows = markers.map { case (l, w) => Row(l, w) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("m_lang", StringType, nullable = false),
        StructField("m_word", StringType, nullable = false))))
  }

  /** SQL VALUES list for the oracle, kept in lock-step with [[markers]]. */
  private[ops] def markerValues: String =
    markers.map { case (l, w) => s"('$l','$w')" }.mkString(", ")

  // ---------- language identification (marker-frequency heuristic) ----------
  def qTextLangid(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tokens = docs.select(col("doc_id"), col("lang"),
      explode(split(col("text"), " ")).as("w"))
    val scores = tokens
      .join(broadcast(markerDf(spark)), col("w") === col("m_word"))
      .groupBy(col("doc_id"), col("m_lang"))
      .agg(count(lit(1)).as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("m_lang").asc)
    val best = scores
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("m_lang").as("pred_lang"), col("score"))
    docs.select(col("doc_id"), col("lang"))
      .join(best, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("lang"),
        coalesce(col("pred_lang"), lit("unknown")).as("pred_lang"),
        coalesce(col("score"), lit(0L)).as("score"))
      .orderBy(col("doc_id"))
  }

  def qTextLangidOracle: String =
    s"""WITH m(m_lang, m_word) AS (VALUES $markerValues),
      tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) w
        FROM documents),
      sc AS (SELECT doc_id, m_lang, count(*) score FROM tok
        JOIN m ON w = m_word GROUP BY doc_id, m_lang),
      best AS (SELECT doc_id, m_lang, score FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY score DESC, m_lang ASC) rn FROM sc) t WHERE rn = 1)
      SELECT d.doc_id, d.lang,
        coalesce(best.m_lang, 'unknown') AS pred_lang,
        coalesce(best.score, 0) AS score
      FROM documents d LEFT JOIN best ON d.doc_id = best.doc_id
      ORDER BY d.doc_id"""

  // ---------- quality scoring ----------
  def qTextQuality(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .withColumn("n_chars", length(col("text")))
      .withColumn("punct_ratio",
        round((length(col("text")) -
          length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("double") /
          length(col("text")), 6))
      .withColumn("stop_ratio",
        round(size(filter(split(col("text"), " "),
          t => t.isin("the", "a", "of", "and", "to"))).cast("double") /
          col("n_tokens"), 6))
      .withColumn("avg_token_len",
        round((length(regexp_replace(col("text"), " ", ""))).cast("double") /
          col("n_tokens"), 6))
      .withColumn("quality_score",
        round(least(col("n_tokens").cast("double"), lit(200.0)) / 200.0 *
          (lit(1.0) - col("punct_ratio")), 6))
      .select(col("doc_id"), col("n_tokens"), col("n_chars"), col("punct_ratio"),
        col("stop_ratio"), col("avg_token_len"), col("quality_score"))
      .orderBy(col("doc_id"))

  val qTextQualityOracle: String =
    """SELECT doc_id,
      len(string_split(text, ' ')) AS n_tokens,
      length(text) AS n_chars,
      round((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
        * 1.0 / length(text), 6) AS punct_ratio,
      round(len(list_filter(string_split(text, ' '),
        w -> w IN ('the','a','of','and','to')))
        * 1.0 / len(string_split(text, ' ')), 6) AS stop_ratio,
      round(length(replace(text, ' ', ''))
        * 1.0 / len(string_split(text, ' ')), 6) AS avg_token_len,
      round(least(len(string_split(text, ' ')) * 1.0, 200.0) / 200.0 *
        (1.0 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
          * 1.0 / length(text)), 6) AS quality_score
      FROM documents ORDER BY doc_id"""

  // ---------- token counting (whitespace + BPE-ish regex) ----------
  def qTextTokens(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("ws_tokens", size(split(col("text"), " ")))
      .withColumn("bpe_tokens",
        size(regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0))))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("total_ws_tokens"),
        sum(col("bpe_tokens")).as("total_bpe_tokens"),
        round(avg(col("n_chars")), 4).as("avg_chars"))
      .orderBy(col("source"))

  val qTextTokensOracle: String =
    """SELECT source, count(*) AS n_docs,
      sum(len(string_split(text, ' ')))::BIGINT AS total_ws_tokens,
      sum(len(regexp_extract_all(text, '\w+|[^\w\s]')))::BIGINT AS total_bpe_tokens,
      round(avg(n_chars), 4) AS avg_chars
      FROM documents GROUP BY source ORDER BY source"""

  // ---------- document fingerprinting ----------
  /** Two fingerprints: portable md5, and a polynomial rolling hash
    * implemented as a native codegen'd Catalyst expression
    * ([[graft.functions.RollingHash]]), oracle-checked against a DuckDB
    * `list_reduce` fold over the same code points.
    */
  def qTextFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        md5(col("text")).as("md5_fp"),
        RollingHash.rollingHash(col("text")).as("roll_fp"))
      .orderBy(col("doc_id"))

  val qTextFingerprintOracle: String =
    """SELECT doc_id, md5(text) AS md5_fp,
      list_reduce(list_transform(string_split(text, ''), c -> ascii(c)::BIGINT),
        (h, c) -> (h * 31 + c) % 1000000007) AS roll_fp
      FROM documents ORDER BY doc_id"""

  // ---------- TF-IDF top terms per document ----------
  /** Classic tf-idf over whitespace tokens: tf = in-doc occurrences,
    * idf = ln(N / df) with df = number of docs containing the term.
    * Top-3 terms per doc, ties broken lexically. Two shuffles (doc-term
    * aggregation, term df) — both on high-cardinality keys, partial-agg
    * friendly.
    */
  def qTextTfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = docs.count() // deterministic scalar; small metadata count
    val terms = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(df, "term")
      .withColumn("score",
        round(col("tf") * log(lit(n.toDouble) / col("df")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("term"), col("score"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  val qTextTfidfOracle: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) tf FROM t GROUP BY doc_id, term),
      idf AS (SELECT term, count(DISTINCT doc_id) df FROM tf GROUP BY term),
      n AS (SELECT count(*) n FROM documents),
      scored AS (SELECT doc_id, term,
        round(tf * ln(n.n * 1.0 / df), 6) AS score FROM tf JOIN idf USING (term), n)
      SELECT doc_id, rnk, term, score FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY score DESC, term ASC) rnk FROM scored) x
      WHERE rnk <= 3 ORDER BY doc_id, rnk"""

  // ---------- document chunking (token windows with overlap) ----------
  /** Fixed-size token chunks with overlap — the unit a training pipeline
    * actually feeds downstream (chunk size 50, stride 40). Emits one row
    * per chunk with its token count and a portable md5 fingerprint.
    * Narrow: per-doc array ops + explode, no shuffle before the output
    * ordering.
    */
  def qTextChunks(spark: SparkSession, dir: String): DataFrame = {
    val chunkSize = 50
    val stride = 40
    Tables.documents(spark, dir)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n", size(col("ws")))
      // chunk starts: 0, stride, 2*stride, ... while start < n
      .withColumn("starts",
        expr(s"sequence(0, greatest(0, CAST(ceil((n - 1) / $stride.0) AS INT) * $stride), $stride)"))
      .withColumn("starts", expr("filter(starts, s -> s < n)"))
      .select(col("doc_id"), col("ws"), col("n"),
        posexplode(col("starts")).as(Seq("chunk_idx", "start")))
      .withColumn("chunk_tokens", expr(s"slice(ws, start + 1, $chunkSize)"))
      .select(
        col("doc_id"), col("chunk_idx"),
        size(col("chunk_tokens")).as("chunk_len"),
        md5(concat_ws(" ", col("chunk_tokens"))).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  val qTextChunksOracle: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') ws,
        len(string_split(text, ' ')) n FROM documents),
      c AS (SELECT doc_id, ws, n,
        unnest([s for s in range(0, n, 40)]) AS start,
        generate_subscripts([s for s in range(0, n, 40)], 1) - 1 AS chunk_idx
        FROM d)
      SELECT doc_id, chunk_idx,
        len(ws[start + 1 : start + 50]) AS chunk_len,
        md5(array_to_string(ws[start + 1 : start + 50], ' ')) AS chunk_md5
      FROM c ORDER BY doc_id, chunk_idx"""

  // ---------- the capstone: a full curation pipeline in one query ----------
  /** What a training-data pipeline runs end-to-end: quality gate →
    * near-dup removal (keep smallest of each verified pair) → corpus
    * stats per language. Composes the quality metrics, the MinHash+LSH
    * verified pair set, and survivor selection; the oracle rebuilds the
    * identical pipeline in SQL.
    */
  def qPipelineCurate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("n_tokens", size(split(col("text"), " ")))
      .withColumn("punct_ratio",
        (length(col("text")) -
          length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("double") /
          length(col("text")))
    val quality = docs.filter(col("n_tokens") >= 30 && col("punct_ratio") <= 0.05)
    val drops = Dedup.qDedupMinhash(spark, dir)
      .select(col("d2").as("doc_id")).distinct()
    quality.join(drops, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        round(avg(col("n_chars")), 4).as("avg_chars"))
      .orderBy(col("lang"))
  }

  val qPipelineCurateOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
      sh AS (SELECT doc_id, list_distinct(CASE WHEN len(ws) < 3
          THEN []::VARCHAR[]
          ELSE [ws[i]||' '||ws[i+1]||' '||ws[i+2] for i in range(1, len(ws)-1)]
        END) AS shingles FROM t),
      ex AS (SELECT doc_id, unnest(shingles) s FROM sh),
      inter AS (SELECT a.doc_id d1, b.doc_id d2, count(*) i FROM ex a
        JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
      card AS (SELECT doc_id, len(shingles) n FROM sh),
      drops AS (SELECT DISTINCT d2 AS doc_id FROM inter
        JOIN card ca ON ca.doc_id = d1 JOIN card cb ON cb.doc_id = d2
        WHERE i * 1.0 / (ca.n + cb.n - i) >= 0.8),
      q AS (SELECT * FROM documents
        WHERE len(string_split(text, ' ')) >= 30
          AND (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))
            * 1.0 / length(text) <= 0.05)
      SELECT lang, count(*) AS n_docs,
        sum(len(string_split(text, ' ')))::BIGINT AS total_tokens,
        round(avg(n_chars), 4) AS avg_chars
      FROM q WHERE doc_id NOT IN (SELECT doc_id FROM drops)
      GROUP BY lang ORDER BY lang"""

  // ---------- shingle table function (custom Generator / UDTF) ----------
  /** The generator surface: one output row per (doc, shingle position)
    * straight from the text via [[graft.functions.ShingleGenerator]] — no
    * intermediate array per document. Aggregated to per-doc shingle stats
    * so the output stays compact; the oracle rebuilds the same rows from
    * the list-comprehension shingling.
    */
  def qShingleGenerator(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.ShingleGenerator.shingleRows(col("text"), 3).as(Seq("pos", "shingle")))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        min(col("shingle")).as("first_shingle"),
        max(length(col("shingle"))).as("max_len"))
      .orderBy(col("doc_id"))

  val qShingleGeneratorOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
      sh AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(ws) < 3
          THEN []::VARCHAR[]
          ELSE [ws[i]||' '||ws[i+1]||' '||ws[i+2] for i in range(1, len(ws)-1)]
        END)) AS shingle FROM t)
      SELECT doc_id, count(*) AS n_shingles,
        min(shingle) AS first_shingle,
        max(length(shingle))::INT AS max_len
      FROM sh GROUP BY doc_id ORDER BY doc_id"""

  // ---------- benchmark decontamination ----------
  /** Fixed phrase list standing in for a benchmark eval set (the real
    * pipeline would load it from the eval suite's test split).
    */
  val contaminationPhrases: Seq[String] = Seq(
    "key agg row scan", "order data column", "slow filter value",
    "hash table join", "window spark batch")

  /** Eval-set decontamination: drop every document containing any
    * benchmark phrase verbatim. The phrase list is tiny and the match is
    * non-equi (`instr > 0`), so the right plan is a broadcast
    * nested-loop LEFT ANTI join — each scan task probes the in-memory
    * phrase list, no shuffle of the corpus; output is the per-language
    * clean-set report.
    */
  def qDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val phrases = spark.createDataFrame(
      spark.sparkContext.parallelize(contaminationPhrases.map(Row(_)), 1),
      StructType(Seq(StructField("phrase", StringType, nullable = false))))
    Tables.documents(spark, dir)
      .join(broadcast(phrases), instr(col("text"), col("phrase")) > 0,
        "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_clean"), sum(col("n_chars")).as("chars_clean"))
      .orderBy(col("lang"))
  }

  private def phrasesValuesSql: String =
    contaminationPhrases.map(p => s"('$p')").mkString(", ")

  def qDecontaminateOracle: String =
    s"""SELECT lang, count(*) AS n_clean, sum(n_chars)::BIGINT AS chars_clean
      FROM documents d
      WHERE NOT EXISTS (SELECT 1 FROM (VALUES $phrasesValuesSql) p(phrase)
        WHERE contains(d.text, p.phrase))
      GROUP BY lang ORDER BY lang"""

  // ---------- n-gram overlap decontamination (bucketed equi-join) ----------
  /** Benchmark decontamination the way large-scale pipelines actually run
    * it (the "13-gram overlap" method of GPT-3's appendix / PaLM): a
    * document is contaminated if it shares ANY word n-gram with the eval
    * set — here a deterministic held-out sample (`doc_id % 97 = 0`)
    * standing in for the benchmark corpus. Unlike [[qDecontaminate]]'s
    * phrase scan (a broadcast nested loop over a small denylist — right
    * for dozens of phrases, wrong for millions of benchmark n-grams),
    * this EXPLODES both sides to n-gram keys and equi-joins: the shuffle
    * buckets on the n-gram, so at 100 TB the work is one hash-partitioned
    * pass with no per-phrase rescans. The benchmark side is distinct-ed
    * (and broadcast when it fits); the corpus side semi-joins then
    * dedups doc ids before the per-language rollup. In production the
    * join key would be `xxhash64(ngram)` to cut shuffle width — string
    * keys kept here so the DuckDB oracle joins on identical values.
    * n = 4 (not the production 8-13) because the synthetic corpus'
    * shared small vocabulary makes 4 the size where overlaps actually
    * occur — 8 at both gate SFs, exercising the hit path, not just the
    * empty join (measured; 8-grams collide zero times here).
    */
  def qDecontaminateNgram(spark: SparkSession, dir: String): DataFrame = {
    val n = 4
    val grams = expr(
      s"transform(sequence(0, size(ws) - $n), i -> array_join(slice(ws, i + 1, $n), ' '))")
    val docs = Tables.documents(spark, dir)
      .withColumn("ws", split(col("text"), " "))
    val bench = docs.filter(col("doc_id") % 97 === 0 && size(col("ws")) >= n)
      .select(explode(grams).as("ngram"))
      .distinct()
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    val contaminated = corpus.filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(grams).as("ngram"))
      .join(bench, Seq("ngram"), "left_semi")
      .select(col("doc_id")).distinct()
      .withColumn("hit", lit(1L))
    corpus.join(contaminated, Seq("doc_id"), "left")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col("hit"), lit(0L))).as("n_contaminated"),
        sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_clean"))
      .orderBy(col("lang"))
  }

  val qDecontaminateNgramOracle: String =
    """WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
        FROM documents),
      g AS (SELECT doc_id, lang,
          [array_to_string(ws[i:i+3], ' ')
            for i in range(1, greatest(len(ws) - 2, 1))] AS ngrams
        FROM d),
      bench AS (SELECT DISTINCT unnest(ngrams) AS ngram FROM g
        WHERE doc_id % 97 = 0),
      corpus AS (SELECT doc_id, lang FROM d WHERE doc_id % 97 <> 0),
      cont AS (SELECT DISTINCT doc_id FROM (
          SELECT doc_id, unnest(ngrams) AS ngram FROM g WHERE doc_id % 97 <> 0) x
        WHERE ngram IN (SELECT ngram FROM bench))
      SELECT lang, count(*) AS n_docs,
        sum(CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
          AS n_contaminated,
        sum(CASE WHEN cont.doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_clean
      FROM corpus LEFT JOIN cont USING (doc_id)
      GROUP BY lang ORDER BY lang"""

  // ---------- denylist redaction (PII-scrub shape) ----------
  /** Denylist scrubbing, the shape of a PII pass over training text:
    * word-boundary regexp rewrite of the deny terms to a fixed tag, plus
    * the per-document audit numbers a compliance pipeline wants (how many
    * hits, how much of the doc was redacted). Pure scan-side projection —
    * codegen'd regexp + a token-level count, no shuffle except the final
    * order; at 100 TB this runs at read throughput. The deny list is a
    * literal here; a real pipeline broadcasts it into the same pattern.
    */
  private val denyTerms = Seq("customer", "key", "value")

  def qTextRedact(spark: SparkSession, dir: String): DataFrame = {
    val pattern = denyTerms.mkString("\\b(", "|", ")\\b")
    Tables.documents(spark, dir)
      // count with the SAME regexp that rewrites: a token-level count would
      // disagree with the substitution on punctuated text ("customer," hits
      // the \b pattern but is not a space-split token equal to the term)
      .withColumn("n_redacted",
        regexp_count(col("text"), lit(pattern)).cast("long"))
      .withColumn("redacted", regexp_replace(col("text"), pattern, "[X]"))
      .withColumn("red_ratio",
        round(col("n_redacted").cast("double") /
          size(split(col("text"), " ", -1)), 6))
      .select(col("doc_id"), col("n_redacted"), col("red_ratio"),
        substring(col("redacted"), 1, 80).as("redacted_head"))
      .filter(col("n_redacted") > 0)
      .orderBy(col("doc_id"))
  }

  /** DuckDB regexp_replace needs the 'g' flag to match Spark's
    * replace-all semantics; both engines use word-boundary `\b`, and both
    * count hits with the same regexp that performs the rewrite so the audit
    * numbers agree with the substitutions even on punctuated text.
    */
  val qTextRedactOracle: String = {
    val pattern = denyTerms.mkString("\\b(", "|", ")\\b")
    s"""WITH t AS (SELECT doc_id, text,
        len(regexp_extract_all(text, '$pattern'))::BIGINT AS n_redacted
        FROM documents)
      SELECT doc_id, n_redacted,
        round(n_redacted / len(string_split(text, ' ')), 6) AS red_ratio,
        substring(regexp_replace(text, '$pattern', '[X]', 'g'), 1, 80)
          AS redacted_head
      FROM t WHERE n_redacted > 0 ORDER BY doc_id"""
  }

  // ---------- structured PII redaction (typed patterns, per-type audit) ----------
  /** Structured-pattern PII sweep — the compliance stage
    * [[qTextRedact]]'s denylist cannot express: emails, phone numbers,
    * IPv4 addresses, and SSN-shaped ID numbers detected by regex, each
    * masked with a typed tag and counted per type (the audit a privacy
    * review asks for: "how many of WHICH identifier per document").
    * Masking is SEQUENTIAL in a fixed order (email → id → phone → ip) so
    * the result is deterministic even where classes could theoretically
    * abut. Pure scan-side codegen'd projection — four `regexp_count`s +
    * four `regexp_replace`s, no shuffle except the final order — so at
    * 100 TB this runs at read throughput like every other scan-side
    * text pass.
    *
    * The test corpus contains no digits or `@` (asserted in the spec),
    * so PII is PLANTED deterministically from `doc_id` (email on ÷3,
    * phone on ÷5, IPv4 on ÷7, ID on ÷11, each with boundary-adversarial
    * trailing punctuation); the oracle replays the identical plant from
    * the same formula and runs ITS regex engine over it, so the hash
    * match also certifies Java-regex ≡ RE2 agreement on these patterns.
    */
  private val PiiEmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PiiPhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  private val PiiIdRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  private val PiiIpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  def qTextPii(spark: SparkSession, dir: String): DataFrame = {
    val planted = Tables.documents(spark, dir)
      // documents is a single parquet file (one scan split), and this
      // query is per-doc regex-heavy — 8 regexp ops per row ran on ONE
      // core (graft.obs.Probe, r18: two ~0.5 s one-task jobs of a 1.1 s floor).
      // The qSqlKernels REPARTITION-hint discipline, stated there for
      // the same table; row-level projection + filter, so the result
      // is partition-independent.
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("t", concat(col("text"),
        when(col("doc_id") % 3 === 0, concat(lit(" reach me at user"),
          col("doc_id"), lit("@mail.example.org,"))).otherwise(""),
        when(col("doc_id") % 5 === 0, concat(lit(" tel 415-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit("."))).otherwise(""),
        when(col("doc_id") % 7 === 0, concat(lit(" host 10."),
          col("doc_id") % 256, lit(".0."), (col("doc_id") * 7) % 256,
          lit(" up"))).otherwise(""),
        when(col("doc_id") % 11 === 0, concat(lit(" id 078-05-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(";"))).otherwise("")))
    piiScan(planted)
      .filter(col("n_email") + col("n_id") + col("n_phone") + col("n_ip") > 0)
      .select(col("doc_id"), col("n_email"), col("n_phone"), col("n_ip"),
        col("n_id"), expr("right(masked, 80)").as("masked_tail"))
      .orderBy(col("doc_id"))
  }

  /** The regex layer of [[qTextPii]] over a `t` text column: per-type
    * counts on the raw text plus the sequential typed mask. Factored out
    * so the adversarial boundary spec can drive it on crafted strings.
    */
  private[ops] def piiScan(df: DataFrame): DataFrame = df
    .withColumn("n_email", regexp_count(col("t"), lit(PiiEmailRe)).cast("long"))
    .withColumn("n_id", regexp_count(col("t"), lit(PiiIdRe)).cast("long"))
    .withColumn("n_phone", regexp_count(col("t"), lit(PiiPhoneRe)).cast("long"))
    .withColumn("n_ip", regexp_count(col("t"), lit(PiiIpRe)).cast("long"))
    .withColumn("masked",
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(col("t"),
        PiiEmailRe, "[EMAIL]"), PiiIdRe, "[ID]"), PiiPhoneRe, "[PHONE]"),
        PiiIpRe, "[IP]"))

  /** Same plant formula, DuckDB's RE2 running the same patterns (single-
    * quoted SQL strings keep the backslashes literal); `'g'` for
    * replace-all parity with Spark.
    */
  val qTextPiiOracle: String =
    s"""WITH p AS (SELECT doc_id, text ||
        CASE WHEN doc_id % 3 = 0 THEN ' reach me at user' || doc_id ||
          '@mail.example.org,' ELSE '' END ||
        CASE WHEN doc_id % 5 = 0 THEN ' tel 415-555-' ||
          lpad((doc_id % 10000)::VARCHAR, 4, '0') || '.' ELSE '' END ||
        CASE WHEN doc_id % 7 = 0 THEN ' host 10.' || (doc_id % 256) ||
          '.0.' || ((doc_id * 7) % 256) || ' up' ELSE '' END ||
        CASE WHEN doc_id % 11 = 0 THEN ' id 078-05-' ||
          lpad((doc_id % 10000)::VARCHAR, 4, '0') || ';' ELSE '' END AS t
        FROM documents),
      c AS (SELECT doc_id, t,
        len(regexp_extract_all(t, '${PiiEmailRe}'))::BIGINT AS n_email,
        len(regexp_extract_all(t, '${PiiIdRe}'))::BIGINT AS n_id,
        len(regexp_extract_all(t, '${PiiPhoneRe}'))::BIGINT AS n_phone,
        len(regexp_extract_all(t, '${PiiIpRe}'))::BIGINT AS n_ip
        FROM p)
      SELECT doc_id, n_email, n_phone, n_ip, n_id,
        right(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
          '${PiiEmailRe}', '[EMAIL]', 'g'),
          '${PiiIdRe}', '[ID]', 'g'),
          '${PiiPhoneRe}', '[PHONE]', 'g'),
          '${PiiIpRe}', '[IP]', 'g'), 80) AS masked_tail
      FROM c WHERE n_email + n_id + n_phone + n_ip > 0
      ORDER BY doc_id"""

  // ---------- robust outlier filtering (median absolute deviation) ----------
  /** ROBUST length-outlier detection per source: median + MAD (median
    * absolute deviation), the estimator that mean/stddev screening
    * (`q_text_quality`) cannot replace — one 10 MB page in a source of
    * tweets drags a mean arbitrarily but moves the median not at all
    * (50% breakdown point). A document is flagged when its deviation
    * exceeds 3×MAD, the standard robust cut. Exactness: lengths are
    * integers, so every median is an integer or an exact .5 half, every
    * deviation an exact binary fraction, and the 3×MAD comparison is
    * decided identically in both engines with no rounding anywhere
    * before the final ratio.
    *
    * Scale note: `percentile` here is the EXACT median (what the oracle
    * can check); it buffers each source's values per group, which is the
    * 100 TB limit of this spelling — a production run swaps in the
    * mergeable t-digest sketch (`q_quantile_sketch`) with identical
    * plumbing, trading exactness for a bounded-memory combine.
    */
  def qQualityMad(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).select(col("source"), col("n_chars"))
    val med = d.groupBy(col("source"))
      .agg(expr("percentile(n_chars, 0.5)").as("med"))
    val dev = d.join(broadcast(med), "source")
      .withColumn("dev", abs(col("n_chars") - col("med")))
    val mad = dev.groupBy(col("source"))
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "source")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        first(col("med")).as("med"),
        first(col("mad")).as("mad"),
        sum(when(col("dev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .withColumn("out_ratio",
        round(col("n_outliers").cast("double") / col("n_docs"), 6))
      .orderBy(col("source"))
  }

  val qQualityMadOracle: String =
    """WITH med AS (SELECT source, median(n_chars) AS med FROM documents
        GROUP BY source),
      dev AS (SELECT d.source, abs(d.n_chars - m.med) AS dev, m.med
        FROM documents d JOIN med m USING (source)),
      mad AS (SELECT source, median(dev) AS mad FROM dev GROUP BY source)
      SELECT d.source, count(*) AS n_docs,
        any_value(d.med) AS med, any_value(ma.mad) AS mad,
        sum(CASE WHEN d.dev > 3.0 * ma.mad THEN 1 ELSE 0 END)::BIGINT
          AS n_outliers,
        round(sum(CASE WHEN d.dev > 3.0 * ma.mad THEN 1 ELSE 0 END)
          / count(*), 6) AS out_ratio
      FROM dev d JOIN mad ma USING (source)
      GROUP BY d.source ORDER BY d.source"""

  // ---------- unigram-LM surprisal (quality scoring by language model) ----------
  /** Corpus-level unigram language model scored back over every document:
    * the standard cheap LM-quality filter (docs with high average
    * surprisal are off-distribution — boilerplate, noise, wrong
    * language). Two narrow aggregations: vocabulary counts (vocab-sized,
    * broadcast back), then a per-doc mean of `-ln p(w)`. The vocabulary
    * table is tiny relative to the corpus at any scale, so the score join
    * is a broadcast — the corpus streams once, no wide shuffle.
    */
  def qTextSurprisal(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("w"))
    val counts = tok.groupBy(col("w"))
      .agg(count(lit(1)).cast("double").as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("tot"))
    tok.join(broadcast(counts), "w")
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(-log(col("cnt") / col("tot"))), 6).as("nll"))
      .orderBy(col("doc_id"))
  }

  val qTextSurprisalOracle: String =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) w
        FROM documents),
      c AS (SELECT w, count(*)::DOUBLE cnt FROM tok GROUP BY w),
      t AS (SELECT sum(cnt) tot FROM c)
      SELECT doc_id, count(*)::BIGINT AS n_tokens,
        round(avg(-ln(cnt / tot)), 6) AS nll
      FROM tok JOIN c USING (w) CROSS JOIN t
      GROUP BY doc_id ORDER BY doc_id"""

  // ---------- repetition signals (Gopher-style quality rules) ----------
  /** The repetition family of quality filters (Rae et al. 2021, "Scaling
    * Language Models" §A1.1): most-frequent-word ratio, distinct-word
    * ratio, and duplicate-bigram fraction. Highly repetitive documents
    * (boilerplate, keyword stuffing, degenerate generations) score high
    * on top_ratio/dup_bigram_ratio and low on distinct_ratio. The
    * distinct/bigram metrics are scan-side array lambdas; the top-word
    * pick is one (doc_id, word) count + a per-doc struct-min — both
    * shuffles are keyed on doc_id, so the plan scales linearly with the
    * corpus.
    */
  def qTextRepetition(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("ws", split(col("text"), " ", -1))
      .withColumn("n", size(col("ws")))
    val arrayMetrics = docs.select(col("doc_id"), col("n"),
      round(size(array_distinct(col("ws"))).cast("double") / col("n"), 6)
        .as("distinct_ratio"),
      round(when(col("n") > 1,
        lit(1.0) - size(array_distinct(expr(
          """transform(sequence(1, size(ws) - 1),
             i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))""")))
          .cast("double") / (col("n") - 1)).otherwise(0.0), 6)
        .as("dup_bigram_ratio"))
    // arg-min by (-count, word): the most frequent word, ties to the
    // lexicographically smallest — deterministic without a window sort
    val top = docs.select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("cnt")).as("neg_cnt"), col("w").as("w"))).as("m"))
      .select(col("doc_id"), col("m.w").as("top_word"),
        (-col("m.neg_cnt")).as("top_cnt"))
    arrayMetrics.join(top, Seq("doc_id"))
      .select(col("doc_id"), col("n").as("n_tokens"), col("top_word"),
        round(col("top_cnt").cast("double") / col("n"), 6).as("top_ratio"),
        col("distinct_ratio"), col("dup_bigram_ratio"))
      .orderBy(col("doc_id"))
  }

  val qTextRepetitionOracle: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
      base AS (SELECT doc_id, len(ws) n,
        round(len(list_distinct(ws))::DOUBLE / len(ws), 6) AS distinct_ratio,
        round(CASE WHEN len(ws) > 1 THEN 1.0 -
          len(list_distinct([ws[i] || ' ' || ws[i+1]
            for i in range(1, len(ws))]))::DOUBLE / (len(ws) - 1)
          ELSE 0.0 END, 6) AS dup_bigram_ratio
        FROM d),
      tok AS (SELECT doc_id, unnest(ws) w FROM d),
      c AS (SELECT doc_id, w, count(*) cnt FROM tok GROUP BY doc_id, w),
      t AS (SELECT doc_id, w AS top_word, cnt AS top_cnt,
        row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, w ASC) rn
        FROM c)
      SELECT b.doc_id, b.n AS n_tokens, t.top_word,
        round(t.top_cnt::DOUBLE / b.n, 6) AS top_ratio,
        b.distinct_ratio, b.dup_bigram_ratio
      FROM base b JOIN t ON b.doc_id = t.doc_id AND t.rn = 1
      ORDER BY b.doc_id"""

  // ---------- vocabulary growth (Heaps-law curve) ----------
  /** Heaps-law curve for the corpus: cumulative 3-gram type count vs
    * cumulative token count at ten corpus checkpoints — the "is this
    * corpus still yielding new vocabulary?" diagnostic that decides
    * whether crawling more of a source is worth it. Checkpoint = decile
    * of doc_id (`doc_id·10 DIV n_docs` — pure integer arithmetic on the
    * dense id space, NO global row-number sort), a type's first
    * appearance is `min(decile)` per shingle (decile is monotone in
    * doc_id, so min-of-decile ≡ decile-of-min-doc), and the running
    * totals are windows over the TEN decile rows (decile-cardinality
    * state, not corpus-cardinality — the one "global" window here is 10
    * rows by construction). Type/token ratio is a fixed-point millionth
    * (integer DIV), so the whole output is integers.
    *
    * Scale shape: one combine-fed shuffle on the shingle key for first
    * occurrences, one on the decile key for token mass; the doc-count
    * single row broadcasts into the scan.
    */
  def qVocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val nd = Tables.documents(spark, dir).agg(count(lit(1)).as("nd"))
    val sh = Tables.documents(spark, dir)
      .withColumn("ws", split(col("text"), " ", -1))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(ws) - 2),
           i -> concat(ws[i - 1], ' ', ws[i], ' ', ws[i + 1]))""")).as("s"))
      .crossJoin(broadcast(nd))
      .withColumn("dec", expr("doc_id * 10 DIV nd"))
    val tokMass = sh.groupBy(col("dec")).agg(count(lit(1)).as("c"))
    val newTypes = sh.groupBy(col("s")).agg(min(col("dec")).as("fd"))
      .groupBy(col("fd")).agg(count(lit(1)).as("nv"))
    val w = Window.orderBy(col("dec"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tokMass.join(newTypes.toDF("dec", "nv"), Seq("dec"), "left_outer")
      .na.fill(0L, Seq("nv"))
      .withColumn("cum_tokens", sum(col("c")).over(w))
      .withColumn("cum_types", sum(col("nv")).over(w))
      .select((col("dec") + 1).as("decile"), col("cum_tokens"),
        col("cum_types"),
        expr("cum_types * 1000000 DIV cum_tokens").as("ttr6"))
      .orderBy(col("decile"))
  }

  val qVocabGrowthOracle: String =
    """WITH nd AS (SELECT count(*) n FROM documents),
      t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
      sh AS (SELECT doc_id,
        unnest([ws[i]||' '||ws[i+1]||' '||ws[i+2]
          for i in range(1, len(ws) - 1)]) s
        FROM t WHERE len(ws) >= 3),
      d AS (SELECT doc_id * 10 // n AS dec, s FROM sh, nd),
      tok AS (SELECT dec, count(*) c FROM d GROUP BY dec),
      fst AS (SELECT s, min(dec) fd FROM d GROUP BY s),
      nt AS (SELECT fd AS dec, count(*) nv FROM fst GROUP BY fd),
      j AS (SELECT tok.dec, c, coalesce(nv, 0) nv
        FROM tok LEFT JOIN nt ON nt.dec = tok.dec),
      cum AS (SELECT dec,
        sum(c) OVER (ORDER BY dec ROWS UNBOUNDED PRECEDING)::BIGINT
          AS cum_tokens,
        sum(nv) OVER (ORDER BY dec ROWS UNBOUNDED PRECEDING)::BIGINT
          AS cum_types FROM j)
      SELECT dec + 1 AS decile, cum_tokens, cum_types,
        cum_types * 1000000 // cum_tokens AS ttr6
      FROM cum ORDER BY decile"""

  // ---------- per-group quantile normalization of a quality score ----------
  /** Quantile-normalize a quality signal WITHIN each language before
    * applying one global threshold — the standard fix for "domain A's
    * scores run hot, domain B's run cold, a single cutoff keeps all of A
    * and none of B" in curation mixes. Each doc gets its within-group
    * rank position as a FIXED-POINT millionth (`(rn-1)·1e6 DIV (n-1)`),
    * a decile from the same integer division, and the keep decision
    * `pr6 ≥ 700000` (top 30 % of every group, by construction) — every
    * value on the row is an integer, so there is no float anywhere to
    * disagree across engines ([[graft.ops.Dedup]] fixed-point
    * discipline).
    *
    * Scale shape: one shuffle on the group key for the two windows
    * (row_number + group count share the same partitioning); no joins.
    * Group cardinality (languages/domains) is what gets partitioned —
    * at 100 TB with few groups one would salt the rank computation
    * (two-pass: per-partition ranks + offsets); at realistic domain
    * cardinalities the lang key shards fine.
    */
  def qQualityNormalize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars"), col("doc_id"))
    val wn = Window.partitionBy(col("lang"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("rn", row_number().over(w))
      .withColumn("nl", count(lit(1)).over(wn))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        col("rn").cast("long").as("rnk"),
        expr("CAST((rn - 1) AS BIGINT) * 1000000 DIV (nl - 1)").as("pr6"),
        least(lit(9L), expr("CAST((rn - 1) AS BIGINT) * 10 DIV (nl - 1)"))
          .as("decile"),
        when(expr("CAST((rn - 1) AS BIGINT) * 1000000 DIV (nl - 1)")
          >= 700000, 1L).otherwise(0L).as("keep"))
      .orderBy(col("doc_id"))
  }

  val qQualityNormalizeOracle: String =
    """WITH r AS (SELECT doc_id, lang, n_chars,
        row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) rn,
        count(*) OVER (PARTITION BY lang) nl
      FROM documents)
      SELECT doc_id, lang, n_chars, rn::BIGINT AS rnk,
        (rn - 1)::BIGINT * 1000000 // (nl - 1) AS pr6,
        least(9, (rn - 1)::BIGINT * 10 // (nl - 1))::BIGINT AS decile,
        (CASE WHEN (rn - 1)::BIGINT * 1000000 // (nl - 1) >= 700000
          THEN 1 ELSE 0 END)::BIGINT AS keep
      FROM r ORDER BY doc_id"""

  // ---------- inverted-index (posting-list) construction ----------
  /** The index-build half of the retrieval stack ([[qTextBm25]] is the
    * query half): token → (document frequency, collection frequency,
    * posting-list head) — what a search engine's segment writer emits.
    * Per-token/doc term frequencies aggregate on the (token, doc) key,
    * then postings group on the token key with the list sorted by
    * doc_id; the emitted `postings_head` is the first 20 entries (the
    * preview a segment inspector shows) while df/cf stay exact over the
    * FULL list — the full postings never need to exist in one place,
    * which is the point: at 100 TB each token's postings stay sharded
    * across the token-keyed partitions, exactly how a distributed index
    * (e.g. per-segment Lucene shards) lays them out.
    *
    * Scale shape: two combine-fed shuffles — (token, doc_id) for tf,
    * token for the postings — both on semantic keys; the head slice
    * bounds per-token output state at 20 entries regardless of how hot
    * the token is (the 'the'-posting skew never reaches the output).
    */
  def qTextPostings(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w"), col("doc_id"))
      .agg(count(lit(1)).as("tf"))
    tf.groupBy(col("w"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"),
        array_join(transform(
          slice(array_sort(collect_list(struct(col("doc_id"), col("tf")))),
            1, 20),
          x => concat(x.getField("doc_id").cast("string"), lit(":"),
            x.getField("tf").cast("string"))), " ").as("postings_head"))
      .select(col("w").as("token"), col("df"), col("cf"),
        col("postings_head"))
      .orderBy(col("token"))
  }

  val qTextPostingsOracle: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) w
        FROM documents),
      tf AS (SELECT w, doc_id, count(*) tf FROM t GROUP BY w, doc_id),
      r AS (SELECT w, doc_id, tf,
        row_number() OVER (PARTITION BY w ORDER BY doc_id) rn FROM tf),
      g AS (SELECT w, count(*) df, sum(tf)::BIGINT cf FROM tf GROUP BY w),
      p AS (SELECT w, string_agg(doc_id || ':' || tf, ' ' ORDER BY doc_id)
          AS postings_head
        FROM r WHERE rn <= 20 GROUP BY w)
      SELECT g.w AS token, df, cf, postings_head
      FROM g JOIN p ON g.w = p.w ORDER BY token"""

  // ---------- collocation mining (adjacent-bigram PMI) ----------
  /** Pointwise mutual information over adjacent token bigrams — the
    * classic collocation miner (Church & Hanks 1990): which word pairs
    * co-occur far above chance. `pmi = ln(c_ab·N_u² / (N_p·c_a·c_b))`
    * with every operand an EXACT integer aggregate (bigram count,
    * unigram counts, corpus totals); the numerator and denominator are
    * each one exact BIGINT product, so both engines feed the identical
    * double quotient into one `ln` + round — the [[qTextTfidf]] /
    * surprisal determinism discipline.
    *
    * Scale shape: bigrams explode scan-side (zip_with of two slices —
    * no self-join for adjacency); one combine-fed shuffle on the pair
    * key; the unigram side is vocabulary-sized and broadcast twice; the
    * two corpus totals cross in as a broadcast single row. Top-30 is a
    * TakeOrdered. The c_ab ≥ 5 support floor is the standard guard
    * against PMI's low-count explosion.
    */
  def qTextPmi(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(split(col("text"), " ", -1).as("ws"))
    val uni = d.select(explode(col("ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val pairs = d.filter(size(col("ws")) >= 2)
      .select(explode(expr(
        """zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1),
           (a, b) -> struct(a AS w1, b AS w2))""")).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cab"))
    val tot = uni.agg(sum(col("c")).as("nu"))
      .crossJoin(broadcast(pairs.agg(sum(col("cab")).as("np"))))
    pairs
      .join(broadcast(uni.toDF("w1", "ca")), "w1")
      .join(broadcast(uni.toDF("w2", "cb")), "w2")
      .crossJoin(broadcast(tot))
      .filter(col("cab") >= 5)
      .select(col("w1"), col("w2"), col("cab"),
        round(log((col("cab") * col("nu") * col("nu")).cast("double") /
          (col("np") * col("ca") * col("cb")).cast("double")), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(30)
  }

  val qTextPmiOracle: String =
    """WITH d AS (SELECT string_split(text, ' ') ws FROM documents),
      pr AS (SELECT unnest([ws[i] for i in range(1, len(ws))]) w1,
        unnest([ws[i + 1] for i in range(1, len(ws))]) w2 FROM d),
      uc AS (SELECT w, count(*) c FROM
        (SELECT unnest(ws) w FROM d) GROUP BY w),
      pc AS (SELECT w1, w2, count(*) cab FROM pr GROUP BY w1, w2),
      tot AS (SELECT (SELECT sum(c) FROM uc)::BIGINT nu,
        (SELECT sum(cab) FROM pc)::BIGINT np)
      SELECT w1, w2, cab,
        round(ln((cab * nu * nu)::DOUBLE / (np * ca.c * cb.c)::DOUBLE), 6)
          AS pmi
      FROM pc JOIN uc ca ON ca.w = pc.w1 JOIN uc cb ON cb.w = pc.w2
        CROSS JOIN tot
      WHERE cab >= 5 ORDER BY pmi DESC, w1, w2 LIMIT 30"""

  // ---------- cross-document boilerplate removal ----------
  /** CCNet/RefinedWeb-style boilerplate stripping at paragraph
    * granularity: any 10-token chunk that occurs in ≥ 2 DISTINCT
    * documents is boilerplate (headers, footers, navigation, license
    * blurbs — text whose presence in many docs means it carries no
    * document-specific signal), and is removed from EVERY document —
    * unlike [[graft.ops.Dedup.qDedupParagraph]], which keeps the first
    * instance. The cleaned text is reconstructed in original chunk
    * order via `sort_array(collect_list(struct(idx, chunk)))`, so the
    * output is the actual training-ready document, not just counts.
    *
    * Scale shape: chunk document-frequency is one combine-fed
    * count-distinct shuffle on the chunk key; the boilerplate set is
    * then BROADCAST to tag chunks scan-side (boilerplate is by
    * definition a tiny distinct set — the df threshold caps it at
    * |corpus|/2 chunks, in practice orders of magnitude less; were it
    * ever to outgrow broadcast, the same plan runs with a shuffle
    * join). Reassembly shuffles once on doc_id; per-doc state is
    * chunk-list-sized. `collect_list(when(...))` skips the removed
    * chunks' nulls, so kept chunks never leave the aggregate buffer.
    */
  def qTextBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val width = 10
    val chunks = Tables.documents(spark, dir)
      .withColumn("ws", split(col("text"), " ", -1))
      .withColumn("n", size(col("ws")))
      .withColumn("starts",
        expr(s"filter(sequence(0, greatest(0, n - 1), $width), s -> s < n)"))
      .select(col("doc_id"),
        posexplode(col("starts")).as(Seq("chunk_idx", "start")), col("ws"))
      .select(col("doc_id"), col("chunk_idx"),
        concat_ws(" ", expr(s"slice(ws, start + 1, $width)")).as("chunk"))
    val boiler = chunks.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("docs"))
      .filter(col("docs") >= 2)
      .select(col("chunk"), lit(1).as("b"))
    chunks.join(broadcast(boiler), Seq("chunk"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("b").isNotNull, 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(
          sort_array(collect_list(when(col("b").isNull,
            struct(col("chunk_idx"), col("chunk"))))),
          x => x.getField("chunk")), " ").as("cleaned"))
      .orderBy(col("doc_id"))
  }

  val qTextBoilerplateOracle: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') ws,
        len(string_split(text, ' ')) n FROM documents),
      c AS (SELECT doc_id, ws,
        unnest([s for s in range(0, n, 10)]) AS start,
        generate_subscripts([s for s in range(0, n, 10)], 1) - 1 AS chunk_idx
        FROM d),
      ch AS (SELECT doc_id, chunk_idx,
        array_to_string(ws[start + 1 : start + 10], ' ') chunk FROM c),
      b AS (SELECT chunk FROM ch GROUP BY chunk
        HAVING count(DISTINCT doc_id) >= 2)
      SELECT doc_id, count(*) AS n_chunks,
        sum(CASE WHEN chunk IN (SELECT chunk FROM b) THEN 1 ELSE 0 END)::BIGINT
          AS n_removed,
        coalesce(string_agg(CASE WHEN chunk NOT IN (SELECT chunk FROM b)
          THEN chunk END, ' ' ORDER BY chunk_idx), '') AS cleaned
      FROM ch GROUP BY doc_id ORDER BY doc_id"""

  // ---------- per-group heavy hitters ----------
  /** [[qHeavyHitters]]'s certification harness, per GROUP: one
    * Misra-Gries summary per language, each certified against that
    * group's exact counts — the per-domain / per-language top-token
    * question a curation pipeline actually asks ("what dominates the
    * French crawl?"), where a single global sketch would let one group's
    * hitters drown every other group's.
    *
    * Scale shape: the sketch is a mergeable TypedImperativeAggregate, so
    * the per-group state is map-side partial-merged — the shuffle carries
    * |groups| × k entries, never the token stream; with G groups the
    * whole answer is G·k cells no matter how many tokens flow through.
    * The exact side exists only to certify (at 100 TB one keeps only the
    * sketch); the per-group totals join is group-cardinality-sized and
    * broadcast. Same deliberately skewed key as the global query: every
    * language has EXACTLY one guaranteed-presence key at k = 16 (the
    * collapsed stopword, ~6.6% of each group's mass vs the N/17 bar) and
    * ~200 distinct keys ≫ k, so each group's summary trims constantly
    * and a summary that lost its guaranteed key fails the hash.
    * (On perturbed data a group may have ZERO guaranteed keys — the
    * oracle LEFT-joins the guaranteed counts so such groups report 0
    * like the engine instead of vanishing; caught by the r13 dup10
    * mutation sweep.)
    */
  def qHeavyHittersGrouped(spark: SparkSession, dir: String): DataFrame = {
    val K = 16
    val stops = Seq("the", "a", "of", "and", "to")
    val words = Tables.documents(spark, dir)
      .select(col("lang"),
        explode(split(col("text"), " ")).as("w"), col("doc_id"))
      .select(col("lang"),
        when(col("w").isin(stops: _*), lit("stopword"))
          .otherwise(concat(col("w"), lit("_"),
            pmod(col("doc_id"), lit(7)).cast("string"))).as("w"))
    val exact = words.groupBy(col("lang"), col("w"))
      .agg(count(lit(1)).as("cnt"))
    val mg = words.groupBy(col("lang"))
      .agg(graft.functions.MisraGriesAgg.misraGries(col("w"), K).as("mg"))
      .select(col("lang"), explode(col("mg")).as("e"))
      .select(col("lang"), col("e.key").as("w"), col("e.est").as("est"))
    val tot = exact.groupBy(col("lang"))
      .agg(sum(col("cnt")).as("n_words"), count(lit(1)).as("n_distinct"))
    // <=> on lang: groupBy keeps an untagged-language (NULL) group in
    // BOTH engines, but a plain equi-join key would silently drop it
    // here while the oracle's LEFT JOIN shape keeps it (caught by the
    // nulls sweep); null-safe equality preserves the group end to end
    val withMg = exact
      .join(mg, exact("lang") <=> mg("lang") && exact("w") === mg("w"),
        "left_outer")
      .select(exact("lang"), exact("w"), col("cnt"), col("est"))
    withMg
      .join(broadcast(tot), withMg("lang") <=> tot("lang"))
      .select(withMg("lang"), col("w"), col("cnt"), col("est"),
        col("n_words"), col("n_distinct"))
      .withColumn("guaranteed", col("cnt") * (K + 1) > col("n_words"))
      .withColumn("found", col("est").isNotNull)
      .withColumn("violation",
        (col("est").isNotNull &&
          (col("est") > col("cnt") ||
            (col("cnt") - col("est")) * (K + 1) > col("n_words"))) ||
        (col("guaranteed") && !col("found")))
      .groupBy(col("lang"))
      .agg(
        first(lit(K.toLong)).as("k"),
        first(col("n_words")).as("n_words"),
        first(col("n_distinct")).as("n_distinct"),
        sum(when(col("guaranteed"), 1L).otherwise(0L)).as("n_guaranteed"),
        sum(when(col("guaranteed") && col("found"), 1L).otherwise(0L))
          .as("n_guaranteed_found"),
        sum(when(col("violation"), 1L).otherwise(0L)).as("bound_violations"))
      .orderBy(col("lang"))
  }

  val qHeavyHittersGroupedOracle: String =
    """WITH raw AS (SELECT lang, unnest(string_split(text, ' ')) AS w, doc_id
        FROM documents),
      w AS (SELECT lang, CASE WHEN w IN ('the','a','of','and','to')
          THEN 'stopword'
          ELSE w || '_' || (doc_id % 7)::VARCHAR END AS w FROM raw),
      e AS (SELECT lang, w, count(*) AS cnt FROM w GROUP BY lang, w),
      t AS (SELECT lang, sum(cnt)::BIGINT AS n_words,
          count(*)::BIGINT AS n_distinct FROM e GROUP BY lang),
      g AS (SELECT e.lang, count(*)::BIGINT AS n_guaranteed
        FROM e JOIN t ON t.lang IS NOT DISTINCT FROM e.lang
        WHERE cnt * 17 > n_words GROUP BY e.lang)
      SELECT t.lang, 16::BIGINT AS k, n_words, n_distinct,
        coalesce(n_guaranteed, 0)::BIGINT AS n_guaranteed,
        coalesce(n_guaranteed, 0)::BIGINT AS n_guaranteed_found,
        0::BIGINT AS bound_violations
      FROM t LEFT JOIN g ON g.lang IS NOT DISTINCT FROM t.lang
      ORDER BY t.lang"""

  /** The whole curation pipeline as ONE composed plan — the point of an
    * engine is that the stages fuse: Gopher keep-rules (scan-side integer
    * flags) → exact text dedup (keep lowest doc_id per md5(text), one
    * hash shuffle) → deterministic split assignment (pure hash function)
    * → per-split/per-language token accounting (second shuffle, group
    * keys only). Catalyst pipelines the filter, the dedup window, and the
    * split projection into two exchanges total; nothing materializes
    * between stages. The oracle replays the identical pipeline in SQL.
    */
  def qPipelineFull(spark: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    val h2 = substring(md5(col("doc_id").cast("string")), 1, 2)
    val kept = Tables.documents(spark, dir)
      .withColumn("n_words", size(words))
      .filter(gopherKeep(col("text")))
    val deduped = kept
      .withColumn("rn", row_number().over(
        Window.partitionBy(md5(col("text"))).orderBy(col("doc_id").asc)))
      .filter(col("rn") === 1)
    deduped
      .withColumn("split",
        when(h2 < "f2", "train").when(h2 < "f9", "val").otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words").cast("long")).as("n_tokens"))
      .orderBy(col("split"), col("lang"))
  }

  val qPipelineFullOracle: String =
    """WITH g AS (SELECT doc_id, text, lang,
        len(string_split(text, ' ')) AS n_words
        FROM documents
        WHERE len(string_split(text, ' ')) BETWEEN 30 AND 100000
          AND length(replace(text, ' ', '')) >= len(string_split(text, ' ')) * 3
          AND length(replace(text, ' ', '')) <= len(string_split(text, ' ')) * 10
          AND len(list_filter(string_split(text, ' '),
              w -> regexp_matches(w, '[a-zA-Z]'))) * 10
            >= len(string_split(text, ' ')) * 8
          AND len(list_intersect(list_distinct(string_split(text, ' ')),
            ['the','a','of','and','to'])) >= 2
          AND (len(string_split(text, ' '))
            - len(list_distinct(string_split(text, ' ')))) * 2
            <= len(string_split(text, ' '))),
      d AS (SELECT *, row_number() OVER (PARTITION BY md5(text)
          ORDER BY doc_id ASC) AS rn FROM g)
      SELECT CASE WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'f2' THEN 'train'
             WHEN substr(md5(doc_id::VARCHAR), 1, 2) < 'f9' THEN 'val'
             ELSE 'test' END AS split,
        lang, count(*) AS n_docs, sum(n_words)::BIGINT AS n_tokens
      FROM d WHERE rn = 1
      GROUP BY 1, lang ORDER BY split, lang"""

  /** Tokenizer-vocabulary coverage: the share of corpus tokens that a
    * FIXED vocabulary covers, per language — the analysis run before
    * committing to a tokenizer (high OOV → the tokenizer fragments that
    * language). The vocabulary is an explicit broadcast literal; counts
    * are integers and the OOV share is an emission-only 6-dp rounding of
    * an exact rational, so nothing can diverge cross-engine.
    */
  def qVocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Seq("the", "a", "of", "and", "to", "table", "row", "scan",
      "hash", "join", "order", "data", "query", "value", "column")
    Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .withColumn("in_vocab", col("w").isin(vocab: _*).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("in_vocab")).as("n_covered"),
        countDistinct(when(col("in_vocab") === 0, col("w"))).as("n_oov_types"),
        round((count(lit(1)) - sum(col("in_vocab"))).cast("double") /
          count(lit(1)), 6).as("oov_share"))
      .orderBy(col("lang"))
  }

  val qVocabCoverageOracle: String =
    """WITH w AS (SELECT lang, unnest(string_split(text, ' ')) AS w
        FROM documents),
      t AS (SELECT lang, w, (w IN ('the','a','of','and','to','table','row',
        'scan','hash','join','order','data','query','value','column'))
        AS in_vocab FROM w)
      SELECT lang, count(*) AS n_tokens,
        sum(in_vocab::INT)::BIGINT AS n_covered,
        count(DISTINCT CASE WHEN NOT in_vocab THEN w END) AS n_oov_types,
        round((count(*) - sum(in_vocab::INT)) * 1.0 / count(*), 6)
          AS oov_share
      FROM t GROUP BY lang ORDER BY lang"""

  /** Document-length histogram per source: fixed-width 100-char buckets —
    * the length-distribution profile that drives truncation/packing
    * decisions. Bucketing is integer division, so the histogram is exact
    * on both engines; the output is (source, bucket) sparse cells.
    */
  def qLengthHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("bucket", expr("n_chars div 100") * 100)
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("source"), col("bucket"))

  val qLengthHistogramOracle: String =
    """SELECT source, (n_chars // 100) * 100 AS bucket,
      count(*) AS n_docs, sum(n_chars)::BIGINT AS total_chars
      FROM documents GROUP BY source, bucket ORDER BY source, bucket"""

  /** The Gopher keep decision over a raw text column — every threshold an
    * integer cross-multiplication (no FP anywhere), shared by the batch
    * filter, the composed pipeline, and the streaming stage so the three
    * cannot drift.
    */
  def gopherKeep(text: Column): Column = {
    val words = split(text, " ")
    val nWords = size(words)
    val nDistinct = size(array_distinct(words))
    val nNospace = length(regexp_replace(text, " ", ""))
    val stops = Seq("the", "a", "of", "and", "to")
    nWords >= 30 && nWords <= 100000 &&
      nNospace >= nWords * 3 && nNospace <= nWords * 10 &&
      size(filter(words, w => w.rlike("[a-zA-Z]"))) * 10 >= nWords * 8 &&
      size(array_intersect(array_distinct(words),
        array(stops.map(lit): _*))) >= 2 &&
      (nWords - nDistinct) * 2 <= nWords
  }

  /** The quality filter as a STREAMING stage: documents arrive through
    * the file source and the Gopher keep decision plus per-language
    * accounting run as a streaming aggregate — the shape of a curation
    * stage that reports while ingesting (complete-mode here so the
    * memory-sink result is the batch-equivalent answer the oracle can
    * hash; in production the same plan runs update-mode into a metrics
    * sink). The keep rules are the scan-side integer predicates of
    * [[qQualityGopher]] — stateless, so the only streaming state is the
    * language-count aggregate.
    */
  def qStreamQuality(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val rawSchema = Tables.documents(spark, dir).schema
    val stream = spark.readStream
      .schema(rawSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      // a micro-batch arrives as ONE small parquet file (single
      // row-group = one scan split), so without this the gopher kernel —
      // ~240 µs/doc, the batch's dominant cost — runs on ONE core while
      // 31 idle (graft.obs.Probe, r18: addBatch 1.2-1.5 s of a 1.7 s query).
      // Redistributing a kernel-heavy micro-batch before the per-row
      // work is the qSqlKernels REPARTITION-hint discipline applied to
      // the stream; the exchange moves the raw docs once (~0.6 MB here,
      // and at scale a micro-batch is small relative to the cluster).
      // Result-safe: every downstream aggregate is an integer count.
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("n_words", size(split(col("text"), " ")))
      .withColumn("keep", gopherKeep(col("text")).cast("int"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_kept"),
        sum(when(col("keep") === 1, col("n_words").cast("long"))
          .otherwise(0L)).as("kept_tokens"))
    val name = "graft_stream_quality"
    // complete-mode, no watermark: the trailing no-data micro-batch is
    // pure fixed cost here (see EventStreaming.startTrimmedStream)
    val q = EventStreaming.startTrimmedStream(spark, parts = None) {
      stream.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    try q.awaitTermination()
    finally q.stop()
    EventStreaming.sinkSorted(spark.table(name), col("lang"))
  }

  val qStreamQualityOracle: String =
    """SELECT lang, count(*) AS n_docs,
      sum(CASE WHEN len(string_split(text, ' ')) BETWEEN 30 AND 100000
        AND length(replace(text, ' ', '')) >= len(string_split(text, ' ')) * 3
        AND length(replace(text, ' ', '')) <= len(string_split(text, ' ')) * 10
        AND len(list_filter(string_split(text, ' '),
            w -> regexp_matches(w, '[a-zA-Z]'))) * 10
          >= len(string_split(text, ' ')) * 8
        AND len(list_intersect(list_distinct(string_split(text, ' ')),
          ['the','a','of','and','to'])) >= 2
        AND (len(string_split(text, ' '))
          - len(list_distinct(string_split(text, ' ')))) * 2
          <= len(string_split(text, ' '))
        THEN 1 ELSE 0 END)::BIGINT AS n_kept,
      sum(CASE WHEN len(string_split(text, ' ')) BETWEEN 30 AND 100000
        AND length(replace(text, ' ', '')) >= len(string_split(text, ' ')) * 3
        AND length(replace(text, ' ', '')) <= len(string_split(text, ' ')) * 10
        AND len(list_filter(string_split(text, ' '),
            w -> regexp_matches(w, '[a-zA-Z]'))) * 10
          >= len(string_split(text, ' ')) * 8
        AND len(list_intersect(list_distinct(string_split(text, ' ')),
          ['the','a','of','and','to'])) >= 2
        AND (len(string_split(text, ' '))
          - len(list_distinct(string_split(text, ' ')))) * 2
          <= len(string_split(text, ' '))
        THEN len(string_split(text, ' ')) ELSE 0 END)::BIGINT AS kept_tokens
      FROM documents GROUP BY lang ORDER BY lang"""

  /** Gopher-style quality rules (Rae et al. 2021, "Scaling Language
    * Models", table A1) re-expressed over the documents table. Every
    * threshold is evaluated as an INTEGER cross-multiplication — e.g.
    * "mean word length in [3, 10]" becomes
    * `3*n_words <= n_nospace_chars <= 10*n_words` — so the keep decision
    * involves no floating point at all and the DuckDB oracle reproduces
    * it bit-for-bit with no boundary audit needed. Flags are emitted as
    * 0/1 INTs (one column per rule) so a user can see WHY a document was
    * dropped, which is how production quality filters report.
    *
    * Plan shape: pure scan-side projection (split/array ops inside
    * whole-stage codegen), no shuffle except the final presentation
    * sort — at 100 TB this is a single narrow pass.
    */
  def qQualityGopher(spark: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    val stops = Seq("the", "a", "of", "and", "to")
    Tables.documents(spark, dir)
      .withColumn("n_words", size(words))
      .withColumn("n_distinct", size(array_distinct(words)))
      .withColumn("n_nospace", length(regexp_replace(col("text"), " ", "")))
      .withColumn("n_alpha_words",
        size(filter(words, w => w.rlike("[a-zA-Z]"))))
      .withColumn("n_stop_kinds",
        size(array_intersect(array_distinct(words),
          array(stops.map(lit): _*))))
      // word count in [30, 100000] (paper: [50, 100k]; lower bound tuned
      // to this corpus's 30–80-word docs so the rule stays discriminative)
      .withColumn("f_wordcount",
        (col("n_words") >= 30 && col("n_words") <= 100000).cast("int"))
      // mean word length in [3, 10] chars, integer cross-multiplied
      .withColumn("f_meanlen",
        (col("n_nospace") >= col("n_words") * 3 &&
          col("n_nospace") <= col("n_words") * 10).cast("int"))
      // >= 80% of words contain an alphabetic character
      .withColumn("f_alpha",
        (col("n_alpha_words") * 10 >= col("n_words") * 8).cast("int"))
      // at least 2 distinct stopwords present
      .withColumn("f_stop", (col("n_stop_kinds") >= 2).cast("int"))
      // duplicate-word fraction <= 50%: (n_words - n_distinct)*2 <= n_words
      .withColumn("f_dup",
        ((col("n_words") - col("n_distinct")) * 2 <= col("n_words"))
          .cast("int"))
      .withColumn("keep",
        (col("f_wordcount") === 1 && col("f_meanlen") === 1 &&
          col("f_alpha") === 1 && col("f_stop") === 1 &&
          col("f_dup") === 1).cast("int"))
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        col("f_wordcount"), col("f_meanlen"), col("f_alpha"),
        col("f_stop"), col("f_dup"), col("keep"))
      .orderBy(col("doc_id"))
  }

  val qQualityGopherOracle: String =
    """SELECT doc_id,
      len(string_split(text, ' ')) AS n_words,
      len(list_distinct(string_split(text, ' '))) AS n_distinct,
      (len(string_split(text, ' ')) BETWEEN 30 AND 100000)::INT AS f_wordcount,
      (length(replace(text, ' ', '')) >= len(string_split(text, ' ')) * 3
        AND length(replace(text, ' ', '')) <= len(string_split(text, ' ')) * 10)::INT AS f_meanlen,
      (len(list_filter(string_split(text, ' '),
          w -> regexp_matches(w, '[a-zA-Z]'))) * 10
        >= len(string_split(text, ' ')) * 8)::INT AS f_alpha,
      (len(list_intersect(list_distinct(string_split(text, ' ')),
        ['the','a','of','and','to'])) >= 2)::INT AS f_stop,
      ((len(string_split(text, ' ')) - len(list_distinct(string_split(text, ' ')))) * 2
        <= len(string_split(text, ' ')))::INT AS f_dup,
      ((len(string_split(text, ' ')) BETWEEN 30 AND 100000)
        AND (length(replace(text, ' ', '')) >= len(string_split(text, ' ')) * 3
          AND length(replace(text, ' ', '')) <= len(string_split(text, ' ')) * 10)
        AND (len(list_filter(string_split(text, ' '),
            w -> regexp_matches(w, '[a-zA-Z]'))) * 10
          >= len(string_split(text, ' ')) * 8)
        AND (len(list_intersect(list_distinct(string_split(text, ' ')),
          ['the','a','of','and','to'])) >= 2)
        AND ((len(string_split(text, ' ')) - len(list_distinct(string_split(text, ' ')))) * 2
          <= len(string_split(text, ' '))))::INT AS keep
      FROM documents ORDER BY doc_id"""

  /** Temperature-scaled source mixture (multilingual-sampling style,
    * Arivazhagan et al. 2019): per-source sampling weight
    * `w_i = c_i^alpha / sum_j c_j^alpha` over whitespace-token counts,
    * with alpha = 1/2 so the power is `sqrt` — IEEE-754 requires sqrt to
    * be exactly rounded, so unlike `pow(x, 0.3)` the per-source values
    * are bit-identical between the JVM and DuckDB's libm. The remaining
    * cross-engine freedom is the 20-term denominator's summation order
    * (≤ 1e-13 relative), audited to sit ≥ 1e-7 from every emitted 6-dp
    * rounding boundary at all three SFs (see CurationSpec).
    * Token allocation under a 1M-token budget is derived from the
    * ROUNDED weight so both engines round the same quantity.
    *
    * Plan shape: ONE partial-agg pass over documents (20 groups); the
    * denominator is an unpartitioned window over the already-aggregated
    * 20-row result (source-count-sized, never fact-sized), so documents
    * is scanned exactly once — the separate-aggregate spelling scanned
    * it twice because Catalyst does not common the two subtrees.
    */
  def qMixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val perSource = Tables.documents(spark, dir)
      .withColumn("ws_tokens", size(split(col("text"), " ")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws_tokens")).as("n_tokens"))
      .withColumn("s", sqrt(col("n_tokens").cast("double")))
    perSource
      .withColumn("denom",
        sum(col("s")).over(Window.partitionBy()))
      .withColumn("weight", round(col("s") / col("denom"), 6))
      .withColumn("alloc_tokens",
        round(col("weight") * lit(1000000.0), 0).cast("long"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("weight"), col("alloc_tokens"))
      .orderBy(col("source"))
  }

  val qMixTemperatureOracle: String =
    """WITH t AS (SELECT source, count(*) AS n_docs,
        sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
        FROM documents GROUP BY source),
      s AS (SELECT *, sqrt(n_tokens::DOUBLE) AS sq FROM t)
      SELECT source, n_docs, n_tokens,
        round(sq / (SELECT sum(sq) FROM s), 6) AS weight,
        round(round(sq / (SELECT sum(sq) FROM s), 6) * 1000000.0, 0)::BIGINT
          AS alloc_tokens
      FROM s ORDER BY source"""

  // ---------- dataset profiling report (dataset card) ----------
  /** One-pass multi-column profiling — the automated "dataset card"
    * (Deequ-style) every corpus release ships: per column, row count,
    * null count, exact distinct count, and the modal value with its
    * frequency. ALL profiled columns ride ONE corpus scan: each row
    * explodes scan-side into (column, value) pairs — the
    * [[EventOps.qSkewDiagnose]] fan-out — so profiling k columns costs
    * one scan + two combine-fed exchanges, not k scans. The modal value
    * is a deterministic (count desc, value asc) argmax via a
    * column-partitioned window over the (column, value) aggregate —
    * value-cardinality data, never the corpus. Low-cardinality derived
    * columns (the length decile) profile identically to physical ones.
    */
  def qStatsProfile(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .withColumn("len_bucket",
        concat(lit("b"), least(floor(col("n_chars") / 100), lit(9))))
    val pairs = d.select(explode(map(
      lit("lang"), col("lang"),
      lit("source"), col("source"),
      lit("len_bucket"), col("len_bucket"))).as(Seq("column", "value")))
    val counts = pairs
      .groupBy(col("column"), col("value"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("column"))
      .orderBy(col("cnt").desc, col("value").asc)
    counts
      .withColumn("rn", row_number().over(w))
      .groupBy(col("column"))
      .agg(sum(col("cnt")).as("n_rows"),
        sum(when(col("value").isNull, col("cnt")).otherwise(0L)).as("n_nulls"),
        count(when(col("value").isNotNull, 1)).as("n_distinct"),
        max(when(col("rn") === 1, col("value"))).as("top_value"),
        max(when(col("rn") === 1, col("cnt"))).as("top_count"))
      .orderBy(col("column"))
  }

  val qStatsProfileOracle: String =
    """WITH d AS (SELECT lang, source,
        'b' || least(floor(n_chars / 100)::INT, 9)::VARCHAR AS len_bucket
        FROM documents),
      kv AS (SELECT 'lang' AS col, lang AS value FROM d
        UNION ALL SELECT 'source', source FROM d
        UNION ALL SELECT 'len_bucket', len_bucket FROM d),
      c AS (SELECT col, value, count(*)::BIGINT cnt
        FROM kv GROUP BY col, value),
      r AS (SELECT *, row_number() OVER (PARTITION BY col
          ORDER BY cnt DESC, value ASC) rn FROM c)
      SELECT col AS "column", sum(cnt)::BIGINT n_rows,
        sum(CASE WHEN value IS NULL THEN cnt ELSE 0 END)::BIGINT n_nulls,
        count(CASE WHEN value IS NOT NULL THEN 1 END)::BIGINT n_distinct,
        max(CASE WHEN rn = 1 THEN value END) top_value,
        max(CASE WHEN rn = 1 THEN cnt END) top_count
      FROM r GROUP BY col ORDER BY "column""""

  // ---------- curation funnel report ----------
  /** Stage-by-stage curation funnel — the observability report every
    * production corpus build ships with: how many documents each
    * cumulative filter stage admits, so a regression in one stage's
    * drop rate is visible before training. Five stages, each the cheap
    * form of an operator this library implements in full elsewhere:
    * language allowlist ([[qTextLangid]]), length window, repetition
    * filter (distinct-word ratio, [[qQualityGopher]]'s last clause),
    * head-prefix exact dedup (md5 of the first 8 words — the
    * [[graft.ops.Dedup]] family's cheapest key), and benchmark
    * decontamination ([[qDecontaminate]]'s phrase list).
    *
    * Shape: per-doc stage flags are scan-side; the dedup stage's
    * keep-lowest-doc_id rule is a `min() OVER (PARTITION BY prefix
    * hash)` — hash-partitioned, the one exchange, and exactly the
    * shuffle an exact dedup pays; the funnel itself is a single-row
    * conditional aggregate exploded into one row per stage. Drop
    * percentages are ×100 integer (exact).
    */
  def qCurateFunnel(spark: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ")
    val d = Tables.documents(spark, dir)
      .withColumn("n_words", size(words))
      .withColumn("n_distinct", size(array_distinct(words)))
      .withColumn("p1", col("lang").isin("en", "de", "fr", "es"))
      .withColumn("p2", col("n_words").between(20, 80))
      .withColumn("p3", col("n_distinct") * 2 > col("n_words"))
      .withColumn("h8", md5(concat_ws(" ", slice(words, 1, 8))))
      .withColumn("p5", !contaminationPhrases
        .map(p => col("text").contains(p)).reduce(_ || _))
    val w = Window.partitionBy(col("h8"))
    val flagged = d
      .withColumn("mn", min(when(col("p1") && col("p2") && col("p3"),
        col("doc_id"))).over(w))
      .withColumn("s1", col("p1"))
      .withColumn("s2", col("p1") && col("p2"))
      .withColumn("s3", col("p1") && col("p2") && col("p3"))
      .withColumn("s4", col("s3") && col("doc_id") === col("mn"))
      .withColumn("s5", col("s4") && col("p5"))
    def cnt(c: String) = sum(when(col(c), 1L).otherwise(0L)).as(c)
    val agg = flagged.agg(count(lit(1)).as("s0"),
      cnt("s1"), cnt("s2"), cnt("s3"), cnt("s4"), cnt("s5"))
    val stages = Seq("lang_allowlist", "length_window", "repetition",
      "exact_dedup", "decontaminate")
    agg.select(explode(array(stages.zipWithIndex.map { case (nm, i) =>
        struct(lit(i + 1).as("stage_no"), lit(nm).as("stage"),
          col(s"s$i").as("n_in"), col(s"s${i + 1}").as("n_out"))
      }: _*)).as("st"))
      .select(col("st.stage_no").as("stage_no"), col("st.stage").as("stage"),
        col("st.n_in").as("n_in"), col("st.n_out").as("n_out"),
        expr("(st.n_in - st.n_out) * 100 DIV st.n_in").as("drop_pct_x100"))
      .orderBy(col("stage_no"))
  }

  val qCurateFunnelOracle: String =
    """WITH d AS (SELECT doc_id, text, lang,
        string_split(text, ' ') ws FROM documents),
      f AS (SELECT doc_id,
        lang IN ('en','de','fr','es') p1,
        len(ws) BETWEEN 20 AND 80 p2,
        len(list_distinct(ws)) * 2 > len(ws) p3,
        md5(array_to_string(ws[1:8], ' ')) h8,
        NOT (text LIKE '%key agg row scan%' OR text LIKE '%order data column%'
          OR text LIKE '%slow filter value%' OR text LIKE '%hash table join%'
          OR text LIKE '%window spark batch%') p5
      FROM d),
      g AS (SELECT *, min(CASE WHEN p1 AND p2 AND p3 THEN doc_id END)
          OVER (PARTITION BY h8) mn FROM f),
      a AS (SELECT count(*)::BIGINT s0,
        sum(CASE WHEN p1 THEN 1 ELSE 0 END)::BIGINT s1,
        sum(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END)::BIGINT s2,
        sum(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END)::BIGINT s3,
        sum(CASE WHEN p1 AND p2 AND p3 AND doc_id = mn
          THEN 1 ELSE 0 END)::BIGINT s4,
        sum(CASE WHEN p1 AND p2 AND p3 AND doc_id = mn AND p5
          THEN 1 ELSE 0 END)::BIGINT s5
      FROM g),
      st AS (
        SELECT 1 stage_no, 'lang_allowlist' stage, s0 n_in, s1 n_out FROM a
        UNION ALL SELECT 2, 'length_window', s1, s2 FROM a
        UNION ALL SELECT 3, 'repetition', s2, s3 FROM a
        UNION ALL SELECT 4, 'exact_dedup', s3, s4 FROM a
        UNION ALL SELECT 5, 'decontaminate', s4, s5 FROM a)
      SELECT stage_no, stage, n_in, n_out,
        (n_in - n_out) * 100 // n_in AS drop_pct_x100
      FROM st ORDER BY stage_no"""

  // ---------- curation under a per-source token budget ----------
  /** The final act of corpus curation: spend a fixed TOKEN budget per
    * source on the highest-quality documents — greedy by classifier
    * margin, the standard "fill the mixture" step between scoring and
    * training (per-source budgets are how mixtures are actually
    * specified: "N tokens of web, M of code"). Quality is the
    * [[qQualityClassifier]] integer raw score (associative BIGINT sum,
    * no float anywhere); selection keeps documents in (score desc,
    * doc_id) order while the RUNNING token count stays within
    * [[TokenBudgetPerSource]] — the classic greedy knapsack
    * approximation, deterministic by construction.
    *
    * Scale shape: scoring is scan-side; the only ordering is a window
    * PARTITIONED BY SOURCE (the mixture dimension — bounded
    * parallelism is per-source, which is exactly how production budget
    * fills shard); the report is one combine-fed aggregate per source.
    * No global sort, no driver loop.
    */
  private val TokenBudgetPerSource = 1000L

  def qCurateTokenBudget(spark: SparkSession, dir: String): DataFrame = {
    val words = split(col("text"), " ", -1)
    val scored = Tables.documents(spark, dir)
      .withColumn("n_tokens", size(words).cast("long"))
      .withColumn("score", aggregate(
        transform(words, w =>
          pmod(conv(substring(md5(w), 1, 6), 16, 10).cast("long"),
            lit(4096L)) % 101 - 50),
        lit(0L), (acc, x) => acc + x))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("kept", (col("cum_tokens") <= TokenBudgetPerSource)
        .cast("long"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept")).as("n_selected"),
        sum(col("kept") * col("n_tokens")).as("tokens_selected"),
        min(when(col("kept") === 1, col("score"))).as("cutoff_score"))
      .orderBy(col("source"))
  }

  val qCurateTokenBudgetOracle: String =
    s"""WITH s AS (SELECT doc_id, source,
        len(string_split(text, ' '))::BIGINT n_tokens,
        list_sum(list_transform(string_split(text, ' '), w ->
          ('0x' || substr(md5(w), 1, 6))::BIGINT % 4096 % 101 - 50
        ))::BIGINT AS score
      FROM documents),
      r AS (SELECT *, sum(n_tokens) OVER (PARTITION BY source
          ORDER BY score DESC, doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum_tokens
        FROM s),
      k AS (SELECT *, (cum_tokens <= $TokenBudgetPerSource)::BIGINT kept
        FROM r)
      SELECT source, count(*)::BIGINT n_docs,
        sum(kept)::BIGINT n_selected,
        sum(kept * n_tokens)::BIGINT tokens_selected,
        min(CASE WHEN kept = 1 THEN score END) cutoff_score
      FROM k GROUP BY source ORDER BY source"""

  val registry: Seq[GraftQuery] = Seq(
    GraftQuery("q_text_langid", qTextLangid, qTextLangidOracle),
    GraftQuery("q_text_quality", qTextQuality, qTextQualityOracle),
    GraftQuery("q_text_tokens", qTextTokens, qTextTokensOracle),
    GraftQuery("q_text_fingerprint", qTextFingerprint, qTextFingerprintOracle),
    GraftQuery("q_text_tfidf", qTextTfidf, qTextTfidfOracle),
    GraftQuery("q_text_chunks", qTextChunks, qTextChunksOracle),
    GraftQuery("q_pipeline_curate", qPipelineCurate, qPipelineCurateOracle),
    GraftQuery("q_shingle_generator", qShingleGenerator, qShingleGeneratorOracle),
    GraftQuery("q_decontaminate", qDecontaminate, qDecontaminateOracle),
    GraftQuery("q_decontaminate_ngram", qDecontaminateNgram, qDecontaminateNgramOracle),
    GraftQuery("q_text_redact", qTextRedact, qTextRedactOracle),
    GraftQuery("q_text_pii", qTextPii, qTextPiiOracle),
    GraftQuery("q_quality_mad", qQualityMad, qQualityMadOracle),
    GraftQuery("q_text_surprisal", qTextSurprisal, qTextSurprisalOracle),
    GraftQuery("q_text_repetition", qTextRepetition, qTextRepetitionOracle),
    GraftQuery("q_quality_gopher", qQualityGopher, qQualityGopherOracle),
    GraftQuery("q_curate_funnel", qCurateFunnel, qCurateFunnelOracle),
    GraftQuery("q_stats_profile", qStatsProfile, qStatsProfileOracle),
    GraftQuery("q_mix_temperature", qMixTemperature, qMixTemperatureOracle),
    GraftQuery("q_heavy_hitters_grouped", qHeavyHittersGrouped, qHeavyHittersGroupedOracle),
    GraftQuery("q_text_boilerplate", qTextBoilerplate, qTextBoilerplateOracle),
    GraftQuery("q_text_postings", qTextPostings, qTextPostingsOracle),
    GraftQuery("q_text_pmi", qTextPmi, qTextPmiOracle),
    GraftQuery("q_quality_normalize", qQualityNormalize, qQualityNormalizeOracle),
    GraftQuery("q_vocab_growth", qVocabGrowth, qVocabGrowthOracle),
    GraftQuery("q_pipeline_full", qPipelineFull, qPipelineFullOracle),
    GraftQuery("q_stream_quality", qStreamQuality, qStreamQualityOracle),
    GraftQuery("q_vocab_coverage", qVocabCoverage, qVocabCoverageOracle),
    GraftQuery("q_length_histogram", qLengthHistogram, qLengthHistogramOracle),
    GraftQuery("q_curate_token_budget", qCurateTokenBudget, qCurateTokenBudgetOracle),
  )
}
