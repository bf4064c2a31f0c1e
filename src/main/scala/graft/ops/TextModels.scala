package graft.ops

import Checkpoints._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftQuery

/** Retrieval scoring, tokenizer training and language-model scoring over
  * the `documents` table, split out of [[TextAnalysis]] along the family
  * seam (round 16, zero behavior change): BM25, reciprocal-rank fusion,
  * BPE merge-candidate counting / iterative merge training / encoding
  * with the learned model, winnowing (MOSS) fingerprint selection, the
  * hashed linear quality classifier, bigram-LM perplexity, and DSIR
  * importance weighting. Integer or rounding-pinned arithmetic — every
  * readout is DuckDB-oracle-exact.
  */
object TextModels {

  // ---------- BM25 retrieval scoring ----------
  /** Okapi BM25 (k1 = 1.2, b = 0.75) over the whitespace token stream for
    * a fixed query-term set — the retrieval primitive a training pipeline
    * uses for relevance filtering and hard-negative mining. idf is the
    * standard ln(1 + (N - df + 0.5)/(df + 0.5)) form; length
    * normalization uses the corpus mean token count computed in-plan (a
    * one-row aggregate cross-broadcast — no driver action).
    *
    * Per-term contributions are rounded to 6 dp and summed in
    * DECIMAL(18,6), so the per-document score is associative and
    * engine-identical regardless of which order the ≤|terms| addends
    * combine in (the q10 lesson: a double sum is order-dependent in its
    * last ULP). Top-15 by score, doc_id tiebreak, score emitted as the
    * exact decimal string.
    *
    * Scale shape: the term filter rides the token scan so only
    * query-term postings (O(|terms| · match rate)) ever shuffle; doc
    * lengths are a keyed count off the same scan; df and corpus stats
    * are broadcast one-row/tiny aggregates. No all-corpus shuffle other
    * than the per-doc length count.
    */
  def qTextBm25(spark: SparkSession, dir: String): DataFrame = {
    val qterms = Seq("hash", "query", "table", "vector", "scan")
    val k1 = 1.2
    val b = 0.75
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(sum(col("dl")).as("sum_dl"), count(lit(1)).as("n_docs"))
    val tf = toks.filter(col("w").isInCollection(qterms))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val dft = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val avgdl = col("sum_dl") * lit(1.0) / col("n_docs")
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val contrib = idf * (col("tf") * lit(k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl))
    tf.join(broadcast(dft), "w")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("c", round(contrib, 6).cast("decimal(18,6)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("s"), count(lit(1)).as("n_terms"))
      .orderBy(col("s").desc, col("doc_id").asc)
      .limit(15)
      .select(col("doc_id"), col("n_terms"),
        col("s").cast("string").as("score"))
  }

  // ---------- hybrid retrieval: reciprocal-rank fusion ----------
  /** Reciprocal-rank fusion (Cormack et al. 2009) of the BM25 lexical
    * ranking and an embedding cosine ranking — THE standard hybrid
    * retrieval combiner (every vector DB's `hybrid` mode). Each source
    * contributes `1/(60 + rank)`; a document missing from one top-15
    * contributes 0 from that side. The fused score is computed as an
    * EXACT RATIONAL collapsed to a fixed-point millionth —
    * `(n1·d2 + n2·d1)·1e6 DIV (d1·d2)` on integer ranks — so the final
    * ordering is pure integer comparison; the only floats live INSIDE
    * the two source rankers, each already rounding-disciplined
    * ([[qTextBm25]]'s decimal summation, the ANN family's rounded
    * cosine). The vector side ranks the embedded subset (vec_id aligns
    * with doc_id), querying by doc 0's embedding.
    *
    * Scale shape: both source rankings end in TakeOrdered top-15s; the
    * only partition-less windows rank those FIFTEEN-row lists (pinned in
    * the global-window allowlist with that bound); the fusion is a
    * 15×15 full-outer join on doc_id. Everything upstream is the
    * sources' own scale-safe plans.
    */
  def qTextRrf(spark: SparkSession, dir: String): DataFrame = {
    val wBm = Window.orderBy(col("s").desc, col("doc_id"))
    val bm = qTextBm25(spark, dir)
      .select(col("doc_id"), col("score").cast("decimal(18,6)").as("s"))
      .withColumn("r1", row_number().over(wBm))
      .select(col("doc_id"), col("r1"))
    val e = Tables.embeddings(spark, dir)
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(x AS DOUBLE)) vd")
      .withColumn("nrm",
        sqrt(aggregate(col("vd"), lit(0.0), (a, x) => a + x * x)))
    val qv = e.filter(col("vec_id") === 0)
      .select(col("vd").as("q_vd"), col("nrm").as("q_nrm"))
    val wEm = Window.orderBy(col("cos").desc, col("doc_id"))
    val em = e.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= 0)
      .withColumn("cos", round(
        expr("aggregate(zip_with(vd, q_vd, (a, b) -> a * b), 0D, (acc, x) -> acc + x)")
          / (col("nrm") * col("q_nrm")), 6))
      .select(col("vec_id").as("doc_id"), col("cos"))
      .orderBy(col("cos").desc, col("doc_id")).limit(15)
      .withColumn("r2", row_number().over(wEm))
      .select(col("doc_id"), col("r2"))
    bm.join(em, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("r1"), lit(0)).as("r_bm25"),
        coalesce(col("r2"), lit(0)).as("r_emb"),
        expr("""CAST(((CASE WHEN r1 IS NULL THEN 0 ELSE 1 END)
                 * (CASE WHEN r2 IS NULL THEN 1 ELSE 60 + r2 END)
               + (CASE WHEN r2 IS NULL THEN 0 ELSE 1 END)
                 * (CASE WHEN r1 IS NULL THEN 1 ELSE 60 + r1 END)) AS BIGINT)
              * 1000000
              DIV ((CASE WHEN r1 IS NULL THEN 1 ELSE 60 + r1 END)
                 * (CASE WHEN r2 IS NULL THEN 1 ELSE 60 + r2 END))""")
          .as("rrf6"))
      .orderBy(col("rrf6").desc, col("doc_id"))
      .limit(10)
  }

  val qTextRrfOracle: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) w
        FROM documents),
      dl AS (SELECT doc_id, count(*) dl FROM toks GROUP BY doc_id),
      stats AS (SELECT sum(dl) sum_dl, count(*) n_docs FROM dl),
      tf AS (SELECT doc_id, w, count(*) tf FROM toks
        WHERE w IN ('hash', 'query', 'table', 'vector', 'scan')
        GROUP BY doc_id, w),
      dft AS (SELECT w, count(*) df FROM tf GROUP BY w),
      c AS (SELECT tf.doc_id,
        round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
          * (tf * 2.2)
          / (tf + 1.2 * (0.25 + 0.75 * dl / (sum_dl * 1.0 / n_docs))),
          6)::DECIMAL(18,6) AS c
        FROM tf JOIN dft USING (w) JOIN dl USING (doc_id), stats),
      bmtop AS (SELECT doc_id, sum(c) s FROM c GROUP BY doc_id
        ORDER BY s DESC, doc_id LIMIT 15),
      bm AS (SELECT doc_id,
        row_number() OVER (ORDER BY s DESC, doc_id) r1 FROM bmtop),
      ev AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
      qv AS (SELECT v FROM ev WHERE vec_id = 0),
      emtop AS (SELECT vec_id doc_id,
          round(list_cosine_similarity(ev.v, qv.v), 6) cos
        FROM ev, qv WHERE vec_id <> 0
        ORDER BY cos DESC, doc_id LIMIT 15),
      em AS (SELECT doc_id,
        row_number() OVER (ORDER BY cos DESC, doc_id) r2 FROM emtop),
      fused AS (SELECT coalesce(bm.doc_id, em.doc_id) doc_id,
          coalesce(r1, 0) r_bm25, coalesce(r2, 0) r_emb,
          ((CASE WHEN r1 IS NULL THEN 0 ELSE 1 END)
             * (CASE WHEN r2 IS NULL THEN 1 ELSE 60 + r2 END)
           + (CASE WHEN r2 IS NULL THEN 0 ELSE 1 END)
             * (CASE WHEN r1 IS NULL THEN 1 ELSE 60 + r1 END)) * 1000000
          // ((CASE WHEN r1 IS NULL THEN 1 ELSE 60 + r1 END)
             * (CASE WHEN r2 IS NULL THEN 1 ELSE 60 + r2 END)) AS rrf6
        FROM bm FULL OUTER JOIN em ON bm.doc_id = em.doc_id)
      SELECT doc_id, r_bm25, r_emb, rrf6 FROM fused
      ORDER BY rrf6 DESC, doc_id LIMIT 10"""

  val qTextBm25Oracle: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) w
        FROM documents),
      dl AS (SELECT doc_id, count(*) dl FROM toks GROUP BY doc_id),
      stats AS (SELECT sum(dl) sum_dl, count(*) n_docs FROM dl),
      tf AS (SELECT doc_id, w, count(*) tf FROM toks
        WHERE w IN ('hash', 'query', 'table', 'vector', 'scan')
        GROUP BY doc_id, w),
      dft AS (SELECT w, count(*) df FROM tf GROUP BY w),
      c AS (SELECT tf.doc_id,
        round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
          * (tf * 2.2)
          / (tf + 1.2 * (0.25 + 0.75 * dl / (sum_dl * 1.0 / n_docs))),
          6)::DECIMAL(18,6) AS c
        FROM tf JOIN dft USING (w) JOIN dl USING (doc_id), stats)
      SELECT doc_id, count(*) n_terms, sum(c)::VARCHAR score FROM c
      GROUP BY doc_id ORDER BY sum(c) DESC, doc_id ASC LIMIT 15"""

  // ---------- BPE merge-candidate pair counts ----------
  /** The statistic a BPE tokenizer trainer consumes each merge round:
    * adjacent symbol-pair frequencies within words, here at the
    * character level (round 0 of training, before any merges). Words
    * are maximal `[a-z]+` runs of the lowercased text; every word of
    * length ≥ 2 contributes its `len-1` adjacent character bigrams.
    * Emitted: top-20 pairs by total occurrences (the merge-priority
    * queue head), with the distinct-word support count alongside —
    * ties broken on the pair string so the cut is total-ordered.
    *
    * Scale shape: both explodes (words, then bigrams) are scan-side —
    * no shuffle moves the exploded rows, because the hash aggregate's
    * map-side combine collapses them to O(tasks · |alphabet|²) partial
    * rows before the exchange. The distinct-word support adds one
    * expand pass shuffling (pair, word) combinations — bounded by
    * vocabulary size, not corpus size. All integer counts; nothing
    * float-dependent crosses engines.
    */
  def qBpePairs(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
      .filter(length(col("w")) >= 2)
    words
      .select(col("w"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("w")).as("n_words"))
      .orderBy(col("n_occurrences").desc, col("pair").asc)
      .limit(20)
  }

  val qBpePairsOracle: String =
    """WITH words AS (SELECT unnest(list_filter(
        string_split_regex(lower(text), '[^a-z]+'), x -> length(x) >= 2)) w
        FROM documents),
      pr AS (SELECT w, unnest([substring(w, i, 2) for i in
        range(1, length(w))]) pair FROM words)
      SELECT pair, count(*)::BIGINT n_occurrences,
        count(DISTINCT w)::BIGINT n_words
      FROM pr GROUP BY pair
      ORDER BY n_occurrences DESC, pair ASC LIMIT 20"""

  // ---------- winnowing fingerprint selection (MOSS) ----------
  /** Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03): from the stream of
    * character 5-gram hashes, select the minimum of every 4-hash window
    * (rightmost on ties) — the guarantee is that any shared substring of
    * length >= k + w - 1 = 8 contributes at least one IDENTICAL selected
    * fingerprint to both documents, which is what makes the selected set
    * (not the full gram set) sufficient for plagiarism/overlap detection
    * at a fraction of the index size.
    *
    * Everything is integer: the gram hash is an exact base-131 polynomial
    * over the code points (max < 131^4 * 128 * 1.01, well inside BIGINT —
    * no modulus, so no overflow-semantics question either), and the
    * rightmost-min rule is encoded by packing `(hash, position)` into one
    * key = `h * 2^20 + (2^20 - 1 - i)` so a plain `min` resolves
    * value-then-rightmost in a single pass (documented position bound:
    * documents up to 2^20 chars).
    *
    * Scale shape: selection is per-document SEQUENTIAL work, so the
    * whole pipeline — gram hashing, w-window min, distinct-selection
    * rollup — runs as ONE scan-side codegen kernel
    * ([[graft.functions.WinnowStats]], O(n·w) per document, each code
    * point read once) with ZERO exchanges before the output sort. The
    * declarative spelling this replaces exploded to a gram row per
    * character and paid an O(n²)-CPU `substr` chain plus a doc-keyed
    * window shuffle; the DuckDB oracle still runs that declarative
    * form, so the hash match is the kernel's exactness proof.
    */
  def qTextWinnow(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .where(length(col("text")) >= 8) // shortest text with a complete window
      .select(col("doc_id"),
        graft.functions.WinnowStats.winnowStats(col("text")).as("w"))
      .where(col("w").isNotNull)
      .select(col("doc_id"), col("w.n_grams"), col("w.n_fingerprints"),
        col("w.fp_sum"), col("w.fp_min"), col("w.fp_max"))
      .orderBy(col("doc_id"))

  val qTextWinnowOracle: String =
    """WITH d AS (SELECT doc_id, text, length(text) n FROM documents
        WHERE length(text) >= 5),
      pos AS (SELECT doc_id, text, n, unnest(range(0, n - 4)) i FROM d),
      g AS (SELECT doc_id, n, i,
          ((((ascii(substr(text, i::INT + 1, 1))::BIGINT * 131
            + ascii(substr(text, i::INT + 2, 1))) * 131
            + ascii(substr(text, i::INT + 3, 1))) * 131
            + ascii(substr(text, i::INT + 4, 1))) * 131
            + ascii(substr(text, i::INT + 5, 1))) h
        FROM pos),
      k AS (SELECT doc_id, n, i, h * 1048576 + (1048575 - i) AS key FROM g),
      m AS (SELECT doc_id, n, i, min(key) OVER (PARTITION BY doc_id
          ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) wkey
        FROM k),
      sel AS (SELECT DISTINCT doc_id, n, wkey // 1048576 AS fp,
          1048575 - (wkey % 1048576) AS pos
        FROM m WHERE i <= n - 8)
      SELECT doc_id, max(n) - 4 AS n_grams, count(*)::BIGINT n_fingerprints,
        sum(fp)::BIGINT fp_sum, min(fp) fp_min, max(fp) fp_max
      FROM sel GROUP BY doc_id ORDER BY doc_id"""

  // ---------- hashed linear quality classifier ----------
  /** fastText-style linear classifier scoring via the hashing trick: each
    * token hashes into one of 4096 feature buckets (md5-derived so the
    * oracle reproduces it bit-for-bit — [[qSampleHash]] discipline) and
    * each bucket carries a fixed integer weight in [-50, 50]; a
    * document's raw score is the BIGINT sum of its tokens' weights —
    * associative and exact, so no fold-order hazard. The normalized
    * margin is emitted ×10⁴ via INTEGER division (both engines truncate
    * toward zero) and the keep decision compares the integer raw score
    * to zero — the whole result is exact; no double ever reaches the
    * output. (A sigmoid-probability form was tried first and REJECTED
    * by the boundary audit: on this very corpus one document's
    * `round(1/(1+exp(...)), 6)` landed within 2e-16 of a rounding
    * boundary — it hash-matched DuckDB only because both libm `exp`s
    * agreed to the last ulp that day. The audit exists to refuse that
    * bet; a real pipeline thresholds on the monotone margin anyway.)
    *
    * This is the scoring pass of every learned quality filter (fastText
    * langid, DCLM-style classifiers): the model needs NO vocabulary
    * broadcast — the hashing trick makes the feature map a pure
    * function — so the query is a single scan with zero exchanges
    * before the output sort. Weights here are a deterministic function
    * of the bucket id (a real model would broadcast a 4096-float
    * array; the PLAN is identical).
    */
  def qQualityClassifier(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.scoredDocs(spark, dir)
      .select(col("doc_id"), col("n_words").cast("int").as("n_words"),
        col("raw_score"), col("margin_e4"),
        (col("raw_score") > 0).cast("int").as("keep"))
      .orderBy(col("doc_id"))

  val qQualityClassifierOracle: String =
    """WITH s AS (SELECT doc_id,
        len(string_split(text, ' ')) AS n_words,
        list_sum(list_transform(string_split(text, ' '), w ->
          ('0x' || substr(md5(w), 1, 6))::BIGINT % 4096 % 101 - 50
        ))::BIGINT AS raw_score
      FROM documents)
      SELECT doc_id, n_words, raw_score,
        raw_score * 10000 // (n_words * 50) AS margin_e4,
        (raw_score > 0)::INT AS keep
      FROM s ORDER BY doc_id"""

  // ---------- BPE merge training (iterative) ----------
  /** Distributed byte-pair-encoding TRAINING — the merge-learning loop
    * behind every BPE/SentencePiece tokenizer, run the way production
    * trainers actually run it: the corpus is touched ONCE to build the
    * (word, freq) table, and all iteration happens on that aggregate,
    * whose size is the VOCABULARY (Heaps-law sublinear in corpus size),
    * not the corpus. Each of the [[BpeMerges]] rounds: (1) per-word
    * adjacent symbol pairs explode scan-side weighted by word frequency
    * and reduce in one vocabulary-sized combine-fed exchange; (2) the
    * argmax pair (count desc, then lexicographic — fully deterministic)
    * comes to the driver as ONE row (fixed-size model state, the
    * [[graft.ops.Similarity]] kmeans/PQ discipline); (3) the merge is
    * applied to every word's symbol array with a greedy left-to-right
    * `aggregate` fold (non-overlapping, the standard BPE application
    * order), and the tiny vocab state is localCheckpoint'd so plans
    * stay bounded across rounds ([[graft.ops.Dedup.releaseCheckpoint]]
    * discipline).
    *
    * Emits the learned merge table (step, pa, pb, weighted count) — the
    * tokenizer model itself. The oracle replays all rounds exactly:
    * per-round CTEs unrolled ([[graft.ops.GraphOps]] k-core style) with
    * the same fold via `list_reduce` and the same tie-break, so a hash
    * match proves the full iterative trajectory, not just the last
    * state. Complements [[qBpePairs]] (single-round pair statistics).
    */
  val BpeMerges = 8

  /** The learned model: merge table + final per-word symbol state (word
    * retained so application can join on it).
    */
  private[ops] final case class BpeModel(
      merges: Seq[(Int, String, String, Long)], vocab: DataFrame)

  /** [[qBpeEncode]]'s model cache: SINGLE slot keyed like every session
    * fixture (session object + dir + content fingerprint), the evicted
    * model's checkpoint released so stale sessions/data never pin
    * blocks. [[qBpeTrain]] does NOT read it: training IS that query's
    * measured work, while for encoding the model is an input artifact
    * (the `q_ann_refresh` index-state discipline).
    */
  private var bpeModelSlot: (String, BpeModel) = null

  private[ops] def bpeTrainState(spark: SparkSession, dir: String): BpeModel = {
    val vocab0 = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("w"), split(col("w"), "").as("syms"), col("freq"))
      .stageCheckpoint()

    var vocab = vocab0
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (step <- 1 to BpeMerges) {
      val best = vocab
        // slice-based adjacency (NOT sequence(1, n-1): Spark's sequence
        // DESCENDS when start > stop, so 1-symbol words would index out
        // of bounds instead of yielding zero pairs)
        .select(col("freq"), explode(expr(
          "zip_with(slice(syms, 1, size(syms) - 1), " +
            "slice(syms, 2, size(syms) - 1), " +
            "(a, b) -> struct(a AS pa, b AS pb))")).as("p"))
        .groupBy(col("p.pa").as("pa"), col("p.pb").as("pb"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("pa"), col("pb"))
        .limit(1).collect()
      require(best.nonEmpty, s"bpe_train: no pairs left at step $step")
      val (pa, pb, cnt) =
        (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
      // symbols come from corpus tokens: require them SQL-literal-safe
      // rather than escaping silently (the corpus alphabet is alnum)
      require(!pa.contains("'") && !pb.contains("'"),
        s"bpe_train: symbol needs escaping: '$pa' '$pb'")
      merges += ((step, pa, pb, cnt))
      val next = vocab.select(col("w"), expr(
        s"""aggregate(syms, CAST(array() AS array<string>),
            (acc, s) -> CASE WHEN size(acc) > 0
                AND element_at(acc, -1) = '$pa' AND s = '$pb'
              THEN concat(slice(acc, 1, size(acc) - 1),
                array(element_at(acc, -1) || s))
              ELSE concat(acc, array(s)) END)""").as("syms"),
        col("freq")).stageCheckpoint()
      if (vocab ne vocab0) graft.ops.Dedup.releaseCheckpoint(vocab)
      vocab = next
    }
    graft.ops.Dedup.releaseCheckpoint(vocab0)
    BpeModel(merges.result(), vocab) // final state stays checkpointed
  }

  def qBpeTrain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val model = bpeTrainState(spark, dir)
    graft.ops.Dedup.releaseCheckpoint(model.vocab)
    model.merges.toDF("step", "pa", "pb", "cnt").orderBy(col("step"))
  }

  // ---------- BPE application (encode with the learned model) ----------
  /** Tokenization with the trained BPE model, done the way it scales:
    * the merge loop's FINAL per-word symbol state is the tokenizer —
    * each vocabulary word already carries its token count — so encoding
    * the corpus is a scan-side explode of words, a BROADCAST join
    * against the vocabulary-sized model table, and one per-doc
    * combine-fed aggregate. No per-occurrence merge replay: the fold
    * runs once per DISTINCT word at training time, not once per corpus
    * token (on 100 TB the ratio between those is the whole game).
    * Emits per-doc char/token counts and the ×100 integer compression
    * ratio — the "tokens per document" accounting a training pipeline
    * feeds its batch planner ([[qPackSequences]]).
    *
    * The model is a session fixture (built once per (session, dir,
    * content), the index-state discipline of `q_ann_refresh`): this
    * query times APPLICATION; [[qBpeTrain]] times training.
    */
  def qBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val k = SessionFixtures.key(spark, dir)
    val model = synchronized {
      if (bpeModelSlot != null && bpeModelSlot._1 == k) bpeModelSlot._2
      else {
        if (bpeModelSlot != null)
          graft.ops.Dedup.releaseCheckpoint(bpeModelSlot._2.vocab)
        val m = bpeTrainState(spark, dir)
        bpeModelSlot = (k, m)
        SessionFixtures.pin("bpe_model_vocab", m.vocab)
        m
      }
    }
    val tok = model.vocab
      .select(col("w"), size(col("syms")).as("n_tok"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .join(broadcast(tok), "w")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("w"))).as("n_chars"),
        sum(col("n_tok")).as("n_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_chars"), col("n_tokens"),
        expr("n_chars * 100 DIV n_tokens").as("ratio_x100"))
      .orderBy(col("doc_id"))
  }

  /** The shared unrolled replay (v0..vN, p_i, b_i) both BPE oracles
    * build on; the word column rides through so the final state can be
    * joined back to the corpus.
    */
  private def bpeOracleCtes: String = {
    val rounds = (1 to BpeMerges).map { i =>
      s"""p$i AS (SELECT pr.pa, pr.pb, sum(freq)::BIGINT cnt
           FROM (SELECT freq, unnest(list_transform(
               range(1, len(syms)), j ->
                 {'pa': syms[j], 'pb': syms[j + 1]})) pr
             FROM v${i - 1}) GROUP BY pr.pa, pr.pb),
         b$i AS (SELECT $i::INT AS step, pa, pb, cnt FROM p$i
           ORDER BY cnt DESC, pa, pb LIMIT 1),
         v$i AS MATERIALIZED (SELECT w, list_reduce(
             list_transform(syms, s -> [s]),
             (acc, x) -> CASE WHEN acc[-1] = b$i.pa AND x[1] = b$i.pb
               THEN acc[1:len(acc)-1] || [acc[-1] || x[1]]
               ELSE acc || x END) AS syms, freq
           FROM v${i - 1}, b$i)"""
    }.mkString(",\n      ")
    s"""WITH v0 AS MATERIALIZED (
        SELECT w, list_transform(range(1, length(w) + 1), i -> w[i]) AS syms,
          count(*)::BIGINT freq
        FROM (SELECT unnest(string_split(text, ' ')) w FROM documents)
        WHERE length(w) > 0 GROUP BY w),
      $rounds"""
  }

  val qBpeTrainOracle: String =
    s"""$bpeOracleCtes
      ${(1 to BpeMerges).map(i => s"SELECT * FROM b$i")
        .mkString("", " UNION ALL ", "")}
      ORDER BY step"""

  val qBpeEncodeOracle: String =
    s"""$bpeOracleCtes,
      tok AS (SELECT w, len(syms)::BIGINT n_tok FROM v$BpeMerges),
      d AS (SELECT doc_id, unnest(string_split(text, ' ')) w
        FROM documents)
      SELECT doc_id, count(*)::BIGINT n_words,
        sum(length(w))::BIGINT n_chars, sum(n_tok)::BIGINT n_tokens,
        (sum(length(w))::BIGINT * 100 // sum(n_tok)::BIGINT)::BIGINT
          AS ratio_x100
      FROM d JOIN tok USING (w)
      GROUP BY doc_id ORDER BY doc_id"""

  // ---------- bigram-LM perplexity (conditional language model) ----------
  /** Per-document mean negative log-likelihood under an add-one-smoothed
    * BIGRAM language model trained on the corpus itself — the
    * conditional complement of [[qTextSurprisal]]'s unigram model and
    * the cheap stand-in for the KenLM-style perplexity filters
    * (CCNet/RedPajama) that gate web corpora: documents whose word
    * TRANSITIONS are off-distribution (shuffled text, keyword stuffing,
    * wrong language) score high even when their unigrams look fine.
    * `P(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V)` where `c(w1·)` counts w1 as
    * a bigram CONTEXT (so the denominator marginalizes exactly) and V
    * is the corpus vocabulary.
    *
    * Scale shape: bigrams explode scan-side from one `zip_with` of two
    * array slices (no window, no self-join); the bigram-count table is
    * Heaps-law sublinear in corpus size but NOT dimension-tiny, so the
    * score join shuffles keyed on the bigram — combine-fed on both
    * sides; the context-count and vocabulary tables ARE
    * vocabulary-scale and broadcast. Corpus is touched twice (train,
    * score) — the honest minimum for self-trained scoring.
    */
  def qTextPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ", -1).as("ws"))
    val big = d.select(col("doc_id"), explode(expr(
      """zip_with(slice(ws, 1, size(ws) - 1), slice(ws, 2, size(ws) - 1),
         (a, b) -> struct(a AS w1, b AS w2))""")).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val c2 = big.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).cast("double").as("c2"))
    val c1 = big.groupBy(col("w1"))
      .agg(count(lit(1)).cast("double").as("c1"))
    val v = d.select(explode(col("ws")).as("w"))
      .agg(countDistinct(col("w")).cast("double").as("v"))
    big.join(c2, Seq("w1", "w2"))
      .join(broadcast(c1), Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log((col("c2") + 1) / (col("c1") + col("v")))), 6)
          .as("nll2"))
      .orderBy(col("doc_id"))
  }

  val qTextPerplexityOracle: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
      pos AS (SELECT doc_id, ws, unnest(range(1, len(ws))) i FROM d),
      big AS (SELECT doc_id, ws[i::INT] w1, ws[(i + 1)::INT] w2 FROM pos),
      c2 AS (SELECT w1, w2, count(*)::DOUBLE c2 FROM big GROUP BY 1, 2),
      c1 AS (SELECT w1, count(*)::DOUBLE c1 FROM big GROUP BY 1),
      v AS (SELECT count(DISTINCT w)::DOUBLE v FROM
        (SELECT unnest(ws) w FROM d))
      SELECT doc_id, count(*)::BIGINT n_bigrams,
        round(avg(-ln((c2 + 1) / (c1 + v))), 6) AS nll2
      FROM big JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
      GROUP BY doc_id ORDER BY doc_id"""

  // ---------- DSIR importance weighting (targeted data selection) ----------
  /** Data Selection via Importance Resampling (Xie et al. 2023): score
    * every document by how much more likely its hashed-unigram features
    * are under a TARGET distribution (here the `lang = 'en'` slice —
    * standing in for "looks like Wikipedia") than under the raw-corpus
    * distribution. Each token hashes into one of [[DsirBuckets]]
    * buckets via the md5 chain (the [[qSampleHash]] discipline, so the
    * oracle reproduces the feature map bit-for-bit); bucket
    * distributions are add-one smoothed; a document's log importance
    * weight is the sum over its tokens of ONE `ln` of the exact rational
    * ratio `((c_t[b]+1)·(T_r+B)) / ((c_r[b]+1)·(T_t+B))` — both engines
    * evaluate the identical expression on identical integers, so the
    * only doubles are the final ln's.
    *
    * Scale shape: the feature map is a pure function (hashing trick —
    * no vocabulary broadcast, the [[qQualityClassifier]] argument); both
    * bucket-count tables are FIXED [[DsirBuckets]]-row aggregates that
    * broadcast back, so the corpus pays two combine-fed scans and zero
    * wide shuffles. This is the exact access pattern of production DSIR
    * at 100 TB: train tiny bucketed n-gram models once, then stream the
    * corpus through a stateless scorer.
    */
  private val DsirBuckets = 256

  def qCurateDsir(spark: SparkSession, dir: String): DataFrame = {
    val bucket = pmod(
      conv(substring(md5(col("w")), 1, 6), 16, 10).cast("long"),
      lit(DsirBuckets.toLong)).as("b")
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ", -1)).as("w"))
      .select(col("doc_id"), col("lang"), bucket)
    val raw = tok.groupBy(col("b")).agg(count(lit(1)).as("cr"))
    val tgt = tok.where(col("lang") === "en")
      .groupBy(col("b")).agg(count(lit(1)).as("ct"))
    // complete 256-bucket model: buckets unseen in the target slice
    // still carry their add-one mass (left join, zero-fill)
    val model = raw.join(tgt, Seq("b"), "left_outer")
      .select(col("b"), col("cr"), coalesce(col("ct"), lit(0L)).as("ct"))
    val totals = model.agg(sum(col("cr")).as("tr"), sum(col("ct")).as("tt"))
    tok.join(broadcast(model), Seq("b"))
      .crossJoin(broadcast(totals))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum(log(((col("ct") + 1) * (col("tr") + DsirBuckets)) /
          ((col("cr") + 1) * (col("tt") + DsirBuckets)))), 6).as("logw"))
      .orderBy(col("doc_id"))
  }

  val qCurateDsirOracle: String =
    s"""WITH tok AS (SELECT doc_id, lang,
        ('0x' || substr(md5(w), 1, 6))::BIGINT % $DsirBuckets AS b
        FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) w
              FROM documents)),
      raw AS (SELECT b, count(*) cr FROM tok GROUP BY b),
      tgt AS (SELECT b, count(*) ct FROM tok WHERE lang = 'en' GROUP BY b),
      model AS (SELECT raw.b, cr, coalesce(ct, 0) ct
        FROM raw LEFT JOIN tgt ON raw.b = tgt.b),
      tot AS (SELECT sum(cr)::BIGINT tr, sum(ct)::BIGINT tt FROM model)
      SELECT doc_id, count(*)::BIGINT n_tokens,
        round(sum(ln(((ct + 1) * (tr + $DsirBuckets))::DOUBLE /
          ((cr + 1) * (tt + $DsirBuckets)))), 6) AS logw
      FROM tok JOIN model USING (b) CROSS JOIN tot
      GROUP BY doc_id ORDER BY doc_id"""

  val registry: Seq[GraftQuery] = Seq(
    GraftQuery("q_quality_classifier", qQualityClassifier, qQualityClassifierOracle),
    GraftQuery("q_bpe_train", qBpeTrain, qBpeTrainOracle),
    GraftQuery("q_bpe_encode", qBpeEncode, qBpeEncodeOracle),
    GraftQuery("q_text_rrf", qTextRrf, qTextRrfOracle),
    GraftQuery("q_text_bm25", qTextBm25, qTextBm25Oracle),
    GraftQuery("q_bpe_pairs", qBpePairs, qBpePairsOracle),
    GraftQuery("q_text_winnow", qTextWinnow, qTextWinnowOracle),
    GraftQuery("q_text_perplexity", qTextPerplexity, qTextPerplexityOracle),
    GraftQuery("q_curate_dsir", qCurateDsir, qCurateDsirOracle),
  )
}
