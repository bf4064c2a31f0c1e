package graft.ops

import Checkpoints._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftQuery

/** Similarity search over the embedding table (`vec_id, embedding
  * ARRAY<FLOAT>, label`).
  *
  * Two paths, as a large-scale pipeline needs:
  *  - brute-force cosine against an anchor sample — the exactness baseline
  *    (oracle-checked); scales as |anchors| × |corpus|, with the corpus
  *    side streamed and the anchor side broadcast, so it is shuffle-free
  *    and embarrassingly parallel at 100 TB;
  *  - random-hyperplane LSH — the scale path: bucket join on signature
  *    bands, exact re-rank inside buckets only. Approximate, so no SQL
  *    oracle; recall against the brute-force baseline is asserted in
  *    `SimilaritySpec`.
  *
  * All arithmetic is done in double with a sequential left-to-right fold
  * (`aggregate(zip_with(...))`), the same evaluation order as DuckDB's
  * `list_cosine_similarity` over `DOUBLE[]`, keeping rounded outputs
  * engine-identical.
  */
object Similarity {

  /** Fixed anchor count for every query-side sample: a CONSTANT, not a
    * corpus fraction (`vec_id % k` would grow the anchor set linearly
    * with n, making anchors × corpus O(n²/k) — 10 000× the work at 100×
    * the data). With K fixed, every variant is O(K·n): the corpus side
    * streams once and the anchor side stays a broadcast constant no
    * matter how large the table gets.
    */
  private val Anchors = 50

  /** embedding (float array) → double array + L2 norm. */
  private def withVec(df: DataFrame): DataFrame =
    df.withColumn("vd", transform(col("embedding"), x => x.cast("double")))
      .withColumn("nrm",
        sqrt(aggregate(col("vd"), lit(0.0), (acc, x) => acc + x * x)))

  /** Sequential-fold dot product — a codegen kernel with the same
    * left-to-right double accumulation as the declarative
    * `aggregate(zip_with(...))` spelling (and DuckDB's inner product), so
    * rounded outputs stay oracle-identical; see
    * [[graft.functions.VecOps]] for why the kernel form wins.
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VecOps.arrayDot(a, b)

  /** The exact anchor×corpus cosine table — (a_id, a_label, b_id,
    * b_label, cosine) for every anchor and every other vector, rounded
    * to 1e-6 (the shared kernel's contract). Checkpointed once per
    * (session, dir, content): five registered queries consume exactly
    * this scan ([[qEmbedNeardup]], [[qAnnTopk]], [[qAnnNegatives]],
    * [[qEvalNdcg]], [[qAnnMmr]]'s candidate stage) and previously each
    * re-ran it per invocation. Fixed-K bounded (K·n rows of five narrow
    * columns, no vectors), so the artifact is small at any corpus size —
    * at 100 TB this is the materialized "scored candidates" table every
    * retrieval-eval stack persists between consumers.
    */
  private def annScored(spark: SparkSession, dir: String): DataFrame =
    SessionFixtures.cachedFrame("ann_scored", spark, dir)(
      annScoredCompute(spark, dir).stageCheckpoint())

  // private[ops] so PlanAuditSpec can audit the fixture-producing plan
  // (the checkpoint truncates lineage in the consumer plans).
  private[ops] def annScoredCompute(spark: SparkSession, dir: String): DataFrame = {
    val e = withVec(Tables.embeddings(spark, dir))
    val anchors = e.filter(col("vec_id") < Anchors)
      .select(col("vec_id").as("a_id"), col("label").as("a_label"),
        col("vd").as("a_vd"), col("nrm").as("a_nrm"))
    val corpus = e.select(col("vec_id").as("b_id"), col("label").as("b_label"),
      col("vd").as("b_vd"), col("nrm").as("b_nrm"))
    broadcast(anchors)
      .join(corpus, col("a_id") =!= col("b_id"))
      .withColumn("cosine",
        round(dot(col("a_vd"), col("b_vd")) / (col("a_nrm") * col("b_nrm")), 6))
      .select(col("a_id"), col("a_label"), col("b_id"), col("b_label"),
        col("cosine"))
  }

  // ---------- brute-force cosine near-duplicates over anchors ----------
  def qEmbedNeardup(spark: SparkSession, dir: String): DataFrame =
    annScored(spark, dir)
      .filter(col("a_id") < col("b_id") && col("cosine") >= 0.45)
      .select(col("a_id"), col("b_id"), col("cosine"))
      .orderBy(col("a_id"), col("b_id"))

  val qEmbedNeardupOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings)
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        round(list_cosine_similarity(a.v, b.v), 6) AS cosine
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE a.vec_id < 50
        AND round(list_cosine_similarity(a.v, b.v), 6) >= 0.45
      ORDER BY a_id, b_id"""

  // ---------- brute-force top-k ANN baseline ----------
  def qAnnTopk(spark: SparkSession, dir: String): DataFrame = {
    val scored = annScored(spark, dir)
    val w = Window.partitionBy(col("a_id"))
      .orderBy(col("cosine").desc, col("b_id").asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("a_id"), col("b_id"), col("b_label"), col("rnk"), col("cosine"))
      .orderBy(col("a_id"), col("rnk"))
  }

  val qAnnTopkOracle: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
      scored AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id, b.label AS b_label,
          round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < 50)
      SELECT a_id, b_id, b_label, rnk, cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY a_id
          ORDER BY cosine DESC, b_id ASC) AS rnk FROM scored) t
      WHERE rnk <= 10 ORDER BY a_id, rnk"""

  // ---------- hard-negative mining for contrastive training ----------
  /** HARD-NEGATIVE MINING — the contrastive-training data op: for each
    * anchor, the top-k most-similar items of a DIFFERENT label (closest
    * impostors). These are the pairs that carry the gradient signal in
    * triplet/InfoNCE training; random negatives are trivially separable.
    * Same O(K·n) anchor discipline and exact-cosine kernel as
    * [[qAnnTopk]] — one broadcast, one scan, a per-anchor top-k window —
    * plus the per-anchor MARGIN (nearest same-label cosine minus nearest
    * impostor cosine, the number that tells a curator which anchors are
    * confusable). Margin is a difference of two already-rounded
    * bit-identical cosines, so it stays oracle-exact.
    */
  def qAnnNegatives(spark: SparkSession, dir: String): DataFrame = {
    val scored = annScored(spark, dir)
    val w = Window.partitionBy(col("a_id"))
    val negW = w.orderBy(col("cosine").desc, col("b_id").asc)
    scored
      .withColumn("best_pos", max(when(col("a_label") === col("b_label"),
        col("cosine"))).over(w))
      .filter(col("a_label") =!= col("b_label"))
      .withColumn("rnk", row_number().over(negW))
      .filter(col("rnk") <= 5)
      .select(col("a_id"), col("rnk"), col("b_id").as("neg_id"),
        col("b_label").as("neg_label"), col("cosine").as("neg_cos"),
        round(col("best_pos") - col("cosine"), 6).as("margin"))
      .orderBy(col("a_id"), col("rnk"))
  }

  val qAnnNegativesOracle: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
      scored AS (
        SELECT a.vec_id AS a_id, a.label AS a_label, b.vec_id AS b_id,
          b.label AS b_label,
          round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < 50),
      m AS (SELECT *, max(CASE WHEN a_label = b_label THEN cosine END)
          OVER (PARTITION BY a_id) AS best_pos
        FROM scored),
      neg AS (SELECT *, row_number() OVER (PARTITION BY a_id
          ORDER BY cosine DESC, b_id ASC) AS rnk
        FROM m WHERE a_label <> b_label)
      SELECT a_id, rnk, b_id AS neg_id, b_label AS neg_label,
        cosine AS neg_cos, round(best_pos - cosine, 6) AS margin
      FROM neg WHERE rnk <= 5 ORDER BY a_id, rnk"""

  // ---------- LSH-bucketed ANN (the scale path; spec-verified) ----------
  private val LshBits = 16
  private val LshBands = 4 // 4 bands × 4 bits
  private val Dim = 64

  /** Fixed seeded hyperplanes (Dim × LshBits). */
  private[ops] val hyperplanes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(7)
    Array.fill(LshBits)(Array.fill(Dim)(rnd.nextGaussian()))
  }

  def qAnnLsh(spark: SparkSession, dir: String): DataFrame = {
    val planes = hyperplanes.map(p => array(p.map(lit): _*))
    val e = withVec(Tables.embeddings(spark, dir))

    // 16-bit signature from hyperplane signs
    val sigBits = planes.zipWithIndex.map { case (p, i) =>
      when(dot(col("vd"), p) > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val sig = e.withColumn("sig", sigBits)

    // band keys: 4 bands of 4 bits — candidates share at least one band
    val bandCols = (0 until LshBands).map { b =>
      shiftright(col("sig"), 4 * b).bitwiseAND(lit(15L))
    }
    val banded = sig.select(
      col("vec_id"), col("vd"), col("nrm"),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_val")))

    val anchors = banded.filter(col("vec_id") < Anchors)
      .select(col("vec_id").as("a_id"), col("vd").as("a_vd"),
        col("nrm").as("a_nrm"), col("band_idx"), col("band_val"))
    val cand = anchors
      .join(banded.select(col("vec_id").as("b_id"), col("vd").as("b_vd"),
          col("nrm").as("b_nrm"), col("band_idx"), col("band_val")),
        Seq("band_idx", "band_val"))
      .filter(col("a_id") =!= col("b_id"))
      .select("a_id", "b_id", "a_vd", "a_nrm", "b_vd", "b_nrm")
      .dropDuplicates("a_id", "b_id")

    val w = Window.partitionBy(col("a_id"))
      .orderBy(col("cosine").desc, col("b_id").asc)
    cand
      .withColumn("cosine",
        round(dot(col("a_vd"), col("b_vd")) / (col("a_nrm") * col("b_nrm")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("a_id"), col("b_id"), col("rnk"), col("cosine"))
      .orderBy(col("a_id"), col("rnk"))
  }

  // ---------- IVF-bucketed ANN (trained coarse quantizer + probed rerank) ----------
  private val IvfLists = 16
  private val IvfProbes = 4
  private val IvfIters = 2

  /** Lloyd-trained coarse centroids: deterministic init (the first
    * `IvfLists` vectors by id), then `IvfIters` assign/update rounds
    * computed as DataFrame aggregations over a FIXED-size training
    * sample (like the anchor sets: codebook quality saturates long
    * before the corpus does, so training cost stays constant as the
    * corpus grows). Only the MODEL (16×64 doubles) ever reaches the
    * driver; the corpus-side assignment pass stays distributed.
    */
  private[ops] def trainCentroids(e: org.apache.spark.sql.DataFrame): Array[Array[Double]] = {
    val sample = e.filter(col("vec_id") < PqTrainSample)
    // FIRST IvfLists vectors BY ID, not `vec_id < IvfLists`: ids need
    // not be contiguous from 0 (a filtered/compacted corpus), and a
    // shrunken — or EMPTY — init crashed every consumer's argmin
    // (caught by a low-id block-drop perturbed sweep). Same discipline
    // as [[trainPqCodebook]]; a TopK of 16 rows, constant driver traffic.
    var cents: Array[Array[Double]] = e
      .orderBy(col("vec_id")).limit(IvfLists)
      .collect()
      .map(_.getAs[Seq[Double]]("vd").toArray)

    val dim = cents.head.length
    (1 to IvfIters).foreach { _ =>
      // argmin ||v - c||² = argmax (v·c − ||c||²/2) since ||v|| is constant
      // per v; one kernel computes all k scores per row (VecOps scaladoc)
      val assigned = sample.withColumn("cs",
          graft.functions.VecOps.centroidScoresCol(col("vd"), cents))
        .withColumn("list_id",
          expr("array_position(cs, array_max(cs))").cast("int") - 1)
      // centroid update: ONE (sum[dim], count) buffer per list per
      // partition crosses the shuffle — not n×dim exploded rows
      val means = assigned
        .groupBy(col("list_id"))
        .agg(graft.functions.VecOps.vecAvgCol(col("vd"), dim).as("m"))
        .collect()
      val next = cents.map(_.clone())
      means.foreach { r =>
        next(r.getInt(0)) = r.getAs[Seq[Double]]("m").toArray
      }
      cents = next // empty clusters keep their previous centroid
    }
    cents
  }

  /** IVF: assign every vector to its nearest trained centroid (one narrow
    * pass), probe the anchor's top-`IvfProbes` lists, exact-rerank inside
    * the probed lists only. The inverted-list assignment is the shuffle
    * key — at scale each list is a co-located partition and a query touches
    * `IvfProbes/IvfLists` of the corpus.
    */
  def qAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val e = withVec(Tables.embeddings(spark, dir))
    val centroids = trainCentroids(e)

    // euclidean-equivalent scores against all centroids; best = assignment
    val scored = e.withColumn("cscores",
      graft.functions.VecOps.centroidScoresCol(col("vd"), centroids))
    val assigned = scored.withColumn("list_id",
      expr("array_position(cscores, array_max(cscores))").cast("int") - 1)

    val corpus = assigned.select(col("vec_id").as("b_id"), col("vd").as("b_vd"),
      col("nrm").as("b_nrm"), col("list_id"))

    // anchors probe their top-IvfProbes lists
    val anchors = assigned.filter(col("vec_id") < Anchors)
      .withColumn("probe_lists",
        expr(s"""slice(array_sort(
            transform(sequence(0, size(cscores) - 1),
              i -> struct(cscores[i] AS s, i AS idx)),
            (l, r) -> CASE WHEN l.s > r.s THEN -1
                           WHEN l.s < r.s THEN 1 ELSE 0 END),
          1, $IvfProbes)"""))
      .select(col("vec_id").as("a_id"), col("vd").as("a_vd"),
        col("nrm").as("a_nrm"),
        explode(expr("transform(probe_lists, p -> CAST(p.idx AS INT))")).as("list_id"))

    val w = Window.partitionBy(col("a_id"))
      .orderBy(col("cosine").desc, col("b_id").asc)
    anchors
      .join(corpus, Seq("list_id"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("cosine",
        round(dot(col("a_vd"), col("b_vd")) / (col("a_nrm") * col("b_nrm")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("a_id"), col("b_id"), col("rnk"), col("cosine"))
      .orderBy(col("a_id"), col("rnk"))
  }

  // ---------- IVF + SQ8 + exact refine (the full compressed-index hybrid) ----------
  /** The three-stage layout a production vector index actually runs
    * (FAISS `IVF16,SQ8,Refine`): a trained coarse quantizer routes each
    * query to its `IvfProbes` nearest inverted lists, the in-list scan
    * scores INT8-quantized codes (4× less memory traffic than floats —
    * at 100 TB the difference between an in-memory index and one that
    * spills), and only the top-30 compressed candidates per anchor pay
    * the exact full-precision dot product. Composes [[qAnnIvf]]'s
    * routing with [[qAnnQuantized]]'s compressed scoring — each stage
    * cuts the work the next stage sees: probes cut the corpus by
    * `IvfProbes/IvfLists`, the int8 cut leaves 30 rows/anchor, the
    * refine touches only those.
    *
    * Approximate (probing can miss a list, the int8 cut can drop a true
    * neighbor), so the registered query is the self-certifying recall row
    * vs the in-plan exact top-k, like the other trained-model indexes.
    */
  def qAnnIvfSq8(spark: SparkSession, dir: String): DataFrame = {
    val e = withVec(Tables.embeddings(spark, dir))
    val centroids = trainCentroids(e)
    val assigned = e
      .withColumn("cscores",
        graft.functions.VecOps.centroidScoresCol(col("vd"), centroids))
      .withColumn("list_id",
        expr("array_position(cscores, array_max(cscores))").cast("int") - 1)
      .withColumn("scale",
        aggregate(col("vd"), lit(0.0), (a, x) => greatest(a, abs(x))) / 127.0)
      .withColumn("q",
        transform(col("vd"), x => round(x / col("scale")).cast("double")))

    val corpus = assigned.select(col("vec_id").as("b_id"),
      col("vd").as("b_vd"), col("nrm").as("b_nrm"),
      col("q").as("b_q"), col("scale").as("b_s"), col("list_id"))
    val anchors = assigned.filter(col("vec_id") < Anchors)
      .withColumn("probe_lists",
        expr(s"""slice(array_sort(
            transform(sequence(0, size(cscores) - 1),
              i -> struct(cscores[i] AS s, i AS idx)),
            (l, r) -> CASE WHEN l.s > r.s THEN -1
                           WHEN l.s < r.s THEN 1 ELSE 0 END),
          1, $IvfProbes)"""))
      .select(col("vec_id").as("a_id"), col("vd").as("a_vd"),
        col("nrm").as("a_nrm"), col("q").as("a_q"), col("scale").as("a_s"),
        explode(expr("transform(probe_lists, p -> CAST(p.idx AS INT))"))
          .as("list_id"))

    val wq = Window.partitionBy(col("a_id"))
      .orderBy(col("qscore").desc, col("b_id").asc)
    val w = Window.partitionBy(col("a_id"))
      .orderBy(col("cosine").desc, col("b_id").asc)
    anchors
      .join(corpus, Seq("list_id"))
      .filter(col("a_id") =!= col("b_id"))
      .withColumn("qscore", // compressed in-list scoring
        dot(col("a_q"), col("b_q")) * col("a_s") * col("b_s")
          / (col("a_nrm") * col("b_nrm")))
      .withColumn("qrnk", row_number().over(wq))
      .filter(col("qrnk") <= 30)
      .withColumn("cosine", // exact refine on the float vectors
        round(dot(col("a_vd"), col("b_vd")) / (col("a_nrm") * col("b_nrm")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("a_id"), col("b_id"), col("rnk"), col("cosine"))
      .orderBy(col("a_id"), col("rnk"))
  }

  // ---------- int8 scalar-quantized ANN (compressed-index scale path) ----------
  /** Per-vector symmetric int8 quantization: `scale = max|x| / 127`,
    * `q[i] = round(x[i] / scale)` — a 4× memory cut vs float32 (8× vs
    * this pipeline's double intermediates), which at 100 TB is the
    * difference between an in-memory index and one that spills. Scoring
    * runs on the quantized vectors (`Σ qa·qb · sa·sb`), a top-3k
    * candidate cut per anchor on the approximate score, then an exact
    * re-rank of just those candidates on the original floats — the
    * standard SQ8 + refine layout (FAISS's `SQ8,Refine`). Approximate
    * (the int8 cut can drop a true neighbor), so no SQL oracle; recall
    * vs `q_ann_topk` is asserted in OpsSpec.
    */
  def qAnnQuantized(spark: SparkSession, dir: String): DataFrame = {
    val e = withVec(Tables.embeddings(spark, dir))
      .withColumn("scale",
        aggregate(col("vd"), lit(0.0), (a, x) => greatest(a, abs(x))) / 127.0)
      .withColumn("q",
        transform(col("vd"), x => round(x / col("scale")).cast("double")))
    val anchors = e.filter(col("vec_id") < Anchors)
      .select(col("vec_id").as("a_id"), col("vd").as("a_vd"),
        col("nrm").as("a_nrm"), col("q").as("a_q"), col("scale").as("a_s"))
    val corpus = e.select(col("vec_id").as("b_id"), col("vd").as("b_vd"),
      col("nrm").as("b_nrm"), col("q").as("b_q"), col("scale").as("b_s"))

    val approx = broadcast(anchors)
      .join(corpus, col("a_id") =!= col("b_id"))
      .withColumn("qscore",
        dot(col("a_q"), col("b_q")) * col("a_s") * col("b_s")
          / (col("a_nrm") * col("b_nrm")))
    val wq = Window.partitionBy(col("a_id"))
      .orderBy(col("qscore").desc, col("b_id").asc)
    val w = Window.partitionBy(col("a_id"))
      .orderBy(col("cosine").desc, col("b_id").asc)
    approx
      .withColumn("qrnk", row_number().over(wq))
      .filter(col("qrnk") <= 30) // candidate cut on the compressed score
      .withColumn("cosine", // exact refine on the float vectors
        round(dot(col("a_vd"), col("b_vd")) / (col("a_nrm") * col("b_nrm")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("a_id"), col("b_id"), col("rnk"), col("cosine"))
      .orderBy(col("a_id"), col("rnk"))
  }

  // ---------- product-quantized ANN (ADC scoring; completes the FAISS family) ----------
  private val PqM = 8 // sub-spaces of Dim/PqM = 8 dims each
  private val PqK = 16 // centroids per sub-space → 4-bit codes
  private val PqIters = 2

  /** Training-sample size: a FIXED count, like the anchor sets — codebook
    * quality saturates long before the corpus does (FAISS trains PQ on
    * 10-100k samples regardless of index size), so training cost stays
    * constant as the corpus grows.
    */
  private val PqTrainSample = 1000

  /** Lloyd-trained product codebook: deterministic init (sub-vectors of
    * the first `PqK` vectors by id), then `PqIters` assign/update rounds
    * over a fixed-size training sample — ALL sub-spaces trained in one
    * distributed aggregation per round (encode → posexplode codes →
    * groupBy (sub-space, code) → [[VecOps]] mean). Only the
    * `PqM × PqK × 8`-double codebook reaches the driver.
    */
  private[ops] def trainPqCodebook(
      e: org.apache.spark.sql.DataFrame): Array[Array[Array[Double]]] = {
    val subDim = Dim / PqM
    val sample = e.filter(col("vec_id") < PqTrainSample)
    // FIRST PqK vectors BY ID, not `vec_id < PqK`: ids need not be
    // contiguous from 0 (a filtered/compacted corpus), and a shrunken
    // init silently changes the codebook's per-sub-space size. A
    // TakeOrderedAndProject of 16 rows — constant driver traffic.
    val init = e.orderBy(col("vec_id")).limit(PqK)
      .collect()
      .map(_.getAs[Seq[Double]]("vd").toArray)
    var book = Array.tabulate(PqM)(m =>
      init.map(_.slice(m * subDim, (m + 1) * subDim)))
    (1 to PqIters).foreach { _ =>
      val means = sample
        .withColumn("codes", graft.functions.PqOps.encodeCol(col("vd"), book))
        .select(col("vd"), posexplode(col("codes")).as(Seq("m", "code")))
        .withColumn("sub", expr(s"slice(vd, m * $subDim + 1, $subDim)"))
        .groupBy(col("m"), col("code"))
        .agg(graft.functions.VecOps.vecAvgCol(col("sub"), subDim).as("mean"))
        .collect()
      val next = book.map(_.map(_.clone()))
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getAs[Seq[Double]]("mean").toArray
      }
      book = next // empty cells keep their previous centroid
    }
    book
  }

  /** PQ + ADC + exact refine (the FAISS `PQ8,Refine` layout): corpus
    * vectors compress to 8 codes of 4 bits — 4 bytes against 256 bytes of
    * float64, the difference between an in-memory index and a spilling
    * one at 100 TB. Each anchor precomputes its `M × K` dot-product
    * lookup table ONCE ([[graft.functions.PqOps.lut]]); scoring a corpus
    * vector is then 8 table reads (no float math per pair), a top-90 cut
    * on the ADC score (a 9× over-fetch — PQ4 is the coarsest index in
    * the family and needs the margin, see the cut's comment), and an
    * exact float re-rank of just those candidates. Approximate → no SQL
    * oracle; recall vs `q_ann_topk` is asserted in OpsSpec.
    */
  def qAnnPq(spark: SparkSession, dir: String): DataFrame = {
    val e = withVec(Tables.embeddings(spark, dir))
    val book = trainPqCodebook(e)
    val corpus = e.select(col("vec_id").as("b_id"), col("vd").as("b_vd"),
      col("nrm").as("b_nrm"),
      graft.functions.PqOps.encodeCol(col("vd"), book).as("b_codes"))
    val anchors = e.filter(col("vec_id") < Anchors)
      .select(col("vec_id").as("a_id"), col("vd").as("a_vd"),
        col("nrm").as("a_nrm"),
        graft.functions.PqOps.lutCol(col("vd"), book).as("a_lut"))
    val approx = broadcast(anchors)
      .join(corpus, col("a_id") =!= col("b_id"))
      .withColumn("qscore",
        graft.functions.PqOps.adcCol(col("a_lut"), col("b_codes"))
          / (col("a_nrm") * col("b_nrm")))
    val wq = Window.partitionBy(col("a_id"))
      .orderBy(col("qscore").desc, col("b_id").asc)
    val w = Window.partitionBy(col("a_id"))
      .orderBy(col("cosine").desc, col("b_id").asc)
    approx
      .withColumn("qrnk", row_number().over(wq))
      // Candidate cut on the compressed score: 90 = a 9× over-fetch for
      // k=10. PQ4 (8 subspaces × 16 centroids) is the COARSEST index in
      // the family, and the 30-cut left no recall margin — the sf0.1
      // mutation capstone (drop9+dup10+reverse) pushed one anchor to
      // 0/10 exact hits inside a 30-candidate shortlist. 90 restores
      // the per-anchor floor with margin on both pristine and mutated
      // data (one hostile anchor sits AT the floor with 1 hit even at 90
      // — its neighborhood is genuinely PQ4-adversarial); refine cost is
      // still 90 float dots per anchor — O(K)
      // driver-fixed, invisible at any corpus size.
      .filter(col("qrnk") <= 90)
      .withColumn("cosine", // exact refine on the float vectors
        round(dot(col("a_vd"), col("b_vd")) / (col("a_nrm") * col("b_nrm")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .select(col("a_id"), col("b_id"), col("rnk"), col("cosine"))
      .orderBy(col("a_id"), col("rnk"))
  }

  // ---------- truncated-dimension (Matryoshka-style) retrieval ----------
  /** Prefix-dimension retrieval the way Matryoshka-representation indexes
    * run it: rank by cosine over the FIRST 16 of 64 dimensions — 4× less
    * score compute and index memory — then report the full-dimension
    * cosine of the selected candidates (the refine step's input). Unlike
    * the SQ8/PQ variants this is EXACT by definition (the truncated space
    * IS the index, not an approximation of full-dim ranking), so the
    * whole output hash-matches a DuckDB oracle computing the same sliced
    * cosines. Same O(K·n) anchor shape as [[qAnnTopk]]; at 100 TB the
    * prefix scores stream over a 4×-narrower column.
    */
  private val MrlDims = 16

  def qAnnMrl(spark: SparkSession, dir: String): DataFrame = {
    val e = withVec(Tables.embeddings(spark, dir))
      .withColumn("vd16", expr(s"slice(vd, 1, $MrlDims)"))
      .withColumn("nrm16",
        sqrt(aggregate(col("vd16"), lit(0.0), (acc, x) => acc + x * x)))
    val anchors = e.filter(col("vec_id") < Anchors)
      .select(col("vec_id").as("a_id"), col("vd").as("a_vd"),
        col("nrm").as("a_nrm"), col("vd16").as("a_vd16"),
        col("nrm16").as("a_nrm16"))
    val corpus = e.select(col("vec_id").as("b_id"), col("vd").as("b_vd"),
      col("nrm").as("b_nrm"), col("vd16").as("b_vd16"),
      col("nrm16").as("b_nrm16"))
    val w = Window.partitionBy(col("a_id"))
      .orderBy(col("cosine16").desc, col("b_id").asc)
    broadcast(anchors)
      .join(corpus, col("a_id") =!= col("b_id"))
      .withColumn("cosine16",
        round(dot(col("a_vd16"), col("b_vd16")) / (col("a_nrm16") * col("b_nrm16")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 10)
      .withColumn("cosine_full", // refine: full-dim score of the selected
        round(dot(col("a_vd"), col("b_vd")) / (col("a_nrm") * col("b_nrm")), 6))
      .select(col("a_id"), col("b_id"), col("rnk"), col("cosine16"),
        col("cosine_full"))
      .orderBy(col("a_id"), col("rnk"))
  }

  val qAnnMrlOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v,
        (embedding::DOUBLE[])[1:$MrlDims] v16 FROM embeddings),
      scored AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
          round(list_cosine_similarity(a.v16, b.v16), 6) AS cosine16,
          round(list_cosine_similarity(a.v, b.v), 6) AS cosine_full
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < $Anchors)
      SELECT a_id, b_id, rnk, cosine16, cosine_full FROM (
        SELECT *, row_number() OVER (PARTITION BY a_id
          ORDER BY cosine16 DESC, b_id ASC) AS rnk FROM scored) t
      WHERE rnk <= 10 ORDER BY a_id, rnk"""

  // ---------- two-stage retrieval: coarse shortlist + exact rerank ----------
  private val RerankC = 50

  /** The production serving pattern for vector retrieval at scale:
    * stage 1 scores a CHEAP representation (here the 16-dim Matryoshka
    * prefix; at 100 TB, PQ codes resident in memory) and keeps a
    * C-candidate shortlist; stage 2 computes the exact full-dimension
    * cosine ONLY for those C rows per query — the IO-heavy full vectors
    * are touched C/corpus of the time. C is the recall-vs-IO knob
    * (C = 50 ≫ k = 10 recovers most of the coarse stage's ranking
    * error; `SimilaritySpec`-style assertions in OpsSpec pin rerank
    * recall ≥ the prefix-only selection's).
    *
    * Unlike IVF/PQ (whose trained models DuckDB cannot re-run, hence
    * their self-certifying recall rows), BOTH stages here are
    * deterministic closed-form expressions, so the full reranked
    * neighbor lists are hash-exact oracled.
    *
    * Scale shape: one broadcast of the fixed anchor set; both
    * row_numbers partition by anchor id (high-cardinality at real query
    * volumes); the full-dim dot product sits AFTER the shortlist filter
    * so only C rows per anchor pay it.
    */
  def qAnnRerank(spark: SparkSession, dir: String): DataFrame = {
    val e = withVec(Tables.embeddings(spark, dir))
      .withColumn("vd16", expr(s"slice(vd, 1, $MrlDims)"))
      .withColumn("nrm16",
        sqrt(aggregate(col("vd16"), lit(0.0), (acc, x) => acc + x * x)))
    val anchors = e.filter(col("vec_id") < Anchors)
      .select(col("vec_id").as("a_id"), col("vd").as("a_vd"),
        col("nrm").as("a_nrm"), col("vd16").as("a_vd16"),
        col("nrm16").as("a_nrm16"))
    val corpus = e.select(col("vec_id").as("b_id"), col("vd").as("b_vd"),
      col("nrm").as("b_nrm"), col("vd16").as("b_vd16"),
      col("nrm16").as("b_nrm16"))
    val w1 = Window.partitionBy(col("a_id"))
      .orderBy(col("cosine16").desc, col("b_id").asc)
    val w2 = Window.partitionBy(col("a_id"))
      .orderBy(col("cosine_full").desc, col("b_id").asc)
    broadcast(anchors)
      .join(corpus, col("a_id") =!= col("b_id"))
      .withColumn("cosine16",
        round(dot(col("a_vd16"), col("b_vd16")) / (col("a_nrm16") * col("b_nrm16")), 6))
      .withColumn("crnk", row_number().over(w1))
      .filter(col("crnk") <= RerankC)
      .withColumn("cosine_full",
        round(dot(col("a_vd"), col("b_vd")) / (col("a_nrm") * col("b_nrm")), 6))
      .withColumn("rnk", row_number().over(w2))
      .filter(col("rnk") <= 10)
      .select(col("a_id"), col("b_id"), col("rnk"), col("cosine_full"),
        col("crnk"))
      .orderBy(col("a_id"), col("rnk"))
  }

  val qAnnRerankOracle: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v,
        (embedding::DOUBLE[])[1:$MrlDims] v16 FROM embeddings),
      c AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
          round(list_cosine_similarity(a.v16, b.v16), 6) AS cosine16,
          round(list_cosine_similarity(a.v, b.v), 6) AS cosine_full
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < $Anchors),
      short AS (SELECT a_id, b_id, cosine_full, crnk FROM (
        SELECT *, row_number() OVER (PARTITION BY a_id
          ORDER BY cosine16 DESC, b_id ASC) AS crnk FROM c) t
        WHERE crnk <= $RerankC),
      rr AS (SELECT *, row_number() OVER (PARTITION BY a_id
          ORDER BY cosine_full DESC, b_id ASC) AS rnk FROM short)
      SELECT a_id, b_id, rnk, cosine_full, crnk FROM rr
      WHERE rnk <= 10 ORDER BY a_id, rnk"""

  // ---------- filtered (predicate-constrained) vector search ----------
  /** Filtered vector search — "nearest neighbors among vectors matching a
    * metadata predicate", the operation vector stores call pre-filtered
    * ANN. Here the predicate is label equality with the anchor, which
    * turns the candidate join into a broadcast HASH join on the label
    * (not a nested loop): the filter prunes candidates BEFORE any
    * distance is computed — at 100 TB the selective predicate cuts the
    * scored set by the label cardinality, and the equi-key would carry a
    * shuffle join if the anchor side ever outgrew broadcast. Exact
    * within the filtered set, so fully oracle-checked.
    */
  def qAnnFiltered(spark: SparkSession, dir: String): DataFrame = {
    val e = withVec(Tables.embeddings(spark, dir))
    val anchors = e.filter(col("vec_id") < Anchors)
      .select(col("vec_id").as("a_id"), col("label").as("a_label"),
        col("vd").as("a_vd"), col("nrm").as("a_nrm"))
    val corpus = e.select(col("vec_id").as("b_id"), col("label").as("b_label"),
      col("vd").as("b_vd"), col("nrm").as("b_nrm"))
    val scored = broadcast(anchors)
      .join(corpus,
        col("a_label") === col("b_label") && col("a_id") =!= col("b_id"))
      .withColumn("cosine",
        round(dot(col("a_vd"), col("b_vd")) / (col("a_nrm") * col("b_nrm")), 6))
    val w = Window.partitionBy(col("a_id"))
      .orderBy(col("cosine").desc, col("b_id").asc)
    scored
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("a_id"), col("a_label"), col("b_id"), col("rnk"), col("cosine"))
      .orderBy(col("a_id"), col("rnk"))
  }

  val qAnnFilteredOracle: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
      scored AS (
        SELECT a.vec_id AS a_id, a.label AS a_label, b.vec_id AS b_id,
          round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id
        WHERE a.vec_id < 50)
      SELECT a_id, a_label, b_id, rnk, cosine FROM (
        SELECT *, row_number() OVER (PARTITION BY a_id
          ORDER BY cosine DESC, b_id ASC) AS rnk FROM scored) t
      WHERE rnk <= 5 ORDER BY a_id, rnk"""

  // ---------- self-certifying recall output for the approximate variants ----------
  /** The approximate variants (LSH / IVF / SQ8 / PQ) cannot be value-matched
    * by a SQL oracle — DuckDB can't re-run Lloyd training or hyperplane
    * hashing. Instead each registered query is SELF-CERTIFYING: it computes
    * its approximate top-k AND the exact top-k in the same plan, derives
    * per-anchor recall@10, and emits ONE aggregate row whose counts collapse
    * to data-derivable constants exactly when the recall contract holds:
    *
    *  - `n_anchors` / `n_exact` — anchor count and exact-pair count, which
    *    the oracle recomputes from the embeddings table itself;
    *  - `n_ge_floor` — anchors whose recall ≥ the per-algo floor; the
    *    contract says ALL of them, so the oracle expects `n_anchors`;
    *  - `mean_ge_spec` — 1 iff mean recall ≥ the per-algo spec threshold.
    *
    * A recall regression (worse hashing, broken training, a dropped
    * candidate cut) flips `n_ge_floor` or `mean_ge_spec` and the DuckDB
    * hash-match FAILS — the oracle now gates the approximation quality, not
    * just row counts. Thresholds were measured (recall@10 vs [[qAnnTopk]])
    * across sf0.001/0.01/0.1 and chosen with margin (e.g. PQ mean recall
    * measured 0.31–0.55 across SFs → spec 0.25; SQ8 measured 1.00
    * everywhere → floor 0.9). The neighbor-list outputs remain available
    * as the public `qAnnLsh`/`qAnnIvf`/... methods (specs assert on them
    * directly); the certified row is what Verify/Bench exercise. One call
    * builds the query and its oracle from the same thresholds.
    */
  private def certified(name: String, algo: String, floorR: Double,
      specMean: Double, approxFn: (SparkSession, String) => DataFrame)
      : GraftQuery = {
    def run(spark: SparkSession, dir: String): DataFrame = {
      val exact = qAnnTopk(spark, dir).select(col("a_id"), col("b_id"))
      val ap = approxFn(spark, dir).select(col("a_id"), col("b_id"))
      val kEff = exact.groupBy("a_id").agg(count(lit(1)).as("k_eff"))
      val hits = ap.join(exact, Seq("a_id", "b_id"))
        .groupBy("a_id").agg(count(lit(1)).as("hits"))
      val per = kEff.join(hits, Seq("a_id"), "left")
        .na.fill(0, Seq("hits"))
        .withColumn("recall", col("hits") / col("k_eff"))
      per
        .agg(
          count(lit(1)).cast("long").as("n_anchors"),
          sum("k_eff").cast("long").as("n_exact"),
          sum(when(col("recall") >= floorR, 1L).otherwise(0L))
            .cast("long").as("n_ge_floor"),
          when(avg(col("recall")) >= specMean, 1L).otherwise(0L)
            .cast("long").as("mean_ge_spec"))
        .select(
          lit(algo).as("algo"), lit(10L).as("k"),
          col("n_anchors"), col("n_exact"),
          lit(floorR).as("floor_recall"), lit(specMean).as("spec_mean"),
          col("n_ge_floor"), col("mean_ge_spec"))
    }
    // the oracle's anchor counts come from the embeddings table (not bare
    // literals), the contract columns are the expected constants.
    // `::BIGINT` everywhere — DuckDB `count(*)` is BIGINT but arithmetic
    // promotes to HUGEINT, which hash-mismatches. (The SQL's indentation is
    // part of the oracle text, so it stays where it was.)
    val oracle =
    s"""WITH a AS (SELECT count(*)::BIGINT AS n FROM embeddings WHERE vec_id < $Anchors)
      SELECT '$algo' AS algo, 10::BIGINT AS k,
        n AS n_anchors, (n * 10)::BIGINT AS n_exact,
        ($floorR)::DOUBLE AS floor_recall, ($specMean)::DOUBLE AS spec_mean,
        n AS n_ge_floor, 1::BIGINT AS mean_ge_spec
      FROM a"""
    GraftQuery(name, run, oracle)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): compare
    * embeddings pairwise only WITHIN a cluster, drop every vector whose
    * cosine to an earlier (lower-id) cluster member meets the threshold.
    * Here the cluster id is the `label` column (the paper's k-means
    * assignment precomputed); at 100 TB the cluster count grows with the
    * corpus so per-cluster size stays bounded, making the within-cluster
    * pair set O(Σᵢ sᵢ²) with small sᵢ — the whole point of clustering
    * first. Plan: one shuffle on the cluster id for the self-join, a
    * group-by on the victim id, then one key-shuffle left-outer join to
    * attach the verdict (the dups side is corpus-proportional, so it is
    * not broadcastable at scale); no global pairwise work anywhere.
    *
    * τ = 0.43 is margin-audited: the closest pair cosine at sf0.001 /
    * 0.01 / 0.1 sits 9.6e-4 from the threshold (and outputs are
    * integers), so the double fold order cannot flip any decision.
    */
  def qDedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    val tau = 0.43
    val e = withVec(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("label"), col("vd"), col("nrm"))
    val a = e.select(col("vec_id").as("a_id"), col("label").as("a_label"),
      col("vd").as("a_vd"), col("nrm").as("a_nrm"))
    val b = e.select(col("vec_id").as("b_id"), col("label").as("b_label"),
      col("vd").as("b_vd"), col("nrm").as("b_nrm"))
    val dups = a.join(b, col("a_label") === col("b_label") &&
        col("a_id") < col("b_id"))
      .withColumn("cosine",
        round(dot(col("a_vd"), col("b_vd")) / (col("a_nrm") * col("b_nrm")), 6))
      .filter(col("cosine") >= tau)
      .groupBy(col("b_id"))
      .agg(count(lit(1)).as("n_dups"))
    e.select(col("vec_id"), col("label"))
      .join(dups, col("vec_id") === col("b_id"), "left_outer")
      .select(col("vec_id"), col("label"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("n_dups").isNull.cast("int").as("keep"))
      .orderBy(col("vec_id"))
  }

  val qDedupSemanticOracle: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
      d AS (SELECT b.vec_id AS b_id, count(*)::BIGINT AS n_dups
        FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.43
        GROUP BY b.vec_id)
      SELECT e.vec_id, e.label,
        coalesce(d.n_dups, 0)::BIGINT AS n_dups,
        (d.b_id IS NULL)::INT AS keep
      FROM e LEFT JOIN d ON e.vec_id = d.b_id
      ORDER BY e.vec_id"""

  // ---------- semantic decontamination (benchmark overlap by embedding) ----------
  /** Semantic DECONTAMINATION — the embedding-space companion to the
    * n-gram/phrase decontaminators (`q_decontaminate` /
    * `q_decontaminate_ngram` in TextAnalysis): flag training items whose
    * cosine against ANY held-out benchmark vector reaches τ, catching
    * PARAPHRASED eval leakage that token overlap structurally cannot.
    * The benchmark set is the fixed [[Anchors]]-vector prefix standing
    * in for an eval suite — a constant-size broadcast, so the corpus
    * streams once and total work is O(K·n) at any corpus size, the same
    * anchor discipline as every trained-index query in this file. Emits
    * the full per-item audit (hit count at τ, max benchmark cosine —
    * the triage number a contamination report leads with, and the
    * keep/drop verdict). τ = 0.43's decision margin is ≥ 1e-4 at all
    * SFs (audited in CurationSpec), so cross-engine ULP noise cannot
    * flip a verdict; the cosine itself is the sequential-fold [[dot]]
    * kernel, bit-identical to DuckDB's fold.
    */
  def qDecontaminateSemantic(spark: SparkSession, dir: String): DataFrame = {
    val tau = 0.43
    val e = withVec(Tables.embeddings(spark, dir))
    val bench = e.filter(col("vec_id") < Anchors)
      .select(col("vd").as("b_vd"), col("nrm").as("b_nrm"))
    val corpus = e.filter(col("vec_id") >= Anchors)
      .select(col("vec_id"), col("label"), col("vd"), col("nrm"))
    corpus.crossJoin(broadcast(bench))
      .withColumn("cos",
        round(dot(col("vd"), col("b_vd")) / (col("nrm") * col("b_nrm")), 6))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(when(col("cos") >= tau, 1L).otherwise(0L)).as("n_hits"),
        round(max(col("cos")), 6).as("max_cos"))
      .withColumn("contaminated", (col("n_hits") > 0).cast("int"))
      .orderBy(col("vec_id"))
  }

  val qDecontaminateSemanticOracle: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
      b AS (SELECT v AS bv FROM e WHERE vec_id < 50),
      c AS (SELECT vec_id, label, v FROM e WHERE vec_id >= 50),
      s AS (SELECT c.vec_id, c.label,
          round(list_cosine_similarity(c.v, b.bv), 6) AS cs
        FROM c CROSS JOIN b)
      SELECT vec_id, label,
        sum(CASE WHEN cs >= 0.43 THEN 1 ELSE 0 END)::BIGINT AS n_hits,
        round(max(cs), 6) AS max_cos,
        (sum(CASE WHEN cs >= 0.43 THEN 1 ELSE 0 END) > 0)::INT AS contaminated
      FROM s GROUP BY vec_id, label ORDER BY vec_id"""

  // ---------- greedy k-center diversity selection (Gonzalez) ----------
  /** DIVERSITY SAMPLING by greedy k-center (Gonzalez 1985, the 2-approx
    * farthest-point heuristic) — the coreset/curation primitive that
    * picks a maximally-spread representative subset of an embedding
    * corpus (seed prompts, eval panels, balanced fine-tune subsets).
    * Deterministic: seed = minimum vec_id present, then k−1 rounds of "farthest point
    * from the selected set" with ties broken on vec_id. Emits the
    * selection trajectory — (step, chosen id, its distance to the prior
    * set); that distance sequence is non-increasing and step i+1's value
    * is exactly the k-center radius after i selections, so the output IS
    * the coverage certificate.
    *
    * Scale shape: each round is ONE corpus scan computing `least` of ≤k
    * scan-side distance expressions (`sqrt(aggregate(zip_with(...)))` —
    * the same left-to-right fold as DuckDB's `list_distance`, so the
    * rounded outputs and every argmax comparison see bit-identical
    * doubles) finished by a `TakeOrderedAndProject(1)`; the per-round
    * collect is ONE row (a fixed-size model, k-bounded — the sanctioned
    * exception to the no-collect rule). Total O(k·n·dims), the same
    * anchor discipline as the trained-index queries. The oracle replays
    * the identical greedy recursion as a recursive CTE.
    */
  def qSampleKcenter(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    val pts = withVec(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("label"), col("vd"))
    def distTo(c: Array[Double]): Column =
      sqrt(aggregate(
        zip_with(col("vd"), typedlit(c), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, x) => acc + x))
    // seed = MINIMUM id present, not the literal id 0: a filtered
    // corpus may not contain vec_id 0 (caught by a low-id block-drop
    // perturbed sweep — the head call threw). Mirrored in the oracle.
    val first = pts.orderBy(col("vec_id")).limit(1).head()
    val firstId = first.getLong(0)
    var centers = Vector(first.getSeq[Double](2).toArray)
    var ids = Vector(firstId)
    val rows = scala.collection.mutable.ArrayBuffer(
      (1, firstId, first.getInt(1), 0.0))
    var exhausted = false
    while (rows.length < k && !exhausted) {
      val minDist = centers.map(distTo).reduce(least(_, _))
      val cand = pts.filter(!col("vec_id").isInCollection(ids))
        .withColumn("d", minDist)
        .orderBy(col("d").desc, col("vec_id"))
        .limit(1).collect()
      cand.headOption match {
        case Some(w) =>
          centers :+= w.getSeq[Double](2).toArray
          ids :+= w.getLong(0)
          rows += ((rows.length + 1, w.getLong(0), w.getInt(1),
            w.getDouble(3)))
        case None =>
          // corpus smaller than k: the oracle's LATERAL recursion just
          // stops — match it instead of throwing on head()
          exhausted = true
      }
    }
    import spark.implicits._
    rows.toSeq.toDF("step", "vec_id", "label", "dist")
      .select(col("step"), col("vec_id"), col("label"),
        round(col("dist"), 6).as("dist6"))
      .orderBy(col("step"))
  }

  val qSampleKcenterOracle: String =
    """WITH RECURSIVE e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        FROM embeddings),
      seed AS (SELECT vec_id, label, v FROM e ORDER BY vec_id LIMIT 1),
      sel AS (
        SELECT 1 AS step, (SELECT vec_id FROM seed)::BIGINT AS vec_id,
          (SELECT label FROM seed) AS label,
          0.0::DOUBLE AS dist, -- bare 0.0 unifies the union to DECIMAL(2,1)
          [(SELECT v FROM seed)] AS centers,
          [(SELECT vec_id FROM seed)::BIGINT] AS ids
        UNION ALL
        SELECT s.step + 1, w.vec_id, w.label, w.d,
          list_append(s.centers, w.v), list_append(s.ids, w.vec_id)
        FROM sel s, LATERAL (
          SELECT c.vec_id, c.label, c.v,
            list_min([list_distance(cv, c.v) FOR cv IN s.centers]) AS d
          FROM e c WHERE NOT list_contains(s.ids, c.vec_id)
          ORDER BY d DESC, c.vec_id LIMIT 1) w
        WHERE s.step < 8)
      SELECT step, vec_id, label, round(dist, 6) AS dist6
      FROM sel ORDER BY step"""

  // ---------- k-means clustering (one Lloyd iteration, exact) ----------

  /** Distributed k-means over the embedding column — the clustering
    * primitive behind cluster-balanced sampling and SemDeDup-style
    * within-cluster dedup. Seeds are the first k vectors (deterministic),
    * then ONE full Lloyd step: assign → recompute centroids → reassign;
    * emitted per final cluster: size and the majority label with its
    * count (cluster purity, the number a curation pipeline actually
    * consumes).
    *
    * Cross-engine determinism, the part worth reading:
    *  - Assignment compares squared L2 distances; DuckDB's oracle orders
    *    by `list_distance` (the sqrt) — monotone-equivalent, and only
    *    the ORDER is consumed. Ties break on centroid id.
    *  - The centroid update is the float trap: a per-dimension double
    *    sum is order-dependent in its last ULP and each engine folds in
    *    its own order. So components are quantized to fixed-point
    *    (`round(x·1e9)` as BIGINT — exact integer sums, associative,
    *    engine-identical) and the mean is rebuilt as
    *    `(sum/1e9)/count` in doubles, the same two operations in the
    *    same order on identical operands in both engines.
    *    `SimilaritySpec` margin-audits the residual risk: the gap
    *    between best and second-best centroid per point dwarfs any
    *    remaining ULP noise.
    *
    * Scale shape: centroids are a k-row broadcast on both assignment
    * passes (the corpus never shuffles to be assigned); the update is
    * posexplode → partial-aggregated integer sums keyed by (cluster,
    * dim) — the map-side combine reduces the exchange to
    * O(tasks · k · dims) rows regardless of corpus size. That is the
    * textbook MapReduce k-means step, spelled declaratively.
    */
  def qClusterKmeans(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    val pts = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    // FIRST k vectors BY ID, not `vec_id < k`: ids need not be
    // contiguous from 0, and an id-threshold seed set shrinks — or
    // empties, crashing the argmin's [0] — on a filtered corpus
    // (caught by a low-id block-drop perturbed sweep). Mirrored in the
    // oracle's seeds CTE.
    val seeds = pts.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").cast("int").as("cid"), col("v").as("cv"))

    // Scan-side argmin: the k centroids are packed into ONE broadcast row
    // and the nearest is picked inside a projection (sort a k-element
    // struct array by (dist, cid)) — no row explosion, no shuffle; the
    // equivalent row_number-over-vec_id spelling would shuffle k·corpus
    // rows just to pick a minimum.
    def assign(centroids: DataFrame): DataFrame = {
      val packed = centroids
        .agg(collect_list(struct(col("cid"), col("cv"))).as("cs"))
      pts.crossJoin(broadcast(packed))
        .withColumn("best", expr(
          "array_sort(transform(cs, s -> struct(" +
            "aggregate(zip_with(v, s.cv, (x, y) -> (x - y) * (x - y)), " +
            "0D, (acc, z) -> acc + z) AS dist, s.cid AS cid)))[0]"))
        .select(col("vec_id"), col("label"), col("v"),
          col("best.cid").as("cluster"))
    }

    val a0 = assign(seeds)
    val cents = a0
      .select(col("cluster"),
        posexplode(transform(col("v"), x => round(x * lit(1e9)).cast("long")))
          .as(Seq("dim", "q")))
      .groupBy(col("cluster"), col("dim"))
      .agg(sum(col("q")).as("sq"), count(lit(1)).as("cnt"))
      .withColumn("c", col("sq").cast("double") / lit(1e9) / col("cnt"))
      .groupBy(col("cluster"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        s => s.getField("c")).as("cv"))
      .select(col("cluster").as("cid"), col("cv"))

    val a1 = assign(cents)
    val sizes = a1.groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("n").desc, col("label").asc)
    sizes.withColumn("rn", row_number().over(w))
      .groupBy(col("cluster"))
      .agg(sum(col("n")).as("n_points"),
        max(when(col("rn") === 1, col("label"))).as("top_label"),
        max(when(col("rn") === 1, col("n"))).as("n_top_label"))
      .orderBy(col("cluster"))
  }

  val qClusterKmeansOracle: String =
    """WITH p AS (SELECT vec_id, label, embedding::DOUBLE[] v
        FROM embeddings),
      seeds AS (SELECT vec_id::INT cid, v cv FROM p ORDER BY vec_id LIMIT 8),
      a0 AS (SELECT vec_id, label, v, cid AS cluster FROM (
        SELECT p.*, s.cid, row_number() OVER (PARTITION BY p.vec_id
          ORDER BY list_distance(p.v, s.cv) ASC, s.cid ASC) rn
        FROM p, seeds s) x WHERE rn = 1),
      q AS (SELECT cluster, generate_subscripts(v, 1) dim,
        unnest([round(x * 1e9)::BIGINT for x in v]) qv FROM a0),
      u AS (SELECT cluster, dim, sum(qv) sq, count(*) cnt FROM q
        GROUP BY cluster, dim),
      cent AS (SELECT cluster AS cid, list(c ORDER BY dim) cv FROM (
        SELECT cluster, dim, sq::DOUBLE / 1e9 / cnt AS c FROM u) m
        GROUP BY cluster),
      a1 AS (SELECT vec_id, label, cid AS cluster FROM (
        SELECT p.vec_id, p.label, c.cid, row_number() OVER (
          PARTITION BY p.vec_id
          ORDER BY list_distance(p.v, c.cv) ASC, c.cid ASC) rn
        FROM p, cent c) x WHERE rn = 1),
      s AS (SELECT cluster, label, count(*) n FROM a1
        GROUP BY cluster, label),
      r AS (SELECT *, row_number() OVER (PARTITION BY cluster
        ORDER BY n DESC, label ASC) rn FROM s)
      SELECT cluster, sum(n)::BIGINT n_points,
        max(CASE WHEN rn = 1 THEN label END) top_label,
        max(CASE WHEN rn = 1 THEN n END)::BIGINT n_top_label
      FROM r GROUP BY cluster ORDER BY cluster"""

  // ---------- exact covariance structure over embedding dimensions ----------

  /** Distributed exact covariance accumulation over the first 8 embedding
    * dimensions — the Gram-matrix pass behind PCA/whitening decisions on
    * an embedding corpus (is a cheap dimensionality cut safe? are dims
    * correlated?). Emits, per dimension pair (i <= j), the exact integer
    * sufficient statistics (n, Σqᵢ, Σqⱼ, Σqᵢqⱼ) and the covariance
    * numerator n·Σqᵢqⱼ − Σqᵢ·Σqⱼ (= n²·cov, scaled 1e6).
    *
    * Determinism: components quantize to fixed-point
    * (`round(x·1e3)` BIGINT — the [[qClusterKmeans]] idiom at a coarser
    * grid) so every sum is an associative integer fold, engine-identical
    * under any partitioning. Grid choice is the overflow budget: products
    * are bounded by 2.9e5, so Σqᵢqⱼ stays inside BIGINT past 3e13 rows;
    * the derived numerator products are safe past ~5e9 rows (beyond that
    * a deployment reports Σqᵢqⱼ/n − μᵢμⱼ in doubles instead — the
    * sufficient statistics themselves never overflow first).
    *
    * Scale shape: the 36 pair terms are built scan-side per row (nested
    * `transform`, no join, no second read of the corpus) and feed ONE
    * combine-fed exchange keyed on the 36 (di, dj) pairs —
    * O(tasks · 36) rows regardless of corpus size.
    */
  def qEmbedCovariance(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(expr("transform(slice(embedding, 1, 8), " +
        "x -> cast(round(cast(x AS DOUBLE) * 1000) AS BIGINT))").as("q"))
      .select(explode(expr("flatten(transform(sequence(0, 7), " +
        "i -> transform(sequence(i, 7), " +
        "j -> struct(i AS di, j AS dj, q[i] AS qi, q[j] AS qj))))")).as("p"))
      .select(col("p.di"), col("p.dj"), col("p.qi"), col("p.qj"))
      .groupBy(col("di"), col("dj"))
      .agg(count(lit(1)).as("n"), sum(col("qi")).as("s_i"),
        sum(col("qj")).as("s_j"), sum(expr("qi * qj")).as("s_ij"))
      .withColumn("cov_num_e6", expr("n * s_ij - s_i * s_j"))
      .orderBy(col("di"), col("dj"))

  val qEmbedCovarianceOracle: String =
    """WITH q AS (SELECT [round(x * 1000)::BIGINT
          FOR x IN embedding[1:8]::DOUBLE[]] q FROM embeddings),
      p AS (SELECT i::INT i, j::INT j, q[i::INT + 1] qi, q[j::INT + 1] qj
        FROM q, range(0, 8) ti(i), range(0, 8) tj(j) WHERE j >= i)
      SELECT i AS di, j AS dj, count(*)::BIGINT n, sum(qi)::BIGINT s_i,
        sum(qj)::BIGINT s_j, sum(qi * qj)::BIGINT s_ij,
        count(*)::BIGINT * sum(qi * qj)::BIGINT
          - sum(qi)::BIGINT * sum(qj)::BIGINT AS cov_num_e6
      FROM p GROUP BY i, j ORDER BY di, dj"""

  // ---------- embedding whitening (fit + transform, self-certified) ----------
  /** ZCA-style whitening via Cholesky — the standard embedding
    * pre-conditioner before cosine dedup/ANN (decorrelates dimensions so
    * distance is not dominated by a few high-variance axes). Two honest
    * passes, which is what whitening IS at scale:
    *
    *  1. FIT: one corpus pass accumulates the exact integer moment sums
    *     of the e3-quantized first 8 dims ([[qEmbedCovariance]]'s
    *     kernel); the 36-entry moment table collects to the driver —
    *     fixed-size model state, the kmeans/PQ discipline — where the
    *     8×8 covariance is assembled and `W = L⁻¹` (C = LLᵀ) solved in
    *     closed form.
    *  2. TRANSFORM + CERTIFY: a second corpus pass applies `y = W(x-μ)`
    *     scan-side (nested `transform` dot products against the
    *     broadcast literal matrix) and re-accumulates the whitened
    *     moment sums in the same combine-fed 36-key exchange.
    *
    * Like the trained-index ANN variants, a SQL oracle cannot re-run
    * the Cholesky, so the registered row is SELF-CERTIFYING: whitening
    * is correct iff the whitened covariance is the identity, so the row
    * carries `diag_ok`/`offdiag_ok` flags (max |dev| from I under 1e-3,
    * two orders above the e6 re-quantization noise and twelve above
    * double roundoff — measured ≤ 2e-5 at all three SFs) that the
    * oracle expects to be 1; a wrong W, a dropped mean-centering, or a
    * transposed solve flips a flag and the hash-match fails.
    */
  def qEmbedWhiten(spark: SparkSession, dir: String): DataFrame = {
    val D = 8
    val emb = Tables.embeddings(spark, dir)
    def momentAgg(qCol: String): DataFrame =
      emb.select(expr(qCol).as("q"))
        .select(explode(expr(s"flatten(transform(sequence(0, ${D - 1}), " +
          s"i -> transform(sequence(i, ${D - 1}), " +
          "j -> struct(i AS di, j AS dj, q[i] AS qi, q[j] AS qj))))")).as("p"))
        .groupBy(col("p.di").as("di"), col("p.dj").as("dj"))
        .agg(count(lit(1)).as("n"), sum(col("p.qi")).as("s_i"),
          sum(col("p.qj")).as("s_j"),
          sum(expr("p.qi * p.qj")).as("s_ij"))

    // FIT: exact integer moments of the e3-quantized dims
    val fitRows = momentAgg("transform(slice(embedding, 1, " + D + "), " +
      "x -> cast(round(cast(x AS DOUBLE) * 1000) AS BIGINT))").collect()
    val n = fitRows.head.getLong(2).toDouble
    val mean = new Array[Double](D)
    val cov = Array.ofDim[Double](D, D)
    fitRows.foreach { r =>
      val (di, dj) = (r.getInt(0), r.getInt(1))
      val (si, sj, sij) =
        (r.getLong(3).toDouble, r.getLong(4).toDouble, r.getLong(5).toDouble)
      if (di == dj) mean(di) = si / n / 1000.0
      val c = (sij / n - (si / n) * (sj / n)) / 1e6 // population cov, e3²→1
      cov(di)(dj) = c; cov(dj)(di) = c
    }
    // Cholesky C = LLᵀ (tiny ridge for numerical safety), then W = L⁻¹
    // by forward substitution; y = W(x-μ) has covariance L⁻¹ C L⁻ᵀ = I
    val L = Array.ofDim[Double](D, D)
    for (i <- 0 until D; j <- 0 to i) {
      val s = cov(i)(j) - (0 until j).map(k => L(i)(k) * L(j)(k)).sum
      if (i == j) L(i)(i) = math.sqrt(s + 1e-9) else L(i)(j) = s / L(j)(j)
    }
    val W = Array.ofDim[Double](D, D)
    for (i <- 0 until D) {
      W(i)(i) = 1.0 / L(i)(i)
      // forward substitution: W(i)(j) = -(Σ_{k=j..i-1} L(i)(k)·W(k)(j)) / L(i)(i)
      for (j <- 0 until i)
        W(i)(j) = -(j until i).map(k => L(i)(k) * W(k)(j)).sum / L(i)(i)
    }
    val wLit = W.map(row => row.mkString("array(", ", ", ")"))
      .mkString("array(", ", ", ")")
    val mLit = mean.mkString("array(", ", ", ")")

    // TRANSFORM + CERTIFY: whitened values re-quantized at e6, moments
    // re-accumulated in the same exchange shape; contract row below
    val wcov = momentAgg(
      s"""transform(sequence(0, ${D - 1}), i -> cast(round(
            aggregate(sequence(0, ${D - 1}), CAST(0.0 AS DOUBLE),
              (acc, j) -> acc + element_at(element_at($wLit, i + 1), j + 1)
                * (cast(element_at(embedding, j + 1) AS DOUBLE)
                  - element_at($mLit, j + 1))) * 1000000) AS BIGINT))""")
    wcov
      .withColumn("dev_e12", expr(
        "abs(s_ij - (s_i * s_j) DIV n - (CASE WHEN di = dj THEN n ELSE 0 END) * 1000000000000L)"))
      .agg(count(lit(1)).as("n_cells"), max(col("n")).as("n_vectors"),
        max(expr("dev_e12 DIV n")).as("max_dev_e12_per_n"))
      .select(lit("zca_cholesky").as("algo"), lit(D).as("d"),
        col("n_vectors"),
        (col("n_cells") === D * (D + 1) / 2).cast("int").as("cells_ok"),
        // dev is per-vector-normalized e12; 1e-3 tolerance = 1e9
        (col("max_dev_e12_per_n") < 1000000000L).cast("int").as("identity_ok"))
  }

  val qEmbedWhitenOracle: String =
    """SELECT 'zca_cholesky' AS algo, 8 AS d,
      count(*)::BIGINT AS n_vectors, 1 AS cells_ok, 1 AS identity_ok
      FROM embeddings"""

  // ---------- PCA top component via Jacobi eigensolver (self-certified) ----------
  /** Principal-component extraction — the fit pass of the
    * dimensionality analysis behind embedding compression decisions
    * (how much variance does one axis carry?). Same honest two-pass
    * shape as [[qEmbedWhiten]]:
    *
    *  1. FIT: the exact integer moment sums of the e3-quantized first 8
    *     dims collect as the fixed 36-entry model ([[qEmbedCovariance]]
    *     kernel); the top eigenpair of the driver's 8×8 covariance
    *     comes from a cyclic JACOBI rotation eigensolver
    *     ([[jacobiTopEig]]) — chosen over power iteration because this
    *     corpus's eigen-gap is small (λ₂/λ₁ ≈ 0.95 measured at all
    *     three SFs), where power iteration needs hundreds of
    *     data-dependent rounds while Jacobi's quadratic convergence is
    *     gap-independent (fixed-size model math, the Cholesky / kmeans
    *     discipline; sign pinned so the result is deterministic).
    *  2. CERTIFY, distributed: a second corpus pass projects every
    *     embedding onto v scan-side (`p = v·(x−μ)`, one `aggregate`
    *     fold against broadcast literals), quantizes at the same e3
    *     grid, and accumulates (n, Σp, Σp²) in one combine-fed
    *     exchange. Since var(v·(x−μ)) = vᵀCv for ANY v, the emitted
    *     `lambda_ok` flag (relative deviation < 1e-3, quantization
    *     noise ~1e-7) certifies the DISTRIBUTED pass against the driver
    *     model — a wrong μ, grid, or an unnormalized v fails it — while
    *     `eigen_ok` pins what makes v the TOP component: the residual
    *     ‖Cv − λv‖/λ < 1e-8 and λ ≥ every diagonal variance. The SQL
    *     oracle cannot re-run the solver, so the row is self-certifying
    *     — the trained-index ANN discipline.
    *
    * Overflow budget (e3 grid): |p_q| ≲ 1e4–1e5 for unit-scale
    * embeddings, so Σp² stays inside BIGINT past ~1e9 rows; past that a
    * deployment shards the certification pass or accumulates in
    * DECIMAL — the moment FIT pass itself has the [[qEmbedCovariance]]
    * 3e13-row budget.
    */
  private[ops] def jacobiTopEig(a0: Array[Array[Double]])
      : (Double, Array[Double]) = {
    val d = a0.length
    val a = a0.map(_.clone)
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def off(): Double = {
      var s = 0.0
      for (i <- 0 until d; j <- i + 1 until d) s += a(i)(j) * a(i)(j)
      s
    }
    var sweep = 0
    while (off() > 1e-22 && sweep < 50) {
      sweep += 1
      for (p <- 0 until d; q <- p + 1 until d if math.abs(a(p)(q)) > 1e-30) {
        // standard stable rotation (Golub & Van Loan §8.4)
        val theta = (a(q)(q) - a(p)(p)) / (2 * a(p)(q))
        val t = (if (theta >= 0) 1.0 else -1.0) /
          (math.abs(theta) + math.sqrt(theta * theta + 1))
        val c = 1 / math.sqrt(t * t + 1)
        val s = t * c
        for (k <- 0 until d) {
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = c * akp - s * akq; a(k)(q) = s * akp + c * akq
        }
        for (k <- 0 until d) {
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = c * apk - s * aqk; a(q)(k) = s * apk + c * aqk
        }
        for (k <- 0 until d) {
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = c * vkp - s * vkq; v(k)(q) = s * vkp + c * vkq
        }
      }
    }
    val idx = (0 until d).maxBy(i => a(i)(i))
    var vec = (0 until d).map(k => v(k)(idx)).toArray
    val m = vec.indices.maxBy(i => math.abs(vec(i)))
    if (vec(m) < 0) vec = vec.map(x => -x)
    (a(idx)(idx), vec)
  }

  /** FIT internals shared with the spec: (mean, covariance) of the
    * e3-quantized first 8 dims from one exact-integer moment pass.
    */
  private[ops] def pcaFit(spark: SparkSession, dir: String)
      : (Array[Double], Array[Array[Double]]) = {
    val D = 8
    val fitRows = Tables.embeddings(spark, dir)
      .select(expr(s"transform(slice(embedding, 1, $D), " +
        "x -> cast(round(cast(x AS DOUBLE) * 1000) AS BIGINT))").as("q"))
      .select(explode(expr(s"flatten(transform(sequence(0, ${D - 1}), " +
        s"i -> transform(sequence(i, ${D - 1}), " +
        "j -> struct(i AS di, j AS dj, q[i] AS qi, q[j] AS qj))))")).as("p"))
      .groupBy(col("p.di").as("di"), col("p.dj").as("dj"))
      .agg(count(lit(1)).as("n"), sum(col("p.qi")).as("s_i"),
        sum(col("p.qj")).as("s_j"), sum(expr("p.qi * p.qj")).as("s_ij"))
      .collect()
    val n = fitRows.head.getLong(2).toDouble
    val mean = new Array[Double](D)
    val cov = Array.ofDim[Double](D, D)
    fitRows.foreach { r =>
      val (di, dj) = (r.getInt(0), r.getInt(1))
      val (si, sj, sij) =
        (r.getLong(3).toDouble, r.getLong(4).toDouble, r.getLong(5).toDouble)
      if (di == dj) mean(di) = si / n / 1000.0
      val c = (sij / n - (si / n) * (sj / n)) / 1e6
      cov(di)(dj) = c; cov(dj)(di) = c
    }
    (mean, cov)
  }

  def qEmbedPca(spark: SparkSession, dir: String): DataFrame = {
    val D = 8
    val (mean, cov) = pcaFit(spark, dir)
    val (lambda, v) = jacobiTopEig(cov)
    val cv = cov.map(row => row.zip(v).map { case (a, b) => a * b }.sum)
    val residual = math.sqrt(cv.zip(v)
      .map { case (a, b) => (a - lambda * b) * (a - lambda * b) }.sum) / lambda
    val eigenOk = residual < 1e-8 &&
      (0 until D).forall(i => lambda >= cov(i)(i) - 1e-12)
    val vLit = v.mkString("array(", ", ", ")")
    val mLit = mean.mkString("array(", ", ", ")")

    Tables.embeddings(spark, dir)
      .select(expr(
        s"""cast(round(aggregate(sequence(0, ${D - 1}), CAST(0.0 AS DOUBLE),
              (acc, j) -> acc + element_at($vLit, j + 1)
                * (cast(element_at(embedding, j + 1) AS DOUBLE)
                  - element_at($mLit, j + 1))) * 1000) AS BIGINT)""").as("p"))
      .agg(count(lit(1)).as("nv"), sum(col("p")).as("s"),
        sum(expr("p * p")).as("ss"))
      .select(lit("pca_jacobi").as("algo"), lit(D).as("d"),
        col("nv").as("n_vectors"),
        lit(if (eigenOk) 1 else 0).as("eigen_ok"),
        // population var of e3-quantized projections vs λ = vᵀCv
        (abs((col("ss") / col("nv")
          - (col("s") / col("nv")) * (col("s") / col("nv"))) / 1e6
          - lambda) < lambda * 1e-3).cast("int").as("lambda_ok"))
  }

  val qEmbedPcaOracle: String =
    """SELECT 'pca_jacobi' AS algo, 8 AS d,
      count(*)::BIGINT AS n_vectors, 1 AS eigen_ok, 1 AS lambda_ok
      FROM embeddings"""

  // ---------- nearest-centroid classification eval ----------
  /** Embedding-quality eval: classify every vector by its nearest label
    * centroid and report per-label accuracy — the "do my embeddings
    * separate my labels?" diagnostic run before spending on a trained
    * probe. EVERYTHING up to the final argmax is exact integer
    * arithmetic in the [[qEmbedCovariance]] fixed-point discipline:
    * vectors quantize to `round(x·1000)` longs, label centroids are the
    * integer per-dimension SUMS (numerator) with the member count as
    * denominator, and each (vector, label) score is an integer dot
    * product — the only float operation is the final `score/den`
    * comparison of exact rationals, identical operands on both engines
    * (and the spec margin-audits the best-vs-second gap). Dot-product
    * similarity comparison (not euclidean) keeps the score linear in
    * the centroid, which is what makes the integer-sums form possible.
    *
    * Scale shape: centroid sums are one combine-fed shuffle on
    * (label, dim) then a label-cardinality reshape; the 10-row centroid
    * table BROADCASTS into a scan-side score explode (10 scores per
    * vector, rank-1 cut map-side via WindowGroupLimit on vec_id);
    * accuracy rolls up on the true label. The corpus is read twice
    * (centroids, classification) — at 100 TB the centroid pass is the
    * cheap one (narrow integer arrays).
    */
  def qEmbedCentroidEval(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(round(cast(x AS DOUBLE) * 1000) AS BIGINT))")
          .as("q"))
    val cent = q
      .select(col("label"), posexplode(col("q")).as(Seq("i", "v")))
      .groupBy(col("label"), col("i")).agg(sum(col("v")).as("s"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("s")))),
        x => x.getField("s")).as("c"))
      .join(q.groupBy(col("label")).agg(count(lit(1)).as("den")), "label")
      .select(col("label").as("clabel"), col("c"), col("den"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("r").desc, col("clabel"))
    q.crossJoin(broadcast(cent))
      .withColumn("sc",
        expr("aggregate(zip_with(q, c, (a, b) -> a * b), 0L, (acc, x) -> acc + x)"))
      .withColumn("r", col("sc").cast("double") / col("den"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("clabel") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("label"), col("n"), col("n_correct"),
        expr("n_correct * 1000000 DIV n").as("acc6"))
      .orderBy(col("label"))
  }

  val qEmbedCentroidEvalOracle: String =
    """WITH q AS (SELECT vec_id, label,
        [round(x * 1000)::BIGINT FOR x IN embedding::DOUBLE[]] q
        FROM embeddings),
      cs AS (SELECT label, i, sum(q[i::INT]) s
        FROM q, range(1, 65) t(i) GROUP BY label, i),
      cent AS (SELECT cs.label clabel, list(s ORDER BY i) c
        FROM cs GROUP BY cs.label),
      den AS (SELECT label clabel, count(*) den FROM q GROUP BY label),
      sc AS (SELECT vec_id, q.label, cent.clabel, den.den,
          (SELECT sum(q.q[i::INT] * cent.c[i::INT])
           FROM range(1, 65) t(i)) sc
        FROM q, cent JOIN den ON den.clabel = cent.clabel),
      pred AS (SELECT vec_id, label, clabel FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
          ORDER BY sc::DOUBLE / den DESC, clabel) rn FROM sc) t
        WHERE rn = 1)
      SELECT label, count(*) AS n,
        sum(CASE WHEN clabel = label THEN 1 ELSE 0 END)::BIGINT AS n_correct,
        sum(CASE WHEN clabel = label THEN 1 ELSE 0 END)::BIGINT
          * 1000000 // count(*) AS acc6
      FROM pred GROUP BY label ORDER BY label"""

  // ---------- IVF index incremental refresh (no retraining) ----------
  /** The [[graft.ops.RelationalQuality.qMatviewMerge]] discipline applied to the
    * vector index: the IVF assignment table for the HISTORY corpus lives
    * as persisted state, and a new batch is folded in by assigning ONLY
    * the delta to the EXISTING centroids and unioning the list tables —
    * no retraining, no history re-scan. At 100 TB this is the difference
    * between an index refresh that touches the delta and one that
    * re-embeds-and-re-clusters the corpus; FAISS calls the same operation
    * `add` on a trained index.
    *
    * The registered row is the in-plan identity proof: the merged index
    * is full-outer-joined against a from-scratch rebuild (every vector
    * assigned with the same frozen centroids) and must agree row-for-row
    * — assignment is a deterministic function of (vector, centroids), so
    * `n_mismatch` is 0 iff the merge lost, duplicated, or misrouted
    * nothing. The oracle pins the corpus counts (history = vec_id % 5
    * != 0, delta = the rest) and the zero/one contract columns.
    * Centroids are trained on HISTORY only — the delta must not leak
    * into training, or the "existing centroids" premise is broken.
    */
  def qAnnRefresh(spark: SparkSession, dir: String): DataFrame = {
    val e = withVec(Tables.embeddings(spark, dir))
    val hist = e.filter(col("vec_id") % 5 =!= 0)
    val delta = e.filter(col("vec_id") % 5 === 0)
    val cents = trainCentroids(hist)
    def assign(df: DataFrame): DataFrame = df
      .withColumn("cs",
        graft.functions.VecOps.centroidScoresCol(col("vd"), cents))
      .withColumn("list_id",
        expr("array_position(cs, array_max(cs))").cast("int") - 1)
      .select(col("vec_id"), col("list_id"))
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    // content-tagged: concurrent processes over different data never share
    // the index state (SessionFixtures.contentTag)
    val state = s"$wh/graft_ann_ivf_state_${SessionFixtures.contentTag(spark, dir)}"
    // _SUCCESS at the content-tagged path alone gates the rebuild (see
    // qPartitionedLayout): a valid state is reused, never overwritten
    // under a concurrent same-content reader
    if (!new java.io.File(state, "_SUCCESS").isFile) {
      assign(hist).write.mode("overwrite").parquet(state)
    }
    val merged = spark.read.parquet(state).toDF("vec_id", "ml")
      .unionByName(assign(delta).toDF("vec_id", "ml"))
    val rebuild = assign(e).toDF("vec_id", "rl")
    merged.join(rebuild, Seq("vec_id"), "full_outer")
      .agg(
        count(lit(1)).cast("long").as("n_total"),
        sum(when(col("vec_id") % 5 =!= 0, 1L).otherwise(0L))
          .cast("long").as("n_hist"),
        sum(when(col("vec_id") % 5 === 0, 1L).otherwise(0L))
          .cast("long").as("n_delta"),
        sum(when(col("ml").isNull || col("rl").isNull ||
          col("ml") =!= col("rl"), 1L).otherwise(0L))
          .cast("long").as("n_mismatch"))
      .select(lit("ivf_refresh").as("algo"), col("n_total"), col("n_hist"),
        col("n_delta"), col("n_mismatch"),
        when(col("n_mismatch") === 0, 1L).otherwise(0L)
          .cast("long").as("merged_eq_rebuild"))
  }

  /** Corpus counts from the table, contract columns as constants —
    * `::BIGINT` per the [[certified]] HUGEINT note.
    */
  val qAnnRefreshOracle: String =
    """WITH c AS (SELECT count(*)::BIGINT AS n,
        sum(CASE WHEN vec_id % 5 = 0 THEN 1 ELSE 0 END)::BIGINT AS nd
      FROM embeddings)
      SELECT 'ivf_refresh' AS algo, n AS n_total, (n - nd)::BIGINT AS n_hist,
        nd AS n_delta, 0::BIGINT AS n_mismatch, 1::BIGINT AS merged_eq_rebuild
      FROM c"""

  // ---------- retrieval-quality evaluation (nDCG / MRR / AP) ----------
  /** Ranking-quality readout for the retrieval stack: per anchor, the
    * standard IR metrics at k = 10 — nDCG@10, MRR@10, AP@10 — with
    * same-label items as the relevance ground truth. This is the eval
    * harness a training-data pipeline runs over its retrieval index
    * (embedding drift, index regressions) — the judge of the ANN family,
    * itself oracle-checked.
    *
    * Exactness discipline: every metric is an ORDER-SENSITIVE sum of
    * reciprocal-log or reciprocal-rank terms, so each term quantizes to
    * 1e-9 BIGINT first (the q_stats_chisq lesson): dcg₉ = Σ
    * round(10⁹/log₂(i+1)) over relevant positions, idcg₉ the same over
    * the ideal prefix min(R, 10), AP's precision@i terms likewise. Each
    * final metric is ONE divide of exact integers, rounded to 1e-6.
    * R (total relevant per anchor) comes from a window over the scored
    * partition BEFORE the top-k cut, so nDCG normalizes correctly even
    * when the corpus holds fewer than 10 relevant items.
    *
    * Scale shape: identical to [[qAnnTopk]] — fixed anchor broadcast,
    * one corpus scan, per-anchor windows; metric arithmetic runs on the
    * 50×10 top-k table. The brute-force scoring is the EVAL baseline by
    * construction (the eval must not inherit the index's blind spots).
    */
  def qEvalNdcg(spark: SparkSession, dir: String): DataFrame = {
    val scored = annScored(spark, dir)
      .withColumn("rel",
        when(col("a_label") === col("b_label"), 1L).otherwise(0L))
    val p = Window.partitionBy(col("a_id"))
    val top = scored
      .withColumn("total_rel", sum(col("rel")).over(p))
      .withColumn("rnk", row_number().over(
        p.orderBy(col("cosine").desc, col("b_id").asc)))
      .filter(col("rnk") <= 10)
      .withColumn("m10", least(col("total_rel"), lit(10L)))
      .withColumn("cum_rel", sum(col("rel")).over(
        p.orderBy(col("rnk"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val g9 = round(lit(1e9) / log2(col("rnk") + 1)).cast("long")
    top.groupBy(col("a_id"))
      .agg(
        max(col("total_rel")).as("total_rel"),
        sum(col("rel")).as("n_rel10"),
        sum(when(col("rel") === 1L, g9).otherwise(0L)).as("dcg9"),
        sum(when(col("rnk") <= col("m10"), g9).otherwise(0L)).as("idcg9"),
        min(when(col("rel") === 1L, col("rnk"))).as("first_rel"),
        sum(when(col("rel") === 1L,
          round(col("cum_rel").cast("double") / col("rnk") * 1e9)
            .cast("long")).otherwise(0L)).as("ap9"),
        max(col("m10")).as("m10"))
      .select(col("a_id"), col("total_rel"), col("n_rel10"),
        when(col("idcg9") === 0L, 0.0).otherwise(
          round(col("dcg9").cast("double") / col("idcg9").cast("double"), 6))
          .as("ndcg6"),
        when(col("first_rel").isNull, 0.0).otherwise(
          round(lit(1.0) / col("first_rel"), 6)).as("mrr6"),
        when(col("m10") === 0L, 0.0).otherwise(
          round(col("ap9").cast("double") /
            (col("m10").cast("double") * 1e9), 6)).as("ap6"))
      .orderBy(col("a_id"))
  }

  val qEvalNdcgOracle: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v FROM embeddings),
      scored AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
          CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS rel,
          round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < 50),
      ranked AS (SELECT *,
          sum(rel) OVER (PARTITION BY a_id)::BIGINT AS total_rel,
          row_number() OVER (PARTITION BY a_id
            ORDER BY cosine DESC, b_id ASC) AS rnk
        FROM scored),
      top AS (SELECT *, least(total_rel, 10) AS m10,
          sum(rel) OVER (PARTITION BY a_id ORDER BY rnk
            ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_rel
        FROM ranked WHERE rnk <= 10),
      agg AS (SELECT a_id, max(total_rel) total_rel,
          sum(rel)::BIGINT n_rel10,
          sum(CASE WHEN rel = 1
            THEN round(1e9 / log2(rnk + 1))::BIGINT ELSE 0 END) dcg9,
          sum(CASE WHEN rnk <= m10
            THEN round(1e9 / log2(rnk + 1))::BIGINT ELSE 0 END) idcg9,
          min(CASE WHEN rel = 1 THEN rnk END) first_rel,
          sum(CASE WHEN rel = 1
            THEN round(cum_rel::DOUBLE / rnk * 1e9)::BIGINT ELSE 0 END) ap9,
          max(m10) m10
        FROM top GROUP BY a_id)
      SELECT a_id, total_rel, n_rel10,
        CASE WHEN idcg9 = 0 THEN 0.0::DOUBLE
          ELSE round(dcg9::DOUBLE / idcg9::DOUBLE, 6) END AS ndcg6,
        CASE WHEN first_rel IS NULL THEN 0.0::DOUBLE
          ELSE round(1.0 / first_rel, 6) END AS mrr6,
        CASE WHEN m10 = 0 THEN 0.0::DOUBLE
          ELSE round(ap9::DOUBLE / (m10::DOUBLE * 1e9), 6) END AS ap6
      FROM agg ORDER BY a_id"""

  // ---------- MMR diversified retrieval ----------
  /** Maximal Marginal Relevance re-ranking — the diversity-aware
    * retrieval op RAG stacks run after ANN: from each anchor's top-10
    * cosine candidates, greedily select 5 maximizing
    * λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) with λ = 0.7, so near-
    * duplicate hits stop crowding out coverage. First pick = highest
    * relevance; ties break toward the smaller candidate id.
    *
    * Exactness: rel and candidate-pair sims are 1e-6-rounded cosines
    * (the [[qAnnTopk]] kernel) lifted to exact integers (rel_e6), and
    * the greedy objective runs ENTIRELY in integers:
    * score_e7 = 7·rel_e6 − 3·ms_e6. This is not pedantry — scores of
    * 1e-6-multiples are 1e-7-multiples, so exact HALF boundaries are
    * common, and at a half Spark's round(double) (BigDecimal.valueOf
    * → shortest decimal string → HALF_UP) disagrees with DuckDB's
    * binary-value rounding: sf0.1 hit one (raw 0.2531015 → .253102 vs
    * .253101). Integer scores cannot tie-break differently. The oracle
    * replays the SAME trajectory with a per-anchor recursive CTE
    * carrying the selected vectors (list-comprehension max — the
    * depth-2 LATERAL trap from SURVEY §16 avoided), so the hash match
    * proves all four greedy decisions per anchor, not just
    * membership.
    *
    * Scale shape: candidate generation is the O(K·n) broadcast scan of
    * [[qAnnTopk]] and the in-shortlist cosine pass runs distributed on
    * the K·90 pair rows; the greedy itself then COLLECTS the K·10
    * shortlist and K·90 integer similarities — both fixed-size by
    * construction (CollectAuditSpec-pinned, the trained-model
    * discipline) — and iterates driver-side. The previous all-DataFrame
    * spelling scheduled ~10 bounded jobs (6 checkpoints + 4 greedy
    * rounds) of pure fixpoint floor per invocation for ≤5 000 rows —
    * measured 1.5 s of scheduling against ~0 s of arithmetic.
    */
  def qAnnMmr(spark: SparkSession, dir: String): DataFrame = {
    // candidate stage reads the shared scored fixture; vectors for the
    // in-shortlist similarity pass are fetched by a b_id equi-join AFTER
    // the top-10 cut, so only Anchors×10 rows ever carry an array
    val vecs = withVec(Tables.embeddings(spark, dir))
      .select(col("vec_id").as("b_id"), col("vd").as("b_vd"),
        col("nrm").as("b_nrm"))
    val wTop = Window.partitionBy(col("a_id"))
      .orderBy(col("rel").desc, col("b_id").asc)
    val cand = annScored(spark, dir)
      .select(col("a_id"), col("b_id"), col("cosine").as("rel"))
      .withColumn("rnk", row_number().over(wTop))
      .filter(col("rnk") <= 10)
      .withColumn("rel_e6", expr("CAST(round(rel * 1e6) AS BIGINT)"))
      .join(vecs, "b_id")
      .select(col("a_id"), col("b_id"), col("rel"), col("rel_e6"),
        col("b_vd"), col("b_nrm"))
      .stageCheckpoint() // Anchors×10 rows: the per-anchor shortlist
    val pairs = cand.select(col("a_id"), col("b_id").as("c_id"),
        col("b_vd").as("c_vd"), col("b_nrm").as("c_nrm"))
      .join(cand.select(col("a_id"), col("b_id").as("s_id"),
        col("b_vd").as("s_vd"), col("b_nrm").as("s_nrm")), Seq("a_id"))
      .filter(col("c_id") =!= col("s_id"))
      .withColumn("sim", round(dot(col("c_vd"), col("s_vd")) /
        (col("c_nrm") * col("s_nrm")), 6))
      .select(col("a_id"), col("c_id"), col("s_id"),
        expr("CAST(round(sim * 1e6) AS BIGINT)").as("sim_e6"))
    // fixed-size model collects: K·10 shortlist rows, K·90 integer sims
    val shortlist = cand.select(col("a_id"), col("b_id"), col("rel"),
      col("rel_e6")).collect()
    val simE6 = pairs.collect()
      .map(r => ((r.getLong(0), r.getLong(1), r.getLong(2)), r.getLong(3)))
      .toMap
    final case class C(b: Long, rel: Double, relE6: Long)
    val picked = shortlist.groupBy(_.getLong(0)).toSeq.flatMap {
      case (a, rs) =>
        val cs = rs.map(r => C(r.getLong(1), r.getDouble(2), r.getLong(3)))
        val sel = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Int, Double, Long)]
        // round 1: pure relevance; ties toward the smaller candidate id
        val first = cs.maxBy(c => (c.relE6 * 10L, -c.b))
        sel += ((first.b, 1, first.rel, first.relE6 * 10L))
        for (r <- 2 to 5) {
          val selIds = sel.map(_._1).toSet
          val remaining = cs.filterNot(c => selIds(c.b))
          // an anchor with < 5 candidates just yields a shorter list
          // (the DataFrame spelling's anti-join did the same)
          if (remaining.nonEmpty) {
            val pick = remaining.map { c =>
              val ms = selIds.iterator.map(s => simE6((a, c.b, s))).max
              (c, c.relE6 * 7L - ms * 3L)
            }.maxBy { case (c, s) => (s, -c.b) }
            sel += ((pick._1.b, r, pick._1.rel, pick._2))
          }
        }
        sel.map { case (b, rank, rel, score) => (a, b, rank, rel, score) }
    }
    import spark.implicits._
    picked.toDF("a_id", "b_id", "rank", "rel", "mmr_e7")
      .orderBy(col("a_id"), col("rank"))
  }

  val qAnnMmrOracle: String =
    """WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] v
        FROM embeddings),
      cand AS (SELECT *, CAST(round(rel * 1e6) AS BIGINT) AS rel_e6
        FROM (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id,
          round(list_cosine_similarity(a.v, b.v), 6) AS rel,
          b.v AS bv,
          row_number() OVER (PARTITION BY a.vec_id ORDER BY
            round(list_cosine_similarity(a.v, b.v), 6) DESC,
            b.vec_id ASC) AS rnk
        FROM e a JOIN e b ON a.vec_id <> b.vec_id
        WHERE a.vec_id < 50) t WHERE rnk <= 10),
      sel AS (
        SELECT a_id, 1 AS rank, b_id, rel,
          rel_e6 * 10 AS score,
          [b_id] AS ids, [bv] AS vecs
        FROM (SELECT *, row_number() OVER (PARTITION BY a_id
            ORDER BY rel DESC, b_id ASC) AS pick FROM cand) f
        WHERE pick = 1
        UNION ALL
        SELECT s.a_id, s.rank + 1, w.b_id, w.rel, w.score,
          list_append(s.ids, w.b_id), list_append(s.vecs, w.bv)
        FROM sel s, LATERAL (
          SELECT c.b_id, c.rel, c.bv,
            c.rel_e6 * 7 - 3 * list_max([
              CAST(round(round(list_cosine_similarity(sv, c.bv), 6)
                * 1e6) AS BIGINT) FOR sv IN s.vecs
            ]) AS score
          FROM cand c
          WHERE c.a_id = s.a_id AND NOT list_contains(s.ids, c.b_id)
          ORDER BY score DESC, c.b_id ASC LIMIT 1) w
        WHERE s.rank < 5)
      SELECT a_id, b_id, rank, rel, score::BIGINT AS mmr_e7
      FROM sel ORDER BY a_id, rank"""

  // ---------- cross-modal cluster profiling (embeddings × text) ----------
  /** Semantic-slice quality profile — the cross-modal readout curation
    * dashboards are built from (SemDeDup/Dolma-style cluster reports):
    * every embedding is assigned to its nearest of the 8 seed vectors
    * (the [[qClusterKmeans]] scan-side packed-broadcast argmin, same
    * tie rule), the assignment joins the DOCUMENTS table on the shared
    * id, and each cluster reports its size, en-rate, mean length, and
    * mean hashed-classifier margin ([[graft.ops.TextAnalysis]]'s
    * qQualityClassifier formula) — "which semantic regions are long /
    * English / high-quality".
    *
    * Exactness: all profile statistics are integer counts/sums with
    * floor-e6 or integer-DIV emissions — and the ASSIGNMENT itself is
    * integer-exact: coordinates are quantized to e6 BIGINTs (the same
    * half-away-from-zero rounding in both engines) and the argmin runs
    * on the exact integer squared distance Σ(Δq)², so a near-tie in
    * double precision can never flip a cluster between engines (the
    * q_ann_mmr "move the decision to integers" discipline; max
    * |Σ(Δq)²| ≈ dim·(2·10⁶·max|x|)² ≪ 2⁶³ for unit-normalized
    * embeddings to dim ~10⁵). Ties break toward the lower cid.
    *
    * Scale shape: one packed 8-centroid broadcast + scan-side argmin
    * over the embeddings; one equi-join to documents on the id (both
    * corpus-scale — the shuffle every cross-modal join pays, and the
    * reason production tables co-bucket the two modalities on doc_id);
    * one 8-row aggregate.
    */
  def qClusterProfile(spark: SparkSession, dir: String): DataFrame = {
    val k = 8
    val pts = Tables.embeddings(spark, dir).select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1000000).cast("long")).as("v"))
    // first k BY ID (not an id threshold) — the [[qClusterKmeans]]
    // sparse-id discipline, mirrored in the oracle's seeds CTE
    val packed = pts.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").cast("int").as("cid"), col("v").as("cv"))
      .agg(collect_list(struct(col("cid"), col("cv"))).as("cs"))
    val assigned = pts.crossJoin(broadcast(packed))
      .withColumn("best", expr(
        "array_sort(transform(cs, s -> struct(" +
          "aggregate(zip_with(v, s.cv, (x, y) -> (x - y) * (x - y)), " +
          "0L, (acc, z) -> acc + z) AS dist, s.cid AS cid)))[0]"))
      .select(col("vec_id").as("doc_id"), col("best.cid").as("cluster"))
    val docs = TextAnalysis.scoredDocs(spark, dir)
      .select(col("doc_id"), col("en"), col("n_words"), col("margin_e4"))
    assigned.join(docs, "doc_id")
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("en").cast("long")).as("n_en"),
        sum(col("n_words")).as("total_words"),
        sum(col("margin_e4")).as("sum_margin_e4"))
      .select(col("cluster"), col("n_docs"), col("n_en"),
        expr("n_en * 1000000 DIV n_docs").as("en_rate_e6"),
        expr("total_words DIV n_docs").as("mean_words"),
        expr("sum_margin_e4 DIV n_docs").as("mean_margin_e4"))
      .orderBy(col("cluster"))
  }

  val qClusterProfileOracle: String =
    """WITH p AS (SELECT vec_id,
        list_transform(embedding::DOUBLE[],
          x -> CAST(round(x * 1000000) AS BIGINT)) v FROM embeddings),
      seeds AS (SELECT vec_id::INT cid, v cv FROM p ORDER BY vec_id LIMIT 8),
      a AS (SELECT vec_id AS doc_id, cid AS cluster FROM (
        SELECT p.vec_id, s.cid, row_number() OVER (PARTITION BY p.vec_id
          ORDER BY list_sum(list_transform(list_zip(p.v, s.cv),
            z -> (z[1] - z[2]) * (z[1] - z[2]))) ASC,
            s.cid ASC) rn
        FROM p, seeds s) x WHERE rn = 1),
      d AS (SELECT doc_id, lang = 'en' AS en,
          len(string_split(text, ' '))::BIGINT n_words,
          list_sum(list_transform(string_split(text, ' '), w ->
            ('0x' || substr(md5(w), 1, 6))::BIGINT % 4096 % 101 - 50
          ))::BIGINT raw_score
        FROM documents),
      m AS (SELECT doc_id, en, n_words,
          raw_score * 10000 // (n_words * 50) AS margin_e4 FROM d)
      SELECT a.cluster, count(*)::BIGINT n_docs,
        sum(CASE WHEN m.en THEN 1 ELSE 0 END)::BIGINT n_en,
        (sum(CASE WHEN m.en THEN 1 ELSE 0 END) * 1000000
          // count(*))::BIGINT AS en_rate_e6,
        sum(m.n_words)::BIGINT // count(*) AS mean_words,
        sum(m.margin_e4)::BIGINT // count(*) AS mean_margin_e4
      FROM a JOIN m USING (doc_id)
      GROUP BY a.cluster ORDER BY a.cluster"""

  val registry: Seq[GraftQuery] = Seq(
    GraftQuery("q_ann_mmr", qAnnMmr, qAnnMmrOracle),
    GraftQuery("q_cluster_profile", qClusterProfile, qClusterProfileOracle),
    GraftQuery("q_eval_ndcg", qEvalNdcg, qEvalNdcgOracle),
    GraftQuery("q_ann_refresh", qAnnRefresh, qAnnRefreshOracle),
    GraftQuery("q_embed_neardup", qEmbedNeardup, qEmbedNeardupOracle),
    GraftQuery("q_embed_centroid_eval", qEmbedCentroidEval, qEmbedCentroidEvalOracle),
    GraftQuery("q_dedup_semantic", qDedupSemantic, qDedupSemanticOracle),
    GraftQuery("q_decontaminate_semantic", qDecontaminateSemantic, qDecontaminateSemanticOracle),
    GraftQuery("q_ann_topk", qAnnTopk, qAnnTopkOracle),
    GraftQuery("q_ann_negatives", qAnnNegatives, qAnnNegativesOracle),
    certified("q_ann_lsh", "lsh", 0.0, 0.30, qAnnLsh),
    certified("q_ann_ivf", "ivf", 0.1, 0.50, qAnnIvf),
    certified("q_ann_quantized", "sq8", 0.9, 0.90, qAnnQuantized),
    certified("q_ann_pq", "pq", 0.1, 0.25, qAnnPq),
    certified("q_ann_ivf_sq8", "ivf_sq8", 0.1, 0.55, qAnnIvfSq8),
    GraftQuery("q_ann_filtered", qAnnFiltered, qAnnFilteredOracle),
    GraftQuery("q_ann_mrl", qAnnMrl, qAnnMrlOracle),
    GraftQuery("q_ann_rerank", qAnnRerank, qAnnRerankOracle),
    GraftQuery("q_cluster_kmeans", qClusterKmeans, qClusterKmeansOracle),
    GraftQuery("q_sample_kcenter", qSampleKcenter, qSampleKcenterOracle),
    GraftQuery("q_embed_covariance", qEmbedCovariance, qEmbedCovarianceOracle),
    GraftQuery("q_embed_whiten", qEmbedWhiten, qEmbedWhitenOracle),
    GraftQuery("q_embed_pca", qEmbedPca, qEmbedPcaOracle),
  )
}
