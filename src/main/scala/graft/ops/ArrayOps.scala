package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftQuery

/** Array / higher-order-function surface over the embedding table: the
  * lambda-function family (`transform`, `filter`, `aggregate`, `zip_with`)
  * plus ordered array ops (`array_sort`, `array_min/max`) and positional
  * un-nesting (`posexplode`).
  *
  * Parity rules with the DuckDB oracle (list lambdas): every float is cast
  * to double BEFORE arithmetic on BOTH engines, and every fold is
  * left-to-right with a zero/first-element seed — `aggregate(e, 0.0d, +)`
  * and DuckDB `list_reduce` produce bit-identical doubles because
  * `0.0 + x1 == x1` exactly. All lambdas run inside whole-stage codegen:
  * no UDFs, no shuffle except the final per-dimension group-by.
  */
object ArrayOps {

  // ---------- higher-order functions (transform/filter/aggregate/zip_with) ----------
  /** Per-vector scalar features computed entirely with array lambdas: the
    * positive-component count, the L2 norm (fold of squares), the dot
    * product with the reversed vector (`zip_with` + fold), the 33rd
    * order statistic (`array_sort`), and the value spread. Scan-side,
    * shuffle-free, embarrassingly parallel at any scale.
    */
  def qArrayFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        expr("size(filter(embedding, x -> x > 0))").as("n_pos"),
        expr("""round(sqrt(aggregate(embedding, cast(0.0 as double),
            (a, x) -> a + cast(x as double) * cast(x as double))), 6)""").as("l2_norm"),
        expr("""round(aggregate(zip_with(embedding, reverse(embedding),
            (x, y) -> cast(x as double) * cast(y as double)),
            cast(0.0 as double), (a, x) -> a + x), 6)""").as("rev_dot"),
        expr("round(cast(element_at(array_sort(embedding), 33) as double), 6)")
          .as("median_lo"),
        expr("""round(cast(array_max(embedding) as double)
            - cast(array_min(embedding) as double), 6)""").as("spread"))
      .orderBy(col("vec_id"))

  val qArrayFuncsOracle: String =
    """SELECT vec_id,
      len(list_filter(embedding, x -> x > 0)) AS n_pos,
      round(sqrt(list_reduce(list_transform(embedding,
        x -> x::DOUBLE * x::DOUBLE), (a, b) -> a + b)), 6) AS l2_norm,
      round(list_reduce([embedding[i]::DOUBLE
          * embedding[len(embedding) + 1 - i]::DOUBLE
          for i in range(1, len(embedding) + 1)], (a, b) -> a + b), 6) AS rev_dot,
      round(list_sort(embedding)[33]::DOUBLE, 6) AS median_lo,
      round(list_max(embedding)::DOUBLE - list_min(embedding)::DOUBLE, 6) AS spread
      FROM embeddings ORDER BY vec_id"""

  // ---------- positional un-nesting (posexplode ↔ unnest WITH ORDINALITY) ----------
  /** Per-dimension corpus statistics via `posexplode`: each vector emits
    * (position, value), aggregated per position. The generator is
    * codegen'd; the only shuffle is the 64-group aggregate (partial
    * map-side combine carries 64 rows per task regardless of corpus
    * size — the 100 TB shape for feature-wise statistics).
    */
  def qUnnestOrdinal(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("pos"))
      // `+ 0` normalizes the SIGN of a zero average (IEEE: -0.0 + 0.0 =
      // +0.0, all other doubles unchanged): a per-dimension mean sitting
      // within float-sum noise of zero gets its sign decided by SUMMATION
      // ORDER, which no distributed engine pins — the sf0.1 mutation
      // capstone caught DuckDB at -0.0 vs Spark at +0.0 on one dimension.
      // Mirrored in the oracle, so both engines canonicalize.
      .agg(count(lit(1)).as("n"),
        (round(avg(col("v").cast("double")), 5) + lit(0.0)).as("avg_v"),
        round(max(col("v")).cast("double"), 6).as("max_v"),
        round(min(col("v")).cast("double"), 6).as("min_v"))
      .orderBy(col("pos"))

  val qUnnestOrdinalOracle: String =
    """SELECT pos, count(*) AS n,
      round(avg(v::DOUBLE), 5) + 0 AS avg_v,
      round(max(v)::DOUBLE, 6) AS max_v,
      round(min(v)::DOUBLE, 6) AS min_v
      FROM (SELECT (generate_subscripts(embedding, 1) - 1)::INT AS pos,
        unnest(embedding) AS v FROM embeddings) t
      GROUP BY pos ORDER BY pos"""

  // ---------- MapType surface (construction + lambda ops over maps) ----------
  /** The map-typed column family: `map_from_entries` built per group,
    * then interrogated with `map_keys`, `element_at`, `map_filter`,
    * `transform_values`, and a fold over `map_values` — the shape of a
    * per-entity feature bag. The map stays distributed (one per group,
    * built by the same single aggregation shuffle a plain group-by pays);
    * emitted columns are scalars, and the oracle validates the identical
    * semantics relationally (DuckDB needs no map type to agree on the
    * answers — which is the point: the map is an ENCODING, not extra
    * information).
    */
  def qMapFuncs(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .groupBy(col("p_brand"), col("p_size"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("p_brand"))
      .agg(map_from_entries(collect_list(struct(col("p_size"), col("cnt"))))
        .as("m"))
      .select(col("p_brand"),
        expr("cardinality(m)").as("n_sizes"),
        expr("element_at(m, 10)").as("cnt_size10"),
        expr("""array_join(transform(array_sort(map_keys(m)),
            x -> cast(x as string)), ',')""").as("sizes_csv"),
        expr("aggregate(map_values(m), 0L, (a, v) -> a + v)").as("n_parts"),
        expr("cardinality(map_filter(m, (k, v) -> v >= 3))").as("n_common"),
        expr("""aggregate(map_values(transform_values(m, (k, v) -> v * 2L)),
            0L, (a, v) -> a + v)""").as("n_doubled"))
      .orderBy(col("p_brand"))

  val qMapFuncsOracle: String =
    """WITH g AS (SELECT p_brand, p_size, count(*) AS cnt FROM part
        GROUP BY p_brand, p_size)
      SELECT p_brand,
        count(*)::INT AS n_sizes,
        max(CASE WHEN p_size = 10 THEN cnt END) AS cnt_size10,
        string_agg(p_size::VARCHAR, ',' ORDER BY p_size) AS sizes_csv,
        sum(cnt)::BIGINT AS n_parts,
        count(CASE WHEN cnt >= 3 THEN 1 END)::INT AS n_common,
        (2 * sum(cnt))::BIGINT AS n_doubled
      FROM g GROUP BY p_brand ORDER BY p_brand"""

  val registry: Seq[GraftQuery] = Seq(
    GraftQuery("q_array_funcs", qArrayFuncs, qArrayFuncsOracle),
    GraftQuery("q_unnest_ordinal", qUnnestOrdinal, qUnnestOrdinalOracle),
    GraftQuery("q_map_funcs", qMapFuncs, qMapFuncsOracle),
  )
}
