package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops._

/** One registered query: its Spark side and the DuckDB SQL that must
  * reproduce its result over the same test tables.
  */
final case class GraftQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String)

/** Driver contract — see SURVEY.md §7 and README.
  *
  * Every implemented operator is registered as one [[GraftQuery]] in its
  * module's `registry`, which names the query, runs it over the driver
  * test tables and carries the equivalent ANSI SQL for the DuckDB oracle.
  * [[queries]] and [[oracleSql]] are views derived from those registries.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalTpch.q05LocalSupplier(spark, "/root/testdata/sf0.001")

  /** Every module's registry, listed once. */
  val registry: Seq[GraftQuery] = Seq(
    Relational.registry, RelationalTpch.registry, RelationalQuality.registry,
    Dedup.registry, Similarity.registry, GraphOps.registry,
    TextAnalysis.registry, TextModels.registry, TextEval.registry,
    TextSampling.registry, EventOps.registry, EventStreaming.registry,
    EventStats.registry, Multimodal.registry, ArrayOps.registry,
    Formats.registry, Layout.registry, graft.cdc.CdcColumns.registry,
    graft.convert.ConvertQueries.registry).flatten

  /** `qs` by name; two queries under one name are an error, not a silent
    * overwrite.
    */
  private[graft] def byName(qs: Seq[GraftQuery]): Map[String, GraftQuery] = {
    val dup = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"query names registered twice: ${dup.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }

  private val named: Map[String, GraftQuery] = byName(registry)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    named.map { case (n, q) => n -> q.run }

  val oracleSql: Map[String, String] = named.map { case (n, q) => n -> q.oracle }

  /** The registered queries named in `only`, or all of them for `None`. An
    * unregistered name or an empty selection throws, so a typo cannot
    * shrink a run unnoticed.
    */
  def select(only: Option[Set[String]])
      : Map[String, (SparkSession, String) => DataFrame] = only match {
    case None => queries
    case Some(names) =>
      require(names.nonEmpty, "the query selection is empty")
      val unknown = names.filterNot(queries.contains).toSeq.sorted
      require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
      queries.filter { case (n, _) => names(n) }
  }
}
