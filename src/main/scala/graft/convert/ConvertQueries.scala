package graft.convert

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.avro.ConvertMode

/** Conversion-path queries for the driver gate. These synthesize their own
  * deterministic CDC Avro input (the conversion workload has no testdata
  * parquet equivalent); the conversion queries write their parquet under a
  * FIXED path so the DuckDB oracle can independently re-read the written
  * bytes and re-run the aggregation (`read_parquet` over the job's own
  * output) — a real cross-engine check on the parquet the job produces,
  * not a rows-only count. Value-level assertions live in
  * `AvroToParquetJobSpec` / `AvroCdcDataSourceSpec`.
  */
object ConvertQueries {

  /** Fixture root shared with the oracle SQL — a fixed location (not a
    * random temp dir) because the DuckDB side must name the same path in
    * static SQL. Each query wipes and regenerates its own subdirectory,
    * so repeated gate runs always compare freshly written output.
    */
  private val OracleRoot = "/tmp/graft_oracle_fixture"

  private def freshDir(name: String): String = {
    val dir = new java.io.File(s"$OracleRoot/$name")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) { val c = f.listFiles(); if (c != null) c.foreach(rm) }
      f.delete(): Unit
    }
    rm(dir)
    dir.mkdirs()
    dir.getAbsolutePath
  }

  private def cdcFixture(name: String): String = {
    val dir = freshDir(name)
    graft.BenchData.writeCdcAvro(s"$dir/landing/avro/orders/part-0.avro", rows = 5000)
    graft.BenchData.writeCdcAvro(s"$dir/landing/avro/users/part-0.avro", rows = 3000)
    dir
  }

  /** Full job: Avro → flattened partitioned parquet → read back, aggregate
    * per folder/change_type. The oracle re-reads the WRITTEN parquet with
    * DuckDB and re-aggregates — decimal casts to VARCHAR on both sides
    * (pandas reads Spark decimals as objects, DuckDB downcasts to float).
    */
  def qCdcConvertRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = cdcFixture("roundtrip")
    AvroToParquetJob.runOnce(spark, s"$tmp/landing/avro/*/*.avro",
      s"$tmp/out", ConvertMode.Standard, ingestionDate = Some("2024-06-01"))
    // reference layout: <out>/<folder>/ingestion_date=… — the folder is a
    // plain path segment, so read per folder and tag
    Seq("orders", "users").map { f =>
      spark.read.parquet(s"$tmp/out/$f").withColumn("folder", lit(f))
    }.reduce(_.unionByName(_))
      .groupBy(col("folder"), col("source_metadata.change_type").as("change_type"))
      .agg(count(lit(1)).as("n"), sum(col("qty")).as("total_qty"),
        max(col("price")).cast("string").as("max_price"))
      .orderBy(col("folder"), col("change_type"))
  }

  val qCdcConvertRoundtripOracle: String =
    s"""WITH w AS (
        SELECT 'orders' AS folder, * FROM
          read_parquet('$OracleRoot/roundtrip/out/orders/ingestion_date=*/*.parquet')
        UNION ALL
        SELECT 'users' AS folder, * FROM
          read_parquet('$OracleRoot/roundtrip/out/users/ingestion_date=*/*.parquet'))
      SELECT folder, source_metadata['change_type'] AS change_type,
        count(*) AS n, sum(qty)::BIGINT AS total_qty,
        max(price)::VARCHAR AS max_price
      FROM w GROUP BY folder, change_type ORDER BY folder, change_type"""

  /** SCHEMA EVOLUTION through the converter — the reference's defining
    * property exercised end-to-end: every Avro file carries its OWN
    * writer schema (main.py:492-494 reads it per file), so a producer
    * adding payload fields mid-stream just works — v1 files convert with
    * the old column set, v2 files with the new, side by side in the same
    * folder/partition. The query reads the converted output back with
    * `mergeSchema` (v1 rows surface NULL for the added columns — the
    * lake-native evolution contract) and aggregates across the boundary;
    * the oracle re-reads the same written bytes with DuckDB's
    * `union_by_name=true`, so two engines must agree on both the decode
    * AND the evolution semantics. All aggregated values are exact
    * (integer-valued doubles; counts).
    */
  def qCdcSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val tmp = freshDir("evolve")
    writeEvolveAvro(s"$tmp/landing/avro/evolve/part-v1.avro", 2000, v2 = false)
    writeEvolveAvro(s"$tmp/landing/avro/evolve/part-v2.avro", 1500, v2 = true)
    AvroToParquetJob.runOnce(spark, s"$tmp/landing/avro/*/*.avro",
      s"$tmp/out", ConvertMode.Standard, ingestionDate = Some("2024-06-01"))
    spark.read.option("mergeSchema", "true").parquet(s"$tmp/out/evolve")
      .groupBy(col("tag"))
      .agg(count(lit(1)).as("n"),
        sum(col("qty")).as("total_qty"),
        sum(col("score")).as("total_score"),
        count(col("score")).as("n_scored"))
      .orderBy(col("tag"))
  }

  val qCdcSchemaEvolutionOracle: String =
    s"""SELECT tag, count(*) AS n, sum(qty)::BIGINT AS total_qty,
        sum(score) AS total_score, count(score) AS n_scored
      FROM read_parquet(
        '$OracleRoot/evolve/out/evolve/ingestion_date=*/*.parquet',
        union_by_name=true)
      GROUP BY tag ORDER BY tag NULLS FIRST"""

  /** Two payload vintages of one folder's CDC stream: v2 adds `score`
    * and `tag`. Deterministic integer-valued payloads so every
    * cross-engine aggregate is exact.
    */
  private def writeEvolveAvro(path: String, rows: Int, v2: Boolean): Unit = {
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val extra = if (v2)
      """,{"name":"score","type":["null","double"]},
         {"name":"tag","type":["null","string"]}"""
    else ""
    val schemaJson =
      s"""{"type":"record","name":"cdc_event","fields":[
        {"name":"uuid","type":"string"},
        {"name":"source_metadata","type":{"type":"record","name":"sm","fields":[
          {"name":"schema","type":"string"},{"name":"table","type":"string"},
          {"name":"is_deleted","type":"boolean"},{"name":"change_type","type":"string"},
          {"name":"tx_id","type":["null","long"]},{"name":"lsn","type":["null","string"]},
          {"name":"primary_keys","type":{"type":"array","items":"string"}}]}},
        {"name":"payload","type":["null",{"type":"record","name":"p","fields":[
          {"name":"id","type":"long"},
          {"name":"qty","type":["null","int"]}$extra]}]}
      ]}"""
    val schema = new Schema.Parser().parse(schemaJson)
    val smSchema = schema.getField("source_metadata").schema()
    val pSchema = schema.getField("payload").schema().getTypes.get(1)
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.setCodec(org.apache.avro.file.CodecFactory.snappyCodec())
    w.create(schema, f)
    var i = 0
    while (i < rows) {
      val sm = new GenericData.Record(smSchema)
      sm.put("schema", "public"); sm.put("table", "evolve")
      sm.put("is_deleted", Boolean.box(false))
      sm.put("change_type", "INSERT")
      sm.put("tx_id", Long.box(i.toLong)); sm.put("lsn", s"0/${i.toHexString}")
      sm.put("primary_keys", java.util.Arrays.asList("id"))
      val p = new GenericData.Record(pSchema)
      p.put("id", Long.box(i.toLong))
      p.put("qty", Int.box(i % 100))
      if (v2) {
        p.put("score", Double.box((i % 1000).toDouble))
        p.put("tag", s"t${i % 7}")
      }
      val rec = new GenericData.Record(schema)
      rec.put("uuid", s"u$i")
      rec.put("source_metadata", sm); rec.put("payload", p)
      w.append(rec)
      i += 1
    }
    w.close()
  }

  /** DSv2 scan path: `format("cdc-avro")` with pruning + SQL aggregation.
    * The oracle cross-checks the DSv2 Avro READ path against the
    * conversion WRITE path: the same fixture is also converted to parquet
    * and DuckDB re-runs the aggregation over those written bytes — two
    * independent decoders of the same data must agree.
    */
  def qCdcDsv2Scan(spark: SparkSession, dir: String): DataFrame = {
    val tmp = cdcFixture("dsv2")
    AvroToParquetJob.runOnce(spark, s"$tmp/landing/avro/*/*.avro",
      s"$tmp/out", ConvertMode.Standard, ingestionDate = Some("2024-06-01"))
    spark.read.format("cdc-avro").load(s"$tmp/landing/avro/*/*.avro")
      .filter(!col("source_metadata.is_deleted"))
      .groupBy(col("source_metadata.table").as("tbl"))
      .agg(count(lit(1)).as("n"), round(avg(col("qty")), 6).as("avg_qty"))
      .orderBy(col("tbl"))
  }

  val qCdcDsv2ScanOracle: String =
    s"""SELECT source_metadata['table'] AS tbl, count(*) AS n,
        round(avg(qty), 6) AS avg_qty
      FROM read_parquet('$OracleRoot/dsv2/out/*/ingestion_date=*/*.parquet')
      WHERE NOT source_metadata['is_deleted']
      GROUP BY tbl ORDER BY tbl"""

  /** ReferenceExact mode through the gate: a payload with complex/binary
    * columns routes the whole file through the all-string fallback
    * (reference main.py:524-567); the output proves the fallback schema
    * (typed source_metadata + all-string payload) and post-conversion
    * stringification survive a full write/read cycle.
    */
  def qCdcConvertExact(spark: SparkSession, dir: String): DataFrame = {
    val tmp = freshDir("exact")
    val schemaJson =
      """{"type":"record","name":"cdc_event","fields":[
        {"name":"source_metadata","type":{"type":"record","name":"sm","fields":[
          {"name":"schema","type":"string"},{"name":"table","type":"string"},
          {"name":"is_deleted","type":"boolean"},{"name":"change_type","type":"string"},
          {"name":"tx_id","type":["null","long"]},{"name":"lsn","type":["null","string"]},
          {"name":"primary_keys","type":{"type":"array","items":"string"}}]}},
        {"name":"payload","type":["null",{"type":"record","name":"p","fields":[
          {"name":"id","type":"long"},
          {"name":"tags","type":{"type":"array","items":"string"}},
          {"name":"attrs","type":{"type":"map","values":"long"}}]}]}
      ]}"""
    // deterministic file with complex payload → fallback in exact mode
    val writer = new org.apache.avro.file.DataFileWriter[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.generic.GenericDatumWriter[org.apache.avro.generic.GenericRecord]())
    val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
    val f = new java.io.File(s"$tmp/landing/avro/exact/part-0.avro")
    f.getParentFile.mkdirs()
    writer.create(schema, f)
    val smSchema = schema.getField("source_metadata").schema()
    val pSchema = schema.getField("payload").schema().getTypes.get(1)
    (1 to 1000).foreach { i =>
      val sm = new org.apache.avro.generic.GenericData.Record(smSchema)
      sm.put("schema", "public"); sm.put("table", "exact")
      sm.put("is_deleted", Boolean.box(i % 2 == 0)); sm.put("change_type", "UPDATE")
      sm.put("tx_id", Long.box(i.toLong)); sm.put("lsn", null)
      sm.put("primary_keys", java.util.Arrays.asList("id"))
      val p = new org.apache.avro.generic.GenericData.Record(pSchema)
      p.put("id", Long.box(i.toLong))
      p.put("tags", java.util.Arrays.asList(s"t${i % 3}", "x"))
      val m = new java.util.HashMap[String, java.lang.Long]()
      m.put("k", Long.box(i.toLong))
      p.put("attrs", m)
      val rec = new org.apache.avro.generic.GenericData.Record(schema)
      rec.put("source_metadata", sm); rec.put("payload", p)
      writer.append(rec)
    }
    writer.close()

    AvroToParquetJob.runOnce(spark, s"$tmp/landing/avro/*/*.avro",
      s"$tmp/out", ConvertMode.ReferenceExact, ingestionDate = Some("2024-06-01"))
    // fallback output: payload columns are all strings (canonical JSON);
    // the oracle re-reads the written parquet (string max = binary order
    // in both engines)
    spark.read.parquet(s"$tmp/out")
      .groupBy(col("tags"))
      .agg(count(lit(1)).as("n"), max(col("attrs")).as("max_attrs"),
        max(col("id")).as("max_id_str"))
      .orderBy(col("tags"))
  }

  val qCdcConvertExactOracle: String =
    s"""SELECT tags, count(*) AS n, max(attrs) AS max_attrs,
        max(id) AS max_id_str
      FROM read_parquet('$OracleRoot/exact/out/*/ingestion_date=*/*.parquet')
      GROUP BY tags ORDER BY tags"""

  /** Landing-zone catalog path: folders surfaced as SQL tables via
    * [[graft.sources.AvroCdcCatalog]], queried with plain multi-table SQL.
    * The same fixture is also CONVERTED to parquet so the oracle can
    * re-run the aggregation over the written bytes with DuckDB — the
    * catalog's Avro read path and the conversion write path are two
    * independent decoders of the same data and must agree.
    */
  def qCdcCatalog(spark: SparkSession, dir: String): DataFrame = {
    val tmp = cdcFixture("catalog")
    AvroToParquetJob.runOnce(spark, s"$tmp/landing/avro/*/*.avro",
      s"$tmp/out", ConvertMode.Standard, ingestionDate = Some("2024-06-01"))
    val cat = "cdc_gate"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.AvroCdcCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", s"$tmp/landing")
    spark.sql(
      s"""SELECT 'orders' AS tbl, count(*) AS n,
            sum(qty) AS total_qty FROM $cat.orders
          UNION ALL
          SELECT 'users' AS tbl, count(*) AS n,
            sum(qty) AS total_qty FROM $cat.users
          ORDER BY tbl""")
  }

  val qCdcCatalogOracle: String =
    s"""WITH w AS (
        SELECT 'orders' AS tbl, * FROM
          read_parquet('$OracleRoot/catalog/out/orders/ingestion_date=*/*.parquet')
        UNION ALL
        SELECT 'users' AS tbl, * FROM
          read_parquet('$OracleRoot/catalog/out/users/ingestion_date=*/*.parquet'))
      SELECT tbl, count(*) AS n, sum(qty)::BIGINT AS total_qty
      FROM w GROUP BY tbl ORDER BY tbl"""

  val registry: Seq[GraftQuery] = Seq(
    GraftQuery("q_cdc_convert_roundtrip", qCdcConvertRoundtrip, qCdcConvertRoundtripOracle),
    GraftQuery("q_cdc_schema_evolution", qCdcSchemaEvolution, qCdcSchemaEvolutionOracle),
    GraftQuery("q_cdc_convert_exact", qCdcConvertExact, qCdcConvertExactOracle),
    GraftQuery("q_cdc_dsv2_scan", qCdcDsv2Scan, qCdcDsv2ScanOracle),
    GraftQuery("q_cdc_catalog", qCdcCatalog, qCdcCatalogOracle),
  )
}
