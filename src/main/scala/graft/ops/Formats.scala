package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftQuery

/** Non-parquet source/sink surface: CSV and JSON-lines, the two text
  * formats every ingestion edge still speaks.
  *
  * Conventions that make the round trip oracle-exact:
  *  - numeric columns survive text serialization bit-for-bit because
  *    Spark writes doubles with Java's shortest round-trip
  *    representation (`Double.toString`) and parses them back to the
  *    identical bit pattern — so aggregating the round-tripped CSV
  *    equals aggregating the original parquet;
  *  - money sums are still done in DECIMAL, not double, so no
  *    summation-order boundary exists in the emitted strings;
  *  - schemas are EXPLICIT on read: at 100 TB schema inference is a
  *    full extra pass over the text before the real job starts — an
  *    engine must never pay it implicitly.
  */
object Formats {

  /** Fixed scratch root, one subdir per query, every write `overwrite`:
    * repeated runs (bench passes, sweeps, plan dumps) rewrite the same
    * paths instead of accumulating a fresh temp copy per invocation.
    */
  private def scratch(name: String): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), "graft-scratch", name)
    java.nio.file.Files.createDirectories(p)
    p
  }

  private val csvSchema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType)))

  private val jsonSchema = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_mktsegment", StringType)))

  /** Write a year of orders as headered CSV and the customer dimension as
    * JSON lines, read both back with explicit schemas, and run the join +
    * aggregate on the round-tripped data. The oracle computes the same
    * result from the original parquet — a pass proves the text
    * round trip lost nothing.
    */
  def qCsvJsonRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("formats")
    val csvDir = tmp.resolve("orders_csv").toString
    val jsonDir = tmp.resolve("customer_json").toString

    Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .write.mode("overwrite").option("header", "true").csv(csvDir)
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .write.mode("overwrite").json(jsonDir)

    val orders = spark.read.schema(csvSchema)
      .option("header", "true").csv(csvDir)
    val cust = spark.read.schema(jsonSchema).json(jsonDir)
    orders.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("string")
          .as("total_price"))
      .orderBy(col("c_mktsegment"), col("o_orderstatus"))
  }

  val qCsvJsonRoundtripOracle: String =
    """SELECT c_mktsegment, o_orderstatus, count(*) AS n_orders,
      sum(o_totalprice::DECIMAL(18,2))::VARCHAR AS total_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        AND o_orderdate < TIMESTAMP '1998-01-01'
      GROUP BY c_mktsegment, o_orderstatus
      ORDER BY c_mktsegment, o_orderstatus"""

  /** Malformed-input accounting: every seventh document's JSON line is
    * deterministically truncated before write, then the file is read back
    * in PERMISSIVE mode with an explicit `_corrupt_record` column — the
    * posture an ingestion edge needs (a bad record must land in
    * quarantine accounting, never kill the job, and FAILFAST would).
    * Corrupt rows parse to all-null + the raw line, so bucketing on
    * `coalesce(lang, '__corrupt')` yields per-language clean counts plus
    * the quarantine size; the oracle recomputes both from the clean
    * parquet and the corruption rule. The extra `doc_id` reference in the
    * aggregate matters: Spark refuses queries that project ONLY the
    * corrupt column from a raw JSON scan.
    */
  def qMalformedQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("malformed")
    val txtDir = tmp.resolve("docs_jsonl").toString
    Tables.documents(spark, dir)
      .select(
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit("{\"doc_id\":"), col("doc_id").cast("string"),
            lit(",\"lang\":\"")))
        .otherwise(to_json(struct(col("doc_id"), col("lang"))))
        .as("value"))
      .write.mode("overwrite").text(txtDir)

    val parsed = spark.read
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("lang", StringType),
        StructField("_corrupt_record", StringType))))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(txtDir)
    // partial-result parsing (Spark recovers doc_id from the truncated
    // line) makes count(doc_id) include quarantined rows; count ids on
    // CLEAN rows explicitly so the metric is parser-version-independent
    parsed
      // bucket on CORRUPTNESS, not lang-nullability: a clean row whose
      // lang is genuinely NULL (untagged doc — to_json drops the field,
      // so it parses back as NULL) must land in its own NULL bucket like
      // the oracle's CASE, not be folded into __corrupt (nulls sweep)
      .groupBy(when(col("_corrupt_record").isNotNull, lit("__corrupt"))
        .otherwise(col("lang")).as("lang_bucket"))
      .agg(count(lit(1)).as("n"),
        count(when(col("_corrupt_record").isNull, col("doc_id")))
          .as("n_parsed_ids"))
      .orderBy(col("lang_bucket"))
  }

  val qMalformedQuarantineOracle: String =
    """SELECT CASE WHEN doc_id % 7 = 0 THEN '__corrupt' ELSE lang END
        AS lang_bucket,
      count(*) AS n,
      sum(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END)::BIGINT AS n_parsed_ids
      FROM documents GROUP BY 1 ORDER BY lang_bucket"""

  /** ORC round-trip: same discipline as the CSV/JSON trip but through
    * Spark's other first-class columnar sink. DuckDB cannot read ORC, so
    * the oracle computes the identical aggregate from the source parquet —
    * a pass proves the ORC write+read preserved every value the aggregate
    * touches (keys, doubles, decimal operands).
    */
  def qOrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("orc")
    val orcDir = tmp.resolve("lineitem_orc").toString
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-07-01").cast("timestamp"))
      .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
        col("l_extendedprice"))
      .write.mode("overwrite").orc(orcDir)
    spark.read.orc(orcDir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        // round-then-cast (Spark truncates bare double→long, DuckDB
        // ::BIGINT rounds) — identical on any data, not just integral qty
        round(sum(col("l_quantity"))).cast("long").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("string")
          .as("sum_price"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val qOrcRoundtripOracle: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      round(sum(l_quantity))::BIGINT AS sum_qty,
      sum(l_extendedprice::DECIMAL(18,2))::VARCHAR AS sum_price
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-07-01'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""

  /** `binaryFile` source: how a filesystem image corpus lands in Spark —
    * one row per file with the raw bytes as a `binary` column, globbed
    * and (at scale) partition-pruned by path. 24 spec-valid PNGs are
    * generated from a deterministic formula, read back through the
    * source, and their headers parsed by the [[graft.functions.ImageHeader]]
    * kernels; the oracle knows only the generating formula, so a pass
    * proves source plumbing AND header decode end-to-end.
    */
  def qBinarySource(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("binsrc")
    (0 until 24).foreach { i =>
      val bytes = graft.functions.PngCodec.encodeGray(
        16 + i % 9, 16 + (i * 3) % 9, i.toLong)
      java.nio.file.Files.write(tmp.resolve(f"img_$i%03d.png"), bytes)
    }
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(tmp.toString)
      .select(
        regexp_extract(col("path"), "img_(\\d+)\\.png$", 1).cast("long")
          .as("img_id"),
        graft.functions.ImageHeaderOps.imageFormat(col("content")).as("fmt"),
        graft.functions.ImageHeaderOps.imageWidth(col("content")).as("w"),
        graft.functions.ImageHeaderOps.imageHeight(col("content")).as("h"))
      .orderBy(col("img_id"))
  }

  val qBinarySourceOracle: String =
    """SELECT i::BIGINT AS img_id, 'png' AS fmt,
      (16 + i % 9)::INT AS w, (16 + (i * 3) % 9)::INT AS h
      FROM range(24) t(i) ORDER BY img_id"""

  // ---------- dataset snapshot diff ----------
  /** Version-to-version corpus diff — the accounting a data-release
    * pipeline runs between dataset snapshots before publishing: rows
    * added, removed, changed (same key, different content hash), and
    * unchanged. The two versions are deterministic derivations of the
    * documents table (v1 drops `doc_id % 19 = 7` — "added later"; v2
    * drops `doc_id % 17 = 3` — "removed"; v2 rewrites content where
    * `doc_id % 13 = 5` — "changed", via a byte-level suffix so no
    * locale-dependent casing crosses engines).
    *
    * Scale shape: each side projects to (key, md5) BEFORE the join —
    * the full text never shuffles, only 16-byte hashes; the FULL OUTER
    * join is one equi-shuffle on the key (bucketed co-location would
    * remove even that at 100 TB); classification is a scan-side CASE
    * and the report aggregate is 4 groups.
    */
  /** Small-file compaction — the table-maintenance pass every streaming
    * ingest eventually owes: a fragmented landing (64 tiny parquet
    * files here, the per-micro-batch writer pattern) is rewritten into
    * size-targeted files, and the rewrite is CERTIFIED, not assumed:
    * the emitted row carries (a) content aggregates incl. an
    * md5-derived integer checksum that the oracle recomputes from the
    * ORIGINAL table — round-trip fidelity proven cross-engine like the
    * conversion queries — and (b) the before/after file counts, where
    * the after-count must equal the size-derived target
    * (`ceil(bytes / 128 MB)`, min 1) for `compacted_ok` to hold.
    *
    * Scale shape: compaction IS a controlled repartition-write — one
    * shuffle-free `coalesce` here since the target is below the input
    * parallelism (a real deployment picks coalesce vs repartition by
    * whether files also need re-clustering); file listing is
    * metadata-scale driver work, exactly what a table format's manifest
    * provides at 100 TB.
    */
  def qCompactFiles(spark: SparkSession, dir: String): DataFrame = {
    val tmp = scratch("compact")
    val frag = tmp.resolve("fragmented").toString
    val comp = tmp.resolve("compacted").toString
    Tables.documents(spark, dir)
      .repartition(64)
      .write.mode("overwrite").parquet(frag)
    def parquetFiles(p: String): Seq[java.nio.file.Path] = {
      import scala.jdk.CollectionConverters._
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(p))
      try s.iterator().asScala.toVector
        .filter(_.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
    val fragFiles = parquetFiles(frag)
    val bytes = fragFiles.map(java.nio.file.Files.size).sum
    val target = math.max(1L,
      (bytes + (128L << 20) - 1) / (128L << 20)).toInt
    spark.read.parquet(frag)
      .coalesce(target)
      .write.mode("overwrite").parquet(comp)
    val nOut = parquetFiles(comp).length
    spark.read.parquet(comp)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(conv(substring(md5(col("text")), 1, 12), 16, 10).cast("long"))
          .as("checksum"))
      .select(col("n_docs"), col("sum_chars"), col("checksum"),
        lit(fragFiles.length).as("n_files_in"),
        lit(if (nOut == target && nOut < fragFiles.length) 1 else 0)
          .as("compacted_ok"))
  }

  val qCompactFilesOracle: String =
    """SELECT count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars,
      sum(('0x' || substr(md5(text), 1, 12))::BIGINT)::BIGINT AS checksum,
      64 AS n_files_in, 1 AS compacted_ok
      FROM documents"""

  def qSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val v1 = docs.filter(col("doc_id") % 19 =!= 7)
      .select(col("doc_id"), md5(col("text")).as("h1"))
    val v2 = docs.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"),
        md5(when(col("doc_id") % 13 === 5, concat(col("text"), lit("!")))
          .otherwise(col("text"))).as("h2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("h2").isNull, "removed")
          .when(col("h1").isNull, "added")
          .when(col("h1") =!= col("h2"), "changed")
          .otherwise("unchanged"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("status"))
  }

  val qSnapshotDiffOracle: String =
    """WITH v1 AS (SELECT doc_id, md5(text) h1 FROM documents
        WHERE doc_id % 19 <> 7),
      v2 AS (SELECT doc_id,
          md5(CASE WHEN doc_id % 13 = 5 THEN text || '!' ELSE text END) h2
        FROM documents WHERE doc_id % 17 <> 3),
      j AS (SELECT coalesce(v1.doc_id, v2.doc_id) doc_id, h1, h2
        FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
      SELECT CASE WHEN h2 IS NULL THEN 'removed'
          WHEN h1 IS NULL THEN 'added'
          WHEN h1 <> h2 THEN 'changed' ELSE 'unchanged' END status,
        count(*) n, min(doc_id) min_doc, max(doc_id) max_doc
      FROM j GROUP BY 1 ORDER BY 1"""

  val registry: Seq[GraftQuery] = Seq(
    GraftQuery("q_csv_json_roundtrip", qCsvJsonRoundtrip, qCsvJsonRoundtripOracle),
    GraftQuery("q_malformed_quarantine", qMalformedQuarantine, qMalformedQuarantineOracle),
    GraftQuery("q_orc_roundtrip", qOrcRoundtrip, qOrcRoundtripOracle),
    GraftQuery("q_binary_source", qBinarySource, qBinarySourceOracle),
    GraftQuery("q_snapshot_diff", qSnapshotDiff, qSnapshotDiffOracle),
    GraftQuery("q_compact_files", qCompactFiles, qCompactFilesOracle),
  )
}
