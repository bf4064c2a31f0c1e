package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Also emits `<out>/hashes.json`: the CHECKER-NORMALIZED per-query row
  * hash of the Spark output (replicating tools/check_oracle.py's norm —
  * columns sorted by name, floats C-printf %.10g, NULL literal, rows
  * sorted, md5). When a driver-side compare disagrees with a local one,
  * this artifact pins which side moved: if the driver's Spark hash equals
  * the locally-committed one, the divergence is oracle/checker-side; if
  * not, it is data-side — per query, per round.
  */
object Verify {
  /** C printf %.10g (Python's float formatting in the checker): 10
    * significant digits, trailing zeros stripped, exponent form when
    * exp < -4 or >= 10, two-digit exponent. Java's %g keeps trailing
    * zeros, so strip them here. */
  def g10(d: Double): String = {
    if (d.isNaN) return "NULL" // checker: pd.isna → NULL
    if (d.isPosInfinity) return "inf"
    if (d.isNegInfinity) return "-inf"
    if (d == 0.0) return if (1 / d < 0) "-0" else "0"
    // C/Python %.10g rounds the EXACT binary expansion half-even;
    // Java's %g rounds the shortest repr half-up (507210581.45 → .5
    // where C reads ...449999 → .4), so build from BigDecimal(d).
    val mc = new java.math.MathContext(10, java.math.RoundingMode.HALF_EVEN)
    val bd = new java.math.BigDecimal(d).abs.round(mc)
    val exp = bd.precision - bd.scale - 1 // adjusted decimal exponent
    val dig0 = bd.unscaledValue.toString
    val dig = dig0.reverse.dropWhile(_ == '0').reverse match {
      case "" => "0"
      case s  => s
    }
    val s =
      if (exp < -4 || exp >= 10) {
        val m = if (dig.length == 1) dig else dig.head + "." + dig.tail
        m + "e" + (if (exp < 0) "-" else "+") + f"${math.abs(exp)}%02d"
      } else if (exp >= 0) {
        if (dig.length > exp + 1)
          dig.substring(0, exp + 1) + "." + dig.substring(exp + 1)
        else dig + "0" * (exp + 1 - dig.length)
      } else "0." + "0" * (-exp - 1) + dig
    if (d < 0) "-" + s else s
  }

  /** One cell, rendered the way check_oracle.py's norm() renders the
    * same value after pandas reads the parquet back. */
  def cell(v: Any): String = v match {
    case null => "NULL"
    case d: java.lang.Double => g10(d)
    case f: java.lang.Float => g10(f.toDouble)
    case b: java.lang.Boolean => if (b) "True" else "False"
    case d: java.math.BigDecimal => d.toPlainString
    case t: java.sql.Timestamp =>
      val base = t.toLocalDateTime.format(
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      val micros = t.getNanos / 1000
      if (micros == 0) base else f"$base.$micros%06d"
    case t: java.time.LocalDateTime => // timestamp_ntz collects as this
      val base = t.format(
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
      val micros = t.getNano / 1000
      if (micros == 0) base else f"$base.$micros%06d"
    case t: java.time.Instant =>
      cell(java.sql.Timestamp.from(t))
    case s: scala.collection.Seq[_] => // numpy array str: space-separated
      s.map(cell).mkString("[", " ", "]")
    case other => other.toString
  }

  def normalizedHash(rows: Seq[org.apache.spark.sql.Row],
                     cols: Seq[String]): String = {
    val order = cols.zipWithIndex.sortBy(_._1).map(_._2)
    // pandas promotes an integer column CONTAINING NULLS to float64,
    // so its ints render via %.10g ("1.23456789e+10" past 10 digits) —
    // replicate, or the committed hash diverges from the checker's.
    val promoted = order.map { i =>
      rows.exists(_.isNullAt(i)) && rows.exists(r => !r.isNullAt(i) &&
        (r.get(i) match {
          case _: java.lang.Long | _: java.lang.Integer |
               _: java.lang.Short | _: java.lang.Byte => true
          case _ => false
        }))
    }
    val lines = rows.map { r =>
      order.zip(promoted).map { case (i, promote) =>
        val s =
          if (promote && !r.isNullAt(i)) r.get(i) match {
            case n: java.lang.Number => g10(n.doubleValue())
            case other => cell(other)
          }
          else cell(r.get(i))
        s.replace(" 00:00:00", "")
      }.mkString("|")
    }.sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(lines.mkString("\n").getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // dev convenience: extra args restrict the dump to named queries (an
    // unregistered name is an error, not an empty dump)
    val selected =
      SparkEntry.select(Some(args.drop(2).toSet).filter(_.nonEmpty))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Dev-only gate-hardening hooks (the driver sets neither, keeping its
    // gate byte-for-byte unchanged): SPARK_GRAFT_MASTER runs the FULL
    // 285-query gate under another master — e.g. `local-cluster[2,8,6144]`
    // for real multi-JVM executors (pair with SPARK_GRAFT_EXTRA_CONF=
    // "spark.executor.extraClassPath=<classes+jars>" and
    // SPARK_SCALA_VERSION=2.13, see ClusterSmoke) — and
    // SPARK_GRAFT_EXTRA_CONF ("k=v;k=v") applies session confs, e.g.
    // `spark.graft.checkpoint.dir=/tmp/ck` to run the whole surface in
    // reliable-checkpoint mode. Results must be identical either way;
    // check with tools/spark_hashes.py against the committed HASHES.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val extraConf =
      EnvConf.parseExtraConf(sys.env.get("SPARK_GRAFT_EXTRA_CONF"), "verify")
    val builder0 = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // same rationale as Bench: 80+ queries overflow the default
      // 100-entry codegen cache and recompile per query (static conf)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .withExtensions(new graft.plans.GraftExtensions)
    val spark = extraConf
      .foldLeft(builder0) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val hashes = scala.collection.mutable.SortedMap[String, String]()
    selected.foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        // hash the parquet ROUND-TRIPPED values — what the checker reads
        val back = spark.read.parquet(s"$outDir/$name")
        val h = normalizedHash(back.collect().toSeq, back.columns.toSeq)
        hashes(name) = s"""{"hash": "$h", "rows": ${back.count()}}"""
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/hashes.json"),
      hashes.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ",\n", "}"))
    spark.stop()
  }
}
