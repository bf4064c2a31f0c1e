package graft.perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point of the converter benchmark (`perfbench/run.py` builds the
  * classes and launches this with a pinned heap):
  *
  * {{{
  * PerfBench --workload backfill|trickle|query --seed N --seconds S
  *           --trace 0|1 --work DIR --cores N --hashes FILE --tables DIR
  * }}}
  *
  * The last stdout line is one JSON object: `correct`, `attempted`,
  * `failed` and `metrics` (end-to-end metrics untraced, per-layer metrics
  * with `--trace 1`).
  */
object PerfBench {
  val Date = "2024-06-01"
  val Workloads: Seq[String] = Seq("backfill", "trickle", "query")

  private val setupPhases = mutable.LinkedHashMap.empty[String, Double]
  def setupPhase(name: String, seconds: Double): Unit = {
    setupPhases(name) = seconds
    System.err.println(f"[perfbench] setup.$name%s: $seconds%.3f s")
  }
  def setupPhaseSeconds(name: String): Double = setupPhases.getOrElse(name, 0.0)

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, cores: Int, hashes: File, tables: File, traceDir: Option[File])

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")), kv.getOrElse("cores", "4").toInt,
      new File(need("hashes")), new File(need("tables")), kv.get("trace-dir").map(new File(_)))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}")
    require(o.seconds >= 1, "--seconds must be >= 1")
    o
  }

  /** The benchmark's session: `local[cores]`, UTC, the graft extensions
    * (as the gate's session), bounded UI retention (flat driver heap over
    * a run) and every scratch directory inside the work dir. */
  def session(work: File, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "20000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def readHashes(f: File): Map[String, String] = {
    val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    "\"(q_[a-z0-9_]+)\"\\s*:\\s*\\{\\s*\"hash\"\\s*:\\s*\"([0-9a-f]{32})\"".r
      .findAllMatchIn(txt).map(m => m.group(1) -> m.group(2)).toMap
  }

  def json(r: Result): String = {
    def num(d: Double) =
      if (d.isNaN || d.isInfinite) "0.0" else java.lang.Double.toString(d)
    val ms = r.metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    o.work.mkdirs()
    val t0 = System.nanoTime()
    val spark = session(o.work, o.cores)
    setupPhase("spark_start", Jvm.sinceStart())
    val ctx = Ctx(spark, o.work, o.seed, o.seconds, o.cores)
    val result =
      try {
        if (o.trace) new TraceRun(ctx, o.workload, readHashes(o.hashes), o.tables, o.traceDir).run()
        else o.workload match {
          case "backfill" => new Backfill(ctx).run()
          case "trickle" => new Trickle(ctx).run()
          case "query" => new Query(ctx, readHashes(o.hashes), o.tables).run()
        }
      } finally spark.stop()
    System.err.println(f"[perfbench] ${o.workload} done in ${Stats.secondsSince(t0)}%.1f s")
    println(result.metrics.map(m => s""""${m.name}": ${m.n}""").mkString("{\"samples\": {", ", ", "}}"))
    println(json(result))
    System.out.flush()
    System.err.flush()
    // Spark is stopped and run.py removes the work dir: skip the shutdown
    // hooks, one of which intermittently held the JVM ~30 s past the end
    Runtime.getRuntime.halt(0)
  }
}
