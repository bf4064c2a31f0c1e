package graft.perfbench

import java.io.File
import java.util.SplittableRandom
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Verify
import graft.avro.ConvertMode
import graft.convert.{AvroToParquetJob, FileLedger}
import graft.convert.AvroToParquetJob.ConvertReport

/** One reported metric; `n` is its sample count (printed beside the result). */
final case class Metric(name: String, value: Double, unit: String, n: Int = 1)

final case class Result(attempted: Int, failed: Int, metrics: Seq[Metric]) {
  def correct: Boolean = failed == 0
}

/** What every workload gets: the session, its own work directory, the
  * seed, the measured duration and the core count. */
final case class Ctx(spark: SparkSession, work: File, seed: Long, seconds: Int, cores: Int) {
  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear interpolation between closest ranks (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The end-to-end metrics of a workload, each a median over its samples
    * (`ops` the durations of the timed ops). Only `trickle` has `lags`
    * (one per landed file, enough for a p95): `backfill` and `query` run
    * too few ops per run for a percentile, so they report no lag. */
  def endToEnd(rates: Seq[Double], ratio: Double, ops: Seq[Double], setupS: Double,
               heapMb: Double, attempted: Int, failed: Int,
               lags: Option[Seq[Double]] = None): Seq[Metric] = Seq(
    Metric("setup_s", setupS, "s"),
    Metric("rows_s", median(rates), "rows/s", rates.size),
    Metric("out_bytes_ratio", ratio, "ratio")) ++
    lags.toSeq.flatMap(l => Seq(
      Metric("lag_p50_s", percentile(l, 0.5), "s", l.size),
      Metric("lag_p95_s", percentile(l, 0.95), "s", l.size))) ++ Seq(
    Metric("pass_s", median(ops), "s", ops.size),
    Metric("retained_heap_mb", heapMb, "MB"),
    Metric("ok_share", (attempted - failed).toDouble / attempted, "ratio", attempted))
}

/** `path` relative to its landing root: `avro/<folder>/<file>`. */
object Paths {
  def rel(p: String): String = p.substring(p.lastIndexOf("/avro/") + 1)
  def name(p: String): String = p.substring(p.lastIndexOf('/') + 1)
}

/** Closed loop, one client: one op is one `runOnce` (Standard mode, fixed
  * ingestion date, fresh ledger) over the whole backlog into a fresh
  * output directory. */
final class Backfill(ctx: Ctx) {
  import ctx.spark

  val layout: Backlog.Layout = Backlog.layout(full = true)
  val zone: File = ctx.dir("backfill")
  val glob = s"${zone.getPath}/avro/*/*.avro"
  val folders: Seq[String] = Backlog.Folders :+ Backlog.DefectFolder
  lazy val avroBytes: Long = Checks.fileBytes(new File(zone, "avro"), ".avro")
  private val expectedCounts = Checks.expectedCounts(layout.clean)
  private lazy val expectedDigest = Checks.expectedDigest(ctx.seed, layout.clean)
  private lazy val expectedSums = Checks.expectedSums(ctx.seed, layout.clean)

  def generate(): Unit =
    Backlog.write(ctx.seed, zone, layout, ctx.cores)

  def outDir(i: Int): File = new File(ctx.work, s"out/backfill-$i")

  /** One untraced op: (seconds, report). */
  def op(out: File): (Double, ConvertReport) = {
    Checks.deleteTree(out)
    val t0 = System.nanoTime()
    val rep = AvroToParquetJob.runOnce(spark, glob, out.getPath, ConvertMode.Standard,
      ledgerDir = Some(s"${out.getPath}/_graft_ledger"), ingestionDate = Some(PerfBench.Date))
    (Stats.secondsSince(t0), rep)
  }

  /** Warm-up: two full ops (JIT and codegen of every path an op takes;
    * after one cold op, or a cheaper partial op, the next ops still ran
    * 10-30% slow and kept speeding up). Returns the ops that failed. */
  def warmUp(): Int = (0 until 2).count { _ =>
    val ok = try { val (_, rep) = op(outDir(0)); check(rep, outDir(0)) }
      catch { case e: Exception =>
        System.err.println(s"[perfbench] backfill warm-up op threw: $e"); false }
    Checks.deleteTree(outDir(0))
    !ok
  }

  /** The op's outcome as the contract requires: every defective file
    * classified failed, every clean file converted once, and per-folder
    * row counts equal to the generator's. */
  def check(rep: ConvertReport, out: File): Boolean = {
    val converted = rep.converted.map(Paths.rel)
    val ok = rep.failed.map(Paths.rel).toSet == layout.defectPaths.toSet &&
      converted.size == layout.clean.size &&
      converted.toSet == layout.clean.map(_.relPath).toSet &&
      rep.fallback.isEmpty &&
      folders.forall(f => Checks.parquetRows(new File(out, f)) == expectedCounts.getOrElse(f, 0L))
    if (!ok) System.err.println(s"[perfbench] backfill check failed: $rep")
    ok
  }

  /** The converted rows themselves against the model: per-folder sums over
    * every row and the sampled row digest. */
  def fullCheck(out: File): Boolean = {
    val rows = Checks.converted(spark, out.getPath, folders)
    val ok = Checks.folderSums(rows) == expectedSums && Checks.actualDigest(rows) == expectedDigest
    if (!ok) System.err.println(s"[perfbench] backfill rows differ from the model in $out")
    ok
  }

  def run(): Result = {
    val t0 = System.nanoTime()
    generate()
    PerfBench.setupPhase("generate", Stats.secondsSince(t0))
    val t1 = System.nanoTime()
    var failed = warmUp()
    var attempted = 2
    PerfBench.setupPhase("warmup", Stats.secondsSince(t1))
    val setupS = Jvm.sinceStart()

    val ops, ratios = ArrayBuffer.empty[Double]
    var last: File = null
    val start = System.nanoTime()
    while (Stats.secondsSince(start) < ctx.seconds || attempted < 6) {
      val out = outDir(1 + attempted % 2)
      attempted += 1
      try {
        val (s, rep) = op(out)
        System.err.println(f"[perfbench] op ${ops.size}%d: $s%.3f s")
        ops += s
        ratios += Checks.fileBytes(out, ".parquet").toDouble / avroBytes
        if (!check(rep, out)) failed += 1
        last = out
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] backfill op threw: $e"); failed += 1
      }
    }
    val heap = Jvm.retainedHeapMb()
    if (last != null && !fullCheck(last)) failed += 1
    failed = math.min(failed, attempted)
    Result(attempted, failed, Stats.endToEnd(ops.map(layout.cleanRows / _).toSeq,
      Stats.median(ratios.toSeq), ops.toSeq, setupS, heap, attempted, failed))
  }
}

/** One poll: its report, and when it started, `runOnce` returned and the
  * step (with compaction) ended. */
final case class Poll(rep: ConvertReport, startNs: Long, returnNs: Long, endNs: Long) {
  def runOnceS: Double = (returnNs - startNs) / 1e9
  def stepS: Double = (endNs - startNs) / 1e9
}

/** Open loop: a lander thread moves pre-generated small containers into
  * the landing glob by atomic rename on a seeded Poisson schedule that
  * does not wait for the converter; the converter polls on the
  * `runContinuous` step (`runOnce` with a ledger, then `FileLedger.compact`,
  * then a fixed sleep). Lag is due time to the return of the `runOnce`
  * that reports the file converted. */
final class Trickle(ctx: Ctx) {
  import ctx.spark
  import Trickle._

  val root: File = ctx.dir("trickle")
  val staging: File = new File(root, "staging")
  val landing: File = new File(root, "landing")
  val out: File = new File(root, "out")
  val ledgerDir = s"${root.getPath}/ledger"
  val glob = s"${landing.getPath}/avro/*/*.avro"

  val nTimed: Int = math.ceil(RatePerS * ctx.seconds).toInt
  /** The i-th container; indices past [[files]] are spare containers the
    * traced run lands itself. */
  def spec(i: Int): CdcGen.FileSpec =
    CdcGen.FileSpec(Backlog.Folders(i % 3), f"t-$i%05d.avro", RowsPerFile,
      1 + (i / 3) % 2, TxBase + i * TxStride, 100000, 100000L + i)
  val files: IndexedSeq[CdcGen.FileSpec] = (0 until WarmFiles + nTimed).map(spec)
  private val index: Map[String, Int] = files.indices.map(i => files(i).name -> i).toMap

  def generate(): Unit =
    CdcGen.writeAll(ctx.seed, files.map(f => f -> new File(staging, f.name)), ctx.cores)

  private def land(i: Int): Unit = land(files(i))

  /** Moves a staged container into the landing glob by atomic rename. */
  def land(f: CdcGen.FileSpec): Unit = {
    val dst = new File(landing, f.relPath)
    dst.getParentFile.mkdirs()
    java.nio.file.Files.move(new File(staging, f.name).toPath, dst.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Seeded arrival offsets (seconds from the start of the timed phase). */
  val dueOffsets: IndexedSeq[Double] = {
    val rnd = new SplittableRandom(CdcGen.mix(ctx.seed, 0x7C1CL))
    var t = 0.0
    (0 until nTimed).map { _ => t += -math.log(1.0 - rnd.nextDouble()) / RatePerS; t }
  }

  final class Lander(startNs: Long) extends Thread("perfbench-lander") {
    setDaemon(true)
    val dueNs: Array[Long] = dueOffsets.map(o => startNs + (o * 1e9).toLong).toArray
    val lateNs = new Array[Long](nTimed)
    @volatile var error: Throwable = _
    override def run(): Unit =
      try (0 until nTimed).foreach { k =>
        var wait = dueNs(k) - System.nanoTime()
        while (wait > 0) { LockSupport.parkNanos(wait); wait = dueNs(k) - System.nanoTime() }
        land(WarmFiles + k)
        lateNs(k) = System.nanoTime() - dueNs(k)
      } catch { case e: Throwable => error = e }
  }

  /** Per file: when it was reported converted and how often. */
  final class Tally {
    val convertedAt = new Array[Long](files.size)
    val times = new Array[Int](files.size)
    var failed = 0
    def record(p: Poll): Unit = {
      p.rep.converted.foreach { path =>
        val i = index(Paths.name(path)); times(i) += 1; convertedAt(i) = p.returnNs
      }
      failed += p.rep.failed.size + p.rep.fallback.size
    }
    def pending(upTo: Int): Boolean = (0 until upTo).exists(times(_) == 0)
  }

  /** One poll step, untraced. */
  def poll(ledger: FileLedger): Poll = {
    val t0 = System.nanoTime()
    val rep = AvroToParquetJob.runOnce(spark, glob, out.getPath, ConvertMode.Standard,
      ledgerDir = Some(ledgerDir), ingestionDate = Some(PerfBench.Date))
    val at = System.nanoTime()
    ledger.compact()
    Poll(rep, t0, at, System.nanoTime())
  }

  /** Warm-up files land at once and are polled until converted. */
  def warmUp(tally: Tally, step: => Poll): Unit = {
    (0 until WarmFiles).foreach(land)
    var polls = 0
    while (polls < 3 || (tally.pending(WarmFiles) && polls < 50)) {
      tally.record(step); polls += 1
      Thread.sleep(PollIntervalMs)
    }
  }

  /** The timed phase: (lander with due time and lateness per file, polls). */
  def timed(tally: Tally, step: => Poll): (Lander, Seq[Poll]) = {
    val polls = ArrayBuffer.empty[Poll]
    val lander = new Lander(System.nanoTime() + 50000000L)
    lander.start()
    val endNs = lander.dueNs.last
    val deadline = endNs + (DrainS * 1e9).toLong
    var more = true
    while (more) {
      val p = step
      polls += p
      tally.record(p)
      val now = System.nanoTime()
      more = (now < endNs || lander.isAlive || tally.pending(files.size)) && now < deadline
      if (more) Thread.sleep(PollIntervalMs)
    }
    lander.join()
    if (lander.error != null) throw lander.error
    (lander, polls.toSeq)
  }

  /** Files that break the contract: every landed file converted exactly
    * once and present in the output with exactly its own rows (tx ranges
    * are per file), no duplicates. */
  def check(tally: Tally): Int = {
    val perFile = Backlog.Folders
      .map(f => spark.read.parquet(s"${out.getPath}/$f").select(col("source_metadata.tx_id").as("tx")))
      .reduce(_ union _)
      .groupBy(((col("tx") - TxBase) / TxStride).cast("long").as("f"))
      .agg(count(lit(1)).as("n"), countDistinct(col("tx")).as("d"))
      .collect().map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2))).toMap
    files.indices.count { i =>
      !(tally.times(i) == 1 && perFile.get(i).contains((RowsPerFile.toLong, RowsPerFile.toLong)))
    } + perFile.keys.count(i => i < 0 || i >= files.size)
  }

  def run(): Result = {
    val t0 = System.nanoTime()
    generate()
    PerfBench.setupPhase("generate", Stats.secondsSince(t0))
    val t1 = System.nanoTime()
    val ledger = new FileLedger(ledgerDir, spark.sparkContext.hadoopConfiguration)
    val tally = new Tally
    warmUp(tally, poll(ledger))
    PerfBench.setupPhase("warmup", Stats.secondsSince(t1))
    val setupS = Jvm.sinceStart()
    val (lander, polls) = timed(tally, poll(ledger))
    val heap = Jvm.retainedHeapMb()
    val lags = (0 until nTimed).filter(k => tally.convertedAt(WarmFiles + k) > 0)
      .map(k => (tally.convertedAt(WarmFiles + k) - lander.dueNs(k)) / 1e9)
    val busy = polls.filter(_.rep.converted.nonEmpty)
    val landed = files.size
    val bad = math.min(landed, check(tally) + tally.failed)
    Result(landed, bad, Stats.endToEnd(
      busy.map(p => p.rep.converted.size * RowsPerFile / p.runOnceS),
      Checks.fileBytes(out, ".parquet").toDouble / Checks.fileBytes(new File(landing, "avro"), ".avro"),
      busy.map(_.stepS), setupS, heap, landed, bad, Some(lags)))
  }
}

object Trickle {
  /** Offered load, files per second: about half the rate the converter
    * kept up with when this benchmark was defined (4 cores: polls of 65 to
    * 130 files at 25 files/s already took 4 to 5.5 s and lag kept rising;
    * at 15 files/s it held). */
  val RatePerS = 10.0
  val RowsPerFile = 1000
  val WarmFiles = 40
  val PollIntervalMs = 250L
  val DrainS = 30.0
  val TxBase = 10000000000L
  val TxStride = 10000L
}

/** Closed loop, one client: one op is one pass over a fixed query list,
  * each query planned (`executedPlan`) then collected, each result
  * checked. */
final class Query(ctx: Ctx, expectedHashes: Map[String, String], val tables: File) {
  import ctx.spark

  final case class Q(name: String, layer: String, build: () => DataFrame, ok: Array[Row] => Boolean)

  val layout: Backlog.Layout = Backlog.layout(full = false)
  val zone: File = ctx.dir("query/zone")
  val converted: File = new File(ctx.work, "query/converted")
  lazy val model = new LakeModel(ctx.seed, layout.clean)

  def generate(): Unit = {
    Backlog.write(ctx.seed, zone, layout, ctx.cores)
    AvroToParquetJob.runOnce(spark, s"${zone.getPath}/avro/users/*.avro", converted.getPath,
      ConvertMode.Standard, ingestionDate = Some(PerfBench.Date))
    spark.conf.set("spark.sql.catalog.cdc", "graft.sources.AvroCdcCatalog")
    spark.conf.set("spark.sql.catalog.cdc.root", zone.getPath)
    model.applied // the expectations are part of the inputs
  }

  private def sameRows(expected: Seq[Row])(rows: Array[Row]): Boolean =
    rows.nonEmpty && rows.head.length == expected.head.length && {
      val cols = (0 until expected.head.length).map(i => s"c$i")
      Verify.normalizedHash(rows.toSeq, cols) == Verify.normalizedHash(expected, cols)
    }

  private def lake = spark.read.format("cdc-avro").option("mergeSchema", "true")
    .load(s"${zone.getPath}/avro/{${Backlog.Folders.mkString(",")}}/*.avro")

  lazy val queries: Seq[Q] = Seq(
    Q("lake_scan_full", "sources.scan_full", () => lake
      .groupBy(col("source_metadata.change_type"))
      .agg(count(lit(1)), sum(col("qty")), sum(col("price"))),
      sameRows(model.scanFull)),
    Q("lake_scan_pruned", "sources.scan_pruned", () => lake
      .filter(col("_input_path").endsWith(s"/${model.prunedFile.relPath}"))
      .agg(count(lit(1)), sum(col("id")), sum(col("qty"))),
      sameRows(model.scanPruned)),
    Q("lake_scan_limit", "sources.scan_limit", () => lake
      .select(col("id"), col("source_metadata.tx_id")).limit(100),
      rows => model.limitOk(rows.toSeq, 100)),
    Q("lake_catalog_sql", "sources.catalog_sql", () => spark.sql(
      "SELECT count(*), sum(o.qty) FROM cdc.orders o " +
        "JOIN (SELECT DISTINCT id FROM cdc.users) u ON o.id = u.id"),
      sameRows(model.catalogJoin)),
    Q("cdc_apply", "cdc.apply", () => graft.cdc.CdcColumns.applyChanges(
        spark.read.option("mergeSchema", "true").parquet(s"${converted.getPath}/users"),
        Seq("id"), Seq(col("source_metadata.tx_id")), col("source_metadata.is_deleted"))
      .agg(count(lit(1)), sum(col("qty")), sum(col("id"))),
      sameRows(model.applied))
  ) ++ Query.SurfaceQueries.map { n =>
    val fn = graft.SparkEntry.queries(n)
    var cols: Seq[String] = Nil
    Q(n, s"query.$n", () => { val df = fn(spark, tables.getPath); cols = df.columns.toSeq; df },
      rows => expectedHashes.get(n).contains(Verify.normalizedHash(rows.toSeq, cols)))
  }

  /** One query: (build + plan seconds, collect seconds, ok). */
  def runQuery(q: Q): (Double, Double, Boolean) = {
    val t0 = System.nanoTime()
    val df = q.build()
    df.queryExecution.executedPlan
    val t1 = System.nanoTime()
    val rows = df.collect()
    val t2 = System.nanoTime()
    val ok = try q.ok(rows) catch { case _: Exception => false }
    if (!ok) System.err.println(s"[perfbench] query ${q.name} result check failed")
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9, ok)
  }

  /** One pass: per-query latencies (name -> seconds) and failed queries. */
  def pass(): (Seq[(String, Double)], Int) = {
    val lat = ArrayBuffer.empty[(String, Double)]
    var bad = 0
    queries.foreach { q =>
      try {
        val (p, e, ok) = runQuery(q)
        lat += q.name -> (p + e)
        if (!ok) bad += 1
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] query ${q.name} threw: $e"); bad += 1
      }
    }
    (lat.toSeq, bad)
  }

  def run(): Result = {
    val t0 = System.nanoTime()
    generate()
    PerfBench.setupPhase("generate", Stats.secondsSince(t0))
    val t1 = System.nanoTime()
    var failed = pass()._2
    PerfBench.setupPhase("warmup", Stats.secondsSince(t1))
    var attempted = queries.size
    val setupS = Jvm.sinceStart()
    val passes = ArrayBuffer.empty[Seq[(String, Double)]]
    val start = System.nanoTime()
    while (Stats.secondsSince(start) < ctx.seconds || passes.size < 2) {
      val (lat, bad) = pass()
      System.err.println(f"[perfbench] pass ${passes.size}%d: ${lat.map(_._2).sum}%.3f s " +
        lat.map { case (n, t) => f"$n=$t%.3f" }.mkString(" "))
      passes += lat
      attempted += queries.size
      failed += bad
    }
    val heap = Jvm.retainedHeapMb()
    failed = math.min(failed, attempted)
    // the two full-table lake reads: the whole lake, then orders + users
    val lakeRows = layout.cleanRows + layout.clean.filter(_.folder != "items").map(_.rows).sum
    val scans = passes.map { p =>
      lakeRows / p.collect { case ("lake_scan_full" | "lake_catalog_sql", s) => s }.sum
    }
    Result(attempted, failed, Stats.endToEnd(scans.toSeq,
      Checks.fileBytes(converted, ".parquet").toDouble /
        Checks.fileBytes(new File(zone, "avro/users"), ".avro"),
      passes.map(_.map(_._2).sum).toSeq, setupS, heap, attempted, failed))
  }
}

object Query {
  /** The registered surface queries of the `query` workload. */
  val SurfaceQueries: Seq[String] = Seq("q_eval_bleu", "q_dedup_lsh_calibration",
    "q_dedup_simhash", "q_decontaminate_ngram", "q_text_boilerplate", "q_text_pii",
    "q_sql_kernels", "q_stream_join")
}
