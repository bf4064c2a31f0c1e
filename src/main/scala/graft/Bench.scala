package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): times every registered query on
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line.
  *
  * Each query is fully materialized through a `noop`-format write — a
  * plain `count()` would let Catalyst prune the very columns a query
  * computes, timing a different (cheaper) plan than the one users run.
  *
  * Also times `cdc_convert`: the reference's own workload (Avro → flattened
  * partitioned Parquet) over a generated CDC file, so conversion throughput
  * is tracked alongside query latency.
  */
object Bench {

  private def timeIt(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** All `n` timed passes, sorted ascending. The median (ts(n/2)) is the
    * headline number — a single pass is hostage to VM load (±40% swings
    * measured on identical plans between rounds) and the median discards
    * one-off stalls in either direction without averaging them in. The
    * min/max are kept so the artifact itself shows the per-query spread:
    * a "regression" whose min matches last round's median is VM noise,
    * decidable from BENCH_r{N}.json alone without a re-run.
    */
  private def passesOf(n: Int)(f: => Unit): Array[Double] =
    Array.fill(n)(timeIt(f)).sorted

  /** Best-effort recursive delete for the conversion probes' temp trees —
    * the 10× probe writes 3 × ~140 MB output passes and the 100× probe a
    * ~1.4 GB input, so repeated bench runs would otherwise fill /tmp.
    */
  private def deleteRecursively(p: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try
        walk.iterator().asScala.toSeq.reverseIterator
          .foreach(f => try java.nio.file.Files.deleteIfExists(f) catch {
            case _: java.io.IOException =>
          })
      finally walk.close() // the stream holds directory handles
    } catch { case _: Throwable => }

  // JIT-proof sink for the calibration loop below: a volatile write can't
  // be dead-code-eliminated, so the fixed work always runs in full.
  @volatile private var probeSink: Long = 0L

  /** Fixed-work, Spark-free box-speed calibration: 500M xorshift64* steps
    * on ONE thread, in seconds. The same work every round on every box, so
    * BENCH_r{N}.json totals become comparable across driver VMs — r10→r12
    * driver boxes decayed ~1.9× (cdc_rows_s 274,830→145,826 on a
    * conversion path that only got faster) and without an in-artifact
    * scalar the absolute-seconds gate was unfalsifiable either way.
    * Min over `n` passes: the best pass is the least load-polluted, i.e.
    * the box's true single-thread speed. See BASELINE.md §calibration for
    * the normalization arithmetic.
    */
  private def cpuProbe(n: Int): Double = {
    def pass(): Double = timeIt {
      var x = 0x9E3779B97F4A7C15L
      var i = 0L
      while (i < 500000000L) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1L
      }
      probeSink = x
    }
    pass() // untimed JIT warmup of the loop itself
    (1 to n).map(_ => pass()).min
  }

  /** Fixed-work, Spark-free MEMORY-BANDWIDTH calibration: 16 threads each
    * sweep a private 64 MB long array twice (2 GB of sequential reads per
    * pass), in seconds. Complements [[cpuProbe]], which measures
    * single-thread ALU speed only: the round-15 sessions measured boxes
    * whose cpu_probe matched (~0.95 s) while the 32-thread snappy+parquet
    * path ran up to 5× apart (`cdc_rows_s_10x` 327k vs 1.6M) — exactly
    * the vintage axis the suite's shuffle/scan-bound queries live on.
    * The thread count is FIXED at 16 (not the box's core count) so the
    * work is identical on every box; aggregate bandwidth saturates well
    * below 16 streams on everything we run on. Min over `n` passes after
    * an untimed warmup (the min is the least contention-polluted pass).
    */
  // allocated ONCE and shared between the start- and end-of-run samples:
  // re-allocating 1 GiB at run end, while the local[32] executors' block
  // state is still resident, risks GC thrash after every query already
  // succeeded — and per-call allocation would fold alloc+init noise into
  // a probe meant to measure steady-state read bandwidth
  private lazy val memProbeArrays: Array[Array[Long]] = {
    val threads = 16
    val words = 8 << 20 // 8M longs = 64 MB per thread
    Array.fill(threads)(
      Array.tabulate(words)(i => i.toLong * 0x9E3779B97F4A7C15L))
  }

  // fixed pool shared by every pass: spawning 16 fresh threads per
  // ~30 ms sample made thread-startup a box-dependent fraction of the
  // very probe meant to read steady-state bandwidth (ADVICE r15) —
  // pooled workers are warm after the untimed first pass. Daemon
  // threads: the pool must not hold the JVM open after main returns.
  private lazy val memProbePool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(memProbeArrays.length, r => {
      val t = new Thread(r, "graft-mem-probe")
      t.setDaemon(true)
      t
    })

  private def memProbe(n: Int): Double = {
    val arrays = memProbeArrays
    def pass(): Double = timeIt {
      val fs = arrays.map { a =>
        memProbePool.submit(new Runnable {
          def run(): Unit = {
            var acc = 0L
            var sweep = 0
            while (sweep < 2) {
              var i = 0
              while (i < a.length) { acc ^= a(i); i += 1 }
              sweep += 1
            }
            probeSink ^= acc // volatile write: the sweeps cannot be elided
          }
        })
      }
      fs.foreach(_.get())
    }
    pass()
    (1 to n).map(_ => pass()).min
  }

  /** The bench's session (master, confs and extensions below, then
    * `SPARK_GRAFT_EXTRA_CONF`); `graft.obs.Probe` measures on it too. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_EXTRA_CONF (dev-only): "k=v;k=v" overrides, to A/B a
    // candidate default through the exact bench path before baking it in
    val extraConf =
      EnvConf.parseExtraConf(sys.env.get("SPARK_GRAFT_EXTRA_CONF"), "bench")
    // SPARK_GRAFT_MASTER (dev-only, mirrors Verify's hook): run the bench
    // under another master — `local-cluster[2,8,6144]` for real multi-JVM
    // executors with serialization/fetch on every exchange (pair with
    // SPARK_HOME, SPARK_SCALA_VERSION=2.13 and SPARK_GRAFT_EXTRA_CONF=
    // "spark.executor.extraClassPath=<classes+jars>", see ClusterSmoke).
    // The driver never sets it; local[cpus] remains the graded path.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val builder0 = SparkSession.builder()
      .master(master)
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // Respect the 64m advisory target when AQE coalesces post-shuffle
      // partitions instead of stopping at `default.parallelism` — the
      // setting Spark's own AQE docs recommend (parallelismFirst=true is
      // documented as a legacy-behavior guard). At 100 TB the advisory
      // size is what bounds reducer memory; locally it stops sub-MB
      // shuffles from scheduling 32 near-empty reducers per stage
      // (A/B over a 42-query band: −6% suite time, biggest movers the
      // fixpoint rounds — q_graph_kcore 2.07→1.48 — with one bounded
      // regression, q_window_lag +0.19 s, whose window input sits right
      // at the single-partition threshold).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      // Companion advisory for local[32] at sub-GB scale factors: with
      // the 64m default, parallelismFirst=false collapses every mid-size
      // (10-40 MB) shuffle to ONE partition, serializing the CPU-bound
      // stage above it — measured: q_window_running 2.35→1.0 s,
      // q_cdc_scd2 2.39→1.19, q_cdc_timetravel 2.28→1.21 at 2m, while
      // the KB-scale fixpoint shuffles (the parallelismFirst win,
      // q_graph_kcore et al.) still coalesce to a single reducer. A/B
      // swept 64m/8m/4m/2m/1m over the 12 affected queries: 2m is the
      // knee (total_min 20.7→16.6 s; 1m saves 0.7 s more but doubles
      // the pass spread). On a real cluster at 100 TB keep the 64m
      // default — there the advisory bounds reducer MEMORY, and input
      // shuffles are GB-scale, nowhere near the collapse regime.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // 80+ queries × several generated classes each far exceeds the
      // default 100-entry whole-stage-codegen cache: by the time a query's
      // timed pass runs, its warmed classes have been evicted and every
      // pass pays a fresh Janino compile (measured: the ANN queries run
      // 3-10× slower inside the full bench than in isolation, identical
      // plans). Static conf — must be set before the session exists.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // Spark 4.1's checkpoint-file checksums (new in 4.1, default on)
      // write a SIDECAR checksum file for every offset-log, commit-log
      // and state-store delta file — doubling the synchronous file
      // creations on every micro-batch commit path. A/B over the
      // 12-query streaming band (min-over-2-legs per side, r17):
      // 19.33 s → 16.60 s (−14%), biggest movers the join-state queries
      // (q_stream_outer_join 3.25→2.30, q_stream_quality 1.58→1.22).
      // Off restores the ≤4.0 checkpoint layout; the corruption it
      // detects is in-flight/at-rest file damage that HDFS block
      // checksums and object-store ETag validation already cover in
      // production, and nothing covers better locally. Re-enable per
      // deployment (SPARK_GRAFT_EXTRA_CONF or session conf) on storage
      // without its own integrity layer.
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled",
        "false")
      // Suite hygiene: a 233-query run in one 8g JVM accumulates state
      // that inflates LATER queries (measured: q_stream_quality 1.45 s
      // isolated vs 3.40 s in-suite, q_text_tfidf 1.0 vs 1.8 — late
      // alphabet = late in the run). Three leaks, three caps:
      //  - the app-status stores retain full per-execution plan graphs
      //    and task rollups for a UI that is disabled — cap retention to
      //    a handful (status tracking itself can't be turned off);
      //  - shuffle files + broadcast blocks are only reclaimed when the
      //    driver GCs the owning RDD references; the default periodic-GC
      //    interval (30 min) never fires inside a ~12 min bench — every
      //    query's shuffle output stays on /tmp to the end. 60 s keeps
      //    the working set flat;
      //  - localCheckpoint blocks pin executor memory until unpersisted
      //    (swept between queries in main's timed loop).
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .config("spark.sql.ui.retainedExecutions", "10")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .withExtensions(new graft.plans.GraftExtensions)
    val spark = extraConf.foldLeft(builder0) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_ONLY (dev-only): time only the named queries
    // (comma-separated), without the conversion probes; an unregistered
    // name or an empty list stops the run before any Spark state exists
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val ordered = SparkEntry.select(only).toSeq.sortBy(_._1)
    // box calibration, sampled at run START (before any Spark state
    // exists) and again at run END so the scalar reflects the box across
    // the whole window; the machine line carries the overall min.
    val cpuProbeStart = cpuProbe(3)
    val memProbeStart = memProbe(3)
    val spark = session()

    // drop blocks a finished query left behind (localCheckpoint / cache):
    // they are dead weight once the query's passes are done, and in an 8g
    // heap a few hundred queries' worth crowds out the live run. Shared
    // session fixtures are EXEMPT — a localCheckpointed fixture is
    // unrecomputable, so sweeping it fails every later query in its
    // family (13 did, with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND, before the
    // pin registry); plain persist()ed frames are recomputable and may
    // be swept freely.
    def sweepBlocks(): Unit = {
      val pinned = graft.ops.SessionFixtures.pinnedRddIds
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => pinned(id) }
        .values.foreach(_.unpersist(blocking = false))
    }

    // warmup (not counted): JIT/classload + file-index/footer reads for
    // every table, so the first timed query doesn't absorb one-time costs
    spark.range(1000000L).selectExpr("sum(id)").write.format("noop")
      .mode("overwrite").save()
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      // via Tables.table (not a bare spark.read) so the warmup also
      // populates the relation cache for the timed sf dir
      try graft.ops.Tables.table(spark, sfDir, t).write.format("noop")
        .mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    try graft.ops.Tables.events(spark, sfDir).write.format("noop")
      .mode("overwrite").save()
    catch { case _: Throwable => () }

    // Median-of-5 (decided r17, BASELINE.md §passes): the gate statistic
    // is the per-query MEDIAN, and a median-of-3 window lets an in-run
    // load spike through whenever it lands on 2 of the 3 interleaved
    // sweeps (BENCH_r16's q_graph_linkpred 11.03 s median vs a 1.75 s
    // floor). Median-of-5 needs 3 polluted sweeps to lie; the same-box
    // A/B measured 112.4–114.6 s sum-of-medians vs 125.6 at 3 passes
    // (more clean passes per query) for +1.3 min wall once the sf0.001
    // warmup sweep is traded in (below). SPARK_GRAFT_PASSES remains the
    // dev A/B override.
    val Passes = sys.env.get("SPARK_GRAFT_PASSES").map(_.toInt).getOrElse(5)

    // per-query warmup at the SMALLEST scale factor (untimed): a single-shot
    // run otherwise charges each query its own whole-stage-codegen compile +
    // kernel classloading (measured 2-4x the steady-state time on the
    // heavier queries) — warm at sf0.001 so the timed sf run measures the
    // engine, not the JIT. Falls back to the bench dir if no sibling exists.
    // SKIPPED at Passes >= 5 (measured ~80 s of wall at sf0.1): with five
    // timed passes the first pass absorbs the compile costs while the
    // median discards it (4 clean passes remain; the MIN is untouched
    // either way) — trading the sweep in part-funds the extra passes
    // (BASELINE.md §passes A/B).
    val warmDir = {
      val w = new java.io.File(sfDir).getParentFile
      val cand = new java.io.File(w, "sf0.001")
      if (cand.isDirectory) cand.getAbsolutePath else sfDir
    }
    if (Passes < 5)
      ordered.foreach { case (name, fn) =>
        try {
          fn(spark, warmDir).write.format("noop").mode("overwrite").save()
          sweepBlocks()
        } catch { case e: Throwable =>
          System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
        }
      }
    // Passes are INTERLEAVED round-robin (3 full sweeps over the query
    // list), not back-to-back per query: a transient load window on the
    // driver box then inflates ONE pass of many queries — which the
    // median discards — instead of ALL passes of the few queries that
    // were running, which it cannot. (Measured failure mode this round:
    // a mid-run load spike inflated an alphabetically contiguous band
    // q_sa*–q_st* in every pass, 122.7 → 152.8 s total with no code
    // change.) Per-query caches (codegen, file footers) stay warm across
    // rounds, so steady-state per-pass times match the back-to-back
    // design at idle.
    // name -> pass times (empty marks a failed query)
    val raw = scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    ordered.foreach { case (name, _) => raw(name) = Nil }
    val failed = scala.collection.mutable.Set[String]()
    (1 to Passes).foreach { _ =>
      ordered.foreach { case (name, fn) =>
        if (!failed(name)) {
          try {
            val t = timeIt(
              fn(spark, sfDir).write.format("noop").mode("overwrite").save())
            raw(name) = t :: raw(name)
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              failed += name
          }
          sweepBlocks()
        }
      }
    }
    val results = scala.collection.mutable.LinkedHashMap[String, Array[Double]]()
    raw.foreach { case (name, ts) =>
      results(name) =
        if (failed(name)) Array.empty[Double] else ts.toArray.sorted
    }

    // conversion throughput: the reference's own workload (each pass gets
    // its own output dir so every run does the full write)
    if (only.isEmpty)
    results("cdc_convert") = try {
      val tmp = java.nio.file.Files.createTempDirectory("graft-bench-cdc")
      try {
        val in = tmp.resolve("landing/avro/bench/part-0.avro").toString
        BenchData.writeCdcAvro(in, rows = 200000)
        var pass = 0
        passesOf(Passes) {
          pass += 1
          graft.convert.AvroToParquetJob.runOnce(
            spark, s"$tmp/landing/avro/*/*.avro", tmp.resolve(s"out$pass").toString)
          ()
        }
      } finally deleteRecursively(tmp)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] cdc_convert failed: ${e.getMessage}")
        Array.empty[Double]
    }

    // at-size conversion probe over a 10× file (2M rows), NOT in the
    // suite totals — records the sustained rate plus the SPLIT FAN-OUT,
    // the evidence that a single multi-hundred-MB container converts in
    // parallel (sync-marker splits, AvroCdcReader.planSplits) rather than
    // serially per file. maxPartitionBytes is pinned to 8m around the
    // probe so the fan-out regime matches a 100 TB layout where
    // containers exceed the split size. Min-of-3 like cdc_convert: the
    // r12 single-pass reading swung 3× on driver load (45,671 recorded
    // vs 137,241 idle, same tree) and read as a scaling cliff that
    // wasn't there.
    val (cdcRate10x, cdcSplits10x) = if (only.nonEmpty) (-1L, -1L) else try {
      val tmp = java.nio.file.Files.createTempDirectory("graft-bench-cdc10x")
      val in = tmp.resolve("landing/avro/bench10x/part-0.avro").toString
      BenchData.writeCdcAvro(in, rows = 2000000)
      val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
      try {
        spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
        val splits = graft.avro.AvroCdcReader.planSplits(spark, Seq(in),
          spark.sparkContext.hadoopConfiguration).size
        var pass = 0
        val ts = passesOf(Passes) {
          pass += 1
          graft.convert.AvroToParquetJob.runOnce(spark,
            s"$tmp/landing/avro/*/*.avro", tmp.resolve(s"out$pass").toString)
          ()
        }
        ((2000000.0 / ts.head).round, splits.toLong)
      } finally {
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
        deleteRecursively(tmp)
      }
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] cdc_convert_10x failed: ${e.getMessage}")
        (-1L, -1L)
    }

    // 100× stretch probe (env-gated, single pass, NOT in gated totals):
    // a ~20M-row / ~1.4 GB single container — real container sizes, so
    // the split fan-out story is pinned where it matters. Run with
    // SPARK_GRAFT_CDC_100X=1; prints its own JSON line which the driver
    // ignores (the machine line stays count-independent).
    if (only.isEmpty && sys.env.contains("SPARK_GRAFT_CDC_100X")) {
      try {
        val tmp = java.nio.file.Files.createTempDirectory("graft-bench-cdc100x")
        try {
        val in = tmp.resolve("landing/avro/bench100x/part-0.avro").toString
        val tw = timeIt(BenchData.writeCdcAvro(in, rows = 20000000))
        val bytes = new java.io.File(in).length()
        val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
        try {
          // 16m kept for cross-round artifact comparability (r13 recorded
          // 56 splits at 16m). The memory reason for the pin is GONE: the
          // round-14 lazy split reader holds one block + one record per
          // task, and the round-14 sweep of this container measured flat
          // peak heap across 16m/32m/64m (5.7-7.6 GB; the strict reader
          // OOM'd a 16g heap at 32m); SPARK_GRAFT_CDC_100X=1 re-runs 16m.
          spark.conf.set("spark.sql.files.maxPartitionBytes", "16m")
          val splits = graft.avro.AvroCdcReader.planSplits(spark, Seq(in),
            spark.sparkContext.hadoopConfiguration).size
          val t = timeIt {
            graft.convert.AvroToParquetJob.runOnce(spark,
              s"$tmp/landing/avro/*/*.avro", tmp.resolve("out").toString)
            ()
          }
          def f2(v: Double): String =
            String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
          println(s"""{"metric":"cdc_100x","rows":20000000,"bytes":$bytes,"gen_s":${f2(tw)},"convert_s":${f2(t)},"rows_s":${(20000000.0 / t).round},"splits":$splits,"cpu_probe_s":${String.format(java.util.Locale.ROOT, "%.3f", Double.box(cpuProbeStart))}}""")
        } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
        } finally deleteRecursively(tmp)
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] cdc_100x failed: ${e.getMessage}")
      }
    }

    def median(ts: Array[Double]): Double = if (ts.isEmpty) -1.0 else ts(ts.length / 2)
    val total = results.values.filter(_.nonEmpty).map(median).sum
    // Noise-robust companion statistic: the sum of per-query MINIMUM pass
    // times. Concurrent driver-box load inflates medians near-uniformly
    // but rarely hits all passes of a query, so total ≫ total_min marks a
    // polluted run as decidable from BENCH_r{N}.json alone (the r9
    // verdict needed two manual re-benches to prove 142 s was load, not a
    // regression).
    val totalMin = results.values.filter(_.nonEmpty).map(_.head).sum

    // Locale.ROOT everywhere a number is printed: the f-interpolator uses
    // the JVM default locale, and a comma-decimal locale would break the
    // driver's json.loads on the machine-read line.
    def fmt(v: Double, prec: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${prec}f", Double.box(v))

    // Full-precision detail line first: it scrolls out of the driver's
    // ~2000-char tail window but stays in the full log for humans. Each
    // query reports [min, median, max] of its passes so VM-load noise is
    // decidable from the artifact alone (a delta whose min matches the
    // prior round's median is noise, not a regression).
    val detail = results.map { case (k, ts) =>
      val cells =
        if (ts.isEmpty) "[-1.000,-1.000,-1.000]"
        else s"[${fmt(ts.head, 3)},${fmt(median(ts), 3)},${fmt(ts.last, 3)}]"
      "\"" + k + "\":" + cells
    }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total_detail","value":${fmt(total, 3)},"unit":"sec","stat":"median_of_$Passes","queries":$detail,"sf":"$sfDir"}""")

    // Per-query medians for the machine line (r17 verdict #2): the final
    // `total` JSON used to emit `"queries":{}`, so the driver's PERF
    // per_query / regression / scaling blocks never populated. The full
    // 286-entry map cannot go back verbatim — the driver json-parses the
    // FINAL line out of a ~2000-char tail capture, and BENCH_r05 recorded
    // `"parsed": null` when a 98-entry map overflowed it — so the map
    // carries medians MOST-EXPENSIVE-FIRST up to a strict length budget
    // (~60-70 entries; full [min,median,max] triples for all queries stay
    // in the total_detail line above). The entries that matter for
    // regression/scaling attribution are exactly the expensive ones, and
    // this also supersedes the old top15_median line (same content,
    // parseable location), which competed for the same tail window.
    val queryCellBudget = 1400
    // Stops at the first cell that does not fit, so the map is strictly
    // the N most expensive queries (a later, shorter cell never skips in).
    val topCells = new StringBuilder
    results.toSeq.filter(_._2.nonEmpty)
      .sortBy { case (k, ts) => (-median(ts), k) }
      .iterator
      .map { case (k, ts) => "\"" + k + "\":" + fmt(median(ts), 2) }
      .takeWhile(cell => topCells.length + cell.length + 1 <= queryCellBudget)
      .foreach { cell =>
        if (topCells.nonEmpty) topCells.append(',')
        topCells.append(cell)
      }
    val topQueries = "{" + topCells.result() + "}"

    // The driver captures only the LAST ~2000 chars of output and
    // json-parses the final bare line; sbt appends its own "[success]
    // Total time…" (~75 chars) after us. The machine line is therefore
    // LENGTH-BOUNDED, not count-independent: ~330 chars of fixed fields
    // plus ≤1400 chars of per-query medians (`topQueries` above) is
    // ≤1.75 KB — the line always fits complete in the window with the
    // [success] suffix, whatever the query count. The canary line
    // printed just above keeps its tail end visible in the capture;
    // its full content (and every query's [min,median,max]) stays in
    // the complete log / total_detail line.
    val sfTag = new java.io.File(sfDir).getName
    val nOk = results.values.count(_.nonEmpty)
    val cpuProbeS = math.min(cpuProbeStart, cpuProbe(3))
    val memProbeS = math.min(memProbeStart, memProbe(3))
    // conversion throughput (rows/s over the 200k-row generated file) —
    // the reference's own workload, stated as a rate so the artifact
    // carries the "matches-or-beats single-node throughput" evidence
    // without cross-referencing the detail line
    val cdcRate = results.get("cdc_convert").filter(_.nonEmpty)
      .map(ts => (200000.0 / median(ts)).round).getOrElse(-1L)
    // Regression canary (round-15): per-query min vs the committed
    // baseline mins, cpu_probe-normalized (BenchCanary). Trips are
    // printed as their own JSON line + stderr warnings — loud, but the
    // machine line still goes out so the round artifact exists either
    // way. Skipped (with a reason) when the baseline file is absent or
    // was recorded at a different scale factor.
    if (only.isEmpty) {
      val canaryPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE",
        "BENCH_BASELINE_QUERIES.json")
      val f = new java.io.File(canaryPath)
      val canaryLine =
        if (!f.isFile)
          s"""{"metric":"canary","status":"skipped","reason":"no baseline at $canaryPath"}"""
        else {
          val src = scala.io.Source.fromFile(f, "UTF-8")
          val txt = try src.mkString finally src.close()
          BenchCanary.parse(txt) match {
            case None =>
              s"""{"metric":"canary","status":"skipped","reason":"unparseable baseline"}"""
            case Some(base) if base.sf != sfTag =>
              s"""{"metric":"canary","status":"skipped","reason":"baseline sf ${base.sf} != run sf $sfTag"}"""
            case Some(base) =>
              val runMins = results.collect {
                case (k, ts) if ts.nonEmpty => k -> ts.head
              }.toMap
              val res = BenchCanary.regressions(base, runMins, cpuProbeS,
                Some(memProbeS))
              res.regs.foreach { case (n, b, norm) =>
                System.err.println(f"[bench] CANARY REGRESSION $n: " +
                  f"min ${norm}%.3f s (normalized) vs committed ${b}%.3f s")
              }
              val regJson = res.regs.map { case (n, b, norm) =>
                "\"" + n + "\":[" + fmt(b, 3) + "," + fmt(norm, 3) + "]"
              }.mkString("{", ",", "}")
              val baseMem = base.memProbeS
                .map(m => s""""base_mem_probe_s":${fmt(m, 4)},""").getOrElse("")
              // box_shifted flags a large residual correction: zero trips
              // is then conditional on the median shift being BOX-caused —
              // corroborate via cdc_rows_s_10x / a same-box worktree A/B
              // before trusting it, since a code change slowing >half the
              // suite produces the same signature (BASELINE.md §shift)
              val shifted =
                if (res.boxShift > 1.25) s""","box_shifted":true""" else ""
              s"""{"metric":"canary","status":"${if (res.regs.isEmpty) "ok" else "REGRESSED"}","base_cpu_probe_s":${fmt(base.cpuProbeS, 3)},"run_cpu_probe_s":${fmt(cpuProbeS, 3)},$baseMem"run_mem_probe_s":${fmt(memProbeS, 4)},"box_shift":${fmt(res.boxShift, 3)}$shifted,"compared":${res.compared},"regressions":$regJson}"""
          }
        }
      println(canaryLine)
    }

    val out =
      s"""{"metric":"total","value":${fmt(total, 2)},"total_min":${fmt(totalMin, 2)},"unit":"sec","stat":"median_of_$Passes","queries":$topQueries,"queries_ok":$nOk,"queries_total":${results.size},"cdc_rows_s":$cdcRate,"cdc_rows_s_10x":$cdcRate10x,"cdc_rows_s_10x_stat":"min_of_$Passes","cdc_splits_10x":$cdcSplits10x,"cpu_probe_s":${fmt(cpuProbeS, 3)},"mem_probe_s":${fmt(memProbeS, 4)},"sf":"$sfTag"}"""

    spark.sparkContext.setLogLevel("ERROR") // quiet stop(): nothing may print after the JSON line
    spark.stop()
    println(out)
  }
}

/** Deterministic CDC Avro generator for the conversion benchmark. */
object BenchData {
  def writeCdcAvro(path: String, rows: Int): Unit = {
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

    val schemaJson =
      """{"type":"record","name":"cdc_event","fields":[
        {"name":"uuid","type":"string"},
        {"name":"read_timestamp","type":{"type":"long","logicalType":"timestamp-millis"}},
        {"name":"source_metadata","type":{"type":"record","name":"sm","fields":[
          {"name":"schema","type":"string"},{"name":"table","type":"string"},
          {"name":"is_deleted","type":"boolean"},{"name":"change_type","type":"string"},
          {"name":"tx_id","type":["null","long"]},{"name":"lsn","type":["null","string"]},
          {"name":"primary_keys","type":{"type":"array","items":"string"}}]}},
        {"name":"payload","type":["null",{"type":"record","name":"p","fields":[
          {"name":"id","type":"long"},
          {"name":"name","type":["null","string"]},
          {"name":"qty","type":["null","int"]},
          {"name":"price","type":["null",{"type":"bytes","logicalType":"decimal","precision":38,"scale":30}]},
          {"name":"created_at","type":["null",{"type":"long","logicalType":"timestamp-micros"}]}]}]}
      ]}"""
    val schema = new Schema.Parser().parse(schemaJson)
    val smSchema = schema.getField("source_metadata").schema()
    val pSchema = schema.getField("payload").schema().getTypes.get(1)

    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.setCodec(org.apache.avro.file.CodecFactory.snappyCodec())
    w.create(schema, f)
    val rnd = new scala.util.Random(42)
    var i = 0
    while (i < rows) {
      val sm = new GenericData.Record(smSchema)
      sm.put("schema", "public"); sm.put("table", "bench")
      sm.put("is_deleted", Boolean.box(i % 10 == 0))
      sm.put("change_type", if (i % 3 == 0) "INSERT" else "UPDATE")
      sm.put("tx_id", Long.box(i.toLong)); sm.put("lsn", s"0/${i.toHexString}")
      sm.put("primary_keys", java.util.Arrays.asList("id"))
      val p = new GenericData.Record(pSchema)
      p.put("id", Long.box(i.toLong))
      p.put("name", s"name-${rnd.nextInt(100000)}")
      p.put("qty", Int.box(rnd.nextInt(100)))
      val unscaled = java.math.BigInteger.valueOf(rnd.nextLong() % 1000000000L)
        .multiply(java.math.BigInteger.TEN.pow(21))
      p.put("price", java.nio.ByteBuffer.wrap(unscaled.toByteArray))
      p.put("created_at", Long.box(1704067200000000L + i * 1000L))
      val rec = new GenericData.Record(schema)
      rec.put("uuid", s"u$i"); rec.put("read_timestamp", Long.box(1704067200000L + i))
      rec.put("source_metadata", sm); rec.put("payload", p)
      w.append(rec)
      i += 1
    }
    w.close()
  }
}
