package graft

/** [[Bench]]'s 100× probe × [[FaultSmoke]] (round 16): the 20M-row / ~936 MB
  * single-container conversion probe run under `local-cluster` (real
  * executor JVMs with a FIXED memory cap) with an executor `kill -9`
  * injected mid-conversion — proving the exactly-once committer result
  * at the probe's memory envelope, not just at FaultSmoke's 1.2M rows.
  *
  * The kill triggers from a SparkListener once the conversion stage has
  * genuinely started tasks (the FaultSmoke leg-3 discipline — never a
  * wall-clock sleep), the kill instant is recorded, and an attempt is
  * only DECISIVE when the kill landed BEFORE the conversion returned —
  * a late kill (fast box, or the pgrep racing the last splits) retries
  * once at 2× rows and a second late kill FAILS the probe rather than
  * passing vacuously. PASS = decisive kill + the surviving/relaunched
  * executor re-runs the lost splits from the source bytes, the v1
  * committer discards the dead attempt's files, and the output is
  * EXACTLY `rows` rows with `rows` distinct payload ids.
  *
  * Memory envelope evidence: the executor JVMs are capped at 4 GiB each
  * (`local-cluster[2,6,4096]`, 12 task slots), so completion alone bounds
  * per-executor heap; executor JVM heap peaks are additionally sampled
  * from heartbeat ExecutorMetrics updates, and the driver's own heap-pool
  * peak is read from MemoryPoolMXBeans.
  *
  * Run: `SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13
  *   sbt "runMain graft.Probe100xFault"`; expect `[100xfault] RESULT ok`.
  * Args: `[rows]` (default 20M).
  */
object Probe100xFault {

  def main(args: Array[String]): Unit = {
    val rows0 = args.headOption.map(_.toInt).getOrElse(20000000)
    val tmp = java.nio.file.Files.createTempDirectory("graft-100xfault")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local-cluster[2,6,4096]")
      .appName("graft-100x-fault")
      .config("spark.executor.extraClassPath",
        new java.io.File("target/scala-2.13/classes").getAbsolutePath)
      .config("spark.sql.shuffle.partitions", "12")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the kill is permanent block loss for in-flight attempts; retries
      // must re-read source bytes, not cycle against a gone executor
      .config("spark.task.maxFailures", "4")
      // probe regime: containers far exceed the split size (Bench's 100×
      // block pins 16m for artifact comparability — same here)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def timeIt(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    import scala.jdk.CollectionConverters._
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    var ok = true
    try {
      def awaitExecutors(n: Int): Unit = {
        val deadline = System.nanoTime() + 90L * 1000000000L
        while (spark.sparkContext.statusTracker.getExecutorInfos.length - 1 < n
          && System.nanoTime() < deadline) Thread.sleep(500)
      }
      awaitExecutors(2)

      // (decisive, passed) — the FaultSmoke.converterLeg contract: a
      // kill that lands after the conversion returned proves nothing and
      // must not read as a pass
      def attempt(rows: Int, n: Int): (Boolean, Boolean) = {
        val in = tmp.resolve(s"landing$n/avro/orders/part-0.avro").toString
        val out = tmp.resolve(s"out$n").toString
        val genS = timeIt(BenchData.writeCdcAvro(in, rows))
        val bytes = new java.io.File(in).length()
        val splits = graft.avro.AvroCdcReader.planSplits(spark, Seq(in),
          spark.sparkContext.hadoopConfiguration).size
        println(f"[100xfault] attempt $n: rows=$rows bytes=$bytes " +
          f"splits=$splits gen_s=$genS%.1f")

        @volatile var killedAt = 0L
        @volatile var killerFailed: Option[String] = None
        val killer = new Thread(() => {
          try {
            FaultSmoke.killOne(spark.sparkContext.applicationId) match {
              case None => killerFailed = Some("no executor pid matched")
              case Some(pid) =>
                killedAt = System.nanoTime()
                println(s"[100xfault] killed executor pid=$pid")
            }
          } catch { case e: Throwable =>
            killerFailed = Some(e.toString.take(160))
          }
        })
        val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
        val started = new java.util.concurrent.atomic.AtomicInteger(0)
        @volatile var peakExecHeapMb = -1L
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onTaskStart(
              ts: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
            // fire well inside the split stage: ~56 splits at 16m, so the
            // 12th start leaves dozens of in-flight/pending split reads
            // to reschedule across the kill
            if (started.incrementAndGet() == 12 &&
              fired.compareAndSet(false, true)) killer.start()
          override def onExecutorMetricsUpdate(
              u: org.apache.spark.scheduler
                .SparkListenerExecutorMetricsUpdate): Unit =
            u.executorUpdates.values.foreach { m =>
              val hb = m.getMetricValue("JVMHeapMemory") >> 20
              if (hb > peakExecHeapMb) peakExecHeapMb = hb
            }
        }
        spark.sparkContext.addSparkListener(listener)
        var report: graft.convert.AvroToParquetJob.ConvertReport = null
        val convS = try timeIt {
          report = graft.convert.AvroToParquetJob.runOnce(spark,
            s"$tmp/landing$n/avro/*/*.avro", out)
          ()
        } finally spark.sparkContext.removeSparkListener(listener)
        val convDoneAt = System.nanoTime()
        // claim the flag: a late-delivered listener event must not start
        // the killer during the read-back (FaultSmoke's CAS discipline)
        if (fired.compareAndSet(false, true)) {
          println(s"[100xfault] kill never triggered " +
            s"(only ${started.get()} tasks started) — not decisive")
          return (false, true)
        }
        killer.join()
        killerFailed.foreach { why =>
          println(s"[100xfault] FAILED: kill not injected ($why)")
          return (true, false)
        }
        if (killedAt >= convDoneAt) {
          println("[100xfault] kill landed after the conversion " +
            "completed — not decisive")
          return (false, true)
        }
        awaitExecutors(2)
        val outDf = spark.read.parquet(s"$out/orders")
        val nOut = outDf.count()
        val nIds = outDf.select("id").distinct().count()
        val driverPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum >> 20
        println(f"[100xfault] convert_s=$convS%.1f " +
          f"rows_s=${(rows / convS).round} rows=$nOut distinct_ids=$nIds " +
          f"driver_peak_heap_mb=$driverPeakMb " +
          f"executor_peak_heap_mb=$peakExecHeapMb executor_cap_mb=4096")
        // the converter's own report must agree with the read-back: a
        // conversion that internally recorded a failed or extra table
        // must not pass on row counts alone (FaultSmoke.converterLeg's
        // criteria, applied here per ADVICE r16)
        if (report.failed.nonEmpty || report.converted.size != 1) {
          println(s"[100xfault] FAILED: report failed=${report.failed} " +
            s"converted=${report.converted.size} (want 0 failed, 1 table)")
          (true, false)
        } else if (nOut != rows || nIds != rows) {
          println(s"[100xfault] FAILED: want $rows rows/$rows distinct ids")
          (true, false)
        } else (true, true)
      }

      val (decisive, passed) = attempt(rows0, 1)
      if (!passed) ok = false
      else if (!decisive) {
        awaitExecutors(2)
        // one retry with a 2× fault window; a second late kill is a
        // FAILURE — the probe must not pass without the fault firing
        val (d2, p2) = attempt(rows0 * 2, 2)
        if (!p2) ok = false
        else if (!d2) {
          println("[100xfault] FAILED: kill landed late twice — " +
            "fault never exercised")
          ok = false
        }
      }
    } finally spark.stop()
    println(if (ok) "[100xfault] RESULT ok" else "[100xfault] RESULT FAILED")
    if (!ok) sys.exit(1)
  }
}
