package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft.avro.{AvroCdcReader, AvroSchemaConverter, AvroValueConverter, ConvertMode}
import graft.convert.{AvroToParquetJob, BenchAccess, FileLedger}
import graft.convert.AvroToParquetJob.ConvertReport

/** The traced run: per-layer numbers from spans the benchmark opens around
  * calls into each module's public (or `private[graft]`) functions. The
  * program is not instrumented; where a layer sits inside `runOnce`, the
  * benchmark replays `runOnce`'s steps itself ([[tracedRunOnce]]),
  * alternating with untraced calls of the real `runOnce`, and the replay
  * is held to them (`trace.overhead_share`, `convert.layer_gap`,
  * `convert.poll_layer_gap`).
  *
  * Every traced run covers all layers (a short backfill, trickle and query
  * phase plus isolated Avro layers over the backfill input), so each
  * workload reports the same metric set; the Spark and JVM counters
  * (`spark.*`, `jvm.*`) and `setup.*` belong to the named workload.
  */
final class TraceRun(ctx: Ctx, workload: String, hashes: Map[String, String],
                     tables: File, dir: Option[File]) {
  import ctx.spark

  /** Untraced and traced backfill ops, interleaved. */
  private val Pairs = 2
  /** Files per batch in the trickle phase's replay check: a typical busy
    * poll's backlog at the offered rate. */
  private val PairBatch = 16
  private val tr = new Tracer
  private val counters = new SparkCounters
  private val out = mutable.LinkedHashMap.empty[String, Metric]
  private var attempted = 0
  private var failed = 0

  private def put(name: String, v: Double, unit: String): Unit = out(name) = Metric(name, v, unit)
  private def med(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
  /** How far the replay's layer spans are from the untraced `runOnce` it
    * stands for, as a share of the latter (0 when they account for it). */
  private def gap(layers: Double, untraced: Double): Double = {
    System.err.println(f"[perfbench] trace: layer spans / untraced runOnce = ${layers / untraced}%.3f")
    math.abs(layers / untraced - 1.0)
  }
  /** Seconds of the layer spans directly under the last `run_once` span. */
  private def lastLayers(): Double =
    tr.spans.reverseIterator.find(_.name == "run_once")
      .map(op => tr.children(op.id).map(_.seconds).sum).getOrElse(0.0)
  private def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime(); val r = body; (Stats.secondsSince(t0), r)
  }
  /** Runs `body` in a span named `name`; returns the span's seconds. */
  private def spanS(name: String)(body: => Any): Double = {
    tr.span(name)(body); tr.durations(name).last
  }

  // ---- runOnce, replayed step by step (AvroToParquetJob.runOnce, Standard mode)

  private def writeParquet(df: DataFrame, prefix: String, folder: String): Unit =
    df.withColumn("ingestion_date", lit(PerfBench.Date))
      .drop(AvroCdcReader.InputPathCol)
      .write.mode("append").partitionBy("ingestion_date")
      .option("compression", "snappy").parquet(s"$prefix/$folder")

  def tracedRunOnce(glob: String, prefix: String, ledgerDir: String): ConvertReport =
    tr.span("run_once") {
      val ledger = new FileLedger(ledgerDir, spark.sparkContext.hadoopConfiguration)
      val all = tr.span("discover")(AvroToParquetJob.discover(spark, glob))
      val paths = tr.span("ledger_filter")(ledger.filterUnseen(all))
      if (paths.isEmpty) ConvertReport(0, Nil, Nil, Nil)
      else {
        val (schemas, unreadable) =
          tr.span("fingerprint")(AvroCdcReader.schemaFingerprints(spark, paths))
        val converted, bad = ArrayBuffer.empty[String]
        bad ++= unreadable.map(_._1)
        schemas.groupBy(_.fingerprint).values.foreach { group =>
          val flat = tr.span("derive_schema")(
            AvroSchemaConverter.deriveFlatSchema(group.head.schemaJson))
          group.groupBy(s => AvroToParquetJob.folderOf(s.path)).foreach { case (folder, sub) =>
            val ps = sub.map(_.path)
            tr.span(s"write.$folder") {
              val acc = spark.sparkContext.collectionAccumulator[String]("graft.failedFiles")
              try {
                writeParquet(AvroCdcReader.readGroup(spark, ps, flat, ConvertMode.Standard, acc),
                  prefix, folder)
                val b = acc.value.asScala.map(_.split('\t').head).toSet
                bad ++= b; converted ++= ps.filterNot(b.contains)
              } catch {
                case e: Throwable if BenchAccess.hasConversionCause(e) =>
                  val st = tr.span("probe")(
                    AvroCdcReader.probe(spark, ps, flat, ConvertMode.Standard))
                  val ok = st.collect { case AvroCdcReader.FileOk(p) => p }
                  val acc2 = spark.sparkContext.collectionAccumulator[String]("graft.failedFiles")
                  tr.span("rewrite") {
                    if (ok.nonEmpty) writeParquet(AvroCdcReader.readGroup(
                      spark, ok, flat, ConvertMode.Standard, acc2), prefix, folder)
                  }
                  val b2 = acc2.value.asScala.map(_.split('\t').head).toSet
                  bad ++= st.filterNot(_.isInstanceOf[AvroCdcReader.FileOk]).map(_.path) ++ b2
                  converted ++= ok.filterNot(b2.contains)
              }
            }
          }
        }
        tr.span("ledger_add")(ledger.add(paths))
        ConvertReport(paths.size, converted.toSeq, Nil, bad.toSeq)
      }
    }

  // ---- phases

  private def ownPhase[T](name: String)(body: => T): T =
    if (name != workload) body
    else {
      counters.resetSkew(spark.sparkContext)
      val s0 = counters.snapshot(spark.sparkContext)
      val (gcS0, gcN0) = Jvm.gc()
      val r = body
      val s1 = counters.snapshot(spark.sparkContext)
      val (gcS1, gcN1) = Jvm.gc()
      put("spark.jobs", s1.jobs - s0.jobs, "count")
      put("spark.stages", s1.stages - s0.stages, "count")
      put("spark.tasks", s1.tasks - s0.tasks, "count")
      put("spark.single_task_stages", s1.singleTaskStages - s0.singleTaskStages, "count")
      put("spark.task_skew", s1.worstSkew, "ratio")
      put("spark.shuffle_bytes", s1.shuffleBytes - s0.shuffleBytes, "bytes")
      put("spark.spill_bytes", s1.spillBytes - s0.spillBytes, "bytes")
      put("spark.task_time_s", (s1.taskTimeNs - s0.taskTimeNs) / 1e9, "s")
      put("jvm.gc_s", gcS1 - gcS0, "s")
      put("jvm.gc_count", gcN1 - gcN0, "count")
      r
    }

  private def backfillPhase(bf: Backfill): Unit = {
    val plain, traced, layers = ArrayBuffer.empty[Double]
    var rep: ConvertReport = null
    var jobs, jobsFailed = 0L
    val spans0 = tr.spans.size
    // untraced runOnce and its traced replay, alternating which goes first
    (0 until Pairs).foreach { i =>
      val o = bf.outDir(10 + i)
      def untraced(): Unit = {
        val s0 = counters.snapshot(spark.sparkContext)
        val (s, r) = bf.op(o)
        val s1 = counters.snapshot(spark.sparkContext)
        plain += s; rep = r
        jobs += s1.jobs - s0.jobs; jobsFailed += s1.jobsFailed - s0.jobsFailed
        attempted += 1
        if (!bf.check(r, o)) failed += 1
      }
      val t = new File(ctx.work, s"out/backfill-traced-$i")
      def replay(): Unit = {
        Checks.deleteTree(t)
        val (ts, trep) = timed(tracedRunOnce(bf.glob, t.getPath, s"${t.getPath}/_graft_ledger"))
        traced += ts
        layers += lastLayers()
        attempted += 1
        if (!bf.check(trep, t)) failed += 1
      }
      if (i % 2 == 0) { untraced(); replay() } else { replay(); untraced() }
      if (i == Pairs - 1) {
        put("parquet.bytes_out", Checks.fileBytes(t, ".parquet"), "bytes")
        put("parquet.files_out", Checks.countFiles(t, ".parquet"), "count")
      }
      Checks.deleteTree(o); Checks.deleteTree(t)
    }
    val runOnce = med(plain)
    put("convert.run_once_s", runOnce, "s")
    put("convert.layer_gap", gap(med(layers), runOnce), "ratio")
    put("trace.overhead_share", med(traced) / runOnce - 1.0, "ratio")
    put("convert.spark_jobs", jobs.toDouble / Pairs, "count")
    put("convert.spark_jobs_failed", jobsFailed.toDouble / Pairs, "count")
    put("convert.job_ok_ratio", (jobs - jobsFailed).toDouble / math.max(1L, jobs), "ratio")
    put("convert.files_converted", rep.converted.size, "count")
    put("convert.files_failed", rep.failed.size, "count")
    // readGroup into the noop sink, per (schema, folder) group, vs. the
    // same groups' Parquet writes in the traced ops: the clean folders
    // only, as the defects folder's groups write only part of their files
    val groups = cleanGroups(bf).filter(g => Backlog.Folders.contains(g._1))
    val noop = med((0 until Pairs).map { _ =>
      groups.map { case (_, ps, flat) =>
        val acc = spark.sparkContext.collectionAccumulator[String]("noop")
        tr.span("read_noop")(AvroCdcReader.readGroup(spark, ps, flat, ConvertMode.Standard, acc)
          .write.format("noop").mode("overwrite").save())
      }
      tr.durations("read_noop").takeRight(groups.size).sum
    })
    put("avro.read_noop_s", noop, "s")
    val writeSpans = Backlog.Folders.map(f => s"write.$f").toSet
    val writes = tr.spans.drop(spans0).filter(s => writeSpans(s.name)).map(_.seconds).sum / Pairs
    put("parquet.write_s", writes - noop, "s")
    put("avro.probe_s", med(tr.durations("probe")), "s")
  }

  /** The backfill input's clean files by (writer schema, folder), with
    * their flat schema: runOnce's write groups. */
  private def cleanGroups(bf: Backfill): Seq[(String, Seq[String], AvroSchemaConverter.FlatSchema)] = {
    val paths = bf.layout.clean.map(f => new File(bf.zone, f.relPath).toURI.toString)
    val (schemas, _) = AvroCdcReader.schemaFingerprints(spark, paths)
    schemas.groupBy(s => (s.fingerprint, AvroToParquetJob.folderOf(s.path))).toSeq
      .sortBy(_._1.toString()).map { case ((_, folder), g) =>
        (folder, g.map(_.path), AvroSchemaConverter.deriveFlatSchema(g.head.schemaJson))
      }
  }

  private def avroPhase(bf: Backfill): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val all = AvroToParquetJob.discover(spark, bf.glob)
    put("avro.fingerprint_s", med((0 until 3).map(_ =>
      spanS("fingerprint_only")(AvroCdcReader.schemaFingerprints(spark, all)))), "s")
    val groups = cleanGroups(bf)
    val jsons = AvroCdcReader.schemaFingerprints(spark, all)._1.map(_.schemaJson).distinct
    put("avro.derive_schema_s", med((0 until 50).map(_ =>
      spanS("derive_only")(jsons.foreach(AvroSchemaConverter.deriveFlatSchema(_: String))))), "s")
    val paths = groups.flatMap(_._2)
    put("avro.plan_splits_s", med((0 until 3).map(_ =>
      spanS("plan_splits")(AvroCdcReader.planSplits(spark, paths, conf)))), "s")
    val splits = AvroCdcReader.planSplits(spark, paths, conf)
    put("avro.splits", splits.size, "count")
    val flatOf = groups.flatMap { case (_, ps, flat) => ps.map(_ -> flat) }.toMap
    // Spark-free, single-threaded: structural walk, block decode, flatten
    put("avro.validate_s", spanS("validate")(
      splits.foreach(AvroCdcReader.validateRange(_, conf))), "s")
    var decoded = 0L
    put("avro.decode_s", spanS("decode")(splits.foreach { s =>
      val it = new AvroCdcReader.RangeRecordIterator(s, conf)
      try while (it.hasNext) { it.next(); decoded += 1 } finally it.close()
    }), "s")
    put("avro.flatten_s", splits.map { s =>
      val recs = AvroCdcReader.readRange(s, conf)
      val flat = flatOf(s.path)
      spanS("flatten")(recs.foreach(AvroValueConverter.flatten(_, flat, ConvertMode.Standard)))
    }.sum, "s")
    if (decoded != bf.layout.cleanRows) {
      System.err.println(s"[perfbench] trace: decoded $decoded rows, expected the clean backlog")
      failed += 1
    }
    attempted += 1
  }

  /** Untraced polls (`Trickle.poll`, the real `runOnce`) and traced
    * replays alternate step by step. Poll cost, Spark jobs and files per
    * poll come from the untraced steps, the layer split from the replays;
    * the replays are then held to the real `runOnce` on batches of equal
    * size (`convert.poll_layer_gap`). */
  private def tricklePhase(tk: Trickle, warm: Boolean)(tally: tk.Tally): Unit = {
    val ledger = new FileLedger(tk.ledgerDir, spark.sparkContext.hadoopConfiguration)
    def replayPoll(): Poll = tr.span("poll") {
      val t0 = System.nanoTime()
      val rep = tracedRunOnce(tk.glob, tk.out.getPath, tk.ledgerDir)
      val at = System.nanoTime()
      tr.span("ledger_compact")(ledger.compact())
      Poll(rep, t0, at, System.nanoTime())
    }
    final case class Step(poll: Poll, traced: Boolean, jobs: Long, filesOut: Long)
    val steps = ArrayBuffer.empty[Step]
    def step(): Poll = {
      val traced = steps.size % 2 == 1
      val s0 = counters.snapshot(spark.sparkContext)
      val f0 = Checks.countFiles(tk.out, ".parquet")
      val p = if (!traced) tk.poll(ledger) else replayPoll()
      val jobs = counters.snapshot(spark.sparkContext).jobs - s0.jobs
      steps += Step(p, traced, jobs, Checks.countFiles(tk.out, ".parquet") - f0)
      p
    }
    if (warm) tk.warmUp(tally, step())
    steps.clear()
    val (lander, _) = tk.timed(tally, step())
    (0 until 6).foreach { _ => Thread.sleep(Trickle.PollIntervalMs); tally.record(step()) }
    val bad = tk.check(tally) + tally.failed
    attempted += tk.files.size; failed += math.min(bad, tk.files.size)

    val (traced, plain) = steps.partition(_.traced)
    val busy = plain.filter(_.poll.rep.discovered > 0)
    val tracedBusy = traced.filter(_.poll.rep.discovered > 0)
    put("convert.busy_poll_s", med(busy.map(_.poll.stepS)), "s")
    put("convert.idle_poll_s", med(plain.filter(_.poll.rep.discovered == 0).map(_.poll.stepS)), "s")
    def perPoll(span: String, n: Int) = med(tr.durations(span).takeRight(n))
    put("convert.discover_s", perPoll("discover", traced.size), "s")
    put("convert.ledger_filter_s", perPoll("ledger_filter", traced.size), "s")
    put("convert.ledger_add_s", perPoll("ledger_add", tracedBusy.size), "s")
    put("convert.ledger_compact_s", perPoll("ledger_compact", traced.size), "s")
    put("convert.spark_jobs_per_poll", med(busy.map(_.jobs.toDouble)), "count")
    put("convert.backlog_files", med(busy.map(_.poll.rep.discovered.toDouble)), "count")
    put("gen.late_s", lander.lateNs.max / 1e9, "s")
    put("parquet.files_out_per_poll", med(busy.map(_.filesOut.toDouble)), "count")

    // The replay against the real runOnce on equal input: batches of the
    // same size, each landed at once, polled untraced or replayed in the
    // order U R R U (timed-phase polls differ in backlog, so their medians
    // do not compare).
    val batches = (0 until 4).map(b => (0 until PairBatch).map(k =>
      tk.spec(tk.files.size + b * PairBatch + k)))
    CdcGen.writeAll(ctx.seed, batches.flatten.map(f => f -> new File(tk.staging, f.name)), ctx.cores)
    val pairPlain, pairLayers = ArrayBuffer.empty[Double]
    batches.zipWithIndex.foreach { case (b, i) =>
      b.foreach(f => tk.land(f))
      val replay = i == 1 || i == 2
      val p = if (replay) replayPoll() else tk.poll(ledger)
      if (replay) pairLayers += lastLayers() else pairPlain += p.runOnceS
      attempted += 1
      if (p.rep.converted.size != PairBatch || p.rep.failed.nonEmpty) failed += 1
    }
    put("convert.poll_layer_gap", gap(med(pairLayers), med(pairPlain)), "ratio")
  }

  private def queryPhase(q: Query): Unit = {
    val tasks = mutable.Map.empty[String, Long]
    var lakePlan = 0.0
    q.queries.foreach { query => try {
      val s0 = counters.snapshot(spark.sparkContext)
      val df = tr.span(s"${query.layer}.plan") {
        val d = query.build(); d.queryExecution.executedPlan; d
      }
      val rows = tr.span(s"${query.layer}.exec")(df.collect())
      val s1 = counters.snapshot(spark.sparkContext)
      tasks(query.name) = s1.tasks - s0.tasks
      attempted += 1
      if (!(try query.ok(rows) catch { case _: Exception => false })) {
        System.err.println(s"[perfbench] trace: query ${query.name} check failed"); failed += 1
      }
      val planS = tr.durations(s"${query.layer}.plan").last
      val execS = tr.durations(s"${query.layer}.exec").last
      if (query.layer.startsWith("sources.")) {
        lakePlan += planS
        put(s"${query.layer}_s", execS, "s")
      } else if (query.layer == "cdc.apply") put("cdc.apply_s", planS + execS, "s")
      else {
        put(s"${query.layer}.plan_s", planS, "s")
        put(s"${query.layer}.exec_s", execS, "s")
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] trace: query ${query.name} threw: $e"); failed += 1
    } }
    put("sources.plan_s", lakePlan, "s")
    put("sources.tasks_pruned_ratio",
      tasks("lake_scan_pruned").toDouble / math.max(1L, tasks("lake_scan_full")), "ratio")
  }

  def run(): Result = {
    spark.sparkContext.addSparkListener(counters)
    val traceCtx = ctx.copy(seconds = math.min(ctx.seconds, 4))
    val bf = new Backfill(ctx)
    val tk = new Trickle(traceCtx)
    val q = new Query(ctx, hashes, tables)
    // the named workload's own set-up, exactly as its untraced run does it
    val t0 = System.nanoTime()
    workload match {
      case "backfill" => bf.generate()
      case "trickle" => tk.generate()
      case "query" => q.generate()
    }
    PerfBench.setupPhase("generate", Stats.secondsSince(t0))
    val t1 = System.nanoTime()
    val tally = new tk.Tally
    workload match {
      case "backfill" => failed += bf.warmUp(); attempted += 2
      case "trickle" => tk.warmUp(tally, tk.poll(
        new FileLedger(tk.ledgerDir, spark.sparkContext.hadoopConfiguration)))
      case "query" => q.pass()
    }
    PerfBench.setupPhase("warmup", Stats.secondsSince(t1))
    put("setup.spark_start_s", PerfBench.setupPhaseSeconds("spark_start"), "s")
    put("setup.generate_s", PerfBench.setupPhaseSeconds("generate"), "s")
    put("setup.warmup_s", PerfBench.setupPhaseSeconds("warmup"), "s")

    if (workload != "backfill") { bf.generate(); bf.warmUp() }
    ownPhase("backfill")(backfillPhase(bf))
    if (workload != "trickle") tk.generate()
    ownPhase("trickle")(tricklePhase(tk, warm = workload != "trickle")(tally))
    if (workload != "query") { q.generate(); q.pass() }
    ownPhase("query")(queryPhase(q))
    avroPhase(bf)

    dir.foreach { d =>
      d.mkdirs()
      tr.writeJsonl(new File(d, "spans.jsonl"), s"$workload-${ctx.seed}")
      tr.writeSummary(new File(d, "layers.txt"))
    }
    Result(math.max(1, attempted), math.min(failed, math.max(1, attempted)), out.values.toSeq)
  }
}
