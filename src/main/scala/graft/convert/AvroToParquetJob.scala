package graft.convert

import java.time.{LocalDate, ZoneOffset}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.avro._
import graft.io.LocalFs

/** The engine's CDC conversion job: continuously (or once) convert CDC Avro
  * container files to flattened, typed, partitioned Snappy Parquet.
  *
  * Capability parity with the reference pipeline (main.py:601-613):
  *  - continuous glob discovery with seen-file dedup  → [[FileLedger]] +
  *    [[runContinuous]] (micro-batch loop, the Spark-idiomatic equivalent
  *    of `MatchContinuously` + processing-time windows; the reference's
  *    window never feeds an aggregation — it only paces work, main.py:611)
  *  - per-file schema derivation                      → schema-fingerprint
  *    grouping (each distinct writer schema → one typed DataFrame)
  *  - flatten + cast (source_metadata + payload.*)    → [[AvroValueConverter]]
  *  - all-string fallback on conversion failure       → ReferenceExact probe
  *    + fallback group (main.py:524-567)
  *  - partitioned sink `<prefix>/<folder>/ingestion_date=YYYY-MM-DD/`
  *    with Snappy compression — the folder as a PLAIN path segment,
  *    byte-identical to the reference's layout (main.py:570-577) — via one
  *    `partitionBy("ingestion_date")` write per (writer schema, folder);
  *    Spark's commit protocol adds task-level atomicity the reference lacks.
  *
  * Scale posture: the whole plan is narrow (no shuffle); per-file tasks
  * fan out across executors; parquet writing is Spark's vectorized path.
  * The per-(schema, folder) write jobs of one poll run concurrently — one
  * sequential chain per output folder, at most `defaultParallelism` chains
  * at once — so a poll of many small groups keeps every core busy instead
  * of waiting on each job's slowest task (the reference likewise converts
  * each file as independent parallel DoFn work, main.py:601-613).
  */
object AvroToParquetJob {

  final case class ConvertReport(
      discovered: Int,
      converted: Seq[String],
      fallback: Seq[String],
      failed: Seq[String],
      /** path → offending columns, for every fallback file (ReferenceExact
        * probe forensics — reference main.py:529-540).
        */
      columnFailures: Map[String, Seq[AvroCdcReader.ColumnFailure]] = Map.empty)

  private val FolderRegex = "/avro/([^/]+)/".r

  /** The partition folder of `path`: the segment after `/avro/`, else
    * `unknown` (reference main.py:570-571). Per-FILE metadata, known
    * before any task runs.
    */
  def folderOf(path: String): String =
    FolderRegex.findFirstMatchIn(path).map(_.group(1)).getOrElse("unknown")

  def discover(spark: SparkSession, inputPattern: String): Seq[String] =
    AvroCdcReader.listFiles(Seq(inputPattern), spark.sparkContext.hadoopConfiguration)

  /** `audit`: optional structured-log sink (the reference's runtime
    * schema/type audit surface, main.py:496-511): when set, each schema
    * group logs its canonical Avro schema, the derived flat schema, and a
    * line per decimal / unexpected-float field; fallback files log one
    * line per offending column. A function rather than a logger so tests
    * (and callers with their own log pipelines) capture lines directly;
    * pass `Some(log.info(_))` for plain logging. It is called only from the
    * calling thread, after every write of the poll has finished, group by
    * group (schema lines, then that group's fallback lines).
    *
    * A poll whose write fails still ledgers the files of every write unit
    * (one writer schema in one folder) that committed, and emits those
    * units' lines (their group's schema lines, then their fallback lines),
    * before it rethrows; the next poll converts and logs only the rest.
    */
  def runOnce(
      spark: SparkSession,
      inputPattern: String,
      outputPrefix: String,
      mode: ConvertMode = ConvertMode.Standard,
      ledgerDir: Option[String] = None,
      ingestionDate: Option[String] = None,
      audit: Option[String => Unit] = None,
      ledgerShards: Int = 1): ConvertReport = {

    val ledger = ledgerDir.map(d =>
      new FileLedger(d, spark.sparkContext.hadoopConfiguration, ledgerShards))
    val all = discover(spark, inputPattern)
    // one shard's seen-set in driver memory at a time (FileLedger.filterUnseen)
    val paths = ledger.map(_.filterUnseen(all)).getOrElse(all)
    convertPaths(spark, paths, outputPrefix, mode, ledger, ingestionDate, audit)
  }

  /** [[runOnce]] after discovery, and each [[runStreaming]] batch: convert
    * `paths`, which `ledger` has not seen, and ledger them as [[runOnce]]
    * describes.
    */
  private[convert] def convertPaths(spark: SparkSession, paths: Seq[String],
      outputPrefix: String, mode: ConvertMode, ledger: Option[FileLedger],
      ingestionDate: Option[String], audit: Option[String => Unit]): ConvertReport = {
    if (paths.isEmpty) return ConvertReport(0, Nil, Nil, Nil)

    val date = ingestionDate.getOrElse(LocalDate.now(ZoneOffset.UTC).toString)
    val (schemas, unreadable) = AvroCdcReader.schemaFingerprints(spark, paths)

    // Phase 1, on the driver: one write unit per (writer schema, folder).
    // The reference's layout is <prefix>/<folder>/ingestion_date=YYYY-MM-DD/
    // with the folder as a PLAIN path segment (main.py:574), not a Hive
    // `folder=` key. Folder is derived from the file path driver-side, so
    // splitting a schema group by folder costs no extra scan — each file is
    // still read once, in its own task, and the plan stays shuffle-free.
    // The schema audit lines are rendered here and emitted after the join.
    val groups = schemas.groupBy(_.fingerprint).values.toSeq.map { group =>
      val flat = AvroSchemaConverter.deriveFlatSchema(group.head.schemaJson)
      val lines = if (audit.isEmpty) Nil else schemaAuditLines(group.head, flat)
      val units = group.groupBy(s => folderOf(s.path)).toSeq.map {
        case (folder, sub) => WriteUnit(folder, flat, sub.map(_.path))
      }
      (lines, units)
    }
    val units = groups.flatMap(_._2)

    // Phase 2: the units' write jobs, concurrently across folders; a unit
    // whose write did not commit has no result
    val (done, failure) = perFolderConcurrently(spark, units)(
      convertUnit(spark, _, mode, outputPrefix, date))

    // audit sink calls stay on the calling thread (a caller's sink need not
    // be thread-safe): per schema group with a committed unit, its schema
    // lines, then each committed unit's fallback-column lines
    audit.foreach { log =>
      val byUnit = done.iterator
      groups.foreach { case (lines, groupUnits) =>
        val committed = groupUnits.flatMap(_ => byUnit.next())
        if (committed.nonEmpty) lines.foreach(log)
        committed.foreach(_.fallback.flatMap(columnFailureLines).foreach(log))
      }
    }

    // the ledger records every discovered path — including failed ones —
    // matching MatchContinuously's has_deduplication (a failed file is not
    // retried by the reference either; its DoFn failure is terminal). After
    // a failed write it records only the committed units' files: their
    // Parquet stands, so converting them again would duplicate their rows.
    failure match {
      case None => ledger.foreach(_.add(paths))
      case Some(e) =>
        ledger.foreach(_.add(units.zip(done).collect { case (u, Some(_)) => u.paths }.flatten))
        throw e
    }
    val results = done.flatten
    val fallbacks = results.flatMap(_.fallback)
    ConvertReport(paths.size,
      converted = results.flatMap(_.converted),
      fallback = fallbacks.map(_.path),
      failed = unreadable.map(_._1) ++ results.flatMap(_.failed),
      columnFailures = fallbacks.map(f => f.path -> f.columns).toMap)
  }

  /** One Spark write of [[runOnce]]: the files of one (writer schema,
    * folder) group, all landing under `<prefix>/<folder>`.
    */
  private final case class WriteUnit(
      folder: String, flat: AvroSchemaConverter.FlatSchema, paths: Seq[String])

  private final case class UnitResult(
      converted: Seq[String],
      fallback: Seq[AvroCdcReader.FileNeedsFallback],
      failed: Seq[String])

  /** Runtime schema/type audit (reference main.py:496-511): canonical
    * writer schema + derived flat schema once per schema GROUP (the
    * reference logs per file, but files in a group are byte-identical in
    * schema — example_file preserves the provenance pointer).
    */
  private def schemaAuditLines(
      head: AvroCdcReader.FileSchema,
      flat: AvroSchemaConverter.FlatSchema): Seq[String] = {
    val parsed = new org.apache.avro.Schema.Parser().parse(head.schemaJson)
    Seq(
      s"[AVRO-SCHEMA] example_file=${head.path} " +
        s"fingerprint=${head.fingerprint} " +
        s"schema=${org.apache.avro.SchemaNormalization.toParsingForm(parsed)}",
      s"[FLAT-SCHEMA] example_file=${head.path} " +
        s"fields=${flat.payloadFields.map(f => s"${f.name}:${f.tpe}").mkString(",")}"
    ) ++ flat.payloadFields.flatMap { f =>
      f.tpe match {
        case AvroSparkType.TDecimal =>
          Some(s"[DECIMAL-FIELD] field=${f.name} type=decimal(38,9)")
        case AvroSparkType.TDouble | AvroSparkType.TFloat =>
          Some(s"[FLOAT-FIELD] field=${f.name} (unexpected float)")
        case _ => None
      }
    }
  }

  private def columnFailureLines(f: AvroCdcReader.FileNeedsFallback): Seq[String] =
    f.columns.map { c =>
      s"[COLUMN-FAILURE] file=${f.path} column=${c.column} " +
        s"type=${c.declaredType} sample=${c.sampleValue} error=${c.error}"
    }

  /** Convert one write unit. Runs on a pool thread of
    * [[perFolderConcurrently]], so it touches no shared state: everything
    * it found comes back in the result.
    */
  private def convertUnit(
      spark: SparkSession, unit: WriteUnit, mode: ConvertMode,
      outputPrefix: String, date: String): UnitResult = {
    import scala.jdk.CollectionConverters._
    val WriteUnit(folder, flat, groupPaths) = unit
    def newAcc() = spark.sparkContext.collectionAccumulator[String]("graft.failedFiles")
    def failedIn(acc: org.apache.spark.util.CollectionAccumulator[String]) =
      acc.value.asScala.map(_.split('\t').head).toSet
    mode match {
      case ConvertMode.Standard =>
        val acc = newAcc()
        try {
          // optimistic single-pass: one decode, rows stream straight
          // to the parquet writer (the 2M-rows/s path)
          write(AvroCdcReader.readGroup(spark, groupPaths, flat, mode, acc),
            outputPrefix, folder, date)
          val bad = failedIn(acc)
          UnitResult(groupPaths.filterNot(bad.contains), Nil, bad.toSeq)
        } catch {
          case e: Throwable if hasConversionCause(e) =>
            // a HARD conversion error (reference main.py's strict
            // casts) failed the write job — the v1 committer discards
            // the aborted job's files, so the output holds NO rows
            // from this group yet. Fall back to probe-and-rewrite:
            // decode+convert each file (the reference's own
            // double-read), isolate the failing files, and re-write
            // only the clean ones — whole-file atomic failure
            // restored at a cost bounded by the failure rate.
            val statuses = AvroCdcReader.probe(spark, groupPaths, flat, mode)
            val ok = statuses.collect { case AvroCdcReader.FileOk(p) => p }
            // fallback-class errors (string in a timestamp union) fail the
            // file too: Standard has no all-string fallback path
            val bad = statuses.collect { case AvroCdcReader.FileFailed(p, _) => p }
            val acc2 = newAcc()
            if (ok.nonEmpty)
              write(AvroCdcReader.readGroup(spark, ok, flat, mode, acc2),
                outputPrefix, folder, date)
            val bad2 = failedIn(acc2)
            UnitResult(ok.filterNot(bad2.contains), Nil, bad ++ bad2)
        }

      case ConvertMode.ReferenceExact =>
        val statuses = AvroCdcReader.probe(spark, groupPaths, flat)
        val ok = statuses.collect { case AvroCdcReader.FileOk(p) => p }
        val fbs = statuses.collect { case f: AvroCdcReader.FileNeedsFallback => f }
        val bad = statuses.collect { case AvroCdcReader.FileFailed(p, _) => p }
        val acc = newAcc()
        if (ok.nonEmpty)
          write(AvroCdcReader.readGroup(spark, ok, flat, mode, acc),
            outputPrefix, folder, date)
        if (fbs.nonEmpty)
          write(AvroCdcReader.readGroupFallback(spark, fbs.map(_.path), flat, acc),
            outputPrefix, folder, date)
        UnitResult(ok, fbs, bad)
    }
  }

  /** Run `work` over `units` as concurrent Spark jobs and return the
    * results in `units` order (`None` for a unit that failed or did not
    * start), with the failure, if any.
    *
    * Units that share an output folder run one after another, in their
    * order, on one chain: jobs in one application share
    * FileOutputCommitter's `_temporary/0` under the output path, so one
    * job's commit or cleanup would take or delete the other's task files.
    * At most `defaultParallelism` chains run at once, on a pool made per
    * call, so its threads inherit the caller's Spark local properties
    * (job group, scheduler pool, tags) as they are now.
    *
    * Every chain is joined before this returns. After a unit fails, chains
    * start no further units; once all have stopped, the failure of the
    * earliest unit is returned (later ones attached as suppressed). An
    * interrupt of the caller stops further units the same way; it is
    * returned as an `InterruptedException` after the join, with the
    * thread's interrupt flag set again.
    */
  private def perFolderConcurrently[R](spark: SparkSession, units: Seq[WriteUnit])(
      work: WriteUnit => R): (IndexedSeq[Option[R]], Option[Throwable]) = {
    val chains = units.indices.groupBy(units(_).folder).values.toSeq.sortBy(_.head)
    val results = Array.fill[Option[R]](units.size)(None)
    val failures = new java.util.concurrent.ConcurrentSkipListMap[Int, Throwable]
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(chains.size, spark.sparkContext.defaultParallelism)))
    var interrupted = false
    try {
      chains.foreach { chain =>
        pool.execute { () =>
          chain.iterator.takeWhile(_ => !stop.get).foreach { i =>
            try results(i) = Some(work(units(i)))
            catch {
              case e: Throwable =>
                failures.put(i, e)
                stop.set(true)
            }
          }
        }
      }
      pool.shutdown()
      while (!pool.isTerminated) {
        try pool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS)
        catch {
          case _: InterruptedException =>
            interrupted = true
            stop.set(true)
        }
      }
    } finally pool.shutdownNow()
    if (interrupted) Thread.currentThread.interrupt()
    val failure =
      if (!failures.isEmpty) {
        val first = failures.pollFirstEntry().getValue
        failures.values.forEach(first.addSuppressed(_))
        Some(first)
      } else if (interrupted)
        Some(new InterruptedException("interrupted while converting; writes were joined"))
      else None
    (results.toIndexedSeq, failure)
  }

  /** The message prefix [[AvroCdcReader.ConversionTaskError]]'s constructor
    * builds. Every re-wrapped form carries it: a toString-based wrapper as
    * `<FQCN>: graft.ConversionTaskError: hard conversion failure in …`, a
    * getMessage-based wrapper without the class name — and in BOTH the
    * prefix sits at a frame boundary (string start, or after whitespace —
    * Throwable.toString chains render "…: " before it). Requiring the full
    * prefix at a boundary (not the bare "graft.ConversionTaskError" tag
    * anywhere) keeps a log line quoting the tag mid-token from rerouting a
    * read failure into the probe-and-rewrite double-read.
    */
  private val ConversionMessageMarker: String =
    "graft.ConversionTaskError: hard conversion failure in "

  private def markerAtFrameStart(msg: String): Boolean = {
    var i = msg.indexOf(ConversionMessageMarker)
    while (i >= 0) {
      if (i == 0) return true
      val c = msg.charAt(i - 1)
      if (c == ' ' || c == '\n' || c == '\t') return true
      i = msg.indexOf(ConversionMessageMarker, i + 1)
    }
    false
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** True when a failed Spark job's cause chain bottoms out in a hard
    * conversion error. Executor-side exceptions survive serialization as
    * the same class (typed match); the marker check covers re-wrapped
    * forms where the driver only sees the remote exception's toString or
    * message — every occurrence is scanned (a quoted copy early in the
    * message cannot hide a legitimate one later), and a hit on this
    * weaker branch is logged so a misrouted double-read is visible.
    */
  private[convert] def hasConversionCause(e: Throwable): Boolean = {
    var cur = e
    var depth = 0
    while (cur != null && depth < 20) {
      cur match {
        case _: AvroCdcReader.ConversionTaskError => return true
        case _ =>
          val msg = cur.getMessage
          if (msg != null && markerAtFrameStart(msg)) {
            log.warn(
              "hasConversionCause matched by message marker, not exception " +
                s"class (wrapper: ${cur.getClass.getName}); routing to " +
                "probe-and-rewrite")
            return true
          }
      }
      cur = cur.getCause
      depth += 1
    }
    false
  }

  /** Through [[LocalFs]], so the job's task files, `.crc` sidecars,
    * `_temporary` dirs and `_SUCCESS` are made without a `chmod` process
    * each.
    */
  private def write(
      df: DataFrame, outputPrefix: String, folder: String,
      ingestionDate: String): Unit = {
    df.withColumn("ingestion_date", lit(ingestionDate))
      .drop(AvroCdcReader.InputPathCol)
      .write
      .options(LocalFs.options(df.sparkSession))
      .mode("append")
      .partitionBy("ingestion_date")
      .option("compression", "snappy")
      .parquet(s"$outputPrefix/$folder")
  }

  /** Continuous mode: poll the glob every `intervalSeconds`, convert newly
    * appeared files, forever (or `maxIterations` for tests). Graceful-stop
    * semantics (the reference control plane's `drain`,
    * run_dataflow.py:121-143): finish the in-flight batch, then return.
    *
    * Discovery at 100× file count: `globStatus` is one driver-side listing
    * per poll (as is [[runStreaming]]'s file source per trigger) — at
    * millions of landing-zone files, split the deployment by prefix (one
    * `runContinuous` per source-folder glob, each with its own ledger dir),
    * which bounds BOTH the listing and the ledger per worker;
    * `ledgerShards` additionally caps per-POLL driver memory to one shard's
    * seen-set ([[FileLedger.filterUnseen]]).
    *
    * Driver heap at production duration: Spark's AppStatusStore retains
    * job/stage/task wrappers and SQL-execution plan graphs up to its
    * DEFAULT caps even with the UI disabled — at a few jobs per poll the
    * driver climbs for thousands of polls before eviction starts
    * (measured by `graft.SoakContinuous`: 65→98 MB over 1000 polls on
    * defaults; flat under bounded retention). Long-running deployments
    * should set `spark.ui.retainedJobs`/`retainedStages`/`retainedTasks`
    * and `spark.sql.ui.retainedExecutions` to bounded values sized to
    * their monitoring needs.
    */
  def runContinuous(
      spark: SparkSession,
      inputPattern: String,
      outputPrefix: String,
      ledgerDir: String,
      intervalSeconds: Int,
      mode: ConvertMode = ConvertMode.Standard,
      maxIterations: Int = Int.MaxValue,
      shouldStop: () => Boolean = () => false,
      ledgerShards: Int = 1): Seq[ConvertReport] = {
    var reports = Vector.empty[ConvertReport]
    val ledger = new FileLedger(
      ledgerDir, spark.sparkContext.hadoopConfiguration, ledgerShards)
    var i = 0
    while (i < maxIterations && !shouldStop()) {
      reports :+= runOnce(spark, inputPattern, outputPrefix, mode,
        Some(ledgerDir), ledgerShards = ledgerShards)
      // fold accumulated per-poll batch files back into one past 64: a
      // year of 30s polls is ~1M ledger files otherwise (see FileLedger)
      ledger.compact()
      i += 1
      if (i < maxIterations && !shouldStop()) Thread.sleep(intervalSeconds * 1000L)
    }
    reports
  }

  /** Structured Streaming mode: each micro-batch's new files go through
    * [[runOnce]]'s conversion ([[convertPaths]], Standard mode), so schemas
    * are derived per batch and a failed file is reported while the stream
    * moves on. The source is Spark's file source over PATHS (`binaryFile`,
    * only `path` read): `inputPattern`'s directory part is the load path,
    * its file part the `pathGlobFilter`, so a batch lists what [[discover]]
    * lists; a path not seen before is new whatever its mtime; an offset is
    * one index into the checkpoint's source log.
    *
    * Spark replays an uncommitted batch under the same id, so each batch
    * ledgers its committed write units in a [[FileLedger]] at
    * `<checkpointDir>/graft_batches/<batchId>` and a replay converts only
    * the rest; each batch deletes its predecessor's ledger, which Spark
    * has committed. Each batch logs its [[ConvertReport]] through the class
    * logger (WARN when a file failed). The query runs on
    * [[graft.streaming.CheckpointTuning.streamSession]], listed in that
    * session's `streams`; the caller drives it through the returned handle.
    * Bound the driver's UI retention as [[runContinuous]] describes.
    */
  def runStreaming(
      spark: SparkSession,
      inputPattern: String,
      outputPrefix: String,
      checkpointDir: String,
      ingestionDate: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val conf = spark.sparkContext.hadoopConfiguration
    val cut = inputPattern.lastIndexOf('/')
    val batches = new Path(checkpointDir, "graft_batches")
    val session = graft.streaming.CheckpointTuning.streamSession(spark)
    // the source lists a batch's files again to plan its scan, in a Spark
    // job of one task per file (past 32 files): one task per core instead
    session.conf.set("spark.sql.sources.parallelPartitionDiscovery.parallelism",
      spark.sparkContext.defaultParallelism.toString)
    val writer = session.readStream.format("binaryFile")
      .schema("path STRING, modificationTime TIMESTAMP, length BIGINT, content BINARY")
      .option("pathGlobFilter", inputPattern.substring(cut + 1))
      // no limit: by default the source skips a file 7 days older than
      // the newest one seen, however late it lands
      .option("maxFileAge", s"${Long.MaxValue}ms")
      .load(inputPattern.substring(0, cut))
      .select("path")
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batches.getFileSystem(LocalFs.configured(conf))
          .delete(new Path(batches, (batchId - 1).toString), true)
        val ledger = new FileLedger(new Path(batches, batchId.toString).toString, conf)
        val paths = batch.collect().map(_.getString(0)).toSeq.sorted
        val report = convertPaths(batch.sparkSession, ledger.filterUnseen(paths),
          outputPrefix, ConvertMode.Standard, Some(ledger), ingestionDate, audit = None)
        if (report.failed.isEmpty) log.info(s"runStreaming batch $batchId: $report")
        else log.warn(s"runStreaming batch $batchId: $report")
      }
    writer.start()
  }

  /** `30m` / `1h` / `2d` → seconds (reference main.py:242-246). */
  def parseDurationToSeconds(text: String): Int = {
    val m = "(?i)\\s*(\\d+)\\s*([smhd])\\s*".r
    text.trim match {
      case m(n, u) =>
        // Locale.ROOT: under tr-TR the default-locale lowercase maps
        // I→ı — none of [smhd] today, but config parsing must not
        // depend on the JVM's locale staying out of the hazard set
        val mult = u.toLowerCase(java.util.Locale.ROOT) match {
          case "s" => 1; case "m" => 60; case "h" => 3600; case "d" => 86400
        }
        n.toInt * mult
      case _ => throw new IllegalArgumentException(
        s"invalid window_duration: '$text' (use 30m, 1h, ...)")
    }
  }
}
