package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Event-time streaming semantics beyond the reference's processing-time
  * pacing: watermarks with append-mode window closing, and arbitrary
  * stateful processing with mapGroupsWithState.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("watermark + append mode emits only closed windows, drops late data") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String)]
    val agg = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "5 minutes")
      .groupBy(window($"ts", "10 minutes"), $"k")
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp($"window.start").as("ws"), $"k", $"n")

    val q = agg.writeStream
      .outputMode(OutputMode.Append())
      .format("memory")
      .queryName("wm_append")
      .start()
    try {
      // batch 1: events in the 10:00 and 10:10 windows
      input.addData((ts(1), "a"), (ts(4), "a"), (ts(12), "b"))
      q.processAllAvailable()
      // nothing closed yet: max event 10:12, watermark 10:07 < 10:10
      assert(spark.table("wm_append").count() == 0)

      // batch 2: advance watermark past the 10:00 window's end
      input.addData((ts(21), "c"))
      q.processAllAvailable()
      // watermark now 10:16 → the [10:00,10:10) window is closed and emitted
      val closed = spark.table("wm_append").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(closed == Set((unixTs("10:00"), "a", 2L)))

      // batch 3: a LATE event for the already-closed 10:00 window → dropped
      input.addData((ts(2), "a"))
      // and one advancing further, closing the 10:10 window
      input.addData((ts(35), "d"))
      q.processAllAvailable()
      val all = spark.table("wm_append").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(all == Set(
        (unixTs("10:00"), "a", 2L),
        (unixTs("10:10"), "b", 1L),
        (unixTs("10:20"), "c", 1L))) // late (10:02,"a") never re-opened its window
    } finally q.stop()
  }

  private def unixTs(hm: String): Long =
    Timestamp.valueOf(s"2024-01-01 $hm:00").getTime / 1000

  test("mapGroupsWithState: running per-key counts across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Int)]

    def update(key: String, values: Iterator[(String, Int)],
        state: GroupState[Long]): (String, Long) = {
      val sum = state.getOption.getOrElse(0L) + values.map(_._2.toLong).sum
      state.update(sum)
      key -> sum
    }

    val counted = input.toDS()
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(update)
      .toDF("k", "total")

    val q = counted.writeStream
      .outputMode(OutputMode.Update())
      .format("memory")
      .queryName("mgws")
      .start()
    try {
      input.addData(("x", 1), ("x", 2), ("y", 10))
      q.processAllAvailable()
      input.addData(("x", 4), ("y", 5))
      q.processAllAvailable()
      val rows = spark.table("mgws").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      // update mode emits one row per key per batch; the LAST per key is the
      // running total
      val latest = rows.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).max }
      assert(latest == Map("x" -> 7L, "y" -> 15L))
    } finally q.stop()
  }

  test("RocksDB state backend: stateful dedup+window agg matches the " +
    "default provider exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // same stateful pipeline both times: watermarked dropDuplicates on the
    // event key (redelivered input) feeding a windowed count
    def run(queryName: String): Set[(Long, String, Long)] = {
      val input = MemoryStream[(Long, Timestamp, String)]
      val agg = input.toDF().toDF("id", "ts", "k")
        .withWatermark("ts", "5 minutes")
        .dropDuplicatesWithinWatermark("id")
        .groupBy(window($"ts", "10 minutes"), $"k")
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp($"window.start").as("ws"), $"k", $"n")
      val q = agg.writeStream
        .outputMode(OutputMode.Complete())
        .format("memory")
        .queryName(queryName)
        .start()
      try {
        input.addData((1L, ts(1), "a"), (2L, ts(4), "a"), (1L, ts(1), "a"))
        q.processAllAvailable()
        input.addData((3L, ts(12), "b"), (2L, ts(4), "a"), (4L, ts(14), "b"))
        q.processAllAvailable()
        spark.table(queryName).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      } finally q.stop()
    }

    val default = run("sb_default")
    val rocks = graft.streaming.StateBackend.withRocksDB(spark)(run("sb_rocks"))
    assert(rocks == default)
    assert(rocks == Set((unixTs("10:00"), "a", 2L), (unixTs("10:10"), "b", 2L)))
    // conf restored after the block
    assert(!spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .contains(graft.streaming.StateBackend.RocksDBProvider))
  }

  test("stream-stream interval join matches in-window pairs only and " +
    "equals the batch join end-to-end") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(Long, Timestamp)]
    val clicks = MemoryStream[(Long, Timestamp)]
    val v = views.toDF().toDF("v_user", "v_ts").withWatermark("v_ts", "5 minutes")
    val c = clicks.toDF().toDF("c_user", "c_ts").withWatermark("c_ts", "5 minutes")
    val joined = v.join(c,
      $"v_user" === $"c_user" && $"c_ts" >= $"v_ts" &&
        $"c_ts" <= $"v_ts" + expr("INTERVAL 10 MINUTES"))
      .select($"v_user", unix_timestamp($"c_ts").as("ct"))

    val q = joined.writeStream
      .outputMode(OutputMode.Append())
      .format("memory")
      .queryName("ss_join")
      .start()
    try {
      views.addData((1L, ts(0)), (2L, ts(1)))
      clicks.addData((1L, ts(5))) // inside [v_ts, v_ts+10min] → match
      q.processAllAvailable()
      assert(spark.table("ss_join").collect().map(_.getLong(0)).toSeq == Seq(1L))

      clicks.addData((2L, ts(30))) // 29 min after user 2's view → no match
      q.processAllAvailable()
      assert(spark.table("ss_join").count() == 1)
    } finally q.stop()

    // full pipeline vs the registered batch oracle shape, on real testdata
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").isFile)
    val streamed = graft.ops.EventStreaming.qStreamJoin(spark, dir).collect()
    assert(streamed.nonEmpty)
    assert(streamed.forall { r =>
      val (vt, ct) = (r.getLong(3), r.getLong(4))
      ct >= vt && ct <= vt + 4L * 3600 * 1000000
    })
  }

  /** Two writer-schema generations for the drift/generation-boundary
    * scenarios: generation B adds a nullable `extra` payload column.
    */
  private def driftEnvelope(withExtra: Boolean): String = {
    val extra =
      if (withExtra) """,{"name":"extra","type":["null","string"]}""" else ""
    s"""{"type":"record","name":"cdc_event","fields":[
      {"name":"uuid","type":"string"},
      {"name":"read_timestamp","type":{"type":"long","logicalType":"timestamp-millis"}},
      {"name":"source_metadata","type":{"type":"record","name":"sm","fields":[
        {"name":"schema","type":"string"},{"name":"table","type":"string"},
        {"name":"is_deleted","type":"boolean"},{"name":"change_type","type":"string"},
        {"name":"tx_id","type":["null","long"]},{"name":"lsn","type":["null","string"]},
        {"name":"primary_keys","type":{"type":"array","items":"string"}}]}},
      {"name":"payload","type":["null",{"type":"record","name":"p","fields":[
        {"name":"id","type":"long"},
        {"name":"name","type":["null","string"]}$extra]}]}
    ]}"""
  }

  private def driftRow(id: Long, name: String, extra: Option[String]): Map[String, Any] =
    Map("uuid" -> s"u$id", "read_timestamp" -> 0L,
      "source_metadata" -> graft.avro.AvroFixtures.sm("t"),
      "payload" -> (Map("id" -> id, "name" -> name) ++
        extra.map("extra" -> _)))

  /** (id, name, extra) of every row under `dir`, read name-merged across
    * the generations' Parquet files, sorted by id.
    */
  private def driftRows(dir: String): Seq[(Long, String, Option[String])] =
    spark.read.option("mergeSchema", "true").parquet(dir)
      .select("id", "name", "extra").collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2))))
      .toSeq.sortBy(_._1)

  test("mid-stream schema drift: a NEW payload column arriving after " +
    "stream start lands typed in the same stream; old rows read null " +
    "under mergeSchema") {
    import graft.avro.AvroFixtures
    val root = java.nio.file.Files.createTempDirectory("graft-drift")
      .toFile.getAbsolutePath
    val glob = s"$root/landing/avro/*/*.avro"
    AvroFixtures.writeAvro(s"$root/landing/avro/t/a.avro",
      driftEnvelope(withExtra = false), Seq(driftRow(1L, "one", None)))

    // the stream starts on generation A; generation B (new `extra`
    // column) arrives MID-STREAM and gets its own schema in its batch
    val q = graft.convert.AvroToParquetJob.runStreaming(spark, glob,
      s"$root/out", s"$root/ckpt", ingestionDate = Some("2024-01-01"))
    try {
      q.processAllAvailable()
      AvroFixtures.landAvro(s"$root/landing/avro/t/b.avro",
        driftEnvelope(withExtra = true), Seq(driftRow(2L, "two", Some("X"))))
      q.processAllAvailable()
    } finally q.stop()
    val merged = spark.read.option("mergeSchema", "true").parquet(s"$root/out/t")
    assert(merged.schema("extra").dataType == org.apache.spark.sql.types.StringType)
    assert(driftRows(s"$root/out/t") ==
      Seq((1L, "one", None), (2L, "two", Some("X"))))
  }

  /** One `runStreaming` start on `root`'s landing zone and checkpoint,
    * run until it has converted what is there, then stopped.
    */
  private def runGeneration(root: String): Unit = {
    val q = graft.convert.AvroToParquetJob.runStreaming(spark,
      s"$root/landing/avro/*/*.avro", s"$root/out", s"$root/ckpt",
      ingestionDate = Some("2024-01-01"))
    try q.processAllAvailable() finally q.stop()
  }

  test("generation boundary, A → B: a same-checkpoint restart after a new " +
    "generation lands converts only the new file, typed with its new column") {
    import graft.avro.AvroFixtures
    val root = java.nio.file.Files.createTempDirectory("graft-gen-ab")
      .toFile.getAbsolutePath
    AvroFixtures.writeAvro(s"$root/landing/avro/t/a.avro",
      driftEnvelope(withExtra = false), Seq(driftRow(1L, "one", None)))
    runGeneration(root)
    // generation B lands while the stream is down
    AvroFixtures.writeAvro(s"$root/landing/avro/t/b.avro",
      driftEnvelope(withExtra = true), Seq(driftRow(2L, "two", Some("X"))))
    runGeneration(root)
    assert(driftRows(s"$root/out/t") ==
      Seq((1L, "one", None), (2L, "two", Some("X"))))
  }

  test("generation boundary, A + B → late A: a same-checkpoint restart " +
    "converts a late old-generation file exactly once, its new column null") {
    import graft.avro.AvroFixtures
    val root = java.nio.file.Files.createTempDirectory("graft-gen-aba")
      .toFile.getAbsolutePath
    // the first batch holds both generations
    AvroFixtures.writeAvro(s"$root/landing/avro/t/a.avro",
      driftEnvelope(withExtra = false), Seq(driftRow(1L, "one", None)))
    AvroFixtures.writeAvro(s"$root/landing/avro/t/b.avro",
      driftEnvelope(withExtra = true), Seq(driftRow(2L, "two", Some("X"))))
    runGeneration(root)
    // an OLD-generation writer is still alive and lands c.avro while the
    // stream is down
    AvroFixtures.writeAvro(s"$root/landing/avro/t/c.avro",
      driftEnvelope(withExtra = false), Seq(driftRow(3L, "three", None)))
    runGeneration(root)
    assert(driftRows(s"$root/out/t") ==
      Seq((1L, "one", None), (2L, "two", Some("X")), (3L, "three", None)))
  }

  test("flatMapGroupsWithState sessionization equals batch session_window " +
    "(event-time timeout drains the final sessions)") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/events.parquet").isFile)
    val streamed = graft.ops.EventStreaming.qStreamSession(spark, dir).collect()
    val batch = graft.ops.EventOps.qEventsSession(spark, dir).collect()
    assert(streamed.length == batch.length)
    streamed.zip(batch).foreach { case (s, b) =>
      assert(s.getLong(0) == b.getLong(0) && s.getLong(1) == b.getLong(1) &&
        s.getLong(2) == b.getLong(2) && s.getLong(3) == b.getLong(3),
        s"streamed $s != batch $b")
    }
  }

  /** The checkpoint checksum sidecars a stateful stream leaves in its
    * checkpoint after its second batch, when it is built and started on
    * `session(spark)` while `spark` sets the checksum key to `true`.
    */
  private def checksumSidecars(name: String)(
      session: org.apache.spark.sql.SparkSession => org.apache.spark.sql.SparkSession)
      : Seq[String] = {
    val key = CheckpointTuning.FileChecksumKey
    val dir = java.nio.file.Files.createTempDirectory("graft-cksum").toFile
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true") // runtime set (not a SparkConf pin)
    val streamSession = try session(spark)
      finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    implicit val sqlCtx = streamSession.sqlContext
    import streamSession.implicits._
    val input = MemoryStream[Int]
    val q = input.toDF().groupBy("value").count().writeStream
      .outputMode(OutputMode.Complete()).format("memory").queryName(name)
      .option("checkpointLocation", dir.getPath)
      .start()
    try {
      input.addData(1, 2)
      q.processAllAvailable()
      input.addData(2, 3)
      q.processAllAvailable()
    } finally q.stop()
    def files(f: java.io.File): Seq[String] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files)
      else Seq(f.getName)
    // Spark's sidecar is `<file>.crc` beside its file; Hadoop's local
    // checksums are hidden `.<file>.crc` files
    files(dir).filter(n => n.endsWith(".crc") && !n.startsWith("."))
  }

  test("CheckpointTuning: checksum sidecars off by default on production " +
    "entry points, SparkConf pin respected") {
    // a deployment that pinned the conf in the SparkConf is never overridden
    val pinned = new org.apache.spark.SparkConf().set(CheckpointTuning.FileChecksumKey, "true")
    assert(CheckpointTuning.pinnedInSubmitConf(pinned))
    assert(!CheckpointTuning.pinnedInSubmitConf(new org.apache.spark.SparkConf()))
    // the shared test session carries no SparkConf pin: a stream on the
    // session the entry points build theirs on writes no sidecars, although
    // the caller's session asks for them; on the caller's session, it does
    assert(checksumSidecars("ck_plain")(identity).nonEmpty)
    val sidecars = checksumSidecars("ck_tuned")(CheckpointTuning.streamSession(_))
    assert(sidecars.isEmpty, s"$sidecars")
  }

  test("CheckpointTuning: a replaced runtime checksum setting is reported") {
    val key = CheckpointTuning.FileChecksumKey
    val (_, warned) = graft.LogCapture.messages(CheckpointTuning) {
      checksumSidecars("ck_warn")(CheckpointTuning.streamSession(_))
    }
    // the operator's runtime value was replaced for the stream: reported
    assert(warned.size == 1 && warned.head.contains(s"$key=true"), s"$warned")
    // already off: nothing is overridden, nothing reported
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      val quiet = scala.collection.mutable.ArrayBuffer[String]()
      CheckpointTuning.streamSession(spark, quiet += _)
      assert(quiet.isEmpty, s"$quiet")
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
