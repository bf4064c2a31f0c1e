package graft

import org.apache.spark.sql.SparkSession

/** Multi-JVM smoke (round-15 verdict #6): everything before this ran
  * `local[n]` — one JVM, where closure serialization, executor classpath,
  * broadcast/accumulator transport and fixture blocks-on-other-JVMs can
  * all silently freeload on shared memory. `local-cluster[2,4,4096]`
  * launches two REAL executor JVMs (the standalone-cluster code path), so
  * this main catches what local mode hides:
  *
  *  - kernel classes (custom Catalyst expressions, the Avro reader
  *    closures) must resolve on executors via
  *    `spark.executor.extraClassPath` — exactly the deploy shape of
  *    `spark-submit --class graft.Convert` with a library jar;
  *  - the broadcast Hadoop conf, the broadcast flat schemas and the
  *    collection accumulators must round-trip executor↔driver;
  *  - localCheckpoint fixture blocks live on ONE executor and later
  *    stages on the OTHER executor must fetch them remotely;
  *  - reliable checkpoint mode (graft.ops.Checkpoints) must write/read
  *    cluster-visible files.
  *
  * Run: `SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13
  * sbt "runMain graft.ClusterSmoke"` (the scala-version env is required:
  * the worker's executor launcher resolves it eagerly even in a RELEASE
  * layout, and /opt/spark has no launcher/target build dirs to probe).
  * Prints one `[smoke] name=… rows=…` line per probe and a final
  * `[smoke] RESULT …` line; exits nonzero on any failure.
  */
object ClusterSmoke {

  def main(args: Array[String]): Unit = {
    val classesDir = new java.io.File("target/scala-2.13/classes").getAbsolutePath
    val tmp = java.nio.file.Files.createTempDirectory("graft-cluster-smoke").toString
    val spark = SparkSession.builder()
      .master("local-cluster[2,4,4096]")
      .appName("graft-cluster-smoke")
      .config("spark.executor.extraClassPath", classesDir)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dir = "/root/testdata/sf0.001"
    var failed = List.empty[String]

    var probes = 0
    def probe(name: String)(f: => Long): Unit = {
      probes += 1
      try {
        val t0 = System.nanoTime()
        val n = f
        val s = (System.nanoTime() - t0) / 1e9
        if (n > 0) println(f"[smoke] $name rows=$n time=$s%.1fs ok")
        else {
          println(f"[smoke] $name rows=$n time=$s%.1fs FAILED (zero rows)")
          failed ::= s"$name: zero rows"
        }
      } catch {
        case e: Throwable =>
          println(s"[smoke] $name FAILED: ${e.toString.take(300)}")
          failed ::= s"$name: ${e.toString.take(120)}"
      }
    }

    try {
      // the converter: broadcast schema + accumulator + per-split tasks +
      // parquet commit protocol across two executor JVMs
      probe("cdc_convert") {
        BenchData.writeCdcAvro(s"$tmp/landing/avro/users/a.avro", rows = 50000)
        BenchData.writeCdcAvro(s"$tmp/landing/avro/orders/b.avro", rows = 20000)
        val rep = graft.convert.AvroToParquetJob.runOnce(
          spark, s"$tmp/landing/avro/*/*.avro", s"$tmp/out",
          ledgerDir = Some(s"$tmp/ledger"), ledgerShards = 4)
        require(rep.failed.isEmpty, s"failed files: ${rep.failed}")
        spark.read.parquet(s"$tmp/out/users").count() +
          spark.read.parquet(s"$tmp/out/orders").count()
      }

      // one query per family: shuffles, window state, codegen'd kernels,
      // fixtures (cross-JVM localCheckpoint block fetches), driver models
      val band = Seq(
        "q01_pricing_summary", // relational agg
        "q05_local_supplier", // multi-join
        "q_dedup_minhash", // LSH fixture + band join
        "q_dedup_clusters", // fixpoint over checkpointed labels
        "q_graph_labelprop", // graph fixpoint
        "q_ann_topk", // vector kernels
        "q_text_quality", // text features expression
        "q_window_running", // window function
        "q_multimodal_meta", // binary codec expressions
        "q_events_paths") // shared transition fixture
      band.foreach { q =>
        SparkEntry.queries.get(q) match {
          case Some(fn) => probe(q)(fn(spark, dir).count())
          case None => failed ::= s"$q: not registered"
        }
      }

      // reliable checkpointing in the mode it exists for: multi-JVM
      probe("reliable_checkpoint") {
        val s2 = spark.newSession()
        s2.conf.set(graft.ops.Checkpoints.DirConf, s"$tmp/ckpt")
        SparkEntry.queries("q_dedup_cc_star")(s2, dir).count()
      }
    } finally {
      spark.stop()
    }

    if (failed.isEmpty)
      println(s"[smoke] RESULT ok ($probes probes, 2 executor JVMs)")
    else {
      println(s"[smoke] RESULT FAILED: ${failed.reverse.mkString("; ")}")
      sys.exit(1)
    }
  }
}
