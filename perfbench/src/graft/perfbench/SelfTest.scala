package graft.perfbench

import java.io.File
import java.nio.file.Files

import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}

/** The benchmark's own tests (`python3 perfbench/run.py --selftest`):
  *
  *  - the generator is deterministic: the same seed gives byte-identical
  *    files, another seed different bytes with the same row counts;
  *  - every output check can fail: a dropped output file, a duplicated
  *    output file, a wrong expected digest or hash each lower `ok_share`;
  *  - the recorded surface-query hashes hold at this commit;
  *  - with `--testdata DIR`: the registered surface queries, run over DIR
  *    the way the gate runs them (Parquet round trip, normalized hash),
  *    match the gate's committed hashes, and the benchmark's collect-side
  *    hash agrees with the round-trip hash.
  *
  * `--record 1` prints the surface-query hashes of three passes instead,
  * for (re)writing `perfbench/expected_hashes.json`.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name${if (ok || detail.isEmpty) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  private def okShare(attempted: Int, failed: Int): Double =
    (attempted - failed).toDouble / attempted

  private def rowCount(f: File): Long = {
    val in = new DataFileStream[GenericRecord](Files.newInputStream(f.toPath),
      new GenericDatumReader[GenericRecord]())
    try { var n = 0L; while (in.hasNext) { in.next(); n += 1 }; n } finally in.close()
  }

  private def tree(root: File): Map[String, Array[Byte]] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    walk(root).map(f => root.toPath.relativize(f.toPath).toString -> Files.readAllBytes(f.toPath)).toMap
  }

  def generator(work: File, cores: Int): Unit = {
    val l = Backlog.layout(full = true)
    val dirs = Seq((7L, "a"), (7L, "b"), (8L, "c")).map { case (seed, n) =>
      val d = new File(work, s"gen-$n"); Backlog.write(seed, d, l, cores); d
    }
    val Seq(a, b, c) = dirs.map(tree)
    check("generator: same seed, byte-identical files",
      a.keySet == b.keySet && a.forall { case (k, v) => java.util.Arrays.equals(v, b(k)) })
    val differing = a.keySet.count(k => c.get(k).forall(!java.util.Arrays.equals(_, a(k))))
    check("generator: another seed, different bytes in every file",
      a.keySet == c.keySet && differing == a.size, s"$differing of ${a.size} differ")
    val same = l.clean.forall { f =>
      Seq(dirs(0), dirs(2)).map(d => rowCount(new File(d, f.relPath))).forall(_ == f.rows)
    }
    check("generator: another seed, the same row counts", same)
    dirs.foreach(Checks.deleteTree)
  }

  def backfill(ctx: Ctx): Unit = {
    val bf = new Backfill(ctx)
    bf.generate()
    val splits = graft.avro.AvroCdcReader.planSplits(ctx.spark,
      bf.layout.clean.filter(_.folder == "orders").map(f => new File(bf.zone, f.relPath).getPath),
      ctx.spark.sparkContext.hadoopConfiguration)
    check("backfill: planSplits cuts the large container into several ranges",
      splits.count(_.path.endsWith("big-00.avro")) > 1)
    val out = bf.outDir(0)
    val (_, rep) = bf.op(out)
    val clean = bf.check(rep, out) && bf.fullCheck(out)
    check("backfill: a clean op passes every check (counts, sums, digest)", clean)
    val digest = Checks.actualDigest(Checks.converted(ctx.spark, out.getPath, bf.folders))
    check("backfill: a wrong expected digest is caught",
      digest != Checks.expectedDigest(ctx.seed + 1, bf.layout.clean))
    val victim = new File(out, "users").listFiles().flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .find(_.getName.endsWith(".parquet")).get
    victim.delete()
    val dropped = bf.check(rep, out)
    check("backfill: a dropped output file is caught, ok_share falls",
      !dropped && okShare(2, Seq(clean, dropped).count(!_)) < 1.0)
    Checks.deleteTree(out)
  }

  def trickle(ctx: Ctx): Unit = {
    val tk = new Trickle(ctx.copy(seconds = 3))
    tk.generate()
    val ledger = new graft.convert.FileLedger(tk.ledgerDir, ctx.spark.sparkContext.hadoopConfiguration)
    val tally = new tk.Tally
    tk.warmUp(tally, tk.poll(ledger))
    tk.timed(tally, tk.poll(ledger))
    val n = tk.files.size
    val bad0 = tk.check(tally)
    check(s"trickle: every landed file converted exactly once ($n files)", bad0 == 0)
    val parts = new File(tk.out, "orders").listFiles().flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val copy = new File(parts.head.getParentFile, "dup-" + parts.head.getName)
    Files.copy(parts.head.toPath, copy.toPath)
    val bad1 = tk.check(tally)
    check("trickle: duplicated output rows are caught, ok_share falls",
      bad1 > 0 && okShare(n, bad1) < 1.0, s"bad=$bad1")
    copy.delete()
    parts.last.delete()
    val bad2 = tk.check(tally)
    check("trickle: a dropped output file is caught, ok_share falls",
      bad2 > 0 && okShare(n, bad2) < 1.0, s"bad=$bad2")
  }

  def query(ctx: Ctx, hashes: Map[String, String], tables: File): Unit = {
    val q = new Query(ctx, hashes, tables)
    q.generate()
    val passes = (0 until 2).map(_ => q.pass()._2)
    check("query: every result matches its recorded hash or model, two passes",
      passes.forall(_ == 0), s"failed per pass: $passes")
    val name = Query.SurfaceQueries.head
    val altered = new Query(ctx, hashes.updated(name, "0" * 32), tables)
    val (_, bad) = altered.pass()
    check(s"query: an altered expected hash ($name) is caught, ok_share falls",
      bad == 1 && okShare(altered.queries.size, bad) < 1.0, s"bad=$bad")
  }

  /** The surface queries over the gate's test tables, hashed as the gate
    * hashes them (graft.Verify: coalesce(1) Parquet, read back). */
  def crossCheck(ctx: Ctx, testdata: String, gateHashes: Map[String, String]): Unit = {
    Query.SurfaceQueries.foreach { n =>
      val df = graft.SparkEntry.queries(n)(ctx.spark, testdata)
      val cols = df.columns.toSeq
      val collected = graft.Verify.normalizedHash(df.collect().toSeq, cols)
      val dir = new File(ctx.work, s"verify/$n").getPath
      graft.SparkEntry.queries(n)(ctx.spark, testdata).coalesce(1).write.mode("overwrite").parquet(dir)
      val back = ctx.spark.read.parquet(dir)
      val roundTrip = graft.Verify.normalizedHash(back.collect().toSeq, back.columns.toSeq)
      check(s"cross-check $n: gate hash", gateHashes.get(n).contains(roundTrip),
        s"got $roundTrip, gate ${gateHashes.get(n)}")
      check(s"cross-check $n: collect hash equals round-trip hash", collected == roundTrip)
    }
  }

  def record(ctx: Ctx, tables: File): Unit = {
    val runs = (0 until 3).map { _ =>
      Query.SurfaceQueries.map { n =>
        val df = graft.SparkEntry.queries(n)(ctx.spark, tables.getPath)
        val cols = df.columns.toSeq
        val rows = df.collect().toSeq
        n -> (graft.Verify.normalizedHash(rows, cols), rows.size)
      }.toMap
    }
    Query.SurfaceQueries.foreach { n =>
      val hs = runs.map(_(n)).distinct
      println(s"""record $n ${if (hs.size == 1) "stable" else "UNSTABLE"} ${hs.mkString(" ")}""")
    }
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val work = new File(kv("work"))
    val cores = kv.getOrElse("cores", "4").toInt
    work.mkdirs()
    val spark = PerfBench.session(work, cores)
    val ctx = Ctx(spark, work, 11L, 20, cores)
    try {
      val tables = new File(kv("tables"))
      if (kv.get("record").contains("1")) record(ctx, tables)
      else {
        generator(work, cores)
        backfill(ctx)
        trickle(ctx)
        query(ctx, PerfBench.readHashes(new File(kv("hashes"))), tables)
        kv.get("testdata").filter(_.nonEmpty).foreach { td =>
          crossCheck(ctx, td, PerfBench.readHashes(new File(kv("gate-hashes"))))
        }
        println(if (failures == 0) "selftest: all passed" else s"selftest: $failures FAILED")
      }
    } finally spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
