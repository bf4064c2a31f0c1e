package graft.perfbench

import java.io.{ByteArrayOutputStream, File}
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

/** Seeded CDC Avro generator. Writer schema v1 is the envelope of
  * `graft.BenchData.writeCdcAvro`; v2 adds two nullable payload columns
  * (a schema-evolution generation); v3 declares `source_metadata.tx_id`
  * as a string, which lets one record carry a value that fails the
  * converter's strict tx_id rule (a hard conversion error).
  *
  * Every value is a pure function of (seed, file), and so is every
  * container's sync marker: the same seed gives byte-identical files.
  * Row counts and file layout never depend on the seed.
  */
object CdcGen {

  private val SmFields =
    """{"name":"schema","type":"string"},{"name":"table","type":"string"},
      {"name":"is_deleted","type":"boolean"},{"name":"change_type","type":"string"},
      {"name":"tx_id","type":["null","TXTYPE"]},{"name":"lsn","type":["null","string"]},
      {"name":"primary_keys","type":{"type":"array","items":"string"}}"""

  private val PayloadV1 =
    """{"name":"id","type":"long"},
      {"name":"name","type":["null","string"]},
      {"name":"qty","type":["null","int"]},
      {"name":"price","type":["null",{"type":"bytes","logicalType":"decimal","precision":38,"scale":30}]},
      {"name":"created_at","type":["null",{"type":"long","logicalType":"timestamp-micros"}]}"""

  private val PayloadV2Extra =
    """,{"name":"note","type":["null","string"]},{"name":"score","type":["null","double"]}"""

  private def envelope(txType: String, payload: String): Schema =
    new Schema.Parser().parse(
      s"""{"type":"record","name":"cdc_event","fields":[
        {"name":"uuid","type":"string"},
        {"name":"read_timestamp","type":{"type":"long","logicalType":"timestamp-millis"}},
        {"name":"source_metadata","type":{"type":"record","name":"sm","fields":[
          ${SmFields.replace("TXTYPE", txType)}]}},
        {"name":"payload","type":["null",{"type":"record","name":"p","fields":[
          $payload]}]}
      ]}""")

  /** Writer schema by generation (1, 2 or 3). Schemas are immutable once
    * parsed, so one instance per generation serves every writer thread. */
  val schemas: Map[Int, Schema] = Map(
    1 -> envelope("long", PayloadV1),
    2 -> envelope("long", PayloadV1 + PayloadV2Extra),
    3 -> envelope("string", PayloadV1))

  /** One container to generate. Its rows carry tx ids
    * `[txBase, txBase + rows)`, unique across the whole input; `badRow`
    * (generation 3 only) is the row whose tx_id is not a number. */
  final case class FileSpec(
      folder: String, name: String, rows: Int, gen: Int, txBase: Long,
      keySpace: Int, salt: Long, badRow: Int = -1) {
    def relPath: String = s"avro/$folder/$name"
  }

  /** One generated change row, in the values the converter should emit. */
  final case class Rec(
      id: Long, txId: Long, deleted: Boolean, changeType: String,
      name: String, qty: java.lang.Integer, priceUnscaled9: Long,
      createdMicros: Long, note: String, score: java.lang.Double) {
    def lsn: String = s"0/${txId.toHexString}"
    /** decimal(38,9): the writer stores `v * 10^21` at scale 30. */
    def price: java.math.BigDecimal = java.math.BigDecimal.valueOf(priceUnscaled9, 9)
  }

  private val Words = Array("alpha", "beta", "gamma", "delta", "omega",
    "sigma", "kappa", "theta", "lambda", "zeta")

  /** SplitMix64 finalizer: well-spread per-file seeds from (seed, salt). */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The rows of one file, regenerated on demand (nothing is kept). */
  def rows(seed: Long, f: FileSpec): Iterator[Rec] = {
    val rnd = new SplittableRandom(mix(seed, f.salt))
    Iterator.tabulate(f.rows) { i =>
      val tx = f.txBase + i
      val id = rnd.nextInt(f.keySpace).toLong
      val deleted = rnd.nextInt(10) == 0
      val change =
        if (deleted) "DELETE" else if (rnd.nextInt(3) == 0) "INSERT" else "UPDATE"
      val name = if (rnd.nextInt(20) == 0) null else s"name-${rnd.nextInt(100000)}"
      val qty = if (rnd.nextInt(20) == 0) null else Int.box(rnd.nextInt(100))
      val price = rnd.nextLong() % 1000000000L
      val created = 1704067200000000L + tx * 1000L + rnd.nextInt(1000)
      val (note, score) =
        if (f.gen != 2) (null, null)
        else (if (rnd.nextInt(5) == 0) null else Words(rnd.nextInt(Words.length)),
          Double.box(rnd.nextInt(1000000) / 100.0))
      Rec(id, tx, deleted, change, name, qty, price, created, note, score)
    }
  }

  private def record(schema: Schema, f: FileSpec, r: Rec, row: Int): GenericRecord = {
    val sm = new GenericData.Record(schema.getField("source_metadata").schema())
    sm.put("schema", "public")
    sm.put("table", f.folder)
    sm.put("is_deleted", Boolean.box(r.deleted))
    sm.put("change_type", r.changeType)
    sm.put("tx_id",
      if (f.gen != 3) Long.box(r.txId)
      else if (row == f.badRow) "not-a-number"
      else r.txId.toString)
    sm.put("lsn", r.lsn)
    sm.put("primary_keys", java.util.Arrays.asList("id"))
    val p = new GenericData.Record(schema.getField("payload").schema().getTypes.get(1))
    p.put("id", Long.box(r.id))
    p.put("name", r.name)
    p.put("qty", r.qty)
    p.put("price", java.nio.ByteBuffer.wrap(java.math.BigInteger.valueOf(r.priceUnscaled9)
      .multiply(java.math.BigInteger.TEN.pow(21)).toByteArray))
    p.put("created_at", Long.box(r.createdMicros))
    if (f.gen == 2) { p.put("note", r.note); p.put("score", r.score) }
    val rec = new GenericData.Record(schema)
    rec.put("uuid", s"u${r.txId}")
    rec.put("read_timestamp", Long.box(r.createdMicros / 1000L))
    rec.put("source_metadata", sm)
    rec.put("payload", p)
    rec
  }

  /** Container bytes of one file: snappy blocks, seeded sync marker. */
  def containerBytes(seed: Long, f: FileSpec): Array[Byte] = {
    val schema = schemas(f.gen)
    val sync = new Array[Byte](16)
    val sr = new SplittableRandom(mix(seed, f.salt ^ 0x5EEDL))
    var i = 0
    while (i < 16) { sync(i) = sr.nextInt(256).toByte; i += 1 }
    val bytes = new ByteArrayOutputStream(f.rows * 96 + 4096)
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.setCodec(CodecFactory.snappyCodec())
    w.create(schema, bytes, sync)
    var row = 0
    rows(seed, f).foreach { r => w.append(record(schema, f, r, row)); row += 1 }
    w.close()
    bytes.toByteArray
  }

  def write(seed: Long, f: FileSpec, path: File): Unit = {
    path.getParentFile.mkdirs()
    val tmp = new File(path.getParentFile, s".${path.getName}.tmp")
    Files.write(tmp.toPath, containerBytes(seed, f))
    Files.move(tmp.toPath, path.toPath, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Write many files on a few threads (each file is independent). */
  def writeAll(seed: Long, files: Seq[(FileSpec, File)], threads: Int): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = files.map { case (f, p) =>
        pool.submit(new Runnable { def run(): Unit = write(seed, f, p) })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
  }
}

/** The `backfill` landing zone: two writer schemas over three folders with
  * a mix of container sizes (one large enough to be cut into several byte
  * ranges), plus a `defects` folder holding one truncated container, one
  * non-Avro file, one container with a hard conversion error and a clean
  * sibling of the latter (so probe-and-rewrite has a file to rewrite).
  */
object Backlog {
  import CdcGen.FileSpec

  val Folders: Seq[String] = Seq("orders", "users", "items")
  val KeySpace: Map[String, Int] = Map("orders" -> 60000, "users" -> 20000, "items" -> 30000)
  /** Rows per container, per folder; generations alternate v1/v2. */
  val Sizes: Seq[Int] = Seq(200, 400, 800, 1500, 2500, 4000, 6000, 9000)
  /** Over the 4 MB split floor (`spark.sql.files.openCostInBytes`), so
    * `planSplits` cuts it into byte ranges. */
  val BigRows = 95000
  val DefectFolder = "defects"

  final case class Layout(clean: Seq[FileSpec], truncated: FileSpec,
      hardError: FileSpec, notAvroName: String, withDefects: Boolean) {
    def cleanRows: Long = clean.map(_.rows.toLong).sum
    def defectPaths: Seq[String] =
      Seq(truncated.relPath, hardError.relPath, s"avro/$DefectFolder/$notAvroName")
  }

  /** `full`: the backfill zone. Otherwise the same files without the large
    * container and the defects folder: the `query` workload's lake, read
    * with plain scans every pass. Tx ids and file seeds are the same in
    * both. */
  def layout(full: Boolean): Layout = {
    var tx = 1000000L
    var salt = 0L
    def spec(folder: String, name: String, rows: Int, gen: Int, keys: Int,
             bad: Int = -1): FileSpec = {
      val f = FileSpec(folder, name, rows, gen, tx, keys, salt, bad)
      tx += rows; salt += 1
      f
    }
    val clean = Folders.flatMap { folder =>
      val keys = KeySpace(folder)
      val mixed = Sizes.zipWithIndex.map { case (n, i) =>
        spec(folder, f"part-$i%02d.avro", n, 1 + i % 2, keys)
      }
      val big = spec(folder, "big-00.avro", BigRows, 1, keys)
      if (folder == "orders" && full) mixed :+ big else mixed
    }
    val truncated = spec(DefectFolder, "truncated.avro", 3000, 1, 1000)
    val hardError = spec(DefectFolder, "hard_error.avro", 500, 3, 1000, bad = 250)
    val sibling = spec(DefectFolder, "clean_v3.avro", 500, 3, 1000)
    Layout(if (full) clean :+ sibling else clean, truncated, hardError, "not_avro.avro", full)
  }

  /** Write the zone under `root` (`root/avro/<folder>/<file>`). */
  def write(seed: Long, root: File, l: Layout, threads: Int): Unit = {
    CdcGen.writeAll(seed, l.clean.map(f => f -> new File(root, f.relPath)), threads)
    if (l.withDefects) {
      CdcGen.write(seed, l.hardError, new File(root, l.hardError.relPath))
      val full = CdcGen.containerBytes(seed, l.truncated)
      val cut = new File(root, l.truncated.relPath)
      Files.write(cut.toPath, java.util.Arrays.copyOf(full, full.length * 3 / 5))
      val junk = new File(root, s"avro/$DefectFolder/${l.notAvroName}")
      val rnd = new SplittableRandom(CdcGen.mix(seed, -1L))
      Files.write(junk.toPath, "not an Avro container\n".getBytes("UTF-8") ++
        Array.fill(4096)(rnd.nextInt(256).toByte))
    }
  }
}
