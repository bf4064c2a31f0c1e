package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.avro.Schema
import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

import graft.avro._

/** DataSource V2 reader for CDC Avro container files, exposed as
  * `spark.read.format("cdc-avro").load(pathOrGlob)`.
  *
  * The scan yields the REFERENCE's flattened shape directly: the fixed
  * `source_metadata` struct plus typed `payload.*` columns (schema derived
  * with [[AvroSchemaConverter]]'s exact union rules from the first file's
  * writer schema), plus an `_input_path` provenance column.
  *
  * Spark-native properties the reference lacks:
  *  - the converter's split plan ([[graft.avro.AvroCdcReader.planBins]]):
  *    one input partition per bin of sync-marker byte ranges → a few giant
  *    containers fan out across the cluster, small files are packed a few
  *    to a partition, and partitions are balanced by bytes;
  *  - REAL column pruning ([[SupportsPushDownRequiredColumns]]): unneeded
  *    payload fields are never converted (the reference materializes every
  *    file fully, twice);
  *  - streaming per-record iteration — no whole-file materialization.
  *
  * Files whose writer schema differs from the inferred one are still read:
  * fields are matched by name, extras dropped, missing ones null — the
  * per-schema-group orchestration (and the all-string fallback path) lives
  * in [[graft.convert.AvroToParquetJob]], which remains the faithful
  * conversion entry point.
  */
class AvroCdcDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "cdc-avro"

  override def supportsExternalMetadata(): Boolean = false

  /** `load(p)` passes `path`; `load(p1, p2, …)` passes `paths` as a JSON
    * array of strings.
    */
  private def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val many = Option(options.get("paths")).toSeq
      .flatMap(new ObjectMapper().readValue(_, classOf[Array[String]]))
    (Option(options.get("path")).toSeq ++ many).map(_.trim).filter(_.nonEmpty)
  }

  private var resolved: Option[(Seq[String], AvroSchemaConverter.FlatSchema)] = None

  /** The matching files and the flat schema the scan exposes, worked out
    * once: Spark makes one provider per `load()` and calls `inferSchema`,
    * then `getTable`, so the two share one listing and one header pass.
    * The schema: the first readable file's (one header read). With
    * `mergeSchema=true`: header-read every file, derive each flat schema,
    * and union the payload columns by name — conflicting types collapse
    * to string (the reference's universal fallback type), giving one
    * well-typed view over heterogeneous CDC file generations. Readers
    * coerce per-file values to the merged column types.
    */
  private def resolve(options: CaseInsensitiveStringMap): (Seq[String], AvroSchemaConverter.FlatSchema) =
    resolved.getOrElse {
      val globs = paths(options)
      val files = AvroCdcReader.listFiles(globs, AvroCdcDataSource.hadoopConf)
      // explicit writer schema: no header reads — REQUIRED for a
      // streaming cold start where the glob matches zero files yet (the
      // reference's MatchContinuously starts on an empty landing zone too)
      val flat = Option(options.get("avroSchema")).map(_.trim).filter(_.nonEmpty)
        .map(AvroSchemaConverter.deriveFlatSchema(_)).getOrElse {
          require(files.nonEmpty,
            s"cdc-avro: no files match $globs " +
              "(pass the 'avroSchema' option to start on an empty directory)")
          val flats = AvroCdcDataSource.headerFlats(files)
          val found =
            if (options.getBoolean("mergeSchema", false)) flats.toSeq else flats.nextOption().toSeq
          require(found.nonEmpty,
            s"cdc-avro: no readable Avro file among ${files.size} matches")
          AvroCdcDataSource.mergeFlatSchemas(found)
        }
      resolved = Some((files, flat))
      (files, flat)
    }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    AvroCdcDataSource.sparkSchema(resolve(options)._2)

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val (files, flat) = resolve(options)
    new AvroCdcTable(paths(options), files, schema, flat)
  }
}

object AvroCdcDataSource {
  val InputPathCol = "_input_path"

  private[sources] val log =
    org.slf4j.LoggerFactory.getLogger(classOf[AvroCdcDataSource])

  private[sources] def hadoopConf: Configuration =
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration

  def sparkSchema(flat: AvroSchemaConverter.FlatSchema): StructType =
    AvroCdcReader.sparkSchema(flat, InputPathCol)

  /** The flat schema of each file whose header reads, in file order,
    * lazily. A corrupt file must not block schema inference, so an
    * unreadable header is skipped (the scan isolates it again at read
    * time).
    */
  private[sources] def headerFlats(files: Seq[String]): Iterator[AvroSchemaConverter.FlatSchema] =
    files.iterator.flatMap { f =>
      try Some(AvroCdcReader.writerSchema(f, hadoopConf).toString)
      catch { case _: Exception => None }
    }.map(AvroSchemaConverter.deriveFlatSchema(_))

  /** Union of payload columns by name, first-seen order; a name whose type
    * differs across file generations becomes string.
    */
  def mergeFlatSchemas(flats: Seq[AvroSchemaConverter.FlatSchema]): AvroSchemaConverter.FlatSchema = {
    import graft.avro.AvroSparkType._
    val order = scala.collection.mutable.LinkedHashMap[String, TField]()
    flats.foreach { f =>
      f.payloadFields.foreach { tf =>
        order.get(tf.name) match {
          case None => order(tf.name) = tf
          case Some(prev) if prev.tpe == tf.tpe =>
            if (tf.nullable && !prev.nullable)
              order(tf.name) = prev.copy(nullable = true)
          case Some(prev) if prev.tpe != TString =>
            order(tf.name) = TField(tf.name, TString, nullable = true)
          case _ => ()
        }
      }
    }
    AvroSchemaConverter.FlatSchema(order.values.toSeq)
  }
}

class AvroCdcTable(
    globs: Seq[String], files: Seq[String], tableSchema: StructType,
    tableFlat: AvroSchemaConverter.FlatSchema,
    defaultIgnoreCorrupt: Boolean = false)
    extends Table with SupportsRead {
  override def name(): String = s"cdc-avro(${files.size} files)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new AvroCdcScanBuilder(globs, files, tableSchema, tableFlat,
      options.getBoolean("ignoreCorruptFiles", defaultIgnoreCorrupt))
}

class AvroCdcScanBuilder(
    globs: Seq[String], files: Seq[String], fullSchema: StructType,
    tableFlat: AvroSchemaConverter.FlatSchema, ignoreCorrupt: Boolean)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit {
  private var required: StructType = fullSchema
  private var prunedFiles: Seq[String] = files
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var limit: Int = -1

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve our column order; accept any subset
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(fullSchema.fields.filter(f => keep.contains(f.name)))
  }

  /** FILE pruning: predicates on the `_input_path` provenance column are
    * evaluated against the file list at PLANNING time — whole files are
    * skipped, the scan never opens them (the DSv2 analogue of partition
    * pruning; at a 100 TB landing zone this is the difference between
    * reading one folder and reading everything). All other filters are
    * left to Spark (rows must be decoded to evaluate them anyway).
    */
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter]):
      Array[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    val Col = AvroCdcDataSource.InputPathCol
    def prune(f: Filter): Option[String => Boolean] = f match {
      case EqualTo(Col, v: String) => Some(_ == v)
      case StringStartsWith(Col, v: String) => Some(_.startsWith(v))
      case StringEndsWith(Col, v: String) => Some(_.endsWith(v))
      case StringContains(Col, v: String) => Some(_.contains(v))
      case In(Col, vs) =>
        val set = vs.collect { case s: String => s }.toSet
        Some(set.contains)
      case _ => None
    }
    val (handled, rest) = filters.partition(f => prune(f).isDefined)
    handled.foreach(f => prunedFiles = prunedFiles.filter(prune(f).get))
    pushed = handled
    rest // residual filters Spark must still evaluate
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  /** Per-partition row cap: a global LIMIT n needs at most n rows from
    * each file, so each reader stops decoding after n rows.
    */
  override def pushLimit(n: Int): Boolean = {
    limit = n
    false // partial: Spark still applies the global limit
  }

  override def build(): Scan =
    new AvroCdcScan(globs, prunedFiles, required, tableFlat, ignoreCorrupt, limit)
}

class AvroCdcScan(
    globs: Seq[String], files: Seq[String], required: StructType,
    tableFlat: AvroSchemaConverter.FlatSchema, ignoreCorrupt: Boolean = false,
    limit: Int = -1)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"cdc-avro scan, ${files.size} files, columns=[${required.fieldNames.mkString(",")}]"

  /** Each file's length, read once per scan for both the plan and the
    * size estimate; a file gone since the listing keeps its error.
    */
  private lazy val wholeFiles: Seq[scala.util.Try[AvroCdcReader.FileSplit]] = {
    val conf = AvroCdcDataSource.hadoopConf
    files.map(f => scala.util.Try(AvroCdcReader.wholeFile(f, conf)))
  }

  /** One partition per bin of the converter's split plan
    * ([[graft.avro.AvroCdcReader.planBins]], same sync-marker split
    * contract): a few giant containers fan out across the cluster, small
    * files are packed a few to a partition.
    */
  override def planInputPartitions(): Array[InputPartition] =
    AvroCdcReader.planBins(org.apache.spark.sql.SparkSession.active, wholeFiles.map(_.get))
      .map(bin => AvroCdcBinPartition(
        bin.map(s => AvroCdcInputPartition(s.path, s.start, s.end, s.length))): InputPartition)
      .toArray

  /** Compressed on-disk bytes as the size estimate: lets Spark's join
    * planning auto-broadcast small CDC tables (e.g. catalog dimension
    * folders) instead of shuffling both sides.
    */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(wholeFiles.map(_.map(_.length).getOrElse(0L)).sum)
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
  }

  private def confBroadcast =
    AvroCdcReader.broadcastConf(org.apache.spark.sql.SparkSession.active)

  override def createReaderFactory(): PartitionReaderFactory =
    AvroCdcReaderFactory(required, tableFlat, confBroadcast, ignoreCorrupt, limit)

  override def toMicroBatchStream(checkpointLocation: String):
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new AvroCdcMicroBatchStream(globs, required, tableFlat, confBroadcast,
      ignoreCorrupt)
}

/** One split of a scan partition: the byte range `[start, end)` of a file
  * `length` bytes long, or, when `end < 0` (the micro-batch stream's
  * splits, one whole file per partition), the whole file.
  */
case class AvroCdcInputPartition(
    path: String, start: Long = 0L, end: Long = -1L, length: Long = -1L) {
  private[sources] def split(conf: Configuration): AvroCdcReader.FileSplit =
    if (end < 0) AvroCdcReader.wholeFile(path, conf)
    else AvroCdcReader.FileSplit(path, start, end, length)
}

/** One scan partition: the splits of one bin, read in turn. */
case class AvroCdcBinPartition(splits: Seq[AvroCdcInputPartition]) extends InputPartition

case class AvroCdcReaderFactory(
    required: StructType,
    tableFlat: AvroSchemaConverter.FlatSchema,
    conf: Broadcast[SerializableConfiguration],
    ignoreCorrupt: Boolean = false,
    limit: Int = -1) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    def open(p: AvroCdcInputPartition): PartitionReader[InternalRow] =
      try new AvroCdcPartitionReader(
        p.split(conf.value.value), required, tableFlat, conf.value.value, ignoreCorrupt, limit)
      catch {
        case _: Exception if ignoreCorrupt => new EmptyPartitionReader
      }
    new ChainedPartitionReader(
      partition.asInstanceOf[AvroCdcBinPartition].splits.iterator.map(open))
  }
}

/** ignoreCorruptFiles=true: an unreadable file contributes zero rows. */
class EmptyPartitionReader extends PartitionReader[InternalRow] {
  override def next(): Boolean = false
  override def get(): InternalRow =
    throw new IllegalStateException("empty reader")
  override def close(): Unit = ()
}

/** The rows of `readers` one reader after another, each opened when the
  * one before it is exhausted and closed then, so one file is open at a
  * time.
  */
class ChainedPartitionReader(readers: Iterator[PartitionReader[InternalRow]])
    extends PartitionReader[InternalRow] {
  private var current: PartitionReader[InternalRow] = new EmptyPartitionReader

  override def next(): Boolean = {
    while (!current.next()) {
      current.close()
      if (!readers.hasNext) return false
      current = readers.next()
    }
    true
  }

  override def get(): InternalRow = current.get()
  override def close(): Unit = current.close()
}

/** Streams one split of an Avro container as flattened InternalRows through
  * [[AvroCdcReader.RangeIterator]] (its sync-marker ownership and
  * truncation guard), decoding with a [[graft.avro.CdcRowReader]] compiled
  * once per file for the scan's `required` columns: the rest of the
  * payload is skipped undecoded. Values are coerced to the TABLE's merged
  * column types: a column whose per-file type matches converts natively; a
  * column merged to string (type conflict across file generations) is
  * stringified; anything else incompatible yields null.
  */
class AvroCdcPartitionReader(
    split: AvroCdcReader.FileSplit,
    required: StructType,
    tableFlat: AvroSchemaConverter.FlatSchema,
    conf: Configuration,
    ignoreCorrupt: Boolean,
    limit: Int) extends PartitionReader[InternalRow] {

  private var emitted = 0L

  private val rows = new AvroCdcReader.RangeIterator(split, conf,
    new CdcRowReader(AvroCdcPartitionReader.columns(required, tableFlat, split.path)))

  private var current: InternalRow = _

  /** A header that parses does not guarantee clean data blocks: with
    * ignoreCorruptFiles set, a decode failure or a truncated final block
    * treats the REST of the split as exhausted (rows already emitted
    * stand), mirroring Spark's own ignoreCorruptFiles semantics for its
    * built-in file sources.
    */
  override def next(): Boolean =
    if (!ignoreCorrupt) nextUnsafe()
    else
      try nextUnsafe()
      catch {
        case e: Exception =>
          AvroCdcDataSource.log.warn(
            s"cdc-avro: corrupt data block in ${split.path}, skipping rest of file: $e")
          false
      }

  private def nextUnsafe(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false // pushed-down LIMIT
    if (!rows.hasNext) return false
    emitted += 1
    current =
      try rows.next()
      catch { case CdcRowReader.ConversionFailure(e) => throw e }
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = rows.close()
}

object AvroCdcPartitionReader {

  /** The scan's columns for one file of writer schema `writer`. Each
    * payload column converts WITH the file's own (unit-aware) type when it
    * matches the table column, as string when the table merged it to
    * string, and is null on any other mismatch or when the file lacks it.
    */
  private[graft] def columns(
      required: StructType,
      tableFlat: AvroSchemaConverter.FlatSchema,
      path: String)(writer: Schema): Seq[CdcRowReader.Column] = {
    val tableByName = tableFlat.payloadFields.map(f => f.name -> f).toMap
    val target: Map[String, Option[AvroSparkType]] =
      AvroSchemaConverter.deriveFlatSchema(writer.toString).payloadFields.map { f =>
        f.name -> (tableByName.get(f.name) match {
          case Some(t) if t.tpe == f.tpe => Some(f.tpe)
          case Some(t) if t.tpe == AvroSparkType.TString => Some(AvroSparkType.TString)
          case Some(_) => None
          case None => Some(f.tpe) // single-schema mode: table == file
        })
      }.toMap
    required.fields.toSeq.map { f =>
      f.name match {
        case AvroCdcDataSource.InputPathCol =>
          CdcRowReader.Constant(UTF8String.fromString(path))
        case "source_metadata" => CdcRowReader.SourceMetadata
        case name =>
          target.get(name).flatten match {
            case Some(t) =>
              CdcRowReader.Payload(name, AvroValueConverter.Typed(t, ConvertMode.Standard))
            case None => CdcRowReader.Constant(null)
          }
      }
    }
  }
}
