package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Offset = the set of files processed so far (sorted, JSON-encoded).
  * A micro-batch is `end.files - start.files`.
  */
case class AvroCdcOffset(files: Seq[String]) extends Offset {
  override def json(): String = {
    val mapper = new ObjectMapper()
    val arr = mapper.createArrayNode()
    files.foreach(arr.add)
    mapper.writeValueAsString(arr)
  }
}

object AvroCdcOffset {
  def fromJson(json: String): AvroCdcOffset = {
    val node = new ObjectMapper().readTree(json)
    val files = (0 until node.size()).map(node.get(_).asText())
    AvroCdcOffset(files)
  }
}

/** Structured Streaming micro-batch source over a CDC Avro glob: the
  * reference's continuous discovery with seen-file deduplication
  * (`MatchContinuously(has_deduplication=True)`, main.py:604-608) as a
  * first-class Spark streaming source — newly appeared files become the
  * next micro-batch, the processed-file set lives in the streaming
  * checkpoint (exactly-once across restarts), and each file is one
  * whole-file input partition read by the same flattening reader as the
  * batch scan.
  */
class AvroCdcMicroBatchStream(
    globs: Seq[String],
    required: StructType,
    tableFlat: graft.avro.AvroSchemaConverter.FlatSchema,
    conf: Broadcast[SerializableConfiguration],
    ignoreCorrupt: Boolean = false) extends MicroBatchStream {

  override def initialOffset(): Offset = AvroCdcOffset(Seq.empty)

  override def latestOffset(): Offset =
    AvroCdcOffset(graft.avro.AvroCdcReader.listFiles(globs, conf.value.value))

  override def deserializeOffset(json: String): Offset = AvroCdcOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[AvroCdcOffset].files.toSet
    end.asInstanceOf[AvroCdcOffset].files
      .filterNot(seen.contains)
      .map(f => AvroCdcBinPartition(Seq(AvroCdcInputPartition(f))): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    AvroCdcReaderFactory(required, tableFlat, conf, ignoreCorrupt)

  override def commit(end: Offset): Unit = () // offsets live in the checkpoint

  override def stop(): Unit = ()
}
