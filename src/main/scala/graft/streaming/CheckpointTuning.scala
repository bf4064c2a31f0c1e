package graft.streaming

import org.apache.spark.sql.SparkSession

/** Checkpoint-I/O defaults for the engine's PRODUCTION streaming entry
  * points ([[graft.convert.AvroToParquetJob.runStreaming]],
  * [[graft.ops.Dedup.runStreamingDedup]]).
  *
  * Spark 4.1's checkpoint-file checksums (new in 4.1, default on) write
  * a SIDECAR checksum file for every offset-log, commit-log and
  * state-store delta file — doubling the synchronous file creations on
  * every micro-batch commit. The r17 bench A/B on the 12-query streaming
  * band measured −14% (19.33 → 16.60 s) from turning them off; the same
  * conf was previously applied only in the BENCH session builder, so the
  * shipped streaming service paid the cost the bench didn't (r17 verdict
  * item 4). The corruption the sidecars detect is in-flight/at-rest file
  * damage that HDFS block checksums and object-store ETag validation
  * already cover in production.
  *
  * Deployment opt-in: set
  * `spark.sql.streaming.checkpoint.fileChecksum.enabled=true` in the
  * SparkConf (spark-submit `--conf` / session builder) — an EXPLICIT
  * SparkConf entry is respected and never overridden here. Only when the
  * deployment expressed no preference does the entry point apply the
  * engine default (off). Session-runtime `spark.conf.set(...)` calls made
  * before the entry point are overridden (RuntimeConfig cannot
  * distinguish explicitly-set-to-default from default) and the override is
  * logged as a WARN; use the SparkConf for a durable opt-in.
  */
object CheckpointTuning {

  val FileChecksumKey = "spark.sql.streaming.checkpoint.fileChecksum.enabled"

  /** The deployment pinned the checksum conf in the SparkConf
    * (spark-submit `--conf` / session builder) — respected verbatim.
    */
  private[streaming] def pinnedInSubmitConf(
      conf: org.apache.spark.SparkConf): Boolean =
    conf.contains(FileChecksumKey)

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Apply the engine's streaming checkpoint-I/O defaults to `spark`
    * unless the deployment pinned them in the SparkConf. A session-runtime
    * value it replaces is reported through `warn` (the log's WARN level
    * unless a caller passes its own sink).
    */
  def applyStreamingDefaults(
      spark: SparkSession,
      warn: String => Unit = log.warn(_)): Unit =
    if (!pinnedInSubmitConf(spark.sparkContext.getConf)) {
      // getAll holds only explicitly set entries, never bare defaults
      spark.conf.getAll.get(FileChecksumKey).filter(_ != "false").foreach { v =>
        warn(s"overriding runtime $FileChecksumKey=$v with false for this " +
          "streaming query; set it in the SparkConf to keep checksum files")
      }
      spark.conf.set(FileChecksumKey, "false")
    }
}
