package graft.streaming

import org.apache.spark.sql.SparkSession

/** Checkpoint-I/O defaults for the engine's PRODUCTION streaming entry
  * points ([[graft.convert.AvroToParquetJob.runStreaming]],
  * [[graft.ops.Dedup.runStreamingDedup]]), applied through [[streamSession]].
  *
  * Spark 4.1's checkpoint-file checksums (new in 4.1, default on) write a
  * sidecar `<file>.crc` beside every state-store file; the offset and
  * commit logs get none. The r17 bench A/B on the 12-query streaming band
  * measured −14% (19.33 → 16.60 s) from turning them off. The damage they
  * detect is what HDFS block checksums and object-store ETag validation
  * already cover in production.
  *
  * Deployment opt-in: set
  * `spark.sql.streaming.checkpoint.fileChecksum.enabled=true` in the
  * SparkConf (spark-submit `--conf` / session builder) — an EXPLICIT
  * SparkConf entry is never overridden here. Otherwise a session-runtime
  * value is overridden for the entry point's own stream (RuntimeConfig
  * cannot distinguish explicitly-set-to-default from default), with a WARN.
  */
object CheckpointTuning {

  val FileChecksumKey = "spark.sql.streaming.checkpoint.fileChecksum.enabled"

  /** The deployment pinned the checksum conf in the SparkConf. */
  private[streaming] def pinnedInSubmitConf(conf: org.apache.spark.SparkConf): Boolean =
    conf.contains(FileChecksumKey)

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The session a production stream is built and started on: a clone of
    * `spark` with [[graft.io.LocalFs]]'s entries and, unless the
    * deployment pinned it in the SparkConf, checksums off (a
    * session-runtime value this replaces is reported through `warn`). Its
    * checkpoint logs, state stores and a file source's own log (made on the
    * stream thread after `start()` returns) all take them.
    */
  def streamSession(spark: SparkSession, warn: String => Unit = log.warn(_)): SparkSession = {
    val session = org.apache.spark.sql.graft.SessionBridge.cloneSession(spark)
    graft.io.LocalFs.options(spark).foreach { case (k, v) => session.conf.set(k, v) }
    if (!pinnedInSubmitConf(spark.sparkContext.getConf)) {
      // getAll holds only explicitly set entries, never bare defaults
      spark.conf.getAll.get(FileChecksumKey).filter(_ != "false").foreach { v =>
        warn(s"overriding runtime $FileChecksumKey=$v with false for this " +
          "streaming query; set it in the SparkConf to keep checksum files")
      }
      session.conf.set(FileChecksumKey, "false")
    }
    session
  }
}
