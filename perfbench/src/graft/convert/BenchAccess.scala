package graft.convert

/** What the benchmark's traced replay of `runOnce` needs from this package
  * beyond its public API, so the replay classifies a failed write job
  * exactly as `runOnce` does. */
object BenchAccess {
  def hasConversionCause(e: Throwable): Boolean = AvroToParquetJob.hasConversionCause(e)
}
