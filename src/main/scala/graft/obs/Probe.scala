package graft.obs

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.graft.ListenerBusBridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** Where a registered query's time goes, measured on the bench's own
  * session ([[graft.Bench.session]]):
  *
  * `sbt "runMain graft.obs.Probe <sfDir> [--plans <outDir> <suffix>] q1 [q2 …]"`
  *
  * Per query: one untimed warm pass, then three timed passes, each a `noop`
  * write as in the bench. Every timed pass prints one [[Pass.line]], and a
  * streaming query one [[Batch.line]] per micro-batch after it. With
  * `--plans`, each query's `explain("formatted")` is written to
  * `<outDir>/<q>_<suffix>.txt` instead, and nothing is timed.
  */
object Probe {

  /** One micro-batch; `state` holds each state operator's (commit ms, rows). */
  final case class Batch(stream: String, id: Long, inputRows: Long,
      durationMs: Map[String, Long], state: Seq[(Long, Long)]) {
    def line: String =
      s"[probe]   $stream batch=$id rows=$inputRows " +
        durationMs.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ") +
        state.map { case (ms, rows) => s" state_commit_ms=$ms state_rows=$rows" }.mkString
  }

  /** One pass of one query. `phaseMs` sums `QueryExecution.tracker` phases
    * over the query's DataFrame and every SQL execution of the pass.
    * `oneTaskStages` counts stages that ran on one core while the others
    * idled (round 18's single-task-stage fixes came from this count).
    * Shuffle bytes are the bytes written; spill and GC ms are summed over
    * tasks, so a pause that stops several running tasks counts for each.
    */
  final case class Pass(query: String, label: String, wallMs: Long,
      phaseMs: Map[String, Long], jobs: Int, stages: Int, tasks: Int,
      maxTaskMs: Long, medianTaskMs: Long, oneTaskStages: Int,
      shuffleBytes: Long, spillBytes: Long, gcMs: Long, batches: Seq[Batch]) {
    def line: String =
      s"[probe] $query $label wall_ms=$wallMs " +
        Seq("analysis", "optimization", "planning")
          .map(p => s"${p}_ms=${phaseMs.getOrElse(p, 0L)} ").mkString +
        s"jobs=$jobs stages=$stages tasks=$tasks task_max_ms=$maxTaskMs " +
        s"task_median_ms=$medianTaskMs one_task_stages=$oneTaskStages " +
        s"shuffle_bytes=$shuffleBytes spill_bytes=$spillBytes gc_ms=$gcMs"
  }

  /** Listens on `spark` until closed; nothing else may run on it during a pass. */
  final class Recorder(spark: SparkSession) extends AutoCloseable {
    private val jobs = new AtomicInteger
    private val stageTasks = new ConcurrentLinkedQueue[Int]
    /** per task: (ms, shuffle bytes written, spill bytes, GC ms) */
    private val tasks = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]
    private val executions = new ConcurrentLinkedQueue[QueryExecution]
    private val batches = new ConcurrentLinkedQueue[Batch]

    private val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        { stageTasks.add(e.stageInfo.numTasks); () }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = Option(e.taskMetrics)
        tasks.add((e.taskInfo.duration, m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
          m.fold(0L)(t => t.memoryBytesSpilled + t.diskBytesSpilled), m.fold(0L)(_.jvmGCTime)))
        ()
      }
    }
    private val executionListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { executions.add(qe); () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = { executions.add(qe); () }
    }
    private val streamListener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        batches.add(Batch(p.name, p.batchId, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.stateOperators.toSeq.map(s => (s.commitTimeMs, s.numRowsTotal))))
        ()
      }
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(executionListener)
    spark.streams.addListener(streamListener)

    /** Build `query` over `sfDir`, write it to `noop` and, once every
      * listener event has been delivered, return what the pass cost. */
    def run(query: String, sfDir: String, label: String): Pass = {
      ListenerBusBridge.drainListenerBus(spark)
      jobs.set(0)
      Seq(stageTasks, tasks, executions, batches).foreach(_.clear())
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(query)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val wallMs = (System.nanoTime() - t0) / 1000000
      ListenerBusBridge.drainListenerBus(spark)

      // a DataFrame collected as it is built is also one of the executions
      // (QueryExecution equality is identity)
      val phaseMs = (df.queryExecution +: executions.asScala.toSeq).distinct
        .flatMap(_.tracker.phases.toSeq).groupMapReduce(_._1)(_._2.durationMs)(_ + _)
      val ts = tasks.asScala.toSeq
      val ms = ts.map(_._1).sorted
      val stages = stageTasks.asScala.toSeq
      Pass(query, label, wallMs, phaseMs, jobs.get, stages.size, ts.size,
        ms.lastOption.getOrElse(0L), if (ms.isEmpty) 0L else ms(ms.size / 2),
        stages.count(_ == 1), ts.map(_._2).sum, ts.map(_._3).sum, ts.map(_._4).sum,
        batches.asScala.toSeq.sortBy(b => (b.stream, b.id)))
    }

    override def close(): Unit = {
      spark.streams.removeListener(streamListener)
      spark.listenerManager.unregister(executionListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
  }

  /** The command line on `spark`: write each query's plan, or time its
    * passes and print them. A `q_stream_*` query runs its stream while its
    * DataFrame is built, so its plan is the read of the stream's sink. */
  def run(spark: SparkSession, args: Seq[String]): Unit = args.toList match {
    case sfDir :: "--plans" :: outDir :: suffix :: queries if queries.nonEmpty =>
      Files.createDirectories(Paths.get(outDir))
      queries.foreach { q =>
        val plan =
          try SparkEntry.queries(q)(spark, sfDir).queryExecution.explainString(FormattedMode)
          catch { case e: Exception => s"<failed: ${e.getMessage}>" }
        val f = Paths.get(outDir, s"${q}_$suffix.txt")
        Files.writeString(f, plan)
        println(s"[probe] wrote $f")
      }
    case sfDir :: queries if queries.nonEmpty && !queries.contains("--plans") =>
      val recorder = new Recorder(spark)
      try queries.foreach { q =>
        try {
          recorder.run(q, sfDir, "warm")
          (1 to 3).foreach { i =>
            val pass = recorder.run(q, sfDir, s"pass$i")
            println(pass.line)
            pass.batches.foreach(b => println(b.line))
          }
        } catch { case e: Exception => println(s"[probe] $q failed: $e") }
      } finally recorder.close()
    case _ => throw new IllegalArgumentException(
      "usage: graft.obs.Probe <sfDir> [--plans <outDir> <suffix>] q1 [q2 ...]")
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.Bench.session()
    try run(spark, args.toSeq) finally spark.stop()
  }
}
