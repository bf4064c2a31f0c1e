package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans with parent ids, written as JSONL at the end of a
  * traced run. Single-threaded: spans nest on the driver thread that opens
  * them. Self time is a span's duration minus the time its children cover.
  */
final class Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  private val t0 = System.nanoTime()
  private val done = ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, Long)]
  private var nextId = 0

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    open = (id, name, System.nanoTime()) :: open
    try body
    finally {
      val (_, _, start) = open.head
      open = open.tail
      done += Span(id, parent, name, start, System.nanoTime())
    }
  }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)

  /** Durations of every closed span with this name, in opening order. */
  def durations(name: String): Seq[Double] =
    spans.filter(_.name == name).map(_.seconds)

  def children(parentId: Int): Seq[Span] = spans.filter(_.parent == parentId)

  /** name -> (count, total seconds, total self seconds) */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    done.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    done.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.size, ss.map(_.seconds).sum,
        ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e9).sum)
    }.sortBy(-_._4)
  }

  def writeJsonl(file: File, runId: String): Unit = {
    val w = new PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"run_id":"$runId","span":${s.id},"name":"${s.name}",""" +
        s""""parent":${s.parent},"start_s":${(s.startNs - t0) / 1e9},"end_s":${(s.endNs - t0) / 1e9}}""")
    } finally w.close()
  }

  def writeSummary(file: File): Unit = {
    val w = new PrintWriter(file, "UTF-8")
    try {
      w.println(f"${"span"}%-28s ${"count"}%7s ${"total_s"}%10s ${"self_s"}%10s")
      selfTimes.foreach { case (n, c, t, self) =>
        w.println(f"$n%-28s $c%7d $t%10.4f $self%10.4f")
      }
    } finally w.close()
  }
}

/** Spark scheduler counters, attached by the benchmark as a listener.
  * Read through [[snapshot]] after draining the listener bus. */
final class SparkCounters extends SparkListener {
  final case class Snap(jobs: Long, jobsFailed: Long, stages: Long, tasks: Long,
      singleTaskStages: Long, worstSkew: Double, shuffleBytes: Long,
      spillBytes: Long, taskTimeNs: Long)

  private var jobs, jobsFailed, stages, tasks, singleTaskStages = 0L
  private var shuffleBytes, spillBytes, taskTimeNs = 0L
  private var worstSkew = 1.0
  private val taskMs = mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += 1
    e.jobResult match {
      case JobSucceeded => ()
      case _ => jobsFailed += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
      e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      taskTimeNs += m.executorRunTime * 1000000L
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val info = e.stageInfo
    if (info.numTasks == 1) singleTaskStages += 1
    taskMs.remove((info.stageId, info.attemptNumber())).foreach { ms =>
      if (ms.size >= 2) {
        val sorted = ms.sorted
        val median = math.max(1L, sorted(sorted.size / 2))
        worstSkew = math.max(worstSkew, sorted.last.toDouble / median)
      }
    }
  }

  def snapshot(sc: SparkContext): Snap = {
    org.apache.spark.perfbench.ListenerDrain(sc)
    synchronized {
      Snap(jobs, jobsFailed, stages, tasks, singleTaskStages, worstSkew,
        shuffleBytes, spillBytes, taskTimeNs)
    }
  }

  /** Skew is per phase: the worst stage since the last reset. */
  def resetSkew(sc: SparkContext): Unit = {
    org.apache.spark.perfbench.ListenerDrain(sc)
    synchronized { worstSkew = 1.0 }
  }
}

object Jvm {
  /** (total GC seconds, GC count) since JVM start, over all collectors. */
  def gc(): (Double, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(b => math.max(0L, b.getCollectionTime)).sum / 1e3,
      beans.map(b => math.max(0L, b.getCollectionCount)).sum)
  }

  /** Used heap in MB after full collections: the lowest of four, a
    * quarter second apart, so Spark's ContextCleaner (which releases
    * broadcasts and shuffles only after a collection) has run. */
  def retainedHeapMb(): Double =
    (0 until 4).map { _ =>
      System.gc()
      Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min

  /** Seconds since this JVM started. */
  def sinceStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}
