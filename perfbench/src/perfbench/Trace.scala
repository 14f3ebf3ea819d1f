package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spark work done by one job, summed over its stages and tasks. */
final class JobWork(val jobId: Int, val submittedMs: Long) {
  var stages, tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite,
      spill = 0L
}

/** A span the benchmark opened around one call into a layer. */
final case class Span(id: Int, name: String, parent: Int,
                      startMs: Long, startNs: Long) {
  var endMs: Long = -1L
  var endNs: Long = -1L
}

/** Records spans and counts Spark work per job. A job belongs to every
  * span whose [start, end) wall-clock interval holds its submission
  * time; operations run one at a time, so that is the span that was
  * open when the job started, jobs from an operation's own futures
  * included. Attribution happens in the report, from the two lists. */
final class Tracer extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, JobWork]
  private val stageJob = new ConcurrentHashMap[Int, JobWork]
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Span]

  def span[A](name: String)(f: => A): A = {
    val s = Span(spans.size, name, open.headOption.fold(-1)(_.id),
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s :: open
    try f
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
    }
  }

  def allSpans: Seq[Span] = spans.toSeq
  def allJobs: Seq[JobWork] = jobs.values.asScala.toSeq.sortBy(_.jobId)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = new JobWork(e.jobId, e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(stageJob.putIfAbsent(_, j))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(j =>
      j.synchronized(j.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null) j.synchronized {
      j.tasks += 1
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.diskBytesSpilled
      }
    }
  }
}
