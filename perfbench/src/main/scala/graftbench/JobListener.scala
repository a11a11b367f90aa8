package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The benchmark's own Spark listener: per-job wall interval and the summed
  * task metrics of each job. Times are epoch milliseconds (Spark's event
  * clock); callers mark window boundaries with System.currentTimeMillis. */
final class JobListener extends SparkListener {
  final class Job(val id: Int, val start: Long) {
    var end: Long = -1L
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new Job(e.jobId, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Finished jobs whose end falls in (from, to]. */
  def jobsEndingIn(sc: SparkContext, from: Long, to: Long): Seq[Job] = {
    org.apache.spark.graftbench.Bus.drain(sc)
    synchronized(jobs.valuesIterator.filter(j => j.end > from && j.end <= to).toVector)
  }

  def clear(): Unit = synchronized { jobs.clear(); stageJob.clear() }
}

/** Summed listener metrics of a set of jobs inside a window of `wallS`. */
final case class JobSummary(jobs: Int, tasks: Long, cpuS: Double, gcS: Double,
                            shuffleBytes: Long, spillBytes: Long, busyS: Double) {
  /** Window wall outside any Spark job: driver-side work. */
  def driverS(wallS: Double): Double = math.max(0.0, wallS - busyS)
}

object JobSummary {
  def of(js: Seq[JobListener#Job]): JobSummary = {
    // union of the jobs' [start, end] intervals
    var busy = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for (j <- js.sortBy(_.start)) {
      if (j.start > curE) { busy += curE - curS; curS = j.start; curE = j.end }
      else curE = math.max(curE, j.end)
    }
    busy += curE - curS
    JobSummary(js.length, js.map(_.tasks).sum, js.map(_.cpuNs).sum / 1e9,
      js.map(_.gcMs).sum / 1e3, js.map(_.shuffleBytes).sum, js.map(_.spillBytes).sum,
      if (js.isEmpty) 0.0 else busy / 1e3)
  }
}
