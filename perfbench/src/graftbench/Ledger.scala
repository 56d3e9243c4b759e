package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task, stage and job counters for every job, plus the job group each
  * job was submitted under. All callbacks run on the listener-bus thread;
  * readers call [[drain]] first and then read under the same lock. */
final class Ledger(sc: SparkContext) extends SparkListener {

  /** Counters of one job (or, summed, of a set of jobs). */
  final class Acc {
    var jobs, stages, tasks, runMs, cpuNs, shuffleWrite, shuffleRead,
      spill, recordsRead, bytesRead, recordsWritten = 0L
    def +=(o: Acc): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      runMs += o.runMs; cpuNs += o.cpuNs
      shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      spill += o.spill; recordsRead += o.recordsRead
      bytesRead += o.bytesRead; recordsWritten += o.recordsWritten
    }
  }

  private val groupOfJob = mutable.Map.empty[Int, String]
  private val jobOfStage = mutable.Map.empty[Int, Int]
  private val perJob = mutable.Map.empty[Int, Acc]
  private val ended = mutable.Set.empty[Int]
  private var endedBelow = 0 // every job id below this has ended

  private def acc(job: Int): Acc = perJob.getOrElseUpdate(job, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.foreach(groupOfJob(e.jobId) = _)
    e.stageIds.foreach(s => if (!jobOfStage.contains(s)) jobOfStage(s) = e.jobId)
    acc(e.jobId).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      jobOfStage.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    jobOfStage.get(e.stageId).foreach { j =>
      val a = acc(j)
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.recordsRead += m.inputMetrics.recordsRead
        a.bytesRead += m.inputMetrics.bytesRead
        a.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    ended += e.jobId
    while (ended.remove(endedBelow)) endedBelow += 1
    notifyAll()
  }

  /** Jobs submitted so far; ids of later jobs are at least this. */
  def submitted: Int = GraftBenchBridge.submittedJobs(sc)

  /** Block until the end event of every job submitted before the call
    * has been delivered, so the counters are complete. */
  def drain(timeoutMs: Long = 60000L): Unit = {
    val upTo = submitted
    val deadline = System.currentTimeMillis() + timeoutMs
    synchronized {
      while (endedBelow < upTo && System.currentTimeMillis() < deadline)
        wait(20)
      require(endedBelow >= upTo,
        s"listener drain timed out: job ${endedBelow} of $upTo has no end event")
    }
  }

  /** Summed counters of the jobs with ids in [from, until). */
  def jobs(from: Int, until: Int): Acc = synchronized {
    val t = new Acc
    (from until until).foreach(j => perJob.get(j).foreach(t += _))
    t
  }

  /** Summed counters of the jobs submitted under job group `group`. */
  def group(group: String): Acc = synchronized {
    val t = new Acc
    groupOfJob.foreach { case (j, g) =>
      if (g == group) perJob.get(j).foreach(t += _)
    }
    t
  }
}
