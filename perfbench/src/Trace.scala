package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** One span of the trace tree workload → pass → op → phase → job → stage.
  * Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Double, end: Double, attrs: Map[String, Double] = Map.empty)

/** Spark's per-stage totals, summed over the stage's tasks. */
final case class StageTotals(tasks: Long, taskS: Double, cpuS: Double,
    gcS: Double, shuffleRead: Long, shuffleWrite: Long, spill: Long,
    outRows: Long) {
  def +(o: StageTotals): StageTotals = StageTotals(tasks + o.tasks,
    taskS + o.taskS, cpuS + o.cpuS, gcS + o.gcS, shuffleRead + o.shuffleRead,
    shuffleWrite + o.shuffleWrite, spill + o.spill, outRows + o.outRows)
}
object StageTotals {
  val zero: StageTotals = StageTotals(0, 0, 0, 0, 0, 0, 0, 0)
}

/** Records every Spark job and stage while attached. The harness tags
  * each call into the program with the local properties [[OpProp]] (the
  * op span id) and [[PhaseProp]] (the phase name), which Spark copies
  * onto every job the call starts, broadcast and subquery jobs included. */
final class Recorder extends SparkListener {
  final case class Job(id: Int, op: Long, phase: String, start: Double,
      var end: Double, stages: Seq[Int])
  final case class Stage(id: Int, attempt: Int, job: Int, start: Double,
      end: Double, totals: StageTotals)

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stages = mutable.ArrayBuffer.empty[Stage]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val byId = mutable.Map.empty[Int, Job]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val job = Job(e.jobId, prop(Recorder.OpProp).map(_.toLong).getOrElse(-1L),
      prop(Recorder.PhaseProp).getOrElse("none"), e.time.toDouble,
      e.time.toDouble, e.stageIds)
    jobs += job
    byId(e.jobId) = job
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      val totals = if (m == null) StageTotals.zero else StageTotals(
        si.numTasks, m.executorRunTime / 1e3, m.executorCpuTime / 1e9,
        m.jvmGCTime / 1e3, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.recordsWritten)
      stages += Stage(si.stageId, si.attemptNumber(),
        stageJob.getOrElse(si.stageId, -1),
        si.submissionTime.getOrElse(0L).toDouble,
        si.completionTime.getOrElse(0L).toDouble, totals)
    }

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); stageJob.clear(); byId.clear()
  }
}

object Recorder {
  val OpProp = "perfbench.op"
  val PhaseProp = "perfbench.phase"
}
