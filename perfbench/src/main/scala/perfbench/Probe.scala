package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Totals for the Spark jobs that carried one tag. */
final class JobAgg {
  var jobs, stages, tasks = 0L
  var taskRunMs, gcMs, shuffleWriteBytes, shuffleReadBytes, spillBytes, recordsRead = 0L
  /** Run time of every task, per stage: the input of [[taskSkew]]. */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Max over median task time in the stage whose slowest task is the
    * slowest of all (the stage on the critical path); 1.0 with no tasks. */
  def taskSkew: Double =
    if (stageTaskMs.isEmpty) 1.0
    else {
      val ts = stageTaskMs.values.maxBy(_.max).sorted
      ts.last.toDouble / math.max(1.0, Stats.quantile(ts.map(_.toDouble).toSeq, 0.5))
    }
}

/** A SparkListener the benchmark registers itself. Every job is attributed
  * to the value of the [[Probe.TagKey]] local property on the thread that
  * submitted it, so a job lands in the phase that was open when it started
  * (broadcast and AQE stage threads inherit the submitter's properties).
  * A job without the property (a streaming query started untagged) is
  * attributed to [[window]] as it reads when the event is delivered. */
final class Probe extends SparkListener {
  @volatile var window: String = Probe.Untagged
  private val byTag = mutable.Map.empty[String, JobAgg]
  private val stageTag = mutable.Map.empty[Int, String]

  private def agg(tag: String): JobAgg = byTag.getOrElseUpdate(tag, new JobAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Probe.TagKey)))
      .getOrElse(window)
    agg(tag).jobs += 1
    e.stageInfos.foreach(s => stageTag.getOrElseUpdate(s.stageId, tag))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageTag.get(e.stageInfo.stageId).foreach(agg(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageTag.get(e.stageId).filter(_ => m != null).foreach { tag =>
      val a = agg(tag)
      val runMs = m.executorRunTime
      a.tasks += 1
      a.taskRunMs += runMs
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.recordsRead += m.inputMetrics.recordsRead
      a.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += runMs
    }
  }

  /** Removes and returns the totals of `tag`, after every event posted so
    * far has been delivered. */
  def take(sc: SparkContext, tag: String): JobAgg = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(byTag.remove(tag).getOrElse(new JobAgg))
  }
}

object Probe {
  val TagKey = "perfbench.tag"
  val Untagged = "untagged"

  /** Runs `f` with every job it submits tagged `tag`. */
  def tagged[T](sc: SparkContext, tag: String)(f: => T): T = {
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    try f finally sc.setLocalProperty(TagKey, prev)
  }
}

object Stats {
  /** Linear interpolation between closest ranks; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length

  def ms(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e6
}
