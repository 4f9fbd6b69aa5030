package layerbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._

/** Task-side counts for one job group. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var bytesRead = 0L
  var rowsRead = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  /** Task run intervals, epoch milliseconds. */
  val intervals = ArrayBuffer.empty[(Long, Long)]

  def +=(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    bytesRead += o.bytesRead; rowsRead += o.rowsRead
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    intervals ++= o.intervals
  }
}

/** Attributes jobs, stages and tasks to the job group that was set on the
  * driver thread when the job started. The benchmark tags every call into a
  * layer with its own group. */
final class LayerListener extends SparkListener {
  private val groups = new ConcurrentHashMap[String, Counts]
  private val stageGroup = new ConcurrentHashMap[Int, String]

  private def of(g: String): Counts = groups.computeIfAbsent(g, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    val c = of(g)
    c.synchronized { c.jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = of(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageGroup.getOrDefault(e.stageId, ""))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      c.taskMs += e.taskInfo.duration
      c.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      if (m != null) {
        c.bytesRead += m.inputMetrics.bytesRead
        c.rowsRead += m.inputMetrics.recordsRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
      }
    }
  }

  /** Counts of one group, empty when no job ran under it. */
  def get(group: String): Counts = Option(groups.get(group)).getOrElse(new Counts)
}
