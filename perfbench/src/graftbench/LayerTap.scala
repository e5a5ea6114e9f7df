package graftbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler._

/** Scheduler counts per job group, for traced runs.
  *
  * The harness gives every traced span its own job group, so each job,
  * stage and task is charged to the span that launched it. Streaming
  * queries run their jobs under their own run id, which the harness maps
  * to the span of the stream phase.
  */
final class LayerTap extends SparkListener {
  final class Counts {
    var jobs = 0L
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shuffleWriteBytes = 0L
    var serialStageMs = 0L
  }

  private val byGroup = new ConcurrentHashMap[String, Counts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def counts(g: String): Counts = byGroup.computeIfAbsent(g, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val c = counts(g)
    c.synchronized(c.jobs += 1)
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    if (g != null && e.taskMetrics != null) {
      val c = counts(g)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val g = stageGroup.get(s.stageId)
    if (g != null && s.numTasks == 1)
      for (a <- s.submissionTime; b <- s.completionTime) {
        val c = counts(g)
        c.synchronized(c.serialStageMs += b - a)
      }
  }

  def get(group: String): Option[Counts] = Option(byGroup.get(group))
}
