package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** One completed stage attempt, with its task metrics summed over tasks. */
final case class StageRec(
    group: String, submittedMs: Long, completedMs: Long, tasks: Int,
    runS: Double, cpuS: Double, gcS: Double,
    readBytes: Long, readRecords: Long, fetchWaitS: Double,
    writeBytes: Long, writeRecords: Long, spillBytes: Long,
    taskMaxS: Double, taskMedianS: Double) {
  def wallS: Double = (completedMs - submittedMs) / 1e3
  /** Reduce side: the stage reads a shuffle (sort, walker, final aggregates). */
  def readsShuffle: Boolean = readBytes > 0 || readRecords > 0
}

/** A timed benchmark operation. Its id is the Spark job group its jobs ran
  * under, so the listener's stages can be joined back to it.
  */
final case class Span(name: String, id: String, t0: Long, t1: Long, traced: Boolean) {
  def wallS: Double = (t1 - t0) / 1e9
}

/** What the listener attributes to one span. */
final case class SpanStats(
    wallS: Double, jobs: Int, tasks: Int, stageUnionS: Double,
    mapS: Double, mapCpuS: Double, reduceS: Double,
    exchangeBytes: Long, exchangeRecords: Long, fetchWaitS: Double,
    spillBytes: Long, gcS: Double, skew: Double) {
  /** Wall time no stage was running: planning, codegen, job scheduling. */
  def fixedS: Double = math.max(0.0, wallS - stageUnionS)
}

/** Benchmark-side SparkListener keyed by job group: one group per span.
  * It keeps everything in memory; the run writes it out when it ends.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobsByGroup = mutable.Map.empty[String, Int]
  private val taskTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private var busyNanos = 0L

  /** Seconds this listener has spent handling events: its own cost. */
  def busyS: Double = synchronized(busyNanos / 1e9)

  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    busyNanos += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobsByGroup(g) = jobsByGroup.getOrElse(g, 0) + 1
    e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    if (e.taskInfo != null)
      taskTimes.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val i = e.stageInfo
    val times = taskTimes.remove((i.stageId, i.attemptNumber()))
      .map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
    val m = i.taskMetrics
    val sub = i.submissionTime.getOrElse(0L)
    stages += StageRec(
      group = stageGroup.getOrElse(i.stageId, ""),
      submittedMs = sub, completedMs = i.completionTime.getOrElse(sub),
      tasks = i.numTasks,
      runS = if (m == null) 0 else m.executorRunTime / 1e3,
      cpuS = if (m == null) 0 else m.executorCpuTime / 1e9,
      gcS = if (m == null) 0 else m.jvmGCTime / 1e3,
      readBytes = if (m == null) 0 else m.shuffleReadMetrics.totalBytesRead,
      readRecords = if (m == null) 0 else m.shuffleReadMetrics.recordsRead,
      fetchWaitS = if (m == null) 0 else m.shuffleReadMetrics.fetchWaitTime / 1e3,
      writeBytes = if (m == null) 0 else m.shuffleWriteMetrics.bytesWritten,
      writeRecords = if (m == null) 0 else m.shuffleWriteMetrics.recordsWritten,
      spillBytes = if (m == null) 0 else m.memoryBytesSpilled + m.diskBytesSpilled,
      taskMaxS = if (times.isEmpty) 0 else times.last / 1e3,
      taskMedianS = if (times.isEmpty) 0 else times(times.length / 2) / 1e3)
  }

  def stagesOf(group: String): Seq[StageRec] = synchronized(stages.filter(_.group == group).toSeq)

  def statsOf(span: Span): SpanStats = synchronized {
    val st = stagesOf(span.id)
    val (reduce, map) = st.partition(_.readsShuffle)
    // the reduce stage that did the most work decides the skew figure
    val skew = reduce.filter(_.tasks >= 2).sortBy(-_.runS).headOption
      .map(s => if (s.taskMedianS > 0) s.taskMaxS / s.taskMedianS else 1.0).getOrElse(1.0)
    SpanStats(
      wallS = span.wallS, jobs = jobsByGroup.getOrElse(span.id, 0), tasks = st.map(_.tasks).sum,
      stageUnionS = unionS(st),
      mapS = map.map(_.wallS).sum, mapCpuS = map.map(_.cpuS).sum, reduceS = reduce.map(_.wallS).sum,
      exchangeBytes = st.map(_.writeBytes).sum, exchangeRecords = st.map(_.writeRecords).sum,
      fetchWaitS = st.map(_.fetchWaitS).sum, spillBytes = st.map(_.spillBytes).sum,
      gcS = st.map(_.gcS).sum, skew = skew)
  }

  private def unionS(st: Seq[StageRec]): Double = {
    var total = 0L
    var end = Long.MinValue
    st.map(s => (s.submittedMs, s.completedMs)).sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total / 1e3
  }
}
