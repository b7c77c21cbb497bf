package graft

import org.apache.spark.graftshim.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Per-stage task metrics over one window of Spark jobs — the single
  * task-end listener behind Bench's per-query columns, `Dev prof`'s stage
  * table and the skew tests' straggler assertions. Listener events post
  * asynchronously, so [[Metrics.window]] closes on a listener-bus drain,
  * not a sleep: every task of the body's jobs is counted, and nothing of
  * an earlier window's.
  */
final class Metrics private () extends SparkListener {
  private val byId = new java.util.concurrent.ConcurrentHashMap[Int, Metrics.Stage]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    // the first graft frame of the long call site: the generic
    // future-wrapper short form hides which operator owns a broadcast
    // build; the recorder's and the dev main's own frames name nothing
    val site = info.details.linesIterator
      .find(l => l.contains("graft.") && !l.contains("graft.Metrics") && !l.contains("graft.Dev"))
      .map(_.trim).getOrElse("")
    byId.putIfAbsent(info.stageId, new Metrics.Stage(info.stageId, info.name, site))
  }

  // one listener-bus thread delivers every event; readers come after the drain
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) {
    val m = e.taskMetrics
    val s = byId.computeIfAbsent(e.stageId, id => new Metrics.Stage(id, "", ""))
    s.tasks += 1
    s.taskMs += m.executorRunTime
    s.cpuNs += m.executorCpuTime
    s.gcMs += m.jvmGCTime
    s.deserMs += m.executorDeserializeTime
    s.maxTaskMs = math.max(s.maxTaskMs, m.executorRunTime)
    s.shuffleWriteRows += m.shuffleWriteMetrics.recordsWritten
    s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    s.maxShuffleReadBytes = math.max(s.maxShuffleReadBytes, m.shuffleReadMetrics.totalBytesRead)
  }

  def stages: Seq[Metrics.Stage] = byId.values.asScala.toSeq.sortBy(_.id)
  def tasks: Long = stages.map(_.tasks).sum
  def taskMs: Long = stages.map(_.taskMs).sum
  def cpuNs: Long = stages.map(_.cpuNs).sum
  def gcMs: Long = stages.map(_.gcMs).sum
  def deserMs: Long = stages.map(_.deserMs).sum
  def maxTaskMs: Long = stages.map(_.maxTaskMs).maxOption.getOrElse(0L)
  def shuffleWriteRows: Long = stages.map(_.shuffleWriteRows).sum
  def shuffleWriteBytes: Long = stages.map(_.shuffleWriteBytes).sum
  def maxShuffleReadBytes: Long = stages.map(_.maxShuffleReadBytes).maxOption.getOrElse(0L)
}

object Metrics {
  final class Stage(val id: Int, val name: String, val site: String) {
    var tasks = 0L
    var taskMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var deserMs = 0L
    var maxTaskMs = 0L
    var shuffleWriteRows = 0L
    var shuffleWriteBytes = 0L
    var maxShuffleReadBytes = 0L
  }

  /** Runs `body` with a fresh recorder attached: drain, add, run, drain,
    * remove. The body's own exceptions propagate after the recorder is
    * detached; callers that need the metrics of a failed run catch inside.
    */
  def window[T](spark: SparkSession)(body: => T): (T, Metrics) = {
    val sc = spark.sparkContext
    val m = new Metrics()
    ListenerBridge.waitUntilListenerBusEmpty(sc)
    sc.addSparkListener(m)
    try {
      val out = body
      ListenerBridge.waitUntilListenerBusEmpty(sc)
      (out, m)
    } finally sc.removeSparkListener(m)
  }
}
