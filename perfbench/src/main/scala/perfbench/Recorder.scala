package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbenchshim.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One finished task as the listener saw it. */
final case class TaskRec(finishMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                         shuffleWriteBytes: Long, shuffleWriteRows: Long,
                         spillBytes: Long, inputBytes: Long)

/** A timed call into the program: wall clock in ns for the duration, epoch
  * ms for matching the task and job events that fall inside it.
  */
final case class Span(id: Int, name: String, parent: Int,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Executor counters summed over a time window. */
final case class Window(taskS: Double, cpuS: Double, gcS: Double, maxTaskS: Double,
                        tasks: Long, shuffleWriteMb: Double, shuffleWriteRows: Long,
                        spillMb: Double, inputMb: Double, jobs: Long)

/** Records task ends, job starts and streaming progress for the whole run,
  * plus spans around the benchmark's calls when tracing is on. Counters are
  * attributed to spans and passes afterwards by time window, so an open or
  * closed span costs two clock reads and no listener-bus drain.
  */
final class Recorder(spark: SparkSession, val runId: String) {
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  /** (trigger epoch ms, batch duration ms, state rows) per streaming micro-batch. */
  private val batches = new ConcurrentLinkedQueue[(Long, Long, Long)]()
  private val spanBuf = ArrayBuffer[Span]()
  private var openSpans = List.empty[Int]
  private var nextId = 0

  var tracing = false
  var cachedPeakBytes = 0L
  var persistedPeak = 0

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(
        e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.diskBytesSpilled, m.inputMetrics.bytesRead))
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      batches.add((java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
        e.progress.batchDuration, e.progress.stateOperators.map(_.numRowsTotal).sum))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  def drain(): Unit = ListenerDrain(spark.sparkContext)

  def span[A](name: String)(body: => A): A =
    if (!tracing) body
    else {
      val id = nextId
      nextId += 1
      val parent = openSpans.headOption.getOrElse(-1)
      openSpans = id :: openSpans
      val startNs = System.nanoTime()
      val startMs = System.currentTimeMillis()
      try body
      finally {
        spanBuf += Span(id, name, parent, startNs, System.nanoTime(), startMs,
          System.currentTimeMillis())
        openSpans = openSpans.tail
      }
    }

  def spans: Seq[Span] = spanBuf.toSeq

  /** Wall of `s` minus the walls of its direct children. */
  def selfS(s: Span): Double =
    s.wallS - spanBuf.iterator.filter(_.parent == s.id).map(_.wallS).sum

  /** Counters of the tasks that finished and the jobs that started inside
    * [startMs, endMs]. Call [[drain]] first.
    */
  def window(startMs: Long, endMs: Long): Window = {
    val ts = tasks.asScala.filter(t => t.finishMs >= startMs && t.finishMs <= endMs).toSeq
    val mb = 1024.0 * 1024.0
    Window(
      taskS = ts.map(_.runMs).sum / 1e3,
      cpuS = ts.map(_.cpuNs).sum / 1e9,
      gcS = ts.map(_.gcMs).sum / 1e3,
      maxTaskS = if (ts.isEmpty) 0.0 else ts.map(_.runMs).max / 1e3,
      tasks = ts.size.toLong,
      shuffleWriteMb = ts.map(_.shuffleWriteBytes).sum / mb,
      shuffleWriteRows = ts.map(_.shuffleWriteRows).sum,
      spillMb = ts.map(_.spillBytes).sum / mb,
      inputMb = ts.map(_.inputBytes).sum / mb,
      jobs = jobStarts.asScala.count(t => t >= startMs && t <= endMs).toLong)
  }

  def window(s: Span): Window = window(s.startMs, s.endMs)

  /** (duration ms, state rows) of the micro-batches triggered inside
    * [startMs, endMs].
    */
  def streamBatches(startMs: Long, endMs: Long): Seq[(Long, Long)] =
    batches.asScala.toSeq.collect { case (t, d, r) if t >= startMs && t <= endMs => (d, r) }

  /** Memory plus disk bytes held by persisted RDDs right now; keeps the peak. */
  def sampleStorage(): Unit = {
    val infos = spark.sparkContext.getRDDStorageInfo
    cachedPeakBytes = math.max(cachedPeakBytes, infos.map(i => i.memSize + i.diskSize).sum)
    persistedPeak = math.max(persistedPeak, infos.length)
  }

  def resetStoragePeak(): Unit = { cachedPeakBytes = 0L; persistedPeak = 0 }
}
