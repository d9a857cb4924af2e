package graft.kgbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.kgbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark did during one span: its jobs, the summed task metrics of
  * their stages, the shuffle exchanges of the queries that ran, and the
  * peak of cached RDD blocks. */
final case class SparkWork(
    jobs: Seq[(Int, Long, Long)], // (job id, start ms, end ms)
    taskRunS: Double, taskCpuS: Double, gcS: Double,
    inputBytes: Long, shuffleWriteBytes: Long, outputBytes: Long,
    spillBytes: Long, stageSkew: Double, exchanges: Int,
    cachePeakBytes: Long) {

  /** Span wall time not covered by any job. */
  def driverGapS(startMs: Long, endMs: Long): Double = {
    var covered = 0L
    var cursor = startMs
    jobs.map(j => (j._2.max(startMs), j._3.min(endMs))).sortBy(_._1).foreach {
      case (s, e) =>
        if (e > cursor) { covered += e - s.max(cursor); cursor = e }
    }
    ((endMs - startMs) - covered).max(0L) / 1e3
  }
}

/** Listens to Spark from outside the program: a SparkListener for jobs,
  * tasks and block updates, a QueryExecutionListener for the executed
  * plans. [[take]] drains the listener bus, so it returns everything that
  * happened since the previous call. */
final class Recorder(sc: SparkContext) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {

  private final class StageAcc {
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  private val jobStarts = mutable.HashMap.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val stages = mutable.HashMap.empty[Int, StageAcc]
  private var runMs, cpuNs, gcMs = 0L
  private var inBytes, shWrite, outBytes, spill = 0L
  private var exchanges = 0
  private val blocks = mutable.HashMap.empty[String, Long]
  private var cached, cachePeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += ((e.jobId, jobStarts.remove(e.jobId).getOrElse(e.time), e.time))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.getOrElseUpdate(e.stageId, new StageAcc).durations += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      inBytes += m.inputMetrics.bytesRead
      shWrite += m.shuffleWriteMetrics.bytesWritten
      outBytes += m.outputMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val id = info.blockId.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cached += size - blocks.getOrElse(id, 0L)
      if (size == 0L) blocks.remove(id) else blocks(id) = size
      cachePeak = cachePeak.max(cached)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val n = collectWithSubqueries(qe.executedPlan) {
      case e: ShuffleExchangeLike => e
    }.size
    synchronized { exchanges += n }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      e: Exception): Unit = ()

  /** Everything since the previous call, after draining the bus. */
  def take(): SparkWork = {
    Bus.drain(sc)
    synchronized {
      def skew(d: Seq[Long]): Double =
        if (d.length < 2) 1.0
        else d.max.toDouble / math.max(1.0, Stats.median(d.map(_.toDouble)))
      val w = SparkWork(jobs.toSeq.sortBy(_._2), runMs / 1e3, cpuNs / 1e9,
        gcMs / 1e3, inBytes, shWrite, outBytes, spill,
        (stages.values.map(s => skew(s.durations.toSeq)) ++ Seq(1.0)).max,
        exchanges, cachePeak)
      jobs.clear(); stages.clear()
      runMs = 0; cpuNs = 0; gcMs = 0
      inBytes = 0; shWrite = 0; outBytes = 0; spill = 0
      exchanges = 0; cachePeak = cached
      w
    }
  }
}

/** Micro-batch durations reported by `StreamingQueryProgress`. */
final class ProgressRecorder extends StreamingQueryListener {
  private val progress = mutable.ArrayBuffer.empty[Map[String, Double]]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.numInputRows > 0) synchronized {
      import scala.jdk.CollectionConverters._
      progress += e.progress.durationMs.asScala.map { case (k, v) =>
        k -> v.toDouble / 1e3 }.toMap
    }
  def batches: Seq[Map[String, Double]] = synchronized(progress.toSeq)
}
