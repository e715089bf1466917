package graft.perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** What one completed stage did, charged to the span whose job group
  * launched it (`span` = -1 when no span was open). */
final case class StageRec(span: Int, submitMs: Long, completeMs: Long,
                          tasks: Int, shuffleMap: Boolean, cpuNs: Long,
                          shuffleRead: Long, shuffleWrite: Long, spill: Long,
                          recordsRead: Long)

/** Spark listener that keeps, per completed stage, the counters the traced
  * run reports (attribution is by the job group the [[Tracer]] sets for
  * each span), plus the Catalyst phase times of the latest finished
  * action. */
final class SparkCounters(spark: SparkSession) {
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = ArrayBuffer.empty[StageRec]
  private val jobs = ArrayBuffer.empty[Int]

  private def spanOfProps(p: java.util.Properties): Int =
    Option(p).flatMap(pp => Tracer.spanOf(pp.getProperty("spark.jobGroup.id")))
      .getOrElse(-1)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val s = spanOfProps(e.properties)
      e.stageIds.foreach(id => stageSpan.putIfAbsent(id, s))
      jobs.synchronized(jobs += s)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      if (i.failureReason.isEmpty) {
        val m = i.taskMetrics
        val rec = StageRec(
          span = stageSpan.getOrDefault(i.stageId, -1),
          submitMs = i.submissionTime.getOrElse(0L),
          completeMs = i.completionTime.getOrElse(0L),
          tasks = i.numTasks, shuffleMap = org.apache.spark.perfbench.ListenerBus.isShuffleMap(i),
          cpuNs = m.executorCpuTime,
          shuffleRead = m.shuffleReadMetrics.totalBytesRead,
          shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
          spill = m.memoryBytesSpilled + m.diskBytesSpilled,
          recordsRead = m.inputMetrics.recordsRead)
        stages.synchronized(stages += rec)
      }
    }
  }

  @volatile private var last: Option[(Long, Long, Long)] = None
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      last = Some((ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** (analysis, optimization, planning) ms of the action that finished
    * last; the caller runs actions one at a time from one thread. */
  def lastPhases(): Option[(Long, Long, Long)] = { drain(); last }

  /** Wait until every event posted so far has been handled. */
  def drain(): Unit =
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  def stageRecs: Seq[StageRec] = { drain(); stages.synchronized(stages.toList) }
  /** The span of every job started so far, in start order. */
  def jobSpans: Seq[Int] = { drain(); jobs.synchronized(jobs.toList) }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

/** JVM-wide counters read at pass boundaries: GC time and peak heap. */
object JvmCounters {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def resetPeakHeap(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since the last reset, in MiB. */
  def peakHeapMb(): Double =
    heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)
}
