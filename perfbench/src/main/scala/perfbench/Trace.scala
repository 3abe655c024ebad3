package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op accounting read from Spark's public listener APIs. Each timed op
  * runs under its own job group (`op-<n>`), so jobs, stages and tasks are
  * attributed by group; query-planning phases come from each executed
  * query's `QueryExecution.tracker` and are attributed to the op whose
  * wall-clock window contains them.
  */
final class OpStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
}

final class Tracer(spark: SparkSession) {
  private val byOp = mutable.HashMap.empty[Int, OpStats]
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private val jobOp = mutable.HashMap.empty[Int, (Int, Long)]
  private val windows = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val pendingPlans = mutable.ArrayBuffer.empty[QueryExecution]
  @volatile private var events = 0L
  @volatile private var openJobs = 0

  private def stats(op: Int): OpStats = byOp.getOrElseUpdate(op, new OpStats)

  private def opOfGroup(group: String): Option[Int] =
    Option(group).filter(_.startsWith("op-")).map(_.drop(3).toInt)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      events += 1
      openJobs += 1
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      opOfGroup(group).foreach { op =>
        stats(op).jobs += 1
        jobOp(e.jobId) = (op, e.time)
        e.stageIds.foreach(stageOp(_) = op)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      events += 1
      openJobs -= 1
      jobOp.remove(e.jobId).foreach { case (op, start) =>
        stats(op).jobSpans += ((start, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      events += 1
      stageOp.get(e.stageInfo.stageId).foreach(stats(_).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      events += 1
      for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
        val s = stats(op)
        s.tasks += 1
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillBytes += m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
        s.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      events += 1
      pendingPlans += qe
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
  }

  /** Run `body` as traced op `op`: its jobs carry the op's job group. */
  def around[T](op: Int, name: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(s"op-$op", name, interruptOnCancel = false)
    val start = System.currentTimeMillis()
    try body
    finally {
      synchronized(windows += ((op, start, System.currentTimeMillis())))
      spark.sparkContext.clearJobGroup()
    }
  }

  /** Wait until the asynchronous listener bus has delivered every event
    * of the ops run so far (no open jobs and no new events for 200 ms). */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1L
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val now = System.currentTimeMillis()
      if (events != last || openJobs > 0) { last = events; stableSince = now }
      else if (now - stableSince >= 200) return
      Thread.sleep(20)
    }
  }

  /** Stats per op; planning phases are attributed here, after a drain. */
  def collect(): Map[Int, OpStats] = synchronized {
    pendingPlans.foreach { qe =>
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val at = phases.values.map(_.startTimeMs).min
        windows.find { case (_, s, e) => at >= s && at <= e }.foreach { case (op, _, _) =>
          val st = stats(op)
          def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
          st.analysisMs += ms("analysis")
          st.optimizationMs += ms("optimization")
          st.planningMs += ms("planning")
        }
      }
    }
    pendingPlans.clear()
    byOp.toMap
  }
}

object Tracer {
  /** Milliseconds of `[start, end]` covered by the union of `spans`. */
  def covered(spans: Seq[(Long, Long)], start: Long, end: Long): Long = {
    var total = 0L
    var cursor = start
    for ((s, e) <- spans.sortBy(_._1)) {
      val lo = math.max(s, cursor)
      val hi = math.min(e, end)
      if (hi > lo) { total += hi - lo; cursor = hi }
    }
    total
  }
}
