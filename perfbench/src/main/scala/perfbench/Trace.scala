package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Bridge
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** One timed operation of a pass: its span, its outcome and, on traced
  * passes, everything the listeners attributed to it. Listener threads
  * write the counters; the runner reads them after draining the bus. */
final class OpRec(val pass: Int, val name: String, val family: String) {
  val id: String = s"p$pass:$name:${System.nanoTime()}"
  var t0 = 0L
  var t1 = 0L
  var ok = true
  var error: String = ""
  var hash: String = ""
  var rows: Int = -1

  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  val taskSpans = ArrayBuffer.empty[(Long, Long)] // epoch ms
  val jobSpans = scala.collection.mutable.LinkedHashMap.empty[Int, (Long, Long)]
  var actions = 0
  var planningMs = 0L
  val batchMs = ArrayBuffer.empty[Long]
  var addBatchMs = 0L
  var streamPlanningMs = 0L
  var commitMs = 0L
  var inputRows = 0L
  val stateRowsByQuery = scala.collection.mutable.Map.empty[String, Long]

  def seconds: Double = (t1 - t0) / 1e9
}

/** The benchmark's own listener: Spark jobs, stages and tasks, SQL
  * executions and streaming progress, each attributed to the op that was
  * active when it started (a job by the `perfbench.op` local property, which
  * threads started inside the op inherit, else by the op running then).
  *
  * One SparkListener sees all of it: SQL-execution and streaming-progress
  * events reach the shared listener bus from every session, while a
  * session's QueryExecutionListener or StreamingQueryListener would miss the
  * queries the program runs in sessions of its own (`newSession()`). */
final class Tracer {
  @volatile var current: OpRec = null
  private val byId = new java.util.concurrent.ConcurrentHashMap[String, OpRec]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, OpRec]()
  private val jobOp = new java.util.concurrent.ConcurrentHashMap[Int, OpRec]()

  def begin(op: OpRec): Unit = { byId.put(op.id, op); current = op }
  def end(): Unit = { current = null }

  private def opOf(props: java.util.Properties): OpRec =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.OpKey)))
      .flatMap(id => Option(byId.get(id))).getOrElse(current)

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = opOf(e.properties)
      if (op != null) op.synchronized {
        op.jobs += 1
        op.jobSpans(e.jobId) = (e.time, e.time)
        jobOp.put(e.jobId, op)
        e.stageInfos.foreach(s => stageOp.put(s.stageId, op))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val op = jobOp.remove(e.jobId)
      if (op != null) op.synchronized {
        op.jobSpans.get(e.jobId).foreach { case (t0, _) =>
          op.jobSpans(e.jobId) = (t0, e.time) }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val op = stageOp.get(e.stageInfo.stageId)
      if (op != null) op.synchronized { op.stages += 1 }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val op = stageOp.get(e.stageId)
      if (op != null) op.synchronized {
        op.tasks += 1
        op.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        val m = e.taskMetrics
        if (m != null) {
          op.taskMs += m.executorRunTime
          op.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          op.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = {
      val op = current
      if (op != null) op.synchronized {
        e match {
          // a top-level SQL execution is one driver action
          case s: SparkListenerSQLExecutionStart
              if s.rootExecutionId.forall(_ == s.executionId) =>
            op.actions += 1
          case s: SparkListenerSQLExecutionEnd =>
            op.planningMs += Bridge.planningMs(s)
          case q: QueryProgressEvent =>
            val p = q.progress
            def d(k: String): Long =
              Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
            op.batchMs += d("triggerExecution")
            op.addBatchMs += d("addBatch")
            op.streamPlanningMs += d("queryPlanning")
            op.commitMs += d("walCommit") + d("commitOffsets")
            op.inputRows += p.numInputRows
            op.stateRowsByQuery(p.id.toString) =
              p.stateOperators.map(_.numRowsTotal).sum
          case _ =>
        }
      }
    }
  }
}

object Tracer {
  val OpKey = "perfbench.op"
}
