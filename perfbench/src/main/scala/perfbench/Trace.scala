package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listener side: records every SQL execution, job,
  * stage and streaming trigger Spark reports on its public listener buses,
  * with wall-clock times (epoch ms), in memory. The front end attributes
  * them to the benchmark's operations by time, since the one client runs
  * its operations strictly one after another.
  */
final class Trace {
  private val sqlExecs = mutable.LinkedHashMap.empty[Long, mutable.Map[String, Any]]
  private val phases = ArrayBuffer.empty[Map[String, Any]]
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stages = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val batches = ArrayBuffer.empty[Map[String, Any]]

  private def stageRec(id: Int): mutable.Map[String, Any] =
    stages.getOrElseUpdate(id, mutable.LinkedHashMap[String, Any](
      "id" -> id, "tasks" -> 0L, "failed_tasks" -> 0L, "wait_ms" -> 0L, "run_ms" -> 0L,
      "cpu_ns" -> 0L, "gc_ms" -> 0L, "shuffle_write_bytes" -> 0L, "shuffle_read_bytes" -> 0L,
      "spill_bytes" -> 0L, "scan_bytes" -> 0L, "scan_rows" -> 0L))

  private def add(m: mutable.Map[String, Any], k: String, v: Long): Unit =
    m(k) = m(k).asInstanceOf[Long] + v

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      jobs(e.jobId) = mutable.LinkedHashMap[String, Any](
        "id" -> e.jobId, "start_ms" -> e.time, "stages" -> e.stageIds)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(_("end_ms") = e.time)
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.this.synchronized {
      val r = stageRec(e.stageInfo.stageId)
      r("start_ms") = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val r = stageRec(e.stageInfo.stageId)
      r("end_ms") = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val r = stageRec(e.stageId)
      add(r, "tasks", 1)
      if (!e.taskInfo.successful) add(r, "failed_tasks", 1)
      r.get("start_ms").foreach(s => add(r, "wait_ms", math.max(0L, e.taskInfo.launchTime - s.asInstanceOf[Long])))
      val m = e.taskMetrics
      if (m != null) {
        add(r, "run_ms", m.executorRunTime)
        add(r, "cpu_ns", m.executorCpuTime)
        add(r, "gc_ms", m.jvmGCTime)
        add(r, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(r, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add(r, "spill_bytes", m.diskBytesSpilled)
        add(r, "scan_bytes", m.inputMetrics.bytesRead)
        add(r, "scan_rows", m.inputMetrics.recordsRead)
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = Trace.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          sqlExecs(s.executionId) = mutable.LinkedHashMap[String, Any](
            "id" -> s.executionId, "start_ms" -> s.time)
        case s: SparkListenerSQLExecutionEnd =>
          sqlExecs.get(s.executionId).foreach(_("end_ms") = s.time)
        case _ =>
      }
    }
  }

  /** Catalyst phase times of every finished action, from its
    * QueryPlanningTracker (analysis, optimization, planning).
    */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(x => x.endTimeMs - x.startTimeMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(System.currentTimeMillis())
      phases += Map("start_ms" -> start, "analysis_ms" -> ms("analysis"),
        "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Streaming trigger phases from each progress report's durationMs. */
  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Trace.this.synchronized {
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      batches += Map("start_ms" -> java.time.Instant.parse(e.progress.timestamp).toEpochMilli,
        "trigger_ms" -> ms("triggerExecution"), "add_batch_ms" -> ms("addBatch"),
        "wal_commit_ms" -> ms("walCommit"))
    }
  }

  def toMap: Map[String, Any] = synchronized {
    Map("sql" -> sqlExecs.values.map(_.toMap).toSeq, "phases" -> phases.toSeq,
      "jobs" -> jobs.values.map(_.toMap).toSeq, "stages" -> stages.values.map(_.toMap).toSeq,
      "batches" -> batches.toSeq)
  }
}
