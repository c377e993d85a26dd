package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instrument: public Spark listeners that keep every
  * SQL execution, job, stage (with its tasks' metrics summed), Catalyst
  * phase record and streaming progress in memory, as raw records with
  * epoch-millisecond times. Jobs carry the op and op phase that launched
  * them through the local properties the harness sets. Spans and per-layer
  * sums are derived from these records after the run. */
final class Recorder {
  val records = new ConcurrentLinkedQueue[Map[String, Any]]()
  // (stageId, attempt) -> summed task metrics, in TaskSums order
  private val taskSums = new ConcurrentHashMap[(Int, Int), Array[Double]]()

  private val spark = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String): Any = p.flatMap(x => Option(x.getProperty(k))).orNull
      records.add(Map("kind" -> "job_start", "job" -> e.jobId, "t" -> e.time,
        "op" -> prop(Recorder.OpProp), "phase" -> prop(Recorder.PhaseProp),
        "sql" -> prop("spark.sql.execution.id"), "stages" -> e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      records.add(Map("kind" -> "job_end", "job" -> e.jobId, "t" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val sums = taskSums.computeIfAbsent((e.stageId, e.stageAttemptId),
        _ => new Array[Double](Recorder.TaskSums.size))
      val m = e.taskMetrics
      val info = e.taskInfo
      val failed = e.reason != Success
      val row: Seq[Double] =
        if (m == null) Seq[Double](1, if (failed) 1 else 0) ++ Seq.fill(Recorder.TaskSums.size - 2)(0.0)
        else {
          val nRecords = m.inputMetrics.recordsRead + m.outputMetrics.recordsWritten +
            m.shuffleReadMetrics.recordsRead + m.shuffleWriteMetrics.recordsWritten
          val sched = math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
          Seq[Double](1, if (failed) 1 else 0, if (nRecords == 0) 1 else 0,
            m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
            sched / 1e3, m.inputMetrics.bytesRead.toDouble,
            m.outputMetrics.bytesWritten.toDouble,
            m.shuffleWriteMetrics.bytesWritten.toDouble,
            m.shuffleReadMetrics.totalBytesRead.toDouble,
            m.shuffleReadMetrics.fetchWaitTime / 1e3,
            (m.diskBytesSpilled + m.memoryBytesSpilled).toDouble)
        }
      sums.synchronized { row.indices.foreach(i => sums(i) += row(i)) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val sums = Option(taskSums.remove((s.stageId, s.attemptNumber())))
        .getOrElse(new Array[Double](Recorder.TaskSums.size))
      records.add(Map("kind" -> "stage", "stage" -> s.stageId,
        "attempt" -> s.attemptNumber(), "start" -> s.submissionTime.getOrElse(null),
        "end" -> s.completionTime.getOrElse(null), "ok" -> s.failureReason.isEmpty) ++
        Recorder.TaskSums.zip(sums))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        records.add(Map("kind" -> "sql_start", "sql" -> s.executionId,
          "root" -> s.rootExecutionId.getOrElse(null), "t" -> s.time))
      case s: SparkListenerSQLExecutionEnd =>
        records.add(Map("kind" -> "sql_end", "sql" -> s.executionId, "t" -> s.time))
      case _ =>
    }
  }

  private val catalyst = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty)
        records.add(Map("kind" -> "catalyst",
          "t" -> ph.values.map(_.startTimeMs).min) ++
          ph.map { case (k, v) => k -> v.durationMs })
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  private val streaming = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      records.add(Map("kind" -> "progress", "run" -> p.runId.toString,
        "batch" -> p.batchId, "t" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "rows" -> p.numInputRows,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum) ++
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue() })
    }
  }

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(spark)
    Recorder.classic(s).listenerManager.register(catalyst)
    s.streams.addListener(streaming)
  }

  /** Detaches after draining, so every event of the traced pass is kept. */
  def detach(s: SparkSession): Unit = {
    PerfbenchBus.drain(s.sparkContext)
    s.sparkContext.removeSparkListener(spark)
    Recorder.classic(s).listenerManager.unregister(catalyst)
    s.streams.removeListener(streaming)
  }
}

object Recorder {
  val OpProp = "perfbench.op"
  val PhaseProp = "perfbench.phase"
  val TaskSums: Seq[String] = Seq("tasks", "failed_tasks", "empty_tasks",
    "run_s", "cpu_s", "gc_s", "sched_delay_s", "input_bytes", "output_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s", "spill_bytes")

  def classic(s: SparkSession): org.apache.spark.sql.classic.SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
}
