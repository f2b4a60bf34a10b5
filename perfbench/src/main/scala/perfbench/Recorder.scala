package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** One wall clock for every record: epoch milliseconds with sub-millisecond
  * resolution, so spans taken from `System.nanoTime` line up with Spark's
  * own epoch-millisecond event times. */
object Wall {
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6
}

/** Raw records of one run. The harness only records; every derived number
  * (percentiles, per-layer sums, self times) is computed by `run.py` from
  * what is written here. Spark-side records (jobs, tasks, plan phases) are
  * collected only when tracing; the counters the untraced run needs
  * (fetches, write-batch spans, progress) are always kept. */
final class Recorder(val tracing: Boolean) {
  /** `[name, start, end, group, attrs]` spans taken around harness calls. */
  val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val tasks = new ConcurrentLinkedQueue[Map[String, Any]]()
  val plans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]()

  def span(name: String, start: Double, end: Double, group: String,
      attrs: Map[String, Any] = Map.empty): Unit =
    spans.add(Map("name" -> name, "start" -> start, "end" -> end,
      "group" -> group) ++ attrs)

  /** Spark's scheduler channel: job/stage/task records with the local
    * properties that tie a job to its micro-batch or lane. */
  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).getOrElse(new java.util.Properties())
      jobStart.put(e.jobId, Map(
        "id" -> e.jobId, "start" -> e.time.toDouble,
        "call_site" -> Option(p.getProperty("callSite.short")).getOrElse(""),
        "query" -> Option(p.getProperty("sql.streaming.queryId")).getOrElse(""),
        "batch" -> Option(p.getProperty("streaming.sql.batchId")).getOrElse(""),
        "lane" -> Option(p.getProperty(Recorder.LaneKey)).getOrElse(""),
        "stages" -> e.stageInfos.map(s => Map("id" -> s.stageId, "tasks" -> s.numTasks))))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { j =>
        jobs.add(j ++ Map("end" -> e.time.toDouble,
          "ok" -> (e.jobResult == JobSucceeded)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      tasks.add(Map(
        "stage" -> e.stageId, "start" -> info.launchTime.toDouble,
        "end" -> info.finishTime.toDouble, "ok" -> info.successful,
        "run_ms" -> (if (m == null) 0L else m.executorRunTime),
        "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
        "shuffle_read" -> (if (m == null) 0L
          else m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
        "shuffle_write" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "spill" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled)))
    }
  }

  /** `QueryExecution.tracker` phase times of every executed plan. */
  val planListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe)
    private def record(funcName: String, qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) plans.add(Map(
        "func" -> funcName,
        "start" -> phases.values.map(_.startTimeMs).min.toDouble,
        "phases" -> phases.map { case (k, v) => k -> v.durationMs }))
    }
  }

  def attach(spark: SparkSession): Unit = if (tracing) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
  }

  /** Wait until Spark's asynchronous listener buses have delivered every
    * event posted so far, then unhook. */
  def detach(spark: SparkSession): Unit = if (tracing) {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    spark.listenerManager.unregister(planListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def traceJson: Map[String, Any] = Map(
    "spans" -> spans.asScala.toSeq,
    "jobs" -> jobs.asScala.toSeq,
    "tasks" -> tasks.asScala.toSeq,
    "plans" -> plans.asScala.toSeq)
}

object Recorder {
  /** Local property naming the lane whose jobs are running. */
  val LaneKey = "perfbench.lane"

  /** The fields of a `StreamingQueryProgress` the analysis reads. */
  def progressJson(p: StreamingQueryProgress, phase: String): Map[String, Any] = {
    val src = p.sources.headOption
    Map(
      "phase" -> phase,
      "batch" -> p.batchId,
      "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
      "rows" -> p.numInputRows,
      "start_offset" -> src.map(_.startOffset).orNull,
      "end_offset" -> src.map(_.endOffset).orNull,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue },
      "state" -> p.stateOperators.toSeq.map(s => Map(
        "rows_total" -> s.numRowsTotal, "rows_updated" -> s.numRowsUpdated,
        "memory_bytes" -> s.memoryUsedBytes, "commit_ms" -> s.commitTimeMs,
        "update_ms" -> s.allUpdatesTimeMs)))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.util.Try {
      val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
        .asScala.find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
}
