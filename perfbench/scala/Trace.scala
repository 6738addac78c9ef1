package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON writer for the run record (no library on the runtime
  * classpath is guaranteed stable across Spark versions).
  */
object J {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Wall clock in epoch µs with nanoTime resolution, so benchmark spans
  * and Spark's epoch-ms event times share one axis.
  */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def us: Long = baseUs + (System.nanoTime() - baseNano) / 1000L
}

/** Local property that ties Spark jobs to the benchmark call span that
  * launched them. Jobs from threads that did not inherit it are tied by
  * time instead (the closed-loop calls never overlap).
  */
object Span {
  val Key = "graftbench.span"
}

/** Benchmark-side engine tracer: a SparkListener for jobs, stages and
  * task metrics plus a QueryExecutionListener for planning phases. Events
  * are kept in memory and written out when the run ends.
  */
final class EngineTrace extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  val plans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val taskMs = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Long]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String): String = p.map(_.getProperty(k)).orNull
    jobStart.put(e.jobId, Map(
      "job" -> e.jobId, "start_ms" -> e.time, "stages" -> e.stageIds,
      "span" -> prop(Span.Key), "stream_batch" -> prop("streaming.sql.batchId")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = Option(jobStart.remove(e.jobId)).getOrElse(Map("job" -> e.jobId))
    jobs.add(s ++ Map("end_ms" -> e.time, "ok" -> (e.jobResult == JobSucceeded)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null)
      taskMs.computeIfAbsent(s"${e.stageId}.${e.stageAttemptId}", _ => new ConcurrentLinkedQueue[Long]())
        .add(e.taskInfo.duration)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val durs = Option(taskMs.remove(s"${si.stageId}.${si.attemptNumber()}"))
      .map(_.asScala.toSeq).getOrElse(Nil)
    val base = Map[String, Any](
      "stage" -> si.stageId, "attempt" -> si.attemptNumber(),
      "submit_ms" -> si.submissionTime.getOrElse(-1L),
      "end_ms" -> si.completionTime.getOrElse(-1L),
      "tasks" -> si.numTasks, "task_ms" -> durs, "failed" -> si.failureReason.isDefined)
    val metrics =
      if (m == null) Map.empty[String, Any]
      else Map(
        "cpu_ns" -> m.executorCpuTime, "gc_ms" -> m.jvmGCTime,
        "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
        "input_b" -> m.inputMetrics.bytesRead,
        "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
    stages.add(base ++ metrics)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit =
    plans.add(qe.tracker.phases.map { case (ph, s) =>
      ph -> Map("start_ms" -> s.startTimeMs, "end_ms" -> s.endTimeMs)
    } ++ Map("at_ms" -> System.currentTimeMillis()))

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def toJson: Map[String, Any] =
    Map("jobs" -> jobs.asScala.toSeq, "stages" -> stages.asScala.toSeq, "plans" -> plans.asScala.toSeq)
}

/** Progress of the streaming query, read from Spark's public progress
  * API. Freshness needs the rows of each micro-batch, so this listener is
  * attached in every run, not only the traced one.
  */
final class ProgressLog extends StreamingQueryListener {
  val batches = new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Any]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val st = p.stateOperators.headOption
    batches.put(p.batchId, Map(
      "batch" -> p.batchId, "rows" -> p.numInputRows, "at_ms" -> System.currentTimeMillis(),
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
      "state_updated" -> st.map(_.numRowsUpdated).getOrElse(0L),
      "state_mem_b" -> st.map(_.memoryUsedBytes).getOrElse(0L),
      "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L)))
  }

  /** Input rows of all batches reported so far. */
  def rowsSeen: Long = batches.values.asScala.map(_("rows").asInstanceOf[Long]).sum
}
