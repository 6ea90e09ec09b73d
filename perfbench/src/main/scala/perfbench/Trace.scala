package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** Spans around each call into a layer. A disabled tracer runs the body
  * and records nothing, so untraced passes pay no bookkeeping.
  */
final class Tracer(val enabled: Boolean, pass: Int) {
  private val t0 = System.nanoTime()
  /** Wall-clock ms at the tracer's origin, for aligning listener events. */
  val originMs: Long = System.currentTimeMillis()
  private val open = scala.collection.mutable.Stack[Int]()
  private val spans = ArrayBuffer.empty[Map[String, Any]]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = open.headOption.getOrElse(-1)
      spans += Map("id" -> id)
      open.push(id)
      val start = now
      try body
      finally {
        open.pop()
        spans(id) = Map("id" -> id, "name" -> name, "start" -> start,
          "end" -> now, "parent" -> parent, "pass" -> pass)
      }
    }

  /** Seconds since the tracer was made; the pass's origin. */
  def now: Double = (System.nanoTime() - t0) / 1e9

  def toSeq: Seq[Map[String, Any]] = spans.toSeq
}

/** Driver, scheduler, executor and data-movement counters for one traced
  * pass, taken from Spark's listener interfaces and codegen metrics.
  * Times are reported relative to `originMs` (wall-clock ms of the pass
  * start) so they line up with the tracer's spans.
  */
final class LayerListener(originMs: Long)
    extends SparkListener with QueryExecutionListener {
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val jobs = ArrayBuffer.empty[Map[String, Any]]
  private val stages = ArrayBuffer.empty[Map[String, Any]]
  private val taskMs = scala.collection.mutable.Map
    .empty[(Int, Int), ArrayBuffer[Long]]
  private val sql = ArrayBuffer.empty[Map[String, Any]]
  private val compiles0 = compileCount

  private def rel(ms: Long): Double = (ms - originMs) / 1e3

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { s =>
      jobs += Map("id" -> e.jobId, "start" -> rel(s), "end" -> rel(e.time))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
      e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val key = (i.stageId, i.attemptNumber())
      stages += Map(
        "id" -> i.stageId,
        "tasks" -> i.numTasks,
        "task_ms" -> taskMs.remove(key).map(_.toSeq).getOrElse(Nil),
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_records" -> m.shuffleWriteMetrics.recordsWritten,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "input_bytes" -> m.inputMetrics.bytesRead,
        "input_rows" -> m.inputMetrics.recordsRead,
        "output_bytes" -> m.outputMetrics.bytesWritten)
    }

  private def planning(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
    sql += Map("analysis_ms" -> ms("analysis"),
      "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"))
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    planning(qe)

  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    planning(qe)

  private def compileCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  private def compileMeanMs: Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getSnapshot.getMean

  /** Codegen compile time is kept by Spark as a sampled histogram, so the
    * pass's total is estimated as compiles × the sampled mean.
    */
  def result: Map[String, Any] = synchronized {
    val n = compileCount - compiles0
    Map("jobs" -> jobs.toSeq, "stages" -> stages.toSeq, "sql" -> sql.toSeq,
      "codegen_compiles" -> n,
      "codegen_ms" -> n * compileMeanMs)
  }
}

object LayerListener {

  /** Runs `body` with a fresh listener attached to the session; every
    * event of the pass has been delivered when the result is read.
    */
  def around[T](spark: SparkSession, originMs: Long)(
      body: => T): (T, Map[String, Any]) = {
    val sc: SparkContext = spark.sparkContext
    val l = new LayerListener(originMs)
    sc.addSparkListener(l)
    spark.listenerManager.register(l)
    try {
      val r = body
      org.apache.spark.perfbench.BusAccess.drain(sc)
      (r, l.result)
    } finally {
      spark.listenerManager.unregister(l)
      sc.removeSparkListener(l)
    }
  }
}
