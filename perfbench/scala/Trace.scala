package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Execution-layer counters summed from task ends. */
final class ExecSums {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskFailures = 0L
  var runNs = 0L // executor run time, for slot occupancy
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var outputBytes = 0L
  var outputRows = 0L

  def +=(o: ExecSums): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures; runNs += o.runNs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; inputBytes += o.inputBytes; inputRows += o.inputRows
    outputBytes += o.outputBytes; outputRows += o.outputRows
  }

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_failures" -> taskFailures, "task_run_s" -> runNs / 1e9,
    "task_cpu_s" -> cpuNs / 1e9, "task_gc_s" -> gcMs / 1e3,
    "shuffle_write_mb" -> shuffleWrite / 1e6, "shuffle_read_mb" -> shuffleRead / 1e6,
    "spill_mb" -> spill / 1e6, "input_mb" -> inputBytes / 1e6, "input_rows" -> inputRows,
    "output_mb" -> outputBytes / 1e6, "output_rows" -> outputRows)
}

/** One span of the trace file: a named interval with a parent. */
final case class Span(
    id: Long, parent: Long, kind: String, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, Any] = Map.empty) {
  def toMap: Map[String, Any] = Map(
    "id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
    "start_ms" -> startMs, "end_ms" -> endMs, "attrs" -> attrs)
}

/** Listens from outside the engine through Spark's public listener APIs.
  *
  * Always on: a task-end counter of input rows (it costs one add per task).
  * With `traced`, also a per-tag [[ExecSums]], job and stage spans, and the
  * sink QueryExecution's planning phases via a QueryExecutionListener.
  * Work is tagged by the `perfbench.tag` local property set around each
  * operation.
  */
final class Collector(spark: SparkSession, val traced: Boolean) {
  val TagKey = "perfbench.tag"
  /** Off during the plain passes of a traced run. */
  @volatile var enabled: Boolean = true
  private def on: Boolean = traced && enabled
  private val lock = new Object
  private var totalInputRows = 0L
  val byTag = mutable.LinkedHashMap.empty[String, ExecSums]
  val jobSpans = mutable.ArrayBuffer.empty[(String, Int, Long, Long, Seq[Int])] // tag, job, start, end, stages
  val stageSpans = mutable.ArrayBuffer.empty[(Int, String, Long, Long, Int)] // stage, name, submit, done, tasks
  private val jobStart = mutable.HashMap.empty[Int, (String, Long, Seq[Int])]
  // (tag, funcName, phases name -> (startMs, endMs), durationNs)
  val qeEvents = mutable.ArrayBuffer.empty[(String, String, Map[String, (Long, Long)], Long)]
  @volatile var currentTag: String = ""

  private def sums(tag: String): ExecSums = byTag.getOrElseUpdate(tag, new ExecSums)

  private val listener = new SparkListener {
    private val stageTag = mutable.HashMap.empty[Int, String]
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      if (m != null) totalInputRows += m.inputMetrics.recordsRead
      if (on) {
        val s = sums(stageTag.getOrElse(e.stageId, ""))
        s.tasks += 1
        if (e.reason != org.apache.spark.Success) s.taskFailures += 1
        if (m != null) {
          s.runNs += m.executorRunTime * 1000000L
          s.cpuNs += m.executorCpuTime
          s.gcMs += m.jvmGCTime
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.diskBytesSpilled
          s.inputBytes += m.inputMetrics.bytesRead
          s.inputRows += m.inputMetrics.recordsRead
          s.outputBytes += m.outputMetrics.bytesWritten
          s.outputRows += m.outputMetrics.recordsWritten
        }
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) lock.synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).getOrElse("")
      e.stageIds.foreach(s => stageTag(s) = tag)
      sums(tag).jobs += 1
      jobStart(e.jobId) = (tag, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) lock.synchronized {
      jobStart.remove(e.jobId).foreach { case (tag, t0, st) =>
        jobSpans += ((tag, e.jobId, t0, e.time, st))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) lock.synchronized {
      val i = e.stageInfo
      sums(stageTag.getOrElse(i.stageId, "")).stages += 1
      stageSpans += ((i.stageId, i.name, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), i.numTasks))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, -1L)
    private def record(funcName: String, qe: QueryExecution, durationNs: Long): Unit = if (on) {
      val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
      lock.synchronized { qeEvents += ((currentTag, funcName, phases, durationNs)) }
    }
  }

  spark.sparkContext.addSparkListener(listener)
  if (traced) spark.listenerManager.register(qeListener)

  def drain(): Unit =
    org.apache.spark.sql.graftbridge.ColumnBridge.drainListenerBus(spark.sparkContext)

  /** Runs `body` with its jobs tagged `tag`. */
  def tagged[T](tag: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(TagKey)
    sc.setLocalProperty(TagKey, tag)
    currentTag = tag
    // QueryExecutionListener callbacks run on the listener bus; in a traced
    // pass wait for them before the tag changes so each lands on its tag
    try body finally {
      if (on) drain()
      sc.setLocalProperty(TagKey, prev)
      currentTag = ""
    }
  }

  def inputRows: Long = { drain(); lock.synchronized(totalInputRows) }

  def snapshot[T](f: => T): T = { drain(); lock.synchronized(f) }
}
